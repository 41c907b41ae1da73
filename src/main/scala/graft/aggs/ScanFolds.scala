package graft.aggs

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.types._

/** Incremental sequential-scan aggregates for the RaQL running mode.
  *
  * The reference keeps O(1) mutable state per group and folds each incoming
  * tuple into it (`/root/reference/src/CodeGenLib.ml`: ExpSmooth :343-347,
  * Hysteresis :506-514, DampedHolt :348-359). Used as WINDOW functions over
  * a rows-between(unboundedPreceding, currentRow) frame, Spark's
  * WindowExec drives exactly that shape: the frame only ever grows, so the
  * buffer is updated once per row and evaluated in place — O(rows) total
  * work and O(1) state per group, versus the O(rows²) per-row re-fold of a
  * collect_list-prefix + `aggregate` HOF formulation.
  *
  * Order-dependent folds have no meaningful partial-merge; merge is only
  * defined when one side is still empty (Spark's window path never merges).
  */
private[graft] object ScanFolds {
  def requireNoMerge(name: String): Nothing =
    throw new UnsupportedOperationException(
      s"$name is order-dependent: use it over an ordered running window, " +
        "not as a partially-aggregated group aggregate")
}

/** Mutable fold state: `init` false until the first non-null value. */
final class ScanState(var init: Boolean, var s: Double)

/** `SMOOTH alpha, x` — exponential smoothing, seeded with the first value:
  * s := alpha*x + (1-alpha)*s. Returns the current smoothed value. */
case class ExpSmoothScan(
    child: Expression,
    alpha: Double,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[ScanState] with UnaryLike[Expression] {

  override def createAggregationBuffer(): ScanState = new ScanState(false, 0.0)

  override def update(b: ScanState, row: InternalRow): ScanState = {
    val v = child.eval(row)
    if (v != null) {
      val x = v.asInstanceOf[Number].doubleValue()
      if (!b.init) { b.init = true; b.s = x }
      else b.s = alpha * x + (1.0 - alpha) * b.s
    }
    b
  }

  override def merge(b: ScanState, o: ScanState): ScanState =
    if (!o.init) b
    else if (!b.init) o
    else ScanFolds.requireNoMerge(prettyName)

  override def eval(b: ScanState): Any = if (b.init) b.s else null

  override def serialize(b: ScanState): Array[Byte] = {
    val buf = java.nio.ByteBuffer.allocate(9)
    buf.put(if (b.init) 1.toByte else 0.toByte).putDouble(b.s)
    buf.array()
  }

  override def deserialize(bytes: Array[Byte]): ScanState = {
    val buf = java.nio.ByteBuffer.wrap(bytes)
    new ScanState(buf.get() == 1, buf.getDouble())
  }

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "graft_smooth"

  override def withNewMutableAggBufferOffset(x: Int): ExpSmoothScan =
    copy(mutableAggBufferOffset = x)
  override def withNewInputAggBufferOffset(x: Int): ExpSmoothScan =
    copy(inputAggBufferOffset = x)
  override protected def withNewChildInternal(c: Expression): ExpSmoothScan =
    copy(child = c)
}

/** Affine fold state for the chunked SMOOTH: the rows folded so far act on
  * any incoming smoothed state as the map s -> a*s + b. */
final class AffineState(var a: Double, var b: Double)

/** The within-chunk half of a DISTRIBUTED `SMOOTH alpha, x`: composing
  * s := alpha*x + (1-alpha)*s over the prefix (nulls are the identity map)
  * yields an affine map `(a, b)` with `s_i = a*s_in + b` for WHATEVER
  * state `s_in` entered the chunk. Affine maps compose associatively, so
  * per-chunk finals can carry across chunks in chunk order — no global
  * single-partition scan. Float re-association makes this algebraically
  * (not bit-) equal to the sequential fold (equal to 1e-9 relative,
  * RaqlSpec). */
case class ExpSmoothAffineScan(
    child: Expression,
    alpha: Double,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[AffineState] with UnaryLike[Expression] {

  override def createAggregationBuffer(): AffineState = new AffineState(1.0, 0.0)

  override def update(b: AffineState, row: InternalRow): AffineState = {
    val v = child.eval(row)
    if (v != null) {
      val x = v.asInstanceOf[Number].doubleValue()
      b.a *= (1.0 - alpha)
      b.b = alpha * x + (1.0 - alpha) * b.b
    }
    b
  }

  // an identity map in either slot composes away regardless of order; the
  // frozen chunked base keeps one chunk per partition, so a genuine
  // two-sided merge (order unknowable) only happens on misuse
  override def merge(b: AffineState, o: AffineState): AffineState =
    if (o.a == 1.0 && o.b == 0.0) b
    else if (b.a == 1.0 && b.b == 0.0) { b.a = o.a; b.b = o.b; b }
    else ScanFolds.requireNoMerge(prettyName)

  override def eval(b: AffineState): Any =
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](b.a, b.b))

  override def serialize(b: AffineState): Array[Byte] = {
    val buf = java.nio.ByteBuffer.allocate(16)
    buf.putDouble(b.a).putDouble(b.b)
    buf.array()
  }

  override def deserialize(bytes: Array[Byte]): AffineState = {
    val buf = java.nio.ByteBuffer.wrap(bytes)
    new AffineState(buf.getDouble(), buf.getDouble())
  }

  override def dataType: DataType = StructType(Seq(
    StructField("a", DoubleType, nullable = false),
    StructField("b", DoubleType, nullable = false)))
  override def nullable: Boolean = false
  override def prettyName: String = "graft_smooth_affine"

  override def withNewMutableAggBufferOffset(x: Int): ExpSmoothAffineScan =
    copy(mutableAggBufferOffset = x)
  override def withNewInputAggBufferOffset(x: Int): ExpSmoothAffineScan =
    copy(inputAggBufferOffset = x)
  override protected def withNewChildInternal(c: Expression): ExpSmoothAffineScan =
    copy(child = c)
}

/** `HYSTERESIS x, acceptable, maximum` — true while in the acceptable
  * regime, false once the signal exceeds `maximum`, true again once it
  * returns to ≤ `acceptable` (reference CodeGenLib.ml:506-514).
  *
  * `startAcceptable` picks the state the scan assumes BEFORE any row: the
  * reference starts in the acceptable regime; the chunked-running path
  * runs each chunk from BOTH starts and picks per row by the carried
  * cross-chunk state (a 2-state automaton's transfer function is fully
  * determined by those two runs — exact, no float re-association). */
case class HysteresisScan(
    child: Expression,
    acceptable: Double,
    maximum: Double,
    startAcceptable: Boolean = true,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[ScanState] with UnaryLike[Expression] {

  // init: whether any row folded yet (empty-merge detection);
  // s: 1.0 = acceptable regime, 0.0 = fired
  override def createAggregationBuffer(): ScanState =
    new ScanState(false, if (startAcceptable) 1.0 else 0.0)

  override def update(b: ScanState, row: InternalRow): ScanState = {
    val v = child.eval(row)
    if (v != null) {
      b.init = true
      val x = v.asInstanceOf[Number].doubleValue()
      if (x > maximum) b.s = 0.0
      else if (x <= acceptable) b.s = 1.0
    }
    b
  }

  override def merge(b: ScanState, o: ScanState): ScanState =
    if (!o.init) b
    else if (!b.init) o
    else ScanFolds.requireNoMerge(prettyName)

  override def eval(b: ScanState): Any = b.s == 1.0

  override def serialize(b: ScanState): Array[Byte] =
    Array(if (b.init) 1.toByte else 0.toByte,
      if (b.s == 1.0) 1.toByte else 0.toByte)

  override def deserialize(bytes: Array[Byte]): ScanState =
    new ScanState(bytes(0) == 1, if (bytes(1) == 1) 1.0 else 0.0)

  override def dataType: DataType = BooleanType
  override def nullable: Boolean = false
  override def prettyName: String = "graft_hysteresis"

  override def withNewMutableAggBufferOffset(x: Int): HysteresisScan =
    copy(mutableAggBufferOffset = x)
  override def withNewInputAggBufferOffset(x: Int): HysteresisScan =
    copy(inputAggBufferOffset = x)
  override protected def withNewChildInternal(c: Expression): HysteresisScan =
    copy(child = c)
}

/** `LATEST k x` (skip-nulls) — the last k NON-NULL values however far
  * back they are (reference CodeGenLib.ml `Last`). A bounded ring buffer
  * folded once per row by WindowExec: O(k) state, O(n·k) total — versus
  * the O(n²) per-row prefix re-collect of a collect_list formulation. */
case class LatestScan(
    child: Expression,
    k: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[scala.collection.mutable.ArrayDeque[Any]]
  with UnaryLike[Expression] {

  override def createAggregationBuffer(): scala.collection.mutable.ArrayDeque[Any] =
    scala.collection.mutable.ArrayDeque.empty[Any]

  override def update(b: scala.collection.mutable.ArrayDeque[Any],
      row: InternalRow): scala.collection.mutable.ArrayDeque[Any] = {
    val v = child.eval(row)
    if (v != null) {
      // values may point into the current row's buffer — copy to retain
      b.append(InternalRow.copyValue(v))
      if (b.size > k) b.removeHead()
    }
    b
  }

  override def merge(b: scala.collection.mutable.ArrayDeque[Any],
      o: scala.collection.mutable.ArrayDeque[Any]): scala.collection.mutable.ArrayDeque[Any] =
    if (o.isEmpty) b
    else if (b.isEmpty) o
    else ScanFolds.requireNoMerge(prettyName)

  override def eval(b: scala.collection.mutable.ArrayDeque[Any]): Any =
    new org.apache.spark.sql.catalyst.util.GenericArrayData(b.toArray)

  // the window path folds on-heap buffers and never serializes; these are
  // only reached if the aggregate is (mis)used under partial aggregation
  override def serialize(b: scala.collection.mutable.ArrayDeque[Any]): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val oos = new java.io.ObjectOutputStream(bos)
    oos.writeObject(b.toList); oos.close()
    bos.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): scala.collection.mutable.ArrayDeque[Any] = {
    val ois = new java.io.ObjectInputStream(new java.io.ByteArrayInputStream(bytes))
    val xs = ois.readObject().asInstanceOf[List[Any]]
    scala.collection.mutable.ArrayDeque.from(xs)
  }

  override def dataType: DataType = ArrayType(child.dataType, containsNull = false)
  override def nullable: Boolean = false
  override def prettyName: String = "graft_latest"

  override def withNewMutableAggBufferOffset(x: Int): LatestScan =
    copy(mutableAggBufferOffset = x)
  override def withNewInputAggBufferOffset(x: Int): LatestScan =
    copy(inputAggBufferOffset = x)
  override protected def withNewChildInternal(c: Expression): LatestScan =
    copy(child = c)
}

/** `OLDEST k x` (skip-nulls) — the FIRST k non-null values: O(k) state,
  * stops accumulating once full (vs re-collecting the whole prefix). */
case class FirstKScan(
    child: Expression,
    k: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[scala.collection.mutable.ArrayBuffer[Any]]
  with UnaryLike[Expression] {

  override def createAggregationBuffer(): scala.collection.mutable.ArrayBuffer[Any] =
    scala.collection.mutable.ArrayBuffer.empty[Any]

  override def update(b: scala.collection.mutable.ArrayBuffer[Any],
      row: InternalRow): scala.collection.mutable.ArrayBuffer[Any] = {
    if (b.size < k) {
      val v = child.eval(row)
      if (v != null) b.append(InternalRow.copyValue(v))
    }
    b
  }

  override def merge(b: scala.collection.mutable.ArrayBuffer[Any],
      o: scala.collection.mutable.ArrayBuffer[Any]): scala.collection.mutable.ArrayBuffer[Any] =
    if (o.isEmpty) b
    else if (b.isEmpty) o
    else ScanFolds.requireNoMerge(prettyName)

  override def eval(b: scala.collection.mutable.ArrayBuffer[Any]): Any =
    new org.apache.spark.sql.catalyst.util.GenericArrayData(b.toArray)

  override def serialize(b: scala.collection.mutable.ArrayBuffer[Any]): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val oos = new java.io.ObjectOutputStream(bos)
    oos.writeObject(b.toList); oos.close()
    bos.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): scala.collection.mutable.ArrayBuffer[Any] = {
    val ois = new java.io.ObjectInputStream(new java.io.ByteArrayInputStream(bytes))
    scala.collection.mutable.ArrayBuffer.from(ois.readObject().asInstanceOf[List[Any]])
  }

  override def dataType: DataType = ArrayType(child.dataType, containsNull = false)
  override def nullable: Boolean = false
  override def prettyName: String = "graft_oldest"

  override def withNewMutableAggBufferOffset(x: Int): FirstKScan =
    copy(mutableAggBufferOffset = x)
  override def withNewInputAggBufferOffset(x: Int): FirstKScan =
    copy(inputAggBufferOffset = x)
  override protected def withNewChildInternal(c: Expression): FirstKScan =
    copy(child = c)
}

/** `LARGEST/SMALLEST k x` — bounded heap of the k extreme values seen so
  * far, evaluated as a sorted array (desc for largest, asc for smallest):
  * O(k) state and O(log k) per row, vs the O(n²) per-row re-sort of a
  * collect_list-prefix formulation. */
case class TopNScan(
    child: Expression,
    k: Int,
    largest: Boolean,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[scala.collection.mutable.PriorityQueue[Any]]
  with UnaryLike[Expression] {

  @transient private lazy val ord: Ordering[Any] =
    org.apache.spark.sql.catalyst.util.TypeUtils
      .getInterpretedOrdering(child.dataType).asInstanceOf[Ordering[Any]]
  // the heap root is the EVICTION candidate: the smallest kept value for
  // largest-k (min-heap), the largest kept for smallest-k (max-heap)
  @transient private lazy val heapOrd: Ordering[Any] =
    if (largest) ord.reverse else ord

  override def createAggregationBuffer(): scala.collection.mutable.PriorityQueue[Any] =
    scala.collection.mutable.PriorityQueue.empty[Any](heapOrd)

  override def update(b: scala.collection.mutable.PriorityQueue[Any],
      row: InternalRow): scala.collection.mutable.PriorityQueue[Any] = {
    val v = child.eval(row)
    if (v != null) {
      val value = InternalRow.copyValue(v)
      if (b.size < k) b.enqueue(value)
      else if (heapOrd.compare(value, b.head) < 0) { b.dequeue(); b.enqueue(value) }
    }
    b
  }

  override def merge(b: scala.collection.mutable.PriorityQueue[Any],
      o: scala.collection.mutable.PriorityQueue[Any]): scala.collection.mutable.PriorityQueue[Any] =
    if (o.isEmpty) b
    else if (b.isEmpty) o
    else ScanFolds.requireNoMerge(prettyName)

  override def eval(b: scala.collection.mutable.PriorityQueue[Any]): Any = {
    val arr = b.clone().dequeueAll.toArray // eviction order = reverse output
    new org.apache.spark.sql.catalyst.util.GenericArrayData(arr.reverse)
  }

  override def serialize(b: scala.collection.mutable.PriorityQueue[Any]): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val oos = new java.io.ObjectOutputStream(bos)
    oos.writeObject(b.toList); oos.close()
    bos.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): scala.collection.mutable.PriorityQueue[Any] = {
    val xs = new java.io.ObjectInputStream(
      new java.io.ByteArrayInputStream(bytes)).readObject().asInstanceOf[List[Any]]
    val q = createAggregationBuffer(); xs.foreach(q.enqueue(_)); q
  }

  override def dataType: DataType = ArrayType(child.dataType, containsNull = false)
  override def nullable: Boolean = false
  override def prettyName: String = if (largest) "graft_largest" else "graft_smallest"

  override def withNewMutableAggBufferOffset(x: Int): TopNScan =
    copy(mutableAggBufferOffset = x)
  override def withNewInputAggBufferOffset(x: Int): TopNScan =
    copy(inputAggBufferOffset = x)
  override protected def withNewChildInternal(c: Expression): TopNScan =
    copy(child = c)
}

/** Damped-Holt fold state: level and trend (reference
  * `smooth_damped_holt_init` = (0, 0)). */
final class HoltState(var init: Boolean, var l: Double, var t: Double)

/** `SMOOTH_DAMPED_HOLT(alpha, beta, phi, x)` — damped-trend double
  * exponential smoothing over the running prefix; each row emits the
  * one-step forecast level + phi*trend (reference `CodeGenLib.ml`
  * smooth_damped_holt :350-358, arg order CodeGen_OCaml.ml:2390). */
case class DampedHoltScan(
    child: Expression,
    alpha: Double,
    beta: Double,
    phi: Double,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[HoltState] with UnaryLike[Expression] {

  override def createAggregationBuffer(): HoltState = new HoltState(false, 0.0, 0.0)

  override def update(b: HoltState, row: InternalRow): HoltState = {
    val v = child.eval(row)
    if (v != null) {
      val x = v.asInstanceOf[Number].doubleValue()
      val level = alpha * x + (1.0 - alpha) * (b.l + phi * b.t)
      b.t = beta * (level - b.l) + (1.0 - beta) * phi * b.t
      b.l = level
      b.init = true
    }
    b
  }

  override def merge(b: HoltState, o: HoltState): HoltState =
    if (!o.init) b
    else if (!b.init) o
    else ScanFolds.requireNoMerge(prettyName)

  override def eval(b: HoltState): Any = b.l + phi * b.t

  override def serialize(b: HoltState): Array[Byte] = {
    val buf = java.nio.ByteBuffer.allocate(17)
    buf.put(if (b.init) 1.toByte else 0.toByte).putDouble(b.l).putDouble(b.t)
    buf.array()
  }

  override def deserialize(bytes: Array[Byte]): HoltState = {
    val buf = java.nio.ByteBuffer.wrap(bytes)
    new HoltState(buf.get() == 1, buf.getDouble(), buf.getDouble())
  }

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = false
  override def prettyName: String = "graft_damped_holt"

  override def withNewMutableAggBufferOffset(x: Int): DampedHoltScan =
    copy(mutableAggBufferOffset = x)
  override def withNewInputAggBufferOffset(x: Int): DampedHoltScan =
    copy(inputAggBufferOffset = x)
  override protected def withNewChildInternal(c: Expression): DampedHoltScan =
    copy(child = c)
}

/** Affine fold state for the chunked DAMPED HOLT: the rows folded so far
  * act on any incoming (level, trend) as the affine map
  * (l, t) -> (a11·l + a12·t + b1, a21·l + a22·t + b2). */
final class HoltAffineState(var a11: Double, var a12: Double, var b1: Double,
    var a21: Double, var a22: Double, var b2: Double)

/** The within-chunk half of a DISTRIBUTED `SMOOTH_DAMPED_HOLT`: the Holt
  * recurrence is LINEAR in (level, trend) with the sample x entering only
  * the constant term, so a chunk's whole fold is an affine 3×3 map (here
  * the non-trivial 2×3 block). Maps compose associatively, so per-chunk
  * finals carry across chunks from the reference's (0,0) start — no
  * global single-partition scan. Each homogeneous column and the constant
  * column evolve by the SAME scalar recurrence as [[DampedHoltScan]]
  * (x present only in the constant column), which keeps the float path as
  * close to the sequential fold as re-association allows; like the
  * chunked SMOOTH this is algebraically (not bit-) equal. Nulls are the
  * identity map. */
case class DampedHoltAffineScan(
    child: Expression,
    alpha: Double,
    beta: Double,
    phi: Double,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[HoltAffineState] with UnaryLike[Expression] {

  override def createAggregationBuffer(): HoltAffineState =
    new HoltAffineState(1.0, 0.0, 0.0, 0.0, 1.0, 0.0)

  override def update(b: HoltAffineState, row: InternalRow): HoltAffineState = {
    val v = child.eval(row)
    if (v != null) {
      val x = v.asInstanceOf[Number].doubleValue()
      // column (a11, a21): the image of (1, 0) — linear part only
      val l1 = (1.0 - alpha) * (b.a11 + phi * b.a21)
      val t1 = beta * (l1 - b.a11) + (1.0 - beta) * phi * b.a21
      // column (a12, a22): the image of (0, 1)
      val l2 = (1.0 - alpha) * (b.a12 + phi * b.a22)
      val t2 = beta * (l2 - b.a12) + (1.0 - beta) * phi * b.a22
      // constant column: the image of (0, 0) — x enters here, exactly the
      // scalar recurrence of DampedHoltScan
      val lb = alpha * x + (1.0 - alpha) * (b.b1 + phi * b.b2)
      val tb = beta * (lb - b.b1) + (1.0 - beta) * phi * b.b2
      b.a11 = l1; b.a21 = t1
      b.a12 = l2; b.a22 = t2
      b.b1 = lb; b.b2 = tb
    }
    b
  }

  private def isIdentity(s: HoltAffineState): Boolean =
    s.a11 == 1.0 && s.a12 == 0.0 && s.b1 == 0.0 &&
      s.a21 == 0.0 && s.a22 == 1.0 && s.b2 == 0.0

  // an identity map in either slot composes away regardless of order; the
  // frozen chunked base keeps one chunk per partition, so a genuine
  // two-sided merge (order unknowable) only happens on misuse
  override def merge(b: HoltAffineState, o: HoltAffineState): HoltAffineState =
    if (isIdentity(o)) b
    else if (isIdentity(b)) {
      b.a11 = o.a11; b.a12 = o.a12; b.b1 = o.b1
      b.a21 = o.a21; b.a22 = o.a22; b.b2 = o.b2; b
    } else ScanFolds.requireNoMerge(prettyName)

  override def eval(b: HoltAffineState): Any =
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](b.a11, b.a12, b.b1, b.a21, b.a22, b.b2))

  override def serialize(b: HoltAffineState): Array[Byte] = {
    val buf = java.nio.ByteBuffer.allocate(48)
    buf.putDouble(b.a11).putDouble(b.a12).putDouble(b.b1)
      .putDouble(b.a21).putDouble(b.a22).putDouble(b.b2)
    buf.array()
  }

  override def deserialize(bytes: Array[Byte]): HoltAffineState = {
    val buf = java.nio.ByteBuffer.wrap(bytes)
    new HoltAffineState(buf.getDouble(), buf.getDouble(), buf.getDouble(),
      buf.getDouble(), buf.getDouble(), buf.getDouble())
  }

  override def dataType: DataType = StructType(Seq(
    StructField("a11", DoubleType, nullable = false),
    StructField("a12", DoubleType, nullable = false),
    StructField("b1", DoubleType, nullable = false),
    StructField("a21", DoubleType, nullable = false),
    StructField("a22", DoubleType, nullable = false),
    StructField("b2", DoubleType, nullable = false)))
  override def nullable: Boolean = false
  override def prettyName: String = "graft_damped_holt_affine"

  override def withNewMutableAggBufferOffset(x: Int): DampedHoltAffineScan =
    copy(mutableAggBufferOffset = x)
  override def withNewInputAggBufferOffset(x: Int): DampedHoltAffineScan =
    copy(inputAggBufferOffset = x)
  override protected def withNewChildInternal(c: Expression): DampedHoltAffineScan =
    copy(child = c)
}

/** Holt-Winters fold state: level, trend, additive seasonal ring, cycle. */
final class HoltWinterState(var init: Boolean, var l: Double, var t: Double,
    var seasons: Array[Double], var cycle: Int)

/** `SMOOTH_DAMPED_HOLT_WINTER(alpha, beta, gamma, period, phi, x)` —
  * damped-trend smoothing plus an additive seasonal ring of `period`
  * slots; each row emits level + phi*trend + seasons[cycle] (reference
  * `CodeGenLib.ml` smooth_damped_holt_winter :360-382, arg order
  * CodeGen_OCaml.ml:2412). O(period) state folded once per row. */
case class HoltWinterScan(
    child: Expression,
    alpha: Double,
    beta: Double,
    gamma: Double,
    period: Int,
    phi: Double,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[HoltWinterState] with UnaryLike[Expression] {

  override def createAggregationBuffer(): HoltWinterState =
    new HoltWinterState(false, 0.0, 0.0, new Array[Double](period), 0)

  override def update(b: HoltWinterState, row: InternalRow): HoltWinterState = {
    val v = child.eval(row)
    if (v != null) {
      val x = v.asInstanceOf[Number].doubleValue()
      val newCycle = (b.cycle + 1) % period
      val predSeason = b.seasons(b.cycle)
      val level = alpha * (x - predSeason) + (1.0 - alpha) * (b.l + phi * b.t)
      val trend = beta * (level - b.l) + (1.0 - beta) * phi * b.t
      val season = gamma * (x - b.l - phi * b.t) + (1.0 - gamma) * predSeason
      b.seasons(b.cycle) = season
      b.l = level; b.t = trend; b.cycle = newCycle
      b.init = true
    }
    b
  }

  override def merge(b: HoltWinterState, o: HoltWinterState): HoltWinterState =
    if (!o.init) b
    else if (!b.init) o
    else ScanFolds.requireNoMerge(prettyName)

  override def eval(b: HoltWinterState): Any =
    b.l + phi * b.t + b.seasons(b.cycle)

  override def serialize(b: HoltWinterState): Array[Byte] = {
    val buf = java.nio.ByteBuffer.allocate(1 + 8 + 8 + 4 + 8 * period)
    buf.put(if (b.init) 1.toByte else 0.toByte)
      .putDouble(b.l).putDouble(b.t).putInt(b.cycle)
    b.seasons.foreach(buf.putDouble)
    buf.array()
  }

  override def deserialize(bytes: Array[Byte]): HoltWinterState = {
    val buf = java.nio.ByteBuffer.wrap(bytes)
    val init = buf.get() == 1
    val l = buf.getDouble(); val t = buf.getDouble(); val cy = buf.getInt()
    val ss = Array.fill(period)(buf.getDouble())
    new HoltWinterState(init, l, t, ss, cy)
  }

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = false
  override def prettyName: String = "graft_holt_winter"

  override def withNewMutableAggBufferOffset(x: Int): HoltWinterScan =
    copy(mutableAggBufferOffset = x)
  override def withNewInputAggBufferOffset(x: Int): HoltWinterScan =
    copy(inputAggBufferOffset = x)
  override protected def withNewChildInternal(c: Expression): HoltWinterScan =
    copy(child = c)
}

/** Affine fold state for the chunked HOLT WINTERS: `m` is the
  * (2+p)×(3+p) map (row-major) the rows folded so far apply to any
  * incoming state vector [l, t, s_0..s_{p-1}, 1] in coordinates RELATIVE
  * to the chunk's entry ring phase; `cnt` counts the non-null rows folded
  * (the ring phase the chunk adds). */
final class HoltWinterAffineState(var m: Array[Double], var cnt: Int)

/** The within-chunk half of a DISTRIBUTED `SMOOTH_DAMPED_HOLT_WINTER`:
  * the Holt-Winters recurrence is LINEAR in its full state
  * (level, trend, seasonal ring) with the sample x entering only the
  * constant term, so a chunk's whole fold is one affine
  * (2+p)×(3+p) map — each homogeneous column and the constant column
  * evolve by the SAME scalar recurrence as [[HoltWinterScan]] (x present
  * only in the constant column), the [[DampedHoltAffineScan]] pattern
  * lifted to the seasonal state. The only non-affine ingredient — WHICH
  * ring slot a row updates — is handled by RELATIVE indexing: within the
  * chunk, the i-th non-null row updates relative slot i mod p, and the
  * carry fold rotates the absolute ring into/out of each chunk's entry
  * phase (a pure index permutation, float-exact). Per-row work is
  * O(p·(3+p)) column updates — 3 touched components × (3+p) columns.
  * Nulls are the identity map. Like the other chunked scans this is
  * algebraically (not bit-) equal to the sequential fold.
  *
  * Returns struct(m: array<double> row-major, cnt: int). eval() clones
  * the buffer — in a running window the same mutable state keeps folding
  * after each per-row emission. */
case class HoltWinterAffineScan(
    child: Expression,
    alpha: Double,
    beta: Double,
    gamma: Double,
    period: Int,
    phi: Double,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[HoltWinterAffineState]
  with UnaryLike[Expression] {

  require(period >= 1, "holt_winter: period >= 1")
  private def n = 2 + period   // state components
  private def w = 3 + period   // columns (state + constant)

  private def identityM(): Array[Double] = {
    val m = new Array[Double](n * w)
    var r = 0
    while (r < n) { m(r * w + r) = 1.0; r += 1 }
    m
  }

  override def createAggregationBuffer(): HoltWinterAffineState =
    new HoltWinterAffineState(identityM(), 0)

  override def update(b: HoltWinterAffineState,
      row: InternalRow): HoltWinterAffineState = {
    val v = child.eval(row)
    if (v != null) {
      val x = v.asInstanceOf[Number].doubleValue()
      val m = b.m
      val slot = 2 + (b.cnt % period)
      var c = 0
      while (c < w) {
        val xc = if (c == w - 1) x else 0.0
        val l = m(c)            // row 0 (level)
        val t = m(w + c)        // row 1 (trend)
        val s = m(slot * w + c) // the updated ring slot
        val level = alpha * (xc - s) + (1.0 - alpha) * (l + phi * t)
        val trend = beta * (level - l) + (1.0 - beta) * phi * t
        val season = gamma * (xc - l - phi * t) + (1.0 - gamma) * s
        m(c) = level
        m(w + c) = trend
        m(slot * w + c) = season
        c += 1
      }
      b.cnt += 1
    }
    b
  }

  private def isIdentity(s: HoltWinterAffineState): Boolean =
    s.cnt == 0 && java.util.Arrays.equals(s.m, identityM())

  // an identity map in either slot composes away regardless of order; the
  // frozen chunked base keeps one chunk per partition, so a genuine
  // two-sided merge (order unknowable) only happens on misuse
  override def merge(b: HoltWinterAffineState,
      o: HoltWinterAffineState): HoltWinterAffineState =
    if (isIdentity(o)) b
    else if (isIdentity(b)) { b.m = o.m; b.cnt = o.cnt; b }
    else ScanFolds.requireNoMerge(prettyName)

  override def eval(b: HoltWinterAffineState): Any =
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](new GenericArrayData(b.m.clone()), b.cnt))

  override def serialize(b: HoltWinterAffineState): Array[Byte] = {
    val buf = java.nio.ByteBuffer.allocate(4 + 8 * b.m.length)
    buf.putInt(b.cnt)
    b.m.foreach(buf.putDouble)
    buf.array()
  }

  override def deserialize(bytes: Array[Byte]): HoltWinterAffineState = {
    val buf = java.nio.ByteBuffer.wrap(bytes)
    val cnt = buf.getInt()
    val m = Array.fill(n * w)(buf.getDouble())
    new HoltWinterAffineState(m, cnt)
  }

  override def dataType: DataType = StructType(Seq(
    StructField("m", ArrayType(DoubleType, containsNull = false),
      nullable = false),
    StructField("cnt", IntegerType, nullable = false)))
  override def nullable: Boolean = false
  override def prettyName: String = "graft_holt_winter_affine"

  override def withNewMutableAggBufferOffset(x: Int): HoltWinterAffineScan =
    copy(mutableAggBufferOffset = x)
  override def withNewInputAggBufferOffset(x: Int): HoltWinterAffineScan =
    copy(inputAggBufferOffset = x)
  override protected def withNewChildInternal(c: Expression): HoltWinterAffineScan =
    copy(child = c)
}

/** Mutable RECALL fold state: the current registration time, if any, and
  * the boolean emitted for the last row folded in. */
final class RecallState(var hasReg: Boolean, var regTime: Double, var out: Boolean)

/** `RECALL (fpr, dur, key, tim)` — REMEMBER with refresh=false (reference
  * `RamenExpr.ml:1469-1471`, `CodeGenLib.ml:386-423`): a key sighting is
  * "remembered" while within `dur` of its current REGISTRATION; sightings
  * that are remembered do NOT refresh the registration (unlike REMEMBER),
  * so a key goes novel again `dur` after it was first registered. Batch is
  * exact where the reference's sliced bloom filter has false positives.
  * Use over a key-partitioned running window ordered by arrival. */
case class RecallScan(
    child: Expression,
    duration: Double,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[RecallState] with UnaryLike[Expression] {

  override def createAggregationBuffer(): RecallState =
    new RecallState(false, 0.0, false)

  override def update(b: RecallState, row: InternalRow): RecallState = {
    val v = child.eval(row)
    if (v != null) {
      val t = v.asInstanceOf[Number].doubleValue()
      if (!b.hasReg || t - b.regTime > duration) {
        b.hasReg = true; b.regTime = t; b.out = false
      } else b.out = true
    }
    b
  }

  override def merge(b: RecallState, o: RecallState): RecallState =
    if (!o.hasReg) b
    else if (!b.hasReg) o
    else ScanFolds.requireNoMerge(prettyName)

  override def eval(b: RecallState): Any = b.out

  override def serialize(b: RecallState): Array[Byte] = {
    val buf = java.nio.ByteBuffer.allocate(10)
    buf.put(if (b.hasReg) 1.toByte else 0.toByte)
      .putDouble(b.regTime)
      .put(if (b.out) 1.toByte else 0.toByte)
    buf.array()
  }

  override def deserialize(bytes: Array[Byte]): RecallState = {
    val buf = java.nio.ByteBuffer.wrap(bytes)
    new RecallState(buf.get() == 1, buf.getDouble(), buf.get() == 1)
  }

  override def dataType: DataType = BooleanType
  override def nullable: Boolean = false
  override def prettyName: String = "graft_recall"

  override def withNewMutableAggBufferOffset(x: Int): RecallScan =
    copy(mutableAggBufferOffset = x)
  override def withNewInputAggBufferOffset(x: Int): RecallScan =
    copy(inputAggBufferOffset = x)
  override protected def withNewChildInternal(c: Expression): RecallScan =
    copy(child = c)
}

/** One retained candidate of the PAST … SAMPLE SIZE dominance ring. */
private[graft] final class PastSampleEntry(
    val h: Long, val s: Long, val t: Long, val v: Any, var cnt: Int)
  extends Serializable

/** Bounded-state scan for `PAST d [SLIDING] SAMPLE SIZE k OF x` (and the
  * `SAMPLE k OF THE PAST d` spelling): the window sample is the k
  * smallest-by-hash members of the trailing time window (the compiler's
  * deterministic stand-in for the reference's seeded reservoir,
  * `/root/reference/src/CodeGenLib.ml` Past :599-680 + RamenSampling).
  *
  * Retention rule (the reason state is bounded): candidate y can appear in
  * some FUTURE window's bottom-k only while fewer than k later-or-equal-
  * time values with a smaller hash exist — such values expire no earlier
  * than y, so once k of them arrive, y is permanently shadowed. Keeping a
  * per-entry shadow count and evicting at k gives expected O(k·log W)
  * retained entries (vs the O(W) per-row window CONTENTS of the un-sampled
  * form — this is what makes the SAMPLE SIZE escape hatch itself
  * distributable; the finishing time-filter + bottom-k + arrival re-sort
  * happens in the compiler's trim step).
  *
  * Child is a struct (h: hash, s: arrival seq, t: event micros, v: value);
  * null v rows are skipped (reference reservoirs sample values, and the
  * un-sampled form's collect skips nulls too). Output: the retained
  * entries as an array of the same struct.
  */
case class PastSampleScan(
    child: Expression,
    k: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[scala.collection.mutable.ArrayBuffer[PastSampleEntry]]
  with UnaryLike[Expression] {

  private def vType: DataType =
    child.dataType.asInstanceOf[StructType].fields(3).dataType

  override def createAggregationBuffer(): scala.collection.mutable.ArrayBuffer[PastSampleEntry] =
    scala.collection.mutable.ArrayBuffer.empty[PastSampleEntry]

  override def update(b: scala.collection.mutable.ArrayBuffer[PastSampleEntry],
      row: InternalRow): scala.collection.mutable.ArrayBuffer[PastSampleEntry] = {
    val sv = child.eval(row).asInstanceOf[InternalRow]
    if (sv == null || sv.isNullAt(3)) return b
    val h = sv.getLong(0); val s = sv.getLong(1); val t = sv.getLong(2)
    // shadow counts both ways (time disorder safe): x counts against y
    // only when x expires no earlier (t_x >= t_y) and hashes strictly
    // smaller; compaction happens in place
    var newCnt = 0
    var i = 0
    var w = 0
    while (i < b.length) {
      val y = b(i)
      if (h < y.h && t >= y.t) y.cnt += 1
      else if (y.h < h && y.t >= t) newCnt += 1
      if (y.cnt < k) { if (w != i) b(w) = y; w += 1 }
      i += 1
    }
    b.takeInPlace(w)
    if (newCnt < k)
      b += new PastSampleEntry(h, s, t, InternalRow.copyValue(sv.get(3, vType)), newCnt)
    b
  }

  override def merge(b: scala.collection.mutable.ArrayBuffer[PastSampleEntry],
      o: scala.collection.mutable.ArrayBuffer[PastSampleEntry]): scala.collection.mutable.ArrayBuffer[PastSampleEntry] =
    if (o.isEmpty) b
    else if (b.isEmpty) o
    else ScanFolds.requireNoMerge(prettyName)

  override def eval(b: scala.collection.mutable.ArrayBuffer[PastSampleEntry]): Any =
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      b.map(e => InternalRow(e.h, e.s, e.t, e.v)).toArray[Any])

  override def serialize(b: scala.collection.mutable.ArrayBuffer[PastSampleEntry]): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val oos = new java.io.ObjectOutputStream(bos)
    oos.writeObject(b.toList); oos.close()
    bos.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): scala.collection.mutable.ArrayBuffer[PastSampleEntry] = {
    val xs = new java.io.ObjectInputStream(
      new java.io.ByteArrayInputStream(bytes)).readObject()
      .asInstanceOf[List[PastSampleEntry]]
    scala.collection.mutable.ArrayBuffer.from(xs)
  }

  override def dataType: DataType = ArrayType(child.dataType, containsNull = false)
  override def nullable: Boolean = false
  override def prettyName: String = "graft_past_sample"

  override def withNewMutableAggBufferOffset(x: Int): PastSampleScan =
    copy(mutableAggBufferOffset = x)
  override def withNewInputAggBufferOffset(x: Int): PastSampleScan =
    copy(inputAggBufferOffset = x)
  override protected def withNewChildInternal(c: Expression): PastSampleScan =
    copy(child = c)
}
