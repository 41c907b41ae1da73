package graft.ops

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame, Encoders, Row}
import org.apache.spark.sql.functions.col

/** RaQL `SORT LAST n [BY k…]` — the reference's bounded reorder buffer
  * (`/root/reference/src/RamenSortBuf.ml:1-14`; `tests/func/sort.ramen`):
  * tuples enter a size-n buffer; once it overflows, the smallest by the
  * sort key leaves first, and the buffer drains in key order at
  * end-of-stream. The output is the input re-ordered under a bounded
  * disorder horizon — NOT a total sort.
  *
  * Spark shape: genuinely sequential per-stream imperative state, so this
  * is one of the rare justified `mapPartitions` — a size-n binary heap per
  * partition, O(log n) per row, O(n) memory. RaQL sources are
  * single-partition (arrival order is load-bearing), matching the
  * reference's per-worker buffer; on a partitioned input each partition
  * reorders independently, which is the right distributed semantics (one
  * buffer per stream shard, like one per reference worker). Streaming: the
  * same operator applies per micro-batch (bounded disorder within a batch);
  * cross-batch reordering belongs to watermarks, not the sort buffer.
  */
object SortBuffer {

  /** null-last, type-natural comparison of key cells. */
  private def cmpAny(a: Any, b: Any): Int = (a, b) match {
    case (null, null) => 0
    case (null, _) => 1
    case (_, null) => -1
    case (x: Number, y: Number) =>
      java.lang.Double.compare(x.doubleValue(), y.doubleValue())
    case (x: String, y: String) => x.compareTo(y)
    case (x: java.lang.Boolean, y: java.lang.Boolean) => x.compareTo(y)
    case (x: java.sql.Timestamp, y: java.sql.Timestamp) => x.compareTo(y)
    case (x: java.time.Instant, y: java.time.Instant) => x.compareTo(y)
    case (x: Comparable[_], _) => x.asInstanceOf[Comparable[Any]].compareTo(b)
    case _ => 0
  }

  /** Row-level evaluation of a `SORT … OR UNTIL` condition. The condition
    * runs inside the buffer loop against buffered Rows (it references the
    * buffer's own state — sort.first/sort.smallest/sort.#count — which no
    * Column expression can see), so it is interpreted: a tiny AST walk per
    * admitted row over O(1) state, not a per-row plan. */
  private def evalUntil(e: graft.raql.Ast.Expr, idx: Map[String, Int],
      count: Int, cur: Row, first: Row, smallest: Row, greatest: Row): Any = {
    import graft.raql.Ast._
    def go(x: Expr): Any = x match {
      case Lit(v) => v
      case Ref(Seq("sort", "#count")) => count.toLong
      case Ref(Seq("sort", "smallest", f)) => smallest.get(idx(f))
      case Ref(Seq("sort", "first", f)) => first.get(idx(f))
      case Ref(Seq("sort", "greatest", f)) =>
        if (greatest == null) null else greatest.get(idx(f))
      case Ref(Seq("in", f)) => cur.get(idx(f))
      case Ref(Seq(f)) if idx.contains(f) => cur.get(idx(f))
      case FunCall("coalesce", args) =>
        args.iterator.map(go).find(_ != null).orNull
      // width-tagged literals parse as casts (5u8 → u8(5)): unwrap
      case FunCall(t, Seq(inner)) if t.matches("[ui]\\d+\\??|float\\??") =>
        go(inner)
      case Unop("not", y) => go(y) match {
        case b: java.lang.Boolean => !b
        case null => null
        case o => o
      }
      case Unop("neg", y) => go(y) match {
        case n0: Number => -n0.doubleValue()
        case o => o
      }
      case Binop(op, l, r) =>
        val (a, b) = (go(l), go(r))
        op match {
          case "and" => (a, b) match {
            case (x: java.lang.Boolean, y: java.lang.Boolean) => x && y
            case _ => null
          }
          case "or" => (a, b) match {
            case (x: java.lang.Boolean, y: java.lang.Boolean) => x || y
            case _ => null
          }
          case _ if a == null || b == null => null
          case "+" => a.asInstanceOf[Number].doubleValue() +
            b.asInstanceOf[Number].doubleValue()
          case "-" => a.asInstanceOf[Number].doubleValue() -
            b.asInstanceOf[Number].doubleValue()
          case "*" => a.asInstanceOf[Number].doubleValue() *
            b.asInstanceOf[Number].doubleValue()
          case "/" => a.asInstanceOf[Number].doubleValue() /
            b.asInstanceOf[Number].doubleValue()
          case "=" => cmpAny(a, b) == 0
          case "<>" | "!=" => cmpAny(a, b) != 0
          case "<" => cmpAny(a, b) < 0
          case "<=" => cmpAny(a, b) <= 0
          case ">" => cmpAny(a, b) > 0
          case ">=" => cmpAny(a, b) >= 0
          case other => throw new UnsupportedOperationException(
            s"SORT UNTIL operator $other")
        }
      case other => throw new UnsupportedOperationException(
        s"SORT UNTIL expression $other")
    }
    go(e)
  }

  def apply(df: DataFrame, n: Int, keys: Seq[Column],
      until: Option[graft.raql.Ast.Expr] = None): DataFrame = {
    if (keys.isEmpty || n <= 0) return df
    val keyNames = keys.indices.map(i => s"_sortbuf_k$i")
    val withKeys = keys.zip(keyNames).foldLeft(df) {
      case (d, (c, nm)) => d.withColumn(nm, c)
    }
    val schema = withKeys.schema
    val keyIdx = keyNames.map(schema.fieldIndex).toArray
    val nameIdx = schema.fieldNames.zipWithIndex.toMap
    // (key cells, arrival seq) ordering: min-first, FIFO on ties
    implicit val ord: Ordering[(Array[Any], Long, Row)] =
      new Ordering[(Array[Any], Long, Row)] {
        def compare(a: (Array[Any], Long, Row), b: (Array[Any], Long, Row)): Int = {
          var i = 0
          while (i < keyIdx.length) {
            val c = cmpAny(a._1(i), b._1(i))
            if (c != 0) return c
            i += 1
          }
          java.lang.Long.compare(a._2, b._2)
        }
      }
    // `sort.greatest` only matters when the UNTIL condition names it —
    // keep the mirror max-heap off the common path otherwise
    val trackGreatest = until.exists(_.exists {
      case graft.raql.Ast.Ref(Seq("sort", "greatest", _)) => true
      case _ => false
    })
    val out = withKeys.mapPartitions { it =>
      // PriorityQueue is max-first: reverse for min-first emission
      val pq = mutable.PriorityQueue.empty[(Array[Any], Long, Row)](ord.reverse)
      // mirror max-heap for sort.greatest, kept current by lazy deletion
      // (emitted seqs are tombstoned and skimmed off the top on peek)
      val maxPq = mutable.PriorityQueue.empty[(Array[Any], Long, Row)](ord)
      val emitted = mutable.HashSet.empty[Long]
      def greatestRow: Row = {
        while (maxPq.nonEmpty && emitted.contains(maxPq.head._2)) {
          emitted.remove(maxPq.head._2); maxPq.dequeue()
        }
        if (maxPq.isEmpty) null else maxPq.head._3
      }
      // FIFO view of the live buffer for sort.first (removals by seq)
      val live = new java.util.LinkedHashMap[Long, Row]()
      var arrival = 0L
      def untilFires(cur: Row): Boolean = until.exists { e =>
        evalUntil(e, nameIdx, pq.size, cur,
          live.entrySet().iterator().next().getValue, pq.head._3,
          if (trackGreatest) greatestRow else null) match {
          case b: java.lang.Boolean => b
          case _ => false
        }
      }
      new Iterator[Row] {
        def hasNext: Boolean = it.hasNext || pq.nonEmpty
        def next(): Row = {
          // admit rows until the buffer overflows n — or the UNTIL
          // condition releases early (one emission per firing, like the
          // reference's skeleton loop, CodeGenLib_Skeletons.ml:895-921)
          var fired = false
          while (it.hasNext && pq.size <= n && !fired) {
            val r = it.next()
            arrival += 1
            val entry = (keyIdx.map(r.get), arrival, r)
            pq.enqueue(entry)
            if (trackGreatest) maxPq.enqueue(entry)
            live.put(arrival, r)
            fired = untilFires(r)
          }
          val (_, seq, row) = pq.dequeue()
          if (trackGreatest) emitted.add(seq)
          live.remove(seq)
          row
        }
      }
    }(Encoders.row(schema))
    out.select(df.columns.map(col).toSeq: _*)
  }
}
