package graft.raql

/** RaQL abstract syntax, mirroring the shapes of the reference's AST types
  * (`/root/reference/src/raql_expr.type`, `raql_operation.type`,
  * `RamenProgram.ml`) — only the shapes: the compiler targets Catalyst, not
  * the reference's codegen.
  */
object Ast {

  /** An expression tree. Every pass that inspects or rewrites one goes
    * through [[children]]/[[withChildren]] (the only per-constructor
    * listing of sub-expressions) and the traversals built on them, after
    * Catalyst's `TreeNode`: a pass states its special cases and leaves the
    * descent to the generic fallback. */
  sealed trait Expr {

    /** Direct sub-expressions, in a fixed order: `Binop` left then right,
      * `AggCall` operand then `extra`, `CaseExpr` each (cond, value) pair
      * then `otherwise`. */
    def children: Seq[Expr] = this match {
      case Lit(_) | Ref(_) => Nil
      case Unop(_, e) => Seq(e)
      case Binop(_, l, r) => Seq(l, r)
      case FunCall(_, args) => args
      case AggCall(_, op, _, extra) => op +: extra
      case PercentileCall(_, op) => Seq(op)
      case CaseExpr(br, el) => br.flatMap { case (c, v) => Seq(c, v) } ++ el
      case VectorLit(items) => items
      case IsNull(e, _) => Seq(e)
    }

    /** This node with its [[children]] replaced by `cs` (same arity and
      * order). */
    def withChildren(cs: Seq[Expr]): Expr = this match {
      case Lit(_) | Ref(_) => this
      case u: Unop => u.copy(e = cs.head)
      case b: Binop => b.copy(l = cs(0), r = cs(1))
      case f: FunCall => f.copy(args = cs)
      case a: AggCall => a.copy(operand = cs.head, extra = cs.tail)
      case p: PercentileCall => p.copy(operand = cs.head)
      case CaseExpr(br, el) =>
        val pairs = cs.take(2 * br.length).grouped(2).map(p => (p(0), p(1)))
        CaseExpr(pairs.toSeq, el.map(_ => cs.last))
      case VectorLit(_) => VectorLit(cs)
      case i: IsNull => i.copy(e = cs.head)
    }

    /** Pre-order rewrite: where `pf` is defined the node is replaced and
      * the traversal does NOT descend into the replacement (a substitution
      * like `start` → `TRUNCATE(start, 60)` must not apply again inside
      * its own result); elsewhere the children are rewritten. */
    def transform(pf: PartialFunction[Expr, Expr]): Expr =
      pf.applyOrElse(this,
        (e: Expr) => e.withChildren(e.children.map(_.transform(pf))))

    /** Pre-order visit of this node and all its descendants. */
    def foreach(f: Expr => Unit): Unit = {
      f(this)
      children.foreach(_.foreach(f))
    }

    /** Does `p` hold for this node or any descendant? */
    def exists(p: Expr => Boolean): Boolean =
      p(this) || children.exists(_.exists(p))

    /** `pf` applied to every node it is defined at, in pre-order. */
    def collect[B](pf: PartialFunction[Expr, B]): Seq[B] = {
      val out = Seq.newBuilder[B]
      foreach(e => pf.runWith(out += _)(e))
      out.result()
    }
  }

  /** Literal; `typ` carries a cast-suffix when written as e.g. `0.1s`
    * (durations are plain float seconds in RaQL). */
  final case class Lit(value: Any) extends Expr

  /** Field/variable reference: `x`, `in.x`, `previous.stop`, `param.p`. */
  final case class Ref(path: Seq[String]) extends Expr

  final case class Unop(op: String, e: Expr) extends Expr
  final case class Binop(op: String, l: Expr, r: Expr) extends Expr

  /** Scalar function application, including cast-functions (`u32(x)`). */
  final case class FunCall(name: String, args: Seq[Expr]) extends Expr

  /** Stateful/aggregate call: `sum x`, `sum group x`, `sum keep null x`,
    * `min globally x`, `distinct x`, `lag x`, `group x`. `extra` carries
    * secondary operands that may be non-literal (e.g. the duration of
    * `PAST d OF x`, which can reference a parameter). */
  final case class AggCall(fn: String, operand: Expr,
      modifiers: Set[String] = Set.empty, extra: Seq[Expr] = Nil) extends Expr

  /** `10th percentile (e)` or `[10th; 95th] percentile (e)`. */
  final case class PercentileCall(ps: Seq[Double], operand: Expr) extends Expr

  final case class CaseExpr(branches: Seq[(Expr, Expr)], otherwise: Option[Expr])
      extends Expr
  final case class VectorLit(items: Seq[Expr]) extends Expr
  final case class IsNull(e: Expr, negated: Boolean) extends Expr

  // --- operations -------------------------------------------------------

  final case class SelectField(expr: Expr, alias: Option[String])

  /** RaQL type from a READ schema: base name + nullability (+units, kept
    * verbatim for metadata). */
  final case class RType(base: String, nullable: Boolean, units: Option[String])

  sealed trait Operation

  /** The Swiss-army SELECT (reference `Aggregate`). */
  final case class Aggregate(
      fields: Seq[SelectField],
      star: Boolean,
      from: Seq[String],
      fromSub: Seq[Operation] = Nil,
      where: Option[Expr] = None,
      groupBy: Seq[Expr] = Nil,
      commitBefore: Boolean = false,
      commitCond: Option[Expr] = None,
      /** `COMMIT AND KEEP [ALL]`: no state flush on commit. */
      commitKeep: Boolean = false,
      every: Option[Expr] = None,
      notifyName: Option[Expr] = None,
      /** `SORT LAST n BY k…` bounded reorder buffer (RamenSortBuf.ml). */
      sortLast: Option[(Int, Seq[Expr])] = None,
      /** `… OR UNTIL cond` early release: emit the buffer min as soon as
        * cond holds (refs: in.*, sort.first.*, sort.smallest.*,
        * sort.#count — CodeGenLib_Skeletons.ml:304-310). */
      sortUntil: Option[Expr] = None,
      /** `EVENT STARTS AT e` — the designated event-time expression. */
      eventStart: Option[Expr] = None,
      /** The event end: `AND STOPS AT e` or start + `WITH DURATION d`. */
      eventStop: Option[Expr] = None,
      /** `FACTORS f…` — low-cardinality dimension columns (RamenApi
        * get-columns `factor` flag; timeseries grouping hints). */
      factors: Seq[String] = Nil) extends Operation

  /** READ FROM FILE "path" [PREPROCESS WITH "cmd"] AS CSV (schema). */
  final case class ReadCsv(path: String, fields: Seq[(String, RType)],
      separator: String = ",", nullStr: String = "",
      quotes: Boolean = true,
      preprocessor: Option[String] = None) extends Operation

  /** READ FROM FILE "path" AS ROWBINARY (clickhouse schema). */
  final case class ReadRowBinary(path: String,
      fields: Seq[(String, RType)]) extends Operation

  /** `LISTEN [FOR] NETFLOW|COLLECTD|GRAPHITE [[ON] addr[:p] | [ON] PORT p]
    * [[PROTO] UDP|TCP]` (reference grammar RamenOperation.ml:1411-1438).
    * `ipProto` is the transport — UDP default for every protocol. */
  final case class ListenFor(proto: String, port: Int,
      ipProto: String = "udp") extends Operation

  /** READ FROM KAFKA TOPIC "t" [PARTITIONS [p;…]] WITH OPTIONS "k"="v",…
    * AS CSV|ROWBINARY (schema). */
  final case class ReadKafka(
      topic: String,
      partitions: Seq[Int],
      options: Map[String, String],
      format: String,
      fields: Seq[(String, RType)],
      separator: String = ",") extends Operation

  /** A named function. `persistFor` = archive retention duration
    * (`PERSIST FOR 1d`, RamenProgram.ml:80-84); `bestAfter` = event-time
    * delay after which output is final (`BEST AFTER e`, :86-89). */
  final case class Func(name: String, op: Operation,
      persistFor: Option[Expr] = None, bestAfter: Option[Expr] = None)
  final case class Param(name: String, default: Option[Expr])
  final case class Program(params: Seq[Param], funcs: Seq[Func],
      /** DECLAREd global variable names (RamenProgram.ml:74-77). */
      globals: Seq[String] = Nil,
      /** `RUN IF cond;` deploy-time condition (RamenProgram.ml:116);
        * functions of a program whose condition is not true compile to
        * empty frames. */
      runIf: Option[Expr] = None)
}
