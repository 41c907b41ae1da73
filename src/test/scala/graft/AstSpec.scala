package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.raql.Ast._

/** The RaQL expression traversal (`Expr.children`/`withChildren` and the
  * `transform`/`exists`/`collect`/`foreach` built on them) over one tree
  * holding every constructor, with a distinct ref in every child
  * position. No Spark. */
class AstSpec extends AnyFunSuite {

  private def r(n: Int): Ref = Ref(Seq(s"r$n"))

  /** Every child slot holds its own ref, numbered in pre-order. */
  private val tree: Expr = CaseExpr(
    Seq(
      (Binop("and", r(1), Unop("not", r(2))),
        FunCall("coalesce", Seq(r(3), IsNull(r(4), negated = true)))),
      (AggCall("sum", r(5), Set("globally"), Seq(r(6), r(7))),
        PercentileCall(Seq(0.5, 0.9), r(8)))),
    Some(VectorLit(Seq(r(9), Lit(1L), r(10)))))

  private val refsPreOrder = (1 to 10).map(r)

  test("identity transform returns an equal tree") {
    assert(tree.transform(PartialFunction.empty) == tree)
    assert(tree.transform { case x: Lit => x } == tree)
  }

  test("collect finds every ref, in pre-order") {
    assert(tree.collect { case x: Ref => x } == refsPreOrder)
  }

  test("a renaming transform renames every ref") {
    val renamed = tree.transform { case Ref(Seq(n)) => Ref(Seq(n + "'")) }
    assert(renamed.collect { case x: Ref => x } ==
      refsPreOrder.map(x => Ref(Seq(x.path.head + "'"))))
    assert(!renamed.exists(refsPreOrder.contains))
    // and leaves everything else in place
    assert(renamed.transform { case Ref(Seq(n)) => Ref(Seq(n.stripSuffix("'"))) } ==
      tree)
  }

  test("transform does not descend into a replacement") {
    // start → TRUNCATE(start, 60) once, not again inside its own result
    val e = Binop("//", Ref(Seq("start")), Lit(60L))
    val sub = e.transform {
      case s @ Ref(Seq("start")) => FunCall("truncate", Seq(s, Lit(60L)))
    }
    assert(sub == Binop("//",
      FunCall("truncate", Seq(Ref(Seq("start")), Lit(60L))), Lit(60L)))
  }

  test("children list each constructor's operands in a fixed order") {
    assert(AggCall("past", r(1), extra = Seq(r(2))).children == Seq(r(1), r(2)))
    assert(CaseExpr(Seq((r(1), r(2)), (r(3), r(4))), Some(r(5))).children ==
      (1 to 5).map(r))
    assert(CaseExpr(Seq((r(1), r(2))), None).children == Seq(r(1), r(2)))
    assert(Lit(1L).children.isEmpty && r(1).children.isEmpty)
    // foreach visits a node before its children
    val seen = Seq.newBuilder[Expr]
    Binop("+", r(1), r(2)).foreach(seen += _)
    assert(seen.result() == Seq(Binop("+", r(1), r(2)), r(1), r(2)))
  }
}
