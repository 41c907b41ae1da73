package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._
import scala.util.matching.Regex

import org.apache.spark.sql.Row
import org.scalatest.funsuite.AnyFunSuite

import graft.raql.RaqlCompiler

/** Run the REFERENCE'S OWN test expectations against our engine.
  *
  * Each `tests/func/<x>.test` names the programs to load and, per
  * function, `present` rows (some output row must match every given
  * column) and `absent` rows (no output row may match). This harness
  * parses that config shape, compiles every referenced function with the
  * batch front-end, and checks the expectations — the strongest available
  * "matches the reference's results on its own test queries" signal.
  *
  * Exclusions are mechanical, not semantic: tests whose programs need live
  * endpoints (Kafka brokers, packet sniffers) and expectations over
  * notifications (the alerter path is exercised by StreamingSpec/
  * AlertApiSpec instead).
  *
  * The specs and their programs are ramen's own `tests/func` checkout, which
  * the repo does not hold: the test runs wherever the checkout is present
  * and is canceled where it is absent.
  */
class ReferenceTestsSpec extends AnyFunSuite {

  lazy val spark = GraftSession.builder("4").getOrCreate()

  private val funcDir = "/root/reference/tests/func"

  // ---- tiny parser for the reference's test-config syntax ---------------

  sealed trait CV
  case class CStr(s: String) extends CV
  case class CList(items: Seq[CV]) extends CV
  case class CMap(entries: Seq[(String, CV)]) extends CV

  private def parseConfig(s0: String): CV = {
    var i = 0
    val s = s0
    def ws(): Unit = {
      while (i < s.length && (s(i).isWhitespace ||
        (s(i) == '/' && i + 1 < s.length && s(i + 1) == '*'))) {
        if (s(i) == '/') { val e = s.indexOf("*/", i); i = e + 2 }
        else i += 1
      }
    }
    def key(): String = {
      ws()
      if (s(i) == '"') { val v = str(); v }
      else {
        val st = i
        while (i < s.length && (s(i).isLetterOrDigit || "_./".contains(s(i)))) i += 1
        s.substring(st, i)
      }
    }
    def str(): String = {
      val sb = new StringBuilder
      i += 1 // opening quote
      while (s(i) != '"') {
        if (s(i) == '\\') {
          i += 1
          sb += (s(i) match {
            case 'n' => '\n'; case 't' => '\t'; case 'r' => '\r'
            case other => other
          })
        } else sb += s(i)
        i += 1
      }
      i += 1
      sb.toString
    }
    def value(): CV = {
      ws()
      s(i) match {
        case '{' =>
          i += 1
          val es = scala.collection.mutable.ListBuffer.empty[(String, CV)]
          ws()
          while (s(i) != '}') {
            val k = key(); ws()
            if (s.startsWith("=>", i)) i += 2 else if (s(i) == '=') i += 1
            val v = value()
            es += k -> v
            ws()
            if (i < s.length && s(i) == ';') { i += 1; ws() }
          }
          i += 1
          CMap(es.toSeq)
        case '[' =>
          i += 1
          val es = scala.collection.mutable.ListBuffer.empty[CV]
          ws()
          while (s(i) != ']') {
            es += value()
            ws()
            if (s(i) == ';') { i += 1; ws() }
          }
          i += 1
          CList(es.toSeq)
        case '"' => CStr(str())
        case _ =>
          // unquoted value: read to the next top-level ; } ] — values like
          // `VU8 1` and `VVec [| VU16 1976 |]` contain spaces and brackets
          val st = i
          var depth = 0
          var done = false
          while (i < s.length && !done) {
            val ch = s(i)
            if (depth == 0 && (ch == ';' || ch == '}' || ch == ']')) done = true
            else {
              if (ch == '[' || ch == '(' || ch == '{') depth += 1
              if (ch == ']' || ch == ')' || ch == '}') depth -= 1
              i += 1
            }
          }
          CStr(s.substring(st, i).trim)
      }
    }
    value()
  }

  // ---- rendered-value comparison ----------------------------------------

  private val ipRe: Regex = """(\d+)\.(\d+)\.(\d+)\.(\d+)""".r

  /** Does the reference's rendered expectation match this Spark cell? */
  private def cellMatches(expect: String, actual: Any): Boolean = {
    val e = expect.trim
    if (e.equalsIgnoreCase("null")) return actual == null
    if (actual == null) return false
    e match {
      case "true" | "false" => actual match {
        case b: Boolean => b == (e == "true")
        case other => other.toString == e
      }
      case _ if e.startsWith("\"") && e.endsWith("\"") && e.length >= 2 =>
        val want = e.substring(1, e.length - 1)
        val a = actual.toString
        // the rendered expectation may itself contain escaped quotes/
        // newlines; compare raw, stripped, and escape-normalized
        def esc(s: String) =
          s.replace("\\", "\\\\").replace("\n", "\\n").replace("\"", "\\\"")
        a == want || a == e || esc(a) == want || esc(a) == e
      case _ if e.startsWith("[") && e.endsWith("]") =>
        val parts = splitTop(e.substring(1, e.length - 1))
        seqOf(actual) match {
          case Some(seq) =>
            seq.size == parts.size &&
              seq.zip(parts).forall { case (a, x) => cellMatches(x, a) }
          case _ => false
        }
      case _ if e.startsWith("(") && e.endsWith(")") =>
        val parts = splitTop(e.substring(1, e.length - 1))
        actual match {
          case r: Row => r.size == parts.size &&
            (0 until r.size).forall(j => cellMatches(parts(j), r.get(j)))
          case _ => false
        }
      case _ if e.startsWith("0x") =>
        numOf(actual).exists(_ == BigInt(e.drop(2), 16).toDouble) ||
          (actual match {
            case d: java.math.BigDecimal =>
              BigInt(d.toBigInteger) == BigInt(e.drop(2), 16)
            case _ => false
          })
      case _ if e.startsWith("#\\") =>
        // char literal: #\a, #\*, #\000 (decimal code)
        val want =
          if (e.length == 3) e.substring(2)
          else e.drop(2).toIntOption.map(_.toChar.toString).getOrElse(e.drop(2))
        actual.toString == want
      case ipRe(a, b, c, d) if !e.contains("e") =>
        val asLong = (a.toLong << 24) | (b.toLong << 16) | (c.toLong << 8) | d.toLong
        actual.toString == e || (actual match {
          case l: Long => l == asLong
          case _ => false
        })
      case _ =>
        (e.toDoubleOption, numOf(actual)) match {
          case (Some(x), Some(y)) =>
            math.abs(x - y) <= 1e-6 * math.max(1.0, math.max(math.abs(x), math.abs(y)))
          case _ => actual.toString == e
        }
    }
  }

  private def numOf(a: Any): Option[Double] = a match {
    case n: java.lang.Number => Some(n.doubleValue())
    case _ => None
  }

  private def seqOf(a: Any): Option[Seq[Any]] = a match {
    case s: scala.collection.Seq[_] => Some(s.toSeq)
    case l: java.util.List[_] => Some(l.asScala.toSeq)
    case arr: Array[_] => Some(arr.toSeq)
    case _ => None
  }

  /** split "a;b;c" at top level (not inside nested brackets/quotes) */
  private def splitTop(s: String): Seq[String] = {
    val out = scala.collection.mutable.ListBuffer.empty[String]
    var depth = 0; var inStr = false; var st = 0
    for (j <- s.indices) s(j) match {
      case '"' => inStr = !inStr
      case '[' | '(' | '{' if !inStr => depth += 1
      case ']' | ')' | '}' if !inStr => depth -= 1
      case ';' if !inStr && depth == 0 => out += s.substring(st, j); st = j + 1
      case _ =>
    }
    out += s.substring(st)
    out.map(_.trim).toSeq
  }

  // ---- the sweep ---------------------------------------------------------

  private case class Expectation(fn: String, present: Seq[Map[String, String]],
      absent: Seq[Map[String, String]])

  private def expectationsOf(cfg: CV)
      : (Seq[(String, Option[String], Map[String, graft.raql.Ast.Expr])],
         Seq[Expectation]) = {
    import graft.raql.Ast.{Expr, Lit, VectorLit}
    val top = cfg.asInstanceOf[CMap].entries.toMap
    def exprOfV(v: String): Expr = {
      // "VU8 1" / "VFloat 1.5" / "VVec [| VU16 1976 |]" → literal(s)
      val nums = """-?\d+(\.\d+)?""".r.findAllIn(v.replaceAll("^V\\w+", ""))
        .toSeq.map { n =>
          if (n.contains('.')) Lit(n.toDouble) else Lit(n.toLong)
        }
      if (v.startsWith("VVec") || nums.size > 1) VectorLit(nums)
      else nums.headOption.getOrElse(Lit(v))
    }
    val progs = top.get("programs").collect { case CList(items) =>
      items.collect { case CMap(es) =>
        val src = es.collectFirst { case ("src", CStr(p)) => p }.get
        // `ext` names a program INSTANCE: the same src run again under
        // `name#ext` with different parameter bindings (any_ext.test)
        val ext = es.collectFirst { case ("ext", CStr(x)) => x }
        val overrides = es.collectFirst { case ("params", CMap(ps)) =>
          ps.collect { case (k, CStr(v)) => k -> exprOfV(v) }.toMap
        }.getOrElse(Map.empty[String, Expr])
        (src, ext, overrides)
      }
    }.getOrElse(Nil)
    val outs = top.get("outputs").collect { case CMap(es) =>
      es.map { case (fn, CMap(spec)) =>
        def rows(k: String): Seq[Map[String, String]] =
          spec.collectFirst { case (`k`, CList(rs)) =>
            rs.collect { case CMap(cols) =>
              cols.collect { case (c, CStr(v)) => c -> v }.toMap }
          }.getOrElse(Nil)
        Expectation(fn, rows("present"), rows("absent"))
      }
    }.getOrElse(Nil)
    (progs, outs)
  }

  test("reference .test expectations hold on compiled outputs") {
    assume(Files.isDirectory(Paths.get(funcDir)),
      s"needs the reference checkout at $funcDir (ramen's tests/func)")
    val testFiles = Files.list(Paths.get(funcDir)).iterator().asScala
      .filter(_.toString.endsWith(".test")).toList.sortBy(_.toString)
    // live-endpoint and purely-streaming specs are exercised elsewhere
    val skip = Set("kafka", "sniffer", "net_csv", "alerts", "notifications")

    var checked = 0; var passed = 0
    val failures = scala.collection.mutable.ListBuffer.empty[String]
    // the reference runs YIELD producers until the expectations appear (or
    // the .test timeout); emulate with enough generated rows — 150 covers
    // most tests, stress/cons1 asserts on the 2000th tuple, and fit stops
    // at its present row (start=30: the reference runner checks `absent`
    // only over rows seen before `present` appears — a noisy-predictor fit
    // occasionally exceeds the error bound, so a long tail over-checks)
    val genRows = Map("stress" -> "2100", "fit" -> "32").withDefaultValue("150")
    // regression runs draw RANDOM deterministically (see RaqlCompiler):
    // the suite tests the compiler, not the RNG's tail luck
    spark.conf.set("graft.raql.randomSeed", "1234")
    try testFiles.foreach { tf =>
      val tname = tf.getFileName.toString.stripSuffix(".test")
      if (!skip.exists(tname.contains)) {
        spark.conf.set("graft.raql.everyRows", genRows(tname))
        val cfg = parseConfig(Files.readString(tf))
        val (progs, outs) = expectationsOf(cfg)
        if (progs.forall(p => Files.exists(Paths.get(s"$funcDir/${p._1}")))) {
          val compiler = new RaqlCompiler(spark, funcDir)
          val parseOk = progs.forall { case (p, ext, overrides) =>
            // instances of the same src register as `name#ext`
            val name = p.stripSuffix(".ramen") + ext.map("#" + _).getOrElse("")
            graft.raql.RaqlParser.parseProgram(
              Files.readString(Paths.get(s"$funcDir/$p"))) match {
              case Right(prog) =>
                // apply the .test's parameter bindings as new defaults
                val patched = prog.copy(params = prog.params.map { par =>
                  overrides.get(par.name)
                    .map(v => par.copy(default = Some(v))).getOrElse(par)
                })
                compiler.register(name, patched)
                true
              case Left(_) => false
            }
          }
          Some(compiler).filter(_ => parseOk).foreach { c =>
            // the reference RUNS every function of every loaded program;
            // compile them all first so cross-function effects (global
            // MAPADD writers, parents of tested children) are in place
            c.registeredPrograms.foreach { case (pn, prog) =>
              prog.funcs.foreach { fn =>
                try { c.compile(s"$pn/${fn.name}"); () }
                catch { case _: Exception => }
              }
            }
            outs.foreach { ex =>
              checked += 1
              try {
                val rows = c.compile(ex.fn).limit(100000).collect()
                val cols = rows.headOption.map(
                  _.schema.fieldNames.zipWithIndex.toMap).getOrElse(Map.empty)
                def rowMatches(spec: Map[String, String])(r: Row): Boolean =
                  spec.forall { case (cName, v) =>
                    cols.get(cName).exists(j => cellMatches(v, r.get(j)))
                  }
                val missPresent = ex.present.filterNot(sp => rows.exists(rowMatches(sp)))
                val hitAbsent = ex.absent.filter(sp => rows.exists(rowMatches(sp)))
                if (missPresent.isEmpty && hitAbsent.isEmpty) passed += 1
                else {
                  // per-cell diagnostic: for the best near-miss row, which
                  // cells fail
                  def diag(sp: Map[String, String]): String = {
                    val best = rows.map { r =>
                      val bad = sp.filterNot { case (cn, v) =>
                        cols.get(cn).exists(j => cellMatches(v, r.get(j))) }
                      (bad.size, bad.map { case (cn, v) =>
                        s"$cn: want $v got ${cols.get(cn).map(r.get).orNull}" })
                    }.sortBy(_._1).headOption
                    best.map(_._2.take(2).mkString(", ")).getOrElse("no rows")
                  }
                  failures += s"${ex.fn} ($tname): " +
                    (missPresent.map(m => s"cells[${diag(m)}]") ++
                      hitAbsent.map(h => s"forbidden $h")).mkString("; ").take(320)
                }
              } catch { case e: Exception =>
                failures += s"${ex.fn} ($tname): ${e.toString.take(150)}"
              }
            }
          }
        }
      }
    } finally {
      spark.conf.unset("graft.raql.everyRows")
      spark.conf.unset("graft.raql.randomSeed")
    }

    info(s"reference expectations: $passed/$checked outputs hold")
    failures.foreach(f => info(s"  MISS $f"))
    // EXACT pin (r16): the r15 pastSlidingArray rewrite regressed
    // once_every/f2 from 91/91 to 90/91 and the former >=70% floor let it
    // ship silently. Every expectation this harness checks must hold, and
    // the checked count itself is pinned so a parse/compile failure that
    // silently DROPS expectations (progs.forall(exists) / parseOk guards
    // above) can't masquerade as passing either. There is no waived list:
    // streaming-only tests are excluded up-front in `skip`, not here.
    assert(checked == 91,
      s"reference suite checked $checked expectations, expected 91 — " +
        "a .test was dropped or added; re-pin deliberately")
    assert(passed == checked,
      s"only $passed/$checked reference expectations hold:\n" +
        failures.mkString("\n"))
  }
}
