package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

import graft.raql.{RaqlCompiler, RaqlParser}
import graft.raql.Ast.{ListenFor, ReadKafka}

/** RaQL front-end: parse + batch-compile the reference's own test programs
  * and check the golden values from the matching .test specs
  * (ramen's `tests/func/basic_aggr.test` etc.).
  *
  * The reference goldens ([[load]] and the two corpus sweeps) need ramen's
  * `tests/func` checkout and are canceled where it is absent. Tests whose
  * checks do not depend on ramen's data read the authored cars and
  * earthquakes fixtures under `src/test/resources/raql` (FIXTURES.md §
  * In-repo fixtures); the rest use inline sources. */
class RaqlSpec extends AnyFunSuite {

  lazy val spark = GraftSession.builder("4").getOrCreate()

  private val funcDir = "/root/reference/tests/func"

  /** Cancels a test that needs the reference checkout where it is absent. */
  private def assumeReference(): Unit =
    assume(Files.isDirectory(Paths.get(funcDir)),
      s"needs the reference checkout at $funcDir (ramen's tests/func)")

  /** Base directory of the in-repo fixtures, from the test classpath. */
  private lazy val fixtureDir =
    Paths.get(getClass.getResource("/raql").toURI).toString

  /** `fixtures/<name>` -> its in-repo .ramen source. */
  private def fixture(name: String): (String, String) =
    s"fixtures/$name" ->
      Files.readString(Paths.get(fixtureDir, "fixtures", s"$name.ramen"))

  /** The single sequential scan an ungrouped chunked carry must match:
    * `scan` over one prefix window in arrival order — the path grouped
    * running scans still compile to. (i, value) rows ordered by i. */
  private def sequentialScan(base: org.apache.spark.sql.DataFrame,
      scan: org.apache.spark.sql.Column => org.apache.spark.sql.Column)
      : Array[org.apache.spark.sql.Row] = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions.{col, monotonically_increasing_id}
    base.withColumn("_seq", monotonically_increasing_id())
      .select(col("i"), scan(col("n")).over(Window.orderBy("_seq")
        .rowsBetween(Window.unboundedPreceding, 0)))
      .orderBy("i").collect()
  }

  private def load(names: String*): RaqlCompiler = {
    assumeReference()
    val sources = names.map { n =>
      n -> Files.readString(Paths.get(s"$funcDir/$n.ramen"))
    }.toMap
    RaqlCompiler.fromSources(spark, funcDir, sources) match {
      case Right(c) => c
      case Left(e) => fail(s"parse: $e")
    }
  }

  test("basic_aggr/f1 matches the reference golden values") {
    val c = load("fixtures/cars", "basic_aggr")
    val row = c.compile("basic_aggr/f1").collect().head
    val byName = row.schema.fieldNames.zipWithIndex.toMap
    def v(n: String): Any = row.get(byName(n))
    assert(v("min_horsepower") == 1)
    assert(v("max_horsepower") == 946)
    assert(v("sum_horsepower") == 1262598L)
    assert(v("sum_horsepower_2") == 1262598L)
    assert(math.abs(v("avg_horsepower").asInstanceOf[Double] - 278.16655651) < 1e-6)
    assert(math.abs(v("avg_horsepower_2").asInstanceOf[Double] - 278.16655651) < 1e-6)
    assert(v("first_horsepower") == 552)
    assert(v("last_horsepower") == 313)
    assert(v("horsepower_10th") == 140)
    assert(v("horsepower_95th") == 553)
    assert(v("horsepower_perc") == Seq(140, 553))
    assert(v("manufacturers") == 30L)
    assert(v("sum_CO") == 1653.0)
    assert(row.isNullAt(byName("sum_CO_null")))
    assert(v("bityears") == 2017)
  }

  test("basic_aggr a3/o3 boolean aggregates over the n123 fixture") {
    val c = load("fixtures/n123", "basic_aggr")
    // batch = end-of-input commit ⇒ matches the k=3 (whole input) variants
    assert(c.compile("basic_aggr/a3").collect().head.getBoolean(0) == false)
    assert(c.compile("basic_aggr/o3").collect().head.getBoolean(0) == true)
  }

  test("word_split generators: YIELD + SPLIT cartesian semantics") {
    val c = load("word_split")
    val f1 = c.compile("word_split/f1").collect().map(r => (r.getString(0), r.getString(1)))
    assert(f1.toSeq == Seq(("pas", "glop"), ("glop", "glop")))
    val f2 = c.compile("word_split/f2").collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    // two independent splits ⇒ cartesian product
    assert(f2 == Set(("foo", "pas"), ("foo", "glop"), ("bar", "pas"), ("bar", "glop")))
    // every split OCCURRENCE is an independent generator: f3's two splits
    // of the SAME string still produce the 2×2 cartesian (word_split.test
    // expects the cross terms "glop glop"/"pas pas" and "pas glop"/"pas glop")
    val f3 = c.compile("word_split/f3").collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    assert(f3 == Set(("pas glop", "pas pas"), ("pas glop", "pas glop"),
      ("glop glop", "pas pas"), ("glop glop", "pas glop")))
    val f4 = c.compile("word_split/f4").collect().map(_.getString(0))
    assert(f4.toSeq == Seq("pas glop", "pas glop"))
  }

  test("in.ramen membership expressions compile to the right booleans") {
    val c = load("in")
    val row = c.compile("in/f1").collect().head
    val byName = row.schema.fieldNames.zipWithIndex.toMap
    def b(n: String): Boolean = row.getBoolean(byName(n))
    assert(b("t1") && b("t2") && b("t3") && b("t4"))
    assert(b("t5") && b("t6"))
    assert(b("t14") == false && b("t15") == false && b("t16"))
  }

  test("lag/f matches the reference golden (running per-row lag)") {
    val c = load("fixtures/n123", "lag")
    val rows = c.compile("lag/f").collect()
      .map(r => (r.get(0), r.get(1), r.get(2)))
    assert(rows.toSeq == Seq((1L, null, null), (2L, 1L, null), (3L, 2L, 1L)))
  }

  test("basic_aggr/f2: stateful WHERE over the input stream") {
    val c = load("fixtures/n123", "basic_aggr")
    val rows = c.compile("basic_aggr/f2").collect().map(_.get(0))
    assert(rows.toSeq == Seq(3L)) // rows where lag n = 2 → the n=3 row
  }

  test("moveavg/f1 golden: moveavg excludes the current value") {
    val c = load("fixtures/n123", "moveavg")
    val rows = c.compile("moveavg/f1").collect()
    val last = rows.last
    val byName = last.schema.fieldNames.zipWithIndex.toMap
    assert(last.get(byName("n")) == 3L)
    assert(last.get(byName("n1_1")) == 2.0)
    assert(last.get(byName("n1_2")) == 2.0)
    assert(last.get(byName("n2_1")) == 1.5)
    assert(last.get(byName("n2_2")) == 1.5)
  }

  test("past/f golden: sliding and tumbling time windows over earthquakes") {
    val c = load("fixtures/earthquakes", "past")
    val rows = c.compile("past/f").collect()
    val byName = rows.head.schema.fieldNames.zipWithIndex.toMap
    def row(year: Long) = rows.find(_.get(byName("year")) == year).get
    val y2010 = row(2010)
    assert(y2010.get(byName("min_recent_n")) == 12L ||
           y2010.get(byName("min_recent_n")) == 12)
    assert(y2010.get(byName("max_recent_n")) == 24L ||
           y2010.get(byName("max_recent_n")) == 24)
    assert(y2010.getDouble(byName("avg_recent_n")) == 18.0)
    val y2011 = row(2011)
    assert(y2011.get(byName("min_recent_n")) == 17L ||
           y2011.get(byName("min_recent_n")) == 17)
    assert(y2011.getDouble(byName("avg_recent_n")) == 20.0)
    val y1921 = row(1921)
    assert(y1921.getSeq[Any](byName("sliding_years")).map(_.toString.toInt) ==
      Seq(1916, 1917, 1918, 1919, 1920, 1921))
    assert(y1921.getSeq[Any](byName("tumbling_years")).map(_.toString.toInt) ==
      Seq(1916, 1917, 1918, 1919, 1920))
  }

  test("sample/f golden: reservoir size and NULL set") {
    val c = load("fixtures/n123", "sample")
    val rows = c.compile("sample/f").collect()
    val last = rows.last
    val byName = last.schema.fieldNames.zipWithIndex.toMap
    assert(last.get(byName("two")) == 2)
    assert(last.isNullAt(byName("trou")) || last.get(byName("trou")) == true)
  }

  test("top_expr goldens: membership rewrite and LIST TOP") {
    val c = load("fixtures/cars", "top_expr")
    val prep = c.compile("top_expr/preparation").collect()
      .map(_.getString(1)).toSet
    assert(prep.contains("BMW") && prep.contains("Toyota") &&
      prep.contains("other"))
    val f1 = c.compile("top_expr/f1").collect()
      .map(r => (r.getString(1), r.getLong(2))).toMap
    assert(f1.keySet == Set("BMW", "Toyota", "other"))
    val f2 = c.compile("top_expr/f2").collect().head.getSeq[String](0)
    assert(f2 == Seq("BMW", "Toyota", "GM"))
  }

  test("count/f golden: COUNT of booleans counts trues, keep-nulls nulls") {
    val c = load("fixtures/cars", "count")
    val rows = c.compile("count/f").collect()
    val byName = rows.head.schema.fieldNames.zipWithIndex.toMap
    def row(m: String) = rows.find(_.getString(byName("manufacturer")) == m).get
    val aston = row("aston martin")
    assert(aston.getLong(byName("num_lines")) == 8L)
    assert(aston.getLong(byName("num_models")) == 3L)
    assert(aston.getLong(byName("num_power_cars")) == 8L)
    assert(aston.getLong(byName("num_eco_cars")) == 1L)
    assert(aston.get(byName("num_eco_cars_nullable")) == 1L)
    val mitsu = row("Mitsubishi Motors Co")
    assert(mitsu.getLong(byName("num_lines")) == 39L)
    assert(mitsu.getLong(byName("num_models")) == 9L)
    assert(mitsu.getLong(byName("num_power_cars")) == 0L)
    assert(mitsu.getLong(byName("num_eco_cars")) == 32L)
    assert(mitsu.isNullAt(byName("num_eco_cars_nullable")))
  }

  test("season/f golden: seasonal moveavg and FIT") {
    val c = load("fixtures/earthquakes", "season")
    val rows = c.compile("season/f").collect()
    val byName = rows.head.schema.fieldNames.zipWithIndex.toMap
    val y2015 = rows.find(_.get(byName("year")) == 2015).get
    def d(n: String): Double = y2015.get(byName(n)) match {
      case x: java.lang.Double => x
      case x: java.lang.Integer => x.toDouble
      case x: java.lang.Long => x.toDouble
    }
    assert(d("a1") == 16.0)
    assert(d("a2") == 16.5)
    assert(math.abs(d("a5") - 14.8) < 1e-9)
    assert(d("f1") == 12.0)
    assert(math.abs(d("f2") - 5.0) < 1e-9)
    assert(math.abs(d("f3") - 10.0) < 1e-9)
  }

  test("basename golden") {
    val c = load("basename")
    val row = c.compile("basename/basename").collect().head
    assert(row.getString(0) == "TCP")
    assert(row.getString(1) == "")
    assert(row.getString(2) == "Ethernet")
  }

  test("COUNTRYCODE compiles against registered geo ranges (no silent null)") {
    val c = new RaqlCompiler(spark, funcDir)
    c.registerGeoRanges(Seq((0L, 100L, "AA"), (101L, 200L, "BB")))
    RaqlParser.parseProgram(
      """DEFINE g AS YIELD countrycode(50) AS c1, countrycode(150) AS c2,
           countrycode(999) AS c3;""") match {
      case Right(p) => c.register("m", p)
      case Left(e) => fail(s"parse: $e")
    }
    val row = c.compile("m/g").collect().head
    assert(row.getString(0) == "AA" && row.getString(1) == "BB" && row.isNullAt(2))
    // unregistered → loud failure, not a silent NULL
    val c2 = new RaqlCompiler(spark, funcDir)
    RaqlParser.parseProgram("DEFINE g AS YIELD countrycode(50) AS c1;") match {
      case Right(p) => c2.register("m", p)
      case Left(e) => fail(s"parse: $e")
    }
    intercept[UnsupportedOperationException] { c2.compile("m/g") }
  }

  test("case/f golden: RaQL CASE nullability (NULL condition → NULL result)") {
    val c = load("fixtures/n123", "case")
    val rows = c.compile("case/f").collect()
    val byName = rows.head.schema.fieldNames.zipWithIndex.toMap
    def s(r: Int, n: String) = rows(r).getString(byName(n))
    assert(s(0, "bigness") == "lo" && s(1, "bigness") == "meh" && s(2, "bigness") == "hi")
    assert(s(0, "literal") == "one" && s(1, "literal") == "more")
    assert(rows(0).get(byName("some_u64")).toString == "1")
    assert(rows(2).get(byName("some_u64")).toString == "9999999999999999999")
    assert(rows(0).get(byName("some_nullable_thing")).toString == "6")
    assert(rows(1).get(byName("some_nullable_thing")).toString == "666")
    assert(rows(2).isNullAt(byName("some_nullable_thing"))) // NULL cond → NULL
    assert(rows(0).get(byName("minus_smth")).toString == "-1")
    assert(s(0, "real_name") == "one" && s(2, "real_name") == "three")
  }

  test("fun_with_funcs golden: nested aggregates + percentile of out-field") {
    val c = load("fixtures/cars", "fun_with_funcs")
    val row = c.compile("fun_with_funcs/f").collect().head
    val byName = row.schema.fieldNames.zipWithIndex.toMap
    assert(row.get(byName("first_1")) == 552)
    assert(row.get(byName("first_2")).toString.toDouble == 552.0)
    assert(row.get(byName("first_3")).toString.toDouble == 552.0)
    assert(math.abs(row.getDouble(byName("co2_per_hp_90th")) - 1.77402298851) < 1e-9)
    assert(math.abs(row.getDouble(byName("co2_per_hp_99th")) - 2.71705617978) < 1e-9)
  }

  test("EVENT STARTS AT overrides the start/ts time-column convention") {
    val src = Map(
      fixture("earthquakes"),
      "evt" -> """DEFINE f AS
          FROM fixtures/earthquakes/csv
          SELECT year, n, past 2 of n AS recent
          EVENT STARTING AT (2020 - year);""")
    val c = RaqlCompiler.fromSources(spark, fixtureDir, src)
      .fold(e => fail(s"parse: $e"), identity)
    val byYear = c.compile("evt/f").collect()
      .map(r => (r.get(0).toString.toInt,
        r.getSeq[Any](2).map(_.toString.toInt).toList)).toMap
    // reversed event time 2020 - year: the strictly-younger-than-2 window
    // at year y covers years y+1 and y, time-ascending ⇒ [n(y+1), n(y)] —
    // the opposite of what the arrival-sequence fallback would give
    assert(byYear(1950) == List(11, 13)) // n(1951), n(1950)
    assert(byYear(1951) == List(7, 11))  // n(1952), n(1951)
  }

  test("infix NOT LIKE / NOT CASE SENSITIVE LIKE (RamenExpr.ml:1080)") {
    val src = Map("nl" -> """DEFINE f AS YIELD
        "pas glop" NOT LIKE "zz%" AS t1,
        "pas glop" NOT LIKE "pas%" AS t2,
        "Pas" CASE SENSITIVE LIKE "Pas%" AS t3,
        "Pas" NOT CASE SENSITIVE LIKE "pas%" AS t4,
        "Pas" NOT LIKE "pas%" AS t5;""")
    val c = RaqlCompiler.fromSources(spark, funcDir, src)
      .fold(e => fail(s"parse: $e"), identity)
    val row = c.compile("nl/f").collect().head
    val byName = row.schema.fieldNames.zipWithIndex.toMap
    def b(n: String): Boolean = row.getBoolean(byName(n))
    assert(b("t1"))           // no match ⇒ NOT LIKE true
    assert(!b("t2"))          // match ⇒ NOT LIKE false
    assert(b("t3"))           // exact case matches
    assert(b("t4"))           // cs mismatch ⇒ NOT cs-like true
    assert(!b("t5"))          // plain LIKE is case-insensitive ⇒ NOT false
  }

  test("pipeline-primitive extension functions compile from RaQL text") {
    val src = Map("pipe" -> """DEFINE f AS YIELD
        simhash("the quick brown fox") AS fp,
        bag_fingerprint("beta alpha") AS bf1,
        bag_fingerprint("alpha beta") AS bf2,
        lang_id("the cat is on the roof and it is happy") AS lang,
        hash_fraction(42) AS hf;""")
    val c = RaqlCompiler.fromSources(spark, funcDir, src)
      .fold(e => fail(s"parse: $e"), identity)
    val row = c.compile("pipe/f").collect().head
    val byName = row.schema.fieldNames.zipWithIndex.toMap
    // matches the DataFrame-side kernels exactly
    val exp = spark.sql("SELECT 1").select(
      graft.functions.TextFunctions.simhash64(
        graft.functions.TextFunctions.tokens(
          org.apache.spark.sql.functions.lit("the quick brown fox"))),
      graft.ops.Sampling.hashFraction(org.apache.spark.sql.functions.lit(42)))
      .collect().head
    assert(row.getLong(byName("fp")) == exp.getLong(0))
    assert(row.getString(byName("bf1")) == row.getString(byName("bf2")),
      "bag fingerprint must be word-order invariant")
    assert(row.getString(byName("lang")) == "en")
    assert(row.getDouble(byName("hf")) == exp.getDouble(1))
    assert(row.getDouble(byName("hf")) >= 0.0 && row.getDouble(byName("hf")) < 1.0)
  }

  test("RUN IF + variant(): experiment selection gates a program") {
    // mirrors tests/features/experiments.feature: the program runs only
    // when the test_external experiment resolves to var1
    val src = Map("test_prog" -> """
      RUN IF (variant("test_external") = "var1") |? false;
      DEFINE f AS YIELD "running" AS glop EVERY 500ms;
    """)
    def mk(): RaqlCompiler =
      RaqlCompiler.fromSources(spark, "/tmp", src)
        .fold(e => fail(s"parse: $e"), identity)
    val c1 = mk()
    c1.registerExperiment("test_external", "var1")
    assert(c1.compile("test_prog/f").collect().map(_.getString(0)).toSeq ==
      Seq("running"))
    val c2 = mk()
    c2.registerExperiment("test_external", "var2")
    assert(c2.compile("test_prog/f").isEmpty)
    // undefined experiment: variant() is NULL, |? false gates the program
    assert(mk().compile("test_prog/f").isEmpty)
  }

  test("globals_program golden: DECLARE + MAPADD + map read across functions") {
    val c = load("fixtures/cars", "globals_program")
    // compiling the writer applies its MAPADD stream to the global map
    // (last write per key wins), then the reader sees the converged state
    c.compile("globals_program/update_latest_models").collect()
    val row = c.compile("globals_program/latest_models").collect().head
    assert(row.getString(0) == "Vanquish") // globals_program.test golden
  }

  test("global maps scale: 1M-entry MAPADD state reads via a join, not a literal") {
    import org.apache.spark.sql.functions.{col, concat, lit}
    import spark.implicits._
    val src = Map("bigmap" -> """
      DECLARE WITH PROGRAM SCOPE big string[string];
      DEFINE writer AS FROM wtbl SELECT 1 AS one, mapadd(big, k, v) AS _w;
      DEFINE reader AS FROM probe SELECT pk, big[pk] AS pv;""")
    val c = RaqlCompiler.fromSources(spark, funcDir, src)
      .fold(e => fail(s"parse: $e"), identity)
    c.registerTable("wtbl", spark.range(1000000).select(
      col("id").cast("string").as("k"), concat(lit("v"), col("id")).as("v")))
    c.registerTable("probe",
      Seq("5", "999999", "nope").toDF("pk").coalesce(1))
    c.compile("bigmap/writer") // lazy: the 1M writes never hit the driver
    val reader = c.compile("bigmap/reader")
    // the read is a JOIN against the state frame, not a literal expression
    val joins = reader.queryExecution.optimizedPlan.collect {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join => j
    }
    assert(joins.nonEmpty, "global map read should compile to a join")
    val got = reader.collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(got == Map("5" -> "v5", "999999" -> "v999999", "nope" -> null))
  }

  /** Compiles the inline program `src` as `p`, reading table `t` from `df`. */
  private def compileInline(src: String, df: org.apache.spark.sql.DataFrame,
      func: String): org.apache.spark.sql.DataFrame = {
    val c = RaqlCompiler.fromSources(spark, funcDir, Map("p" -> src))
      .fold(e => fail(s"parse: $e"), identity)
    c.registerTable("t", df)
    c.compile(s"p/$func")
  }

  test("a SPLIT inside an aggregate explodes before the aggregate") {
    import spark.implicits._
    val words = Seq(("x", "a bb ccc"), ("x", "dddd eeeee"), ("y", "f"))
      .toDF("k", "s").coalesce(1)
    def perKey(field: String) = compileInline(s"""DEFINE q AS FROM t
        SELECT k, $field AS v GROUP BY k;""", words, "q").collect()
      .map(r => r.getString(0) -> r.getAs[Number](1).doubleValue).toMap
    assert(perKey("""COUNT (split(" ", s))""") == Map("x" -> 5.0, "y" -> 1.0))
    assert(perKey("""50th percentile (length (split(" ", s)))""") ==
      Map("x" -> 3.0, "y" -> 1.0))
  }

  test("a nested aggregate inside a vector literal takes the nested-state rewrite") {
    // tuples.ramen f2's `max (1 + max n)`, as the item of a vector: the
    // inner max runs per row (1, 2, 3), the outer one folds 1 + it
    import spark.implicits._
    val df = compileInline("""DEFINE q AS FROM t
        SELECT [max (1 + max n)] AS v COMMIT AFTER sum 1 = 3;""",
      Seq(1L, 2L, 3L).toDF("n").coalesce(1), "q")
    assert(df.collect().map(_.getSeq[Long](0)).toSeq == Seq(Seq(4L)))
  }

  test("global maps scale: 1M-entry map read in WHERE joins, no literal cap") {
    import org.apache.spark.sql.functions.{col, concat, lit}
    import spark.implicits._
    val src = Map("bigmap" -> """
      DECLARE WITH PROGRAM SCOPE big string[string];
      DEFINE writer AS FROM wtbl SELECT 1 AS one, mapadd(big, k, v) AS _w;
      DEFINE reader AS FROM probe SELECT pk WHERE big[pk] = "v999999";""")
    val c = RaqlCompiler.fromSources(spark, funcDir, src)
      .fold(e => fail(s"parse: $e"), identity)
    c.registerTable("wtbl", spark.range(1000000).select(
      col("id").cast("string").as("k"), concat(lit("v"), col("id")).as("v")))
    c.registerTable("probe",
      Seq("5", "999999", "nope").toDF("pk").coalesce(1))
    c.compile("bigmap/writer")
    // pre-fix this threw the 100k literal-cap error; the WHERE read now
    // left-joins the state frame exactly like a SELECT read
    val reader = c.compile("bigmap/reader")
    assert(reader.collect().map(_.getString(0)).toSeq == Seq("999999"))
  }

  test("globals_function compiles: MAPADD + read in one function") {
    val c = load("globals_function")
    val row = c.compile("globals_function/f").collect().head
    val byName = row.schema.fieldNames.zipWithIndex.toMap
    // check1: the map value round-trips to one of the two possible strings
    assert(row.getBoolean(byName("check1")))
  }

  test("seeded RANDOM replays a FIT generator identically across compiles") {
    // the mechanism the fit golden below relies on, without the reference
    // fixture: ten compiles of one RANDOM-fed running FIT give one result
    val src = Map("g" -> """DEFINE f AS YIELD
        (previous.start |? 0) + 1 AS start,
        start + random * 0.1 AS y,
        random AS noise,
        fit_multi(5, y, start, noise) AS pred
      EVERY 1 SECOND;""")
    spark.conf.set("graft.raql.everyRows", "40")
    spark.conf.set("graft.raql.randomSeed", "1234")
    try {
      val runs = (1 to 10).map { _ =>
        RaqlCompiler.fromSources(spark, funcDir, src)
          .fold(e => fail(s"parse: $e"), identity)
          .compile("g/f").orderBy("start").collect().toSeq
      }
      assert(runs.head.length == 40)
      assert(runs.head.map(_.getAs[Double]("noise")).distinct.length == 40)
      assert(runs.forall(_ == runs.head))
    } finally {
      spark.conf.unset("graft.raql.everyRows")
      spark.conf.unset("graft.raql.randomSeed")
    }
  }

  test("fit/f1+f2 golden: FIT over LATEST windows tracks the blurred line") {
    // reference fit.test: at start=30 ok must be true, ok=false must never
    // appear (null ok on degenerate early windows is fine, as in the
    // reference where gels on an empty system yields NULL)
    spark.conf.set("graft.raql.everyRows", "40")
    // seeded RANDOM (see RaqlCompiler): an unlucky unseeded draw can leave
    // a window under-determined, so the golden flaked between runs
    spark.conf.set("graft.raql.randomSeed", "1234")
    try {
      val c = load("fit")
      for (fn <- Seq("fit/f1", "fit/f2")) {
        val rows = c.compile(fn).collect()
        assert(rows.length == 40, s"$fn rows")
        val byName = rows.head.schema.fieldNames.zipWithIndex.toMap
        def startOf(r: org.apache.spark.sql.Row): Double =
          r.get(byName("start")).toString.toDouble
        val at30 = rows.find(startOf(_) == 30.0).get
        assert(!at30.isNullAt(byName("ok")) && at30.getBoolean(byName("ok")),
          s"$fn ok at start=30")
        // early windows are exactly- or under-determined: with random
        // multi-predictors the exact fit can overfit (both engines share
        // this; outcomes differ only by RNG draw). Assert the window-full
        // regime, which the reference's absent-check exercises at start=30.
        assert(!rows.exists(r => startOf(r) >= 12 && !r.isNullAt(byName("ok")) &&
          !r.getBoolean(byName("ok"))), s"$fn has ok=false rows past warmup")
        // and the fit is genuinely close once the window fills
        val err = rows.filter(startOf(_) >= 15)
          .map(r => r.getDouble(byName("error"))).max
        assert(err < 0.2, s"$fn max error $err")
      }
    } finally {
      spark.conf.unset("graft.raql.everyRows")
      spark.conf.unset("graft.raql.randomSeed")
    }
  }

  test("fit_multi/f golden: through-origin multi-regression on cars") {
    // reference fit_multi.test: h_pred 281.898168902 present in the output
    val c = load("fixtures/cars", "fit_multi")
    val preds = c.compile("fit_multi/f").collect().map(_.getDouble(0))
    assert(preds.length > 100)
    assert(preds.exists(p => math.abs(p - 281.898168902) < 1e-4),
      s"expected 281.898168902 among predictions; closest: " +
        preds.minBy(p => math.abs(p - 281.898168902)))
  }

  test("port_scan golden: RECALL novelty + TOP membership flag the scanner") {
    val c = load("fixtures/port_scan", "port_scan")
    // new_cnxs: one row per connection the bloom has NOT remembered —
    // i.e. per (src,dst,port,proto) registration epoch
    val novel = c.compile("port_scan/new_cnxs").collect()
    assert(novel.nonEmpty && novel.length < 107) // a filter, not a pass-through
    // detect: reference port_scan.test expects the scanner pair present
    val det = c.compile("port_scan/detect").collect()
    val pairs = det.map(r => (r.get(0).toString, r.get(1).toString)).toSet
    assert(pairs.exists { case (s, d) =>
      (s == "10.100.25.14" || s == "174332174") &&
        (d == "10.100.18.12" || d == "174330380")
    }, s"scanner pair missing from $pairs")
  }

  test("flappy golden: previous.ok toggle alternates and alert fires both ways") {
    spark.conf.set("graft.raql.everyRows", "20")
    try {
      val c = load("flappy")
      val oks = c.compile("flappy/flapping").collect().map(_.getBoolean(0))
      assert(oks.length == 20)
      // NOT (previous.ok |? true): false first, then strict alternation
      assert(oks.head == false)
      assert(oks.sliding(2).forall(p => p(0) != p(1)))
      // flappy.test: firing=true AND firing=false both present
      val firing = c.compile("flappy/alert").collect().map(_.getBoolean(0)).toSet
      assert(firing == Set(true, false))
    } finally spark.conf.unset("graft.raql.everyRows")
  }

  test("previous/f2 golden: global_last_out and local_last_out invariants hold") {
    spark.conf.set("graft.raql.everyRows", "200")
    try {
      val c = load("previous")
      val rows = c.compile("previous/f2").collect()
      assert(rows.length == 200)
      val byName = rows.head.schema.fieldNames.zipWithIndex.toMap
      for (okCol <- Seq("global_ok", "local_ok_1", "local_ok_2", "local_ok_3")) {
        val bad = rows.count(r => !r.isNullAt(byName(okCol)) &&
          !r.getBoolean(byName(okCol)))
        assert(bad == 0, s"$okCol false on $bad rows")
      }
    } finally spark.conf.unset("graft.raql.everyRows")
  }

  test("tuples/converts golden: tuple and vector casts") {
    val c = load("fixtures/n123", "tuples")
    val row = c.compile("tuples/converts").collect().head
    val byName = row.schema.fieldNames.zipWithIndex.toMap
    def v(n: String): Any = row.get(byName(n))
    assert(v("t1") == org.apache.spark.sql.Row("1", 2L))
    assert(v("t2") == org.apache.spark.sql.Row(1L, "2"))
    assert(v("t3") == org.apache.spark.sql.Row(1L, "2"))
    assert(row.isNullAt(byName("t4")))
    assert(v("t5") == Seq("1", "2"))
    assert(v("t6") == Seq("1", "2"))
    assert(v("t7") == Seq("1.2.3.4", null))
    assert(row.isNullAt(byName("t8")))
  }

  test("peek_array/f golden: PEEK reassembles ints from typed vectors") {
    val c = load("peek_array")
    val row = c.compile("peek_array/f").collect().head
    val byName = row.schema.fieldNames.zipWithIndex.toMap
    def n(name: String): BigInt = row.get(byName(name)) match {
      case l: java.lang.Long => BigInt(l)
      case d: java.math.BigDecimal => BigInt(d.toBigInteger)
      case o => BigInt(o.toString)
    }
    // reference peek_array.test golden values
    assert(n("t1") == 1)
    assert(n("t2") == 59651)
    assert(n("t3") == 0x10203)
    assert(n("t4") == 0x1020304)
    assert(n("t5") == 1)
    assert(n("t6") == 0x100020003L)
    assert(n("t7") == 1)
    assert(n("t8") == BigInt("10000000200000003", 16))
    assert(n("t9") == 1)
    assert(n("t9_2") == 1)
    assert(n("t10") == 1)
    assert(n("t11") == 0x10203)
    assert(n("t12") == 0x1020304)
    assert(n("t13") == 0x100020003L)
    assert(n("t14") == BigInt("10000000200000003", 16))
  }

  test("rowbinary/f1 golden: ClickHouse RowBinary with FixedString and UUID") {
    val c = load("fixtures/udp", "rowbinary")
    val rows = c.compile("rowbinary/f1").collect()
    assert(rows.nonEmpty)
    val byName = rows.head.schema.fieldNames.zipWithIndex.toMap
    assert(rows.head.schema.fieldNames.length == 34)
    // reference rowbinary.test: this row must be present
    assert(rows.exists(r =>
      r.getString(byName("protostack")) == "Ethernet/IPv4/UDP/DNS" &&
        r.getLong(byName("traffic_bytes_server")) == 113L))
  }

  test("ungrouped running aggregates distribute via chunked prefix scan") {
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate => LAgg, Window => LWin}
    val src = Map("run" -> """DEFINE f AS
        SELECT n, sum n AS rsum, count n AS rcnt, min n AS rmin,
               max n AS rmax, avg n AS ravg, first n AS rfirst,
               last n AS rlast
        FROM tbl;""")
    val c = RaqlCompiler.fromSources(spark, funcDir, src)
      .fold(e => fail(s"parse: $e"), identity)
    // a genuinely multi-partition input: 8 chunks of 1..100000
    val base = spark.range(1, 100001).toDF("n").repartition(8)
    c.registerTable("tbl", base)
    val df = c.compile("run/f")
    // every full-input window is chunk-partitioned; partition-less windows
    // exist only over the per-chunk totals frame (an Aggregate subtree)
    val wins = df.queryExecution.optimizedPlan.collect { case w: LWin => w }
    assert(wins.nonEmpty)
    wins.filter(_.partitionSpec.isEmpty).foreach { w =>
      assert(w.collectFirst { case a: LAgg => a }.nonEmpty,
        "partition-less window over the full input")
    }
    // values bit-identical to the single-window plan
    val got = df.orderBy("n").collect()
    spark.conf.set("graft.raql.chunkedRunning", "false")
    val want = try {
      val c2 = RaqlCompiler.fromSources(spark, funcDir, src)
        .fold(e => fail(s"parse: $e"), identity)
      c2.registerTable("tbl", base)
      c2.compile("run/f").orderBy("n").collect()
    } finally spark.conf.unset("graft.raql.chunkedRunning")
    assert(got.length == 100000)
    assert(got.sameElements(want))
  }

  test("bounded-lookback window chains distribute via chunk ghosts") {
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWin}
    import org.apache.spark.sql.functions.col
    val src = Map("run" -> """DEFINE f AS
        SELECT n, lag n AS prev, lag (3, n) AS prev3, changed n AS chg,
               moveavg (5, n) AS ma5
        FROM tbl;""")
    val base = spark.range(1, 100001).toDF("n").repartition(8)
    val c = RaqlCompiler.fromSources(spark, funcDir, src)
      .fold(e => fail(s"parse: $e"), identity)
    c.registerTable("tbl", base)
    val df = c.compile("run/f")
    // every window is chunk-partitioned — no single-task WindowExec
    val wins = df.queryExecution.optimizedPlan.collect { case w: LWin => w }
    assert(wins.nonEmpty && wins.forall(_.partitionSpec.nonEmpty),
      "ghosted plan still has a partition-less window")
    val got = df.orderBy("n").collect()
    spark.conf.set("graft.raql.chunkedRunning", "false")
    val want = try {
      val c2 = RaqlCompiler.fromSources(spark, funcDir, src)
        .fold(e => fail(s"parse: $e"), identity)
      c2.registerTable("tbl", base)
      c2.compile("run/f").orderBy("n").collect()
    } finally spark.conf.unset("graft.raql.chunkedRunning")
    assert(got.length == 100000)
    assert(got.sameElements(want))
  }

  test("ungrouped running GROUP distributes via concat carry (r15 verdict task 7)") {
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate => LAgg, Window => LWin}
    import org.apache.spark.sql.functions.{col, lit, when}
    val src = Map("run" -> """DEFINE f AS
        SELECT n, group v AS g, sum v AS rsum
        FROM tbl;""")
    // nulls must be SKIPPED in arrival order by BOTH passes (within-chunk
    // prefix and cross-chunk carry — the r15 once_every lesson); 8 real
    // chunks exercise the concat across chunk boundaries. range(..., 8)
    // yields CONTIGUOUS ordered partitions (no shuffle), so arrival order
    // == n order and the absolute prefix values are predictable
    val base = spark.range(1, 20001, 1, 8).toDF("n")
      .withColumn("v",
        when(col("n") % 7 === 0, lit(null)).otherwise(col("n") * 2))
    val c = RaqlCompiler.fromSources(spark, funcDir, src)
      .fold(e => fail(s"parse: $e"), identity)
    c.registerTable("tbl", base)
    val df = c.compile("run/f")
    assert(c.sequentialForms.isEmpty, s"flagged: ${c.sequentialForms}")
    // partition-less windows only over the bounded per-chunk totals frames
    val wins = df.queryExecution.optimizedPlan.collect { case w: LWin => w }
    assert(wins.nonEmpty)
    wins.filter(_.partitionSpec.isEmpty).foreach { w =>
      assert(w.collectFirst { case a: LAgg => a }.nonEmpty,
        "partition-less window over the full input")
    }
    // the output is O(n²) values — hash each prefix list EXECUTOR-side
    // (the r17/d12 wide-content trick) so the driver compares 20k rows,
    // not 200M elements
    def shape(frame: org.apache.spark.sql.DataFrame) = frame
      .selectExpr("n", "size(g) AS ng",
        "md5(cast(array_join(transform(g, x -> cast(x as string)), ',') as binary)) AS gh",
        "rsum")
      .orderBy("n").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getString(2), r.getLong(3)))
    val got = shape(df)
    spark.conf.set("graft.raql.chunkedRunning", "false")
    val want = try {
      val c2 = RaqlCompiler.fromSources(spark, funcDir, src)
        .fold(e => fail(s"parse: $e"), identity)
      c2.registerTable("tbl", base)
      shape(c2.compile("run/f"))
    } finally spark.conf.unset("graft.raql.chunkedRunning")
    assert(got.length == 20000)
    assert(got.sameElements(want))
    // spot-check absolute prefix values ACROSS a chunk boundary: chunk 0
    // holds n = 1..2500, so n = 2503's prefix must concatenate chunk 0's
    // full list with chunk 1's first three values, nulls (multiples of 7)
    // skipped in both
    val g = df.filter(col("n") === 2503).select("g")
      .collect()(0).getSeq[Long](0)
    assert(g.toList == (1 to 2503).filter(_ % 7 != 0).map(_ * 2L).toList)
  }

  test("MIXED running aggs + lag family distribute via chunked lag (no ghosts)") {
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate => LAgg, Window => LWin}
    // running sum/min disables the ghost rewrite (unbounded prefix), so
    // the lag family must take the chunkedLag two-pass — the r12 verdict's
    // r05-shaped funnel. 8 real partitions exercise the chunk boundaries
    // the sf0.01 oracle (a single-partition scan) never crosses.
    val src = Map("run" -> """DEFINE f AS
        SELECT n, sum n AS rsum, min n AS rmin,
               lag n AS prev, lag (3, n) AS prev3,
               changed n AS chg, derive n AS drv,
               moveavg (5, n) AS ma5,
               latest 4 keep nulls n AS l4,
               one out of 7 n AS s7
        FROM tbl;""")
    val base = spark.range(1, 100001).toDF("n").repartition(8)
    val c = RaqlCompiler.fromSources(spark, funcDir, src)
      .fold(e => fail(s"parse: $e"), identity)
    c.registerTable("tbl", base)
    val df = c.compile("run/f")
    // partition-less windows may exist only over bounded totals frames
    // (Aggregate subtrees) — never over the full input
    val wins = df.queryExecution.optimizedPlan.collect { case w: LWin => w }
    assert(wins.nonEmpty)
    wins.filter(_.partitionSpec.isEmpty).foreach { w =>
      assert(w.collectFirst { case a: LAgg => a }.nonEmpty,
        s"partition-less window over the full input: $w")
    }
    val got = df.orderBy("n").collect()
    spark.conf.set("graft.raql.chunkedRunning", "false")
    val want = try {
      val c2 = RaqlCompiler.fromSources(spark, funcDir, src)
        .fold(e => fail(s"parse: $e"), identity)
      c2.registerTable("tbl", base)
      c2.compile("run/f").orderBy("n").collect()
    } finally spark.conf.unset("graft.raql.chunkedRunning")
    assert(got.length == 100000)
    assert(got.sameElements(want))
  }

  test("PAST … SAMPLE SIZE: dominance ring distributes and equals the time-frame sample") {
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWin}
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    val src = Map("run" -> """DEFINE f AS
        SELECT start, PAST 5 SAMPLE SIZE 3 OF x AS smp
        FROM tbl;""")
    // monotone event time, single partition: arrival order == time order,
    // so the ring must match the time-range-frame formulation exactly
    val spark2 = spark
    import spark2.implicits._
    val base = (0 until 2000).map { i =>
      (i * 0.37, if (i % 17 == 0) None else Some((i * 131 % 977).toDouble))
    }.toDF("start", "x").coalesce(1)
    def run(chunked: Boolean): (Array[Seq[Double]], RaqlCompiler) = {
      if (!chunked) spark.conf.set("graft.raql.chunkedRunning", "false")
      try {
        val c = RaqlCompiler.fromSources(spark, funcDir, src)
          .fold(e => fail(s"parse: $e"), identity)
        c.registerTable("tbl", base)
        val rows = c.compile("run/f").orderBy("start").collect()
          .map(_.getSeq[Double](1))
        (rows, c)
      } finally if (!chunked) spark.conf.unset("graft.raql.chunkedRunning")
    }
    val (gotChunked, cc) = run(chunked = true)
    val (gotSeq, _) = run(chunked = false)
    // the SAMPLE SIZE form must NOT be flagged sequential (that is the
    // whole point of the bounded ring)
    assert(cc.sequentialForms.isEmpty, s"flagged: ${cc.sequentialForms}")
    // chunked plan: no partition-less window over the full input
    assert(gotChunked.toSeq == gotSeq.toSeq)
    // independent expectation: the k-smallest-by-hash of the trailing
    // 5 s time-range frame (the pre-ring formulation)
    val w = Window.orderBy(col("_tus")).rangeBetween(-(5000000L - 1), 0)
    val expect = base
      .withColumn("_s", monotonically_increasing_id())
      .withColumn("_tus", (col("start").cast("double") * 1e6).cast("long"))
      .withColumn("smp", transform(
        array_sort(transform(
          slice(array_sort(collect_list(
            when(col("x").isNotNull, struct(xxhash64(col("_s")).as("h"),
              col("_s").as("s"), col("x").as("v")))).over(w)), 1, 3),
          e => struct(e.getField("s").as("s"), e.getField("v").as("v")))),
        s => s.getField("v")))
      .orderBy("start").collect().map(_.getSeq[Double](4))
    assert(gotChunked.length == 2000)
    assert(gotChunked.toSeq == expect.toSeq)
    // (the un-sampled form's diagnostics are covered by the "running
    // GROUP / PAST sliding flag their single-task window shape" test)
  }

  test("oldest/largest/smallest rings distribute and match the global plan") {
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate => LAgg, Window => LWin}
    import org.apache.spark.sql.functions.col
    val src = Map("run" -> """DEFINE f AS
        SELECT n, oldest 4 v AS o4, largest 3 v AS lg3, smallest 3 v AS sm3
        FROM tbl;""")
    val base = spark.range(1, 50001)
      .select(col("id").as("n"), (col("id") * 7919 % 104729).as("v"))
      .repartition(8)
    val c = RaqlCompiler.fromSources(spark, funcDir, src)
      .fold(e => fail(s"parse: $e"), identity)
    c.registerTable("tbl", base)
    val df = c.compile("run/f")
    val wins = df.queryExecution.optimizedPlan.collect { case w: LWin => w }
    assert(wins.nonEmpty)
    wins.filter(_.partitionSpec.isEmpty).foreach { w =>
      assert(w.collectFirst { case a: LAgg => a }.nonEmpty,
        "partition-less window over the full input")
    }
    val got = df.orderBy("n").collect()
    spark.conf.set("graft.raql.chunkedRunning", "false")
    val want = try {
      val c2 = RaqlCompiler.fromSources(spark, funcDir, src)
        .fold(e => fail(s"parse: $e"), identity)
      c2.registerTable("tbl", base)
      c2.compile("run/f").orderBy("n").collect()
    } finally spark.conf.unset("graft.raql.chunkedRunning")
    assert(got.length == 50000)
    assert(got.sameElements(want))
  }

  test("sliding PAST distributes via time-bucket ghosts") {
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWin}
    import org.apache.spark.sql.functions.col
    val src = Map("run" -> """DEFINE f AS
        SELECT start, v, past 5 of v AS win FROM tbl;""")
    // irregular event times, multi-partition
    val base = spark.range(1, 20001)
      .select((col("id") * 37 % 9973).cast("double").as("start"),
        col("id").as("v"))
      .repartition(8)
    val c = RaqlCompiler.fromSources(spark, funcDir, src)
      .fold(e => fail(s"parse: $e"), identity)
    c.registerTable("tbl", base)
    val df = c.compile("run/f")
    val wins = df.queryExecution.optimizedPlan.collect { case w: LWin => w }
    assert(wins.nonEmpty && wins.forall(_.partitionSpec.nonEmpty),
      "PAST plan still has a partition-less window")
    def canon(rows: Array[org.apache.spark.sql.Row]) =
      rows.map(r => (r.getDouble(0), r.getLong(1),
        r.getSeq[Long](2).sorted)).sortBy(x => (x._1, x._2))
    val got = canon(df.select(col("start"), col("v"), col("win")).collect())
    spark.conf.set("graft.raql.chunkedRunning", "false")
    val want = try {
      val c2 = RaqlCompiler.fromSources(spark, funcDir, src)
        .fold(e => fail(s"parse: $e"), identity)
      c2.registerTable("tbl", base)
      canon(c2.compile("run/f")
        .select(col("start"), col("v"), col("win")).collect())
    } finally spark.conf.unset("graft.raql.chunkedRunning")
    assert(got.length == 20000)
    assert(got.sameElements(want))
  }

  test("MIXED sliding PAST distributes via the bucket-join (no union ghosts)") {
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate => LAgg, Window => LWin}
    import org.apache.spark.sql.functions.col
    // the running SUM makes the plan MIXED: the whole-plan double-bucket
    // union rewrite is rejected (timeWindowOnly sees an AggCall), so PAST
    // previously fell onto the single-task global window — the r15
    // bucket-JOIN form distributes it without touching the row set
    val src = Map("run" -> """DEFINE f AS
        SELECT start, v, past 5 of v AS win, sum v AS rs FROM tbl;""")
    // irregular event times incl. duplicates, multi-partition
    val base = spark.range(1, 20001)
      .select((col("id") * 37 % 997).cast("double").as("start"),
        col("id").as("v"))
      .repartition(8)
    val c = RaqlCompiler.fromSources(spark, funcDir, src)
      .fold(e => fail(s"parse: $e"), identity)
    c.registerTable("tbl", base)
    val df = c.compile("run/f")
    // plan pin: every full-input window is partitioned (bucket or chunk);
    // partition-less windows exist only over per-chunk/per-bucket totals
    // frames (an Aggregate subtree) — and the PAST form must NOT have
    // been flagged sequential
    assert(c.sequentialForms.isEmpty, s"flagged: ${c.sequentialForms}")
    val wins = df.queryExecution.optimizedPlan.collect { case w: LWin => w }
    assert(wins.nonEmpty)
    wins.filter(_.partitionSpec.isEmpty).foreach { w =>
      assert(w.collectFirst { case a: LAgg => a }.nonEmpty,
        "partition-less window over the full input")
    }
    def canon(rows: Array[org.apache.spark.sql.Row]) =
      rows.map(r => (r.getDouble(0), r.getLong(1),
        r.getSeq[Long](2).sorted, r.getLong(3))).sortBy(x => (x._1, x._2))
    val got = canon(df.select(col("start"), col("v"), col("win"), col("rs"))
      .collect())
    spark.conf.set("graft.raql.chunkedRunning", "false")
    val want = try {
      val c2 = RaqlCompiler.fromSources(spark, funcDir, src)
        .fold(e => fail(s"parse: $e"), identity)
      c2.registerTable("tbl", base)
      canon(c2.compile("run/f")
        .select(col("start"), col("v"), col("win"), col("rs")).collect())
    } finally spark.conf.unset("graft.raql.chunkedRunning")
    assert(got.length == 20000)
    assert(got.sameElements(want))
  }

  test("running count-distinct = novelty prefix sum: distributed and exact") {
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate => LAgg, Window => LWin}
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val src = Map("run" -> """DEFINE f AS
        SELECT n, SUM u32(DISTINCT x) AS cd FROM tbl;""")
    // exact per-row values on a known single-partition order; a NULL is
    // not a distinct value (collect_set/DuckDB semantics)
    val c = RaqlCompiler.fromSources(spark, funcDir, src)
      .fold(e => fail(s"parse: $e"), identity)
    c.registerTable("tbl", Seq((1L, "a"), (2L, "b"), (3L, "a"),
      (4L, null), (5L, "c"), (6L, "b")).toDF("n", "x").coalesce(1))
    val got = c.compile("run/f").orderBy("n").collect()
      .map(_.get(1).toString.toLong).toSeq
    assert(got == Seq(1L, 2L, 2L, 2L, 3L, 3L), s"got $got")

    // multi-partition input: no single-task full-input window, and the
    // chunked carry agrees with the plain prefix-sum plan bit-for-bit
    val c2 = RaqlCompiler.fromSources(spark, funcDir, src)
      .fold(e => fail(s"parse: $e"), identity)
    val base = spark.range(1, 100001)
      .select(col("id").as("n"), (col("id") % 9973).cast("string").as("x"))
      .repartition(8)
    c2.registerTable("tbl", base)
    val df = c2.compile("run/f")
    val wins = df.queryExecution.optimizedPlan.collect { case w: LWin => w }
    assert(wins.nonEmpty)
    wins.filter(_.partitionSpec.isEmpty).foreach { w =>
      assert(w.collectFirst { case a: LAgg => a }.nonEmpty,
        "partition-less window over the full input")
    }
    val chunkedRows = df.orderBy("n").collect().map(_.get(1).toString.toLong)
    spark.conf.set("graft.raql.chunkedRunning", "false")
    val plain = try {
      val c3 = RaqlCompiler.fromSources(spark, funcDir, src)
        .fold(e => fail(s"parse: $e"), identity)
      c3.registerTable("tbl", base)
      c3.compile("run/f").orderBy("n").collect().map(_.get(1).toString.toLong)
    } finally spark.conf.unset("graft.raql.chunkedRunning")
    assert(chunkedRows.max == 9973L)
    assert(chunkedRows.sameElements(plain))
  }

  test("ungrouped running SMOOTH distributes via affine chunk carry (opt-in)") {
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate => LAgg, Window => LWin}
    import org.apache.spark.sql.functions.{col, lit, when}
    val src = Map("run" -> """DEFINE f AS
        SELECT i, smooth(0.3, n) AS sm FROM tbl;""")
    // nulls exercise the identity-map path of the affine carry
    val base = spark.range(1, 100001).toDF("i")
      .withColumn("n", when(col("i") % 13 === 0, lit(null))
        .otherwise(col("i").cast("double")))
      .repartition(8)
    val c = RaqlCompiler.fromSources(spark, funcDir, src)
      .fold(e => fail(s"parse: $e"), identity)
    c.registerTable("tbl", base)
    val df = c.compile("run/f")
    // full-input windows are chunk-partitioned; a partition-less window
    // may only exist over the per-chunk totals frame (Aggregate subtree)
    val wins = df.queryExecution.optimizedPlan.collect { case w: LWin => w }
    assert(wins.nonEmpty)
    wins.filter(_.partitionSpec.isEmpty).foreach { w =>
      assert(w.collectFirst { case a: LAgg => a }.nonEmpty,
        "partition-less window over the full input")
    }
    val got = df.orderBy("i").collect()
    val want = sequentialScan(base,
      graft.functions.GraftFunctions.expSmoothScan(_, 0.3))
    assert(got.length == 100000)
    got.zip(want).foreach { case (g, w) =>
      assert(g.isNullAt(1) == w.isNullAt(1), s"null mismatch at ${g.get(0)}")
      if (!g.isNullAt(1)) {
        val gv = g.getDouble(1); val wv = w.getDouble(1)
        assert(math.abs(gv - wv) <= 1e-9 * math.max(1.0, math.abs(wv)),
          s"row ${g.get(0)}: $gv vs $wv")
      }
    }
  }

  test("ungrouped running DAMPED HOLT distributes via affine 3x3 carry (opt-in)") {
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate => LAgg, Window => LWin}
    import org.apache.spark.sql.functions.{col, lit, when}
    val src = Map("run" -> """DEFINE f AS
        SELECT i, smooth_damped_holt(0.4, 0.2, 0.9, n) AS hf FROM tbl;""")
    // nulls exercise the identity-map path of the affine carry
    val base = spark.range(1, 100001).toDF("i")
      .withColumn("n", when(col("i") % 13 === 0, lit(null))
        .otherwise((col("i") % 97).cast("double")))
      .repartition(8)
    val c = RaqlCompiler.fromSources(spark, funcDir, src)
      .fold(e => fail(s"parse: $e"), identity)
    c.registerTable("tbl", base)
    val df = c.compile("run/f")
    // full-input windows are chunk-partitioned; a partition-less window
    // may only exist over the per-chunk totals frame (Aggregate subtree)
    val wins = df.queryExecution.optimizedPlan.collect { case w: LWin => w }
    assert(wins.nonEmpty)
    wins.filter(_.partitionSpec.isEmpty).foreach { w =>
      assert(w.collectFirst { case a: LAgg => a }.nonEmpty,
        "partition-less window over the full input")
    }
    val got = df.orderBy("i").collect()
    val want = sequentialScan(base,
      graft.functions.GraftFunctions.dampedHoltScan(_, 0.4, 0.2, 0.9))
    assert(got.length == 100000)
    got.zip(want).foreach { case (g, w) =>
      assert(g.isNullAt(1) == w.isNullAt(1), s"null mismatch at ${g.get(0)}")
      if (!g.isNullAt(1)) {
        val gv = g.getDouble(1); val wv = w.getDouble(1)
        assert(math.abs(gv - wv) <= 1e-9 * math.max(1.0, math.abs(wv)),
          s"row ${g.get(0)}: $gv vs $wv")
      }
    }
  }

  test("ungrouped running HOLT WINTERS distributes via ring-rotated affine carry") {
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate => LAgg, Window => LWin}
    import org.apache.spark.sql.functions.{col, lit, when}
    // two periods: 4 divides the typical chunk size, 5 forces every chunk
    // to hand the NEXT one a rotated ring phase
    for (p <- Seq(4, 5)) {
      val src = Map("run" -> s"""DEFINE f AS
          SELECT i, smooth_damped_holt_winter(0.5, 0.3, 0.2, $p, 0.9, n) AS fw
          FROM tbl;""")
      // nulls exercise the identity-map path (and shift ring phases
      // relative to row numbers)
      val base = spark.range(1, 50001).toDF("i")
        .withColumn("n", when(col("i") % 13 === 0, lit(null))
          .otherwise((col("i") % 97).cast("double") +
            when(col("i") % p === 0, lit(20.0)).otherwise(lit(0.0))))
        .repartition(8)
      val c = RaqlCompiler.fromSources(spark, funcDir, src)
        .fold(e => fail(s"parse: $e"), identity)
      c.registerTable("tbl", base)
      val df = c.compile("run/f") // DEFAULT = chunked
      // full-input windows are chunk-partitioned; a partition-less window
      // may only exist over the per-chunk totals frame (Aggregate subtree)
      val wins = df.queryExecution.optimizedPlan.collect { case w: LWin => w }
      assert(wins.nonEmpty)
      wins.filter(_.partitionSpec.isEmpty).foreach { w =>
        assert(w.collectFirst { case a: LAgg => a }.nonEmpty,
          "partition-less window over the full input")
      }
      val got = df.orderBy("i").collect()
      val want = sequentialScan(base,
        graft.functions.GraftFunctions.holtWinterScan(_, 0.5, 0.3, 0.2, p, 0.9))
      assert(got.length == 50000)
      got.zip(want).foreach { case (g, w) =>
        assert(g.isNullAt(1) == w.isNullAt(1), s"p=$p null mismatch at ${g.get(0)}")
        if (!g.isNullAt(1)) {
          val gv = g.getDouble(1); val wv = w.getDouble(1)
          assert(math.abs(gv - wv) <= 1e-9 * math.max(1.0, math.abs(wv)),
            s"p=$p row ${g.get(0)}: $gv vs $wv")
        }
      }
    }
  }

  test("running GROUP / PAST sliding flag their single-task window shape") {
    import org.apache.spark.sql.functions.col
    val base = spark.range(1, 101).toDF("n")
      .withColumn("start", col("n").cast("double"))
    def compileWith(body: String): RaqlCompiler = {
      val c = RaqlCompiler.fromSources(spark, funcDir,
        Map("run" -> s"DEFINE f AS $body;"))
        .fold(e => fail(s"parse: $e"), identity)
      c.registerTable("tbl", base)
      c.compile("run/f")
      c
    }
    // ungrouped running GROUP chunk-distributes since r16
    // (chunkedGroupPrefix — concat-mergeable carry), so no flag; the
    // diagnostic survives only behind chunkedRunning=false (below)
    val c1 = compileWith("SELECT n, group n AS g FROM tbl")
    assert(c1.sequentialForms.isEmpty, c1.sequentialForms.toString)
    spark.conf.set("graft.raql.chunkedRunning", "false")
    try {
      val c1b = compileWith("SELECT n, group n AS g FROM tbl")
      assert(c1b.sequentialForms.contains("running GROUP"))
    } finally spark.conf.unset("graft.raql.chunkedRunning")
    // `past d of x` distributes in every orderable shape now: plain via
    // the whole-plan double-bucket rewrite, nested/mixed via the r15
    // bucket-join operator (the operand's lag materializes first) — no
    // flag either way; the sequential fallback survives only behind
    // chunkedRunning=false (where the flag still fires, below)
    val c2 = compileWith("SELECT n, past 10 of (n + lag n) AS w FROM tbl")
    assert(c2.sequentialForms.isEmpty, c2.sequentialForms.toString)
    val c2b = compileWith("SELECT n, past 10 of n AS w FROM tbl")
    assert(c2b.sequentialForms.isEmpty, c2b.sequentialForms.toString)
    spark.conf.set("graft.raql.chunkedRunning", "false")
    try {
      val c2c = compileWith("SELECT n, past 10 of n AS w, sum n AS rs FROM tbl")
      assert(c2c.sequentialForms.exists(_.startsWith("PAST")),
        c2c.sequentialForms.toString)
    } finally spark.conf.unset("graft.raql.chunkedRunning")
    // grouped forms partition their windows — no flag
    val c3 = compileWith("SELECT n % 3 AS k, group n AS g FROM tbl GROUP BY n % 3")
    assert(c3.sequentialForms.isEmpty, c3.sequentialForms.toString)
    // strict mode turns the diagnostic into a typed error (running GROUP
    // only reaches it with the chunked rewrite opted out)
    spark.conf.set("graft.raql.failOnSequential", "true")
    spark.conf.set("graft.raql.chunkedRunning", "false")
    try {
      val e = intercept[Exception](compileWith("SELECT n, group n AS g FROM tbl"))
      assert(e.getMessage.contains("ONE WindowExec task"), e.getMessage)
    } finally {
      spark.conf.unset("graft.raql.failOnSequential")
      spark.conf.unset("graft.raql.chunkedRunning")
    }
  }

  test("single-partition input compiles one window: values equal 8 partitions, no job, no flag") {
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.functions.{col, lit, when}
    // 8 contiguous ordered partitions (range slices, no shuffle) and the
    // same frame coalesced to one: identical arrival order, so every
    // running value must agree between the chunk-carry plan and the
    // one-window plan
    val multi = spark.range(0, 1200, 1, 8).toDF("i")
      .withColumn("start", col("i") * 0.5)
      .withColumn("v", when(col("i") % 11 === 0, lit(null))
        .otherwise((col("i") * 37 % 101).cast("double")))
    val single = multi.coalesce(1)
    assert(RaqlCompiler.singlePartition(single))
    assert(!RaqlCompiler.singlePartition(multi))
    assert(!RaqlCompiler.singlePartition(single.repartition(8)))
    // integer-valued v keeps the chunked prefix sums exact; only the
    // scan folds (program s) re-associate floats
    val src = Map("run" -> """
      DEFINE f AS SELECT i,
        sum v AS rsum, count v AS rcnt, min v AS rmin, max v AS rmax,
        avg v AS ravg, first v AS rfirst, last v AS rlast,
        lag v AS prev, lag (3, v) AS prev3, changed v AS chg,
        derive v AS drv, moveavg (5, v) AS ma5,
        latest 4 keep nulls v AS l4, latest 3 v AS l3, oldest 2 v AS o2,
        one out of 7 v AS s7, hysteresis(v, 50, 80) AS hy,
        SUM u32(DISTINCT v) AS nd
        FROM tbl;
      DEFINE s AS SELECT i, smooth(0.3, v) AS sm,
        smooth_damped_holt(0.5, 0.3, 0.9, v) AS fc,
        smooth_damped_holt_winter(0.5, 0.3, 0.2, 4, 0.9, v) AS fw
        FROM tbl;
      DEFINE g AS SELECT i, group v AS g, past 10 of v AS pw, sum v AS rs
        FROM tbl;
      DEFINE p AS SELECT i, past 10 of v AS pw FROM tbl;""")
    val fns = Seq("f", "s", "g", "p")
    def compileAll(base: DataFrame): Map[String, DataFrame] = {
      val c = RaqlCompiler.fromSources(spark, funcDir, src)
        .fold(e => fail(s"parse: $e"), identity)
      c.registerTable("tbl", base)
      fns.map(fn => fn -> c.compile(s"run/$fn")).toMap
    }
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    // strict mode: a single-partition window is one task by construction,
    // not a funnel — group and past must not be rejected
    spark.conf.set("graft.raql.failOnSequential", "true")
    val (one, eight) = try {
      spark.sparkContext.addSparkListener(listener)
      val one = try {
        val dfs = compileAll(single)
        org.apache.spark.sql.GraftShims.drainListenerBus(spark.sparkContext)
        dfs
      } finally spark.sparkContext.removeSparkListener(listener)
      (one, compileAll(multi))
    } finally spark.conf.unset("graft.raql.failOnSequential")
    assert(jobs.get == 0, s"${jobs.get} Spark jobs while compiling")
    // the one-window plan: no chunk column, nothing persisted
    def carries(df: DataFrame): Boolean =
      df.queryExecution.optimizedPlan.find(p =>
        p.output.exists(_.name == "_graft_chunk") ||
          p.isInstanceOf[org.apache.spark.sql.execution.columnar.InMemoryRelation])
        .nonEmpty
    fns.foreach(fn => assert(!carries(one(fn)), s"$fn still chunk-carries"))
    assert(carries(eight("f")), "the 8-partition input must keep the carries")
    def rows(df: DataFrame) = df.orderBy("i").collect()
    fns.foreach { fn =>
      val (a, b) = (rows(one(fn)), rows(eight(fn)))
      assert(a.length == 1200 && b.length == 1200, fn)
      a.zip(b).foreach { case (x, y) =>
        if (fn != "s") assert(x == y, s"$fn: $x vs $y")
        else (1 until x.length).foreach { k =>
          assert(x.isNullAt(k) == y.isNullAt(k), s"$fn null mismatch: $x vs $y")
          if (!x.isNullAt(k)) {
            val (xv, yv) = (x.getDouble(k), y.getDouble(k))
            assert(math.abs(xv - yv) <= 1e-9 * math.max(1.0, math.abs(yv)),
              s"$fn row ${x.get(0)} col $k: $xv vs $yv")
          }
        }
      }
    }
  }

  test("ONE OUT OF distributes via the chunked row count") {
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate => LAgg, Window => LWin}
    import org.apache.spark.sql.functions.col
    val src = Map("run" -> """DEFINE f AS
        SELECT n, one out of 7 n AS smp FROM tbl;""")
    val base = spark.range(1, 100001).toDF("n").repartition(8)
    val c = RaqlCompiler.fromSources(spark, funcDir, src)
      .fold(e => fail(s"parse: $e"), identity)
    c.registerTable("tbl", base)
    val df = c.compile("run/f")
    val wins = df.queryExecution.optimizedPlan.collect { case w: LWin => w }
    assert(wins.nonEmpty)
    wins.filter(_.partitionSpec.isEmpty).foreach { w =>
      assert(w.collectFirst { case a: LAgg => a }.nonEmpty,
        "partition-less window over the full input")
    }
    val got = df.orderBy("n").collect()
    spark.conf.set("graft.raql.chunkedRunning", "false")
    val want = try {
      val c2 = RaqlCompiler.fromSources(spark, funcDir, src)
        .fold(e => fail(s"parse: $e"), identity)
      c2.registerTable("tbl", base)
      c2.compile("run/f").orderBy("n").collect()
    } finally spark.conf.unset("graft.raql.chunkedRunning")
    assert(got.length == 100000)
    assert(got.count(!_.isNullAt(1)) * 7 >= 100000)
    assert(got.sameElements(want))
  }

  test("ONCE EVERY joins the ghost-distributed bounded-lookback gate") {
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWin}
    import org.apache.spark.sql.functions.col
    val src = Map("run" -> """DEFINE f AS
        SELECT start, once every 10 start AS tick FROM tbl;""")
    val base = spark.range(1, 50001)
      .select((col("id").cast("double") / 3.0).as("start"))
      .repartition(8)
    val c = RaqlCompiler.fromSources(spark, funcDir, src)
      .fold(e => fail(s"parse: $e"), identity)
    c.registerTable("tbl", base)
    val df = c.compile("run/f")
    val wins = df.queryExecution.optimizedPlan.collect { case w: LWin => w }
    assert(wins.nonEmpty && wins.forall(_.partitionSpec.nonEmpty),
      "ghosted plan still has a partition-less window")
    val got = df.orderBy("start").collect()
    spark.conf.set("graft.raql.chunkedRunning", "false")
    val want = try {
      val c2 = RaqlCompiler.fromSources(spark, funcDir, src)
        .fold(e => fail(s"parse: $e"), identity)
      c2.registerTable("tbl", base)
      c2.compile("run/f").orderBy("start").collect()
    } finally spark.conf.unset("graft.raql.chunkedRunning")
    assert(got.length == 50000)
    assert(got.sameElements(want))
  }

  test("HYSTERESIS distributes via 2-state automaton composition") {
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate => LAgg, Window => LWin}
    import org.apache.spark.sql.functions.col
    val src = Map("run" -> """DEFINE f AS
        SELECT n, hysteresis(v, 200, 800) AS ok FROM tbl;""")
    // a signal that wanders across both thresholds many times per chunk
    val base = spark.range(1, 100001)
      .select(col("id").as("n"), (col("id") * 37 % 1000).as("v"))
      .repartition(8)
    val c = RaqlCompiler.fromSources(spark, funcDir, src)
      .fold(e => fail(s"parse: $e"), identity)
    c.registerTable("tbl", base)
    val df = c.compile("run/f")
    val wins = df.queryExecution.optimizedPlan.collect { case w: LWin => w }
    assert(wins.nonEmpty)
    wins.filter(_.partitionSpec.isEmpty).foreach { w =>
      assert(w.collectFirst { case a: LAgg => a }.nonEmpty,
        "partition-less window over the full input")
    }
    val got = df.orderBy("n").collect()
    spark.conf.set("graft.raql.chunkedRunning", "false")
    val want = try {
      val c2 = RaqlCompiler.fromSources(spark, funcDir, src)
        .fold(e => fail(s"parse: $e"), identity)
      c2.registerTable("tbl", base)
      c2.compile("run/f").orderBy("n").collect()
    } finally spark.conf.unset("graft.raql.chunkedRunning")
    assert(got.length == 100000)
    // both regimes actually occur
    assert(got.exists(_.getBoolean(1)) && got.exists(!_.getBoolean(1)))
    assert(got.sameElements(want))
  }

  test("running SAMPLE is an O(k) ring, distributed in chunked mode") {
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate => LAgg, Window => LWin}
    import org.apache.spark.sql.functions.col
    val src = Map("run" -> """DEFINE f AS
        SELECT n, sample 10 v AS smp FROM tbl;""")
    val base = spark.range(1, 50001)
      .select(col("id").as("n"), (col("id") * 7919 % 104729).as("v"))
      .repartition(8)
    val c = RaqlCompiler.fromSources(spark, funcDir, src)
      .fold(e => fail(s"parse: $e"), identity)
    c.registerTable("tbl", base)
    val df = c.compile("run/f")
    val wins = df.queryExecution.optimizedPlan.collect { case w: LWin => w }
    assert(wins.nonEmpty)
    wins.filter(_.partitionSpec.isEmpty).foreach { w =>
      assert(w.collectFirst { case a: LAgg => a }.nonEmpty,
        "partition-less window over the full input")
    }
    val got = df.orderBy("n").collect()
    spark.conf.set("graft.raql.chunkedRunning", "false")
    val want = try {
      val c2 = RaqlCompiler.fromSources(spark, funcDir, src)
        .fold(e => fail(s"parse: $e"), identity)
      c2.registerTable("tbl", base)
      c2.compile("run/f").orderBy("n").collect()
    } finally spark.conf.unset("graft.raql.chunkedRunning")
    assert(got.length == 50000)
    // the sample is full capacity once n >= k
    assert(got.last.getSeq[Long](1).length == 10)
    assert(got.sameElements(want))
  }

  test("SMOOTH_DAMPED_HOLT / _WINTER running scans match the reference fold") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val src = Map("run" -> """DEFINE f AS
        SELECT n, smooth_damped_holt(0.5, 0.3, 0.9, v) AS fc,
               smooth_damped_holt_winter(0.5, 0.3, 0.2, 4, 0.9, v) AS fw
        FROM tbl;""")
    val vals = Seq(10.0, 12.0, 9.0, 14.0, 11.0, 13.0, 8.0, 15.0, 10.5, 12.5)
    val c = RaqlCompiler.fromSources(spark, funcDir, src)
      .fold(e => fail(s"parse: $e"), identity)
    c.registerTable("tbl",
      vals.zipWithIndex.map { case (v, i) => (i.toLong, v) }
        .toDF("n", "v").coalesce(1))
    val got = c.compile("run/f").orderBy("n").collect()
    // replicate CodeGenLib.ml smooth_damped_holt(_winter) exactly
    var l = 0.0; var t = 0.0
    val expHolt = vals.map { x =>
      val lv = 0.5 * x + 0.5 * (l + 0.9 * t)
      t = 0.3 * (lv - l) + 0.7 * 0.9 * t
      l = lv
      l + 0.9 * t
    }
    var wl = 0.0; var wt = 0.0; var cy = 0
    val seasons = Array.fill(4)(0.0)
    val expWinter = vals.map { x =>
      val newCy = (cy + 1) % 4
      val ps = seasons(cy)
      val lv = 0.5 * (x - ps) + 0.5 * (wl + 0.9 * wt)
      val tr = 0.3 * (lv - wl) + 0.7 * 0.9 * wt
      val se = 0.2 * (x - wl - 0.9 * wt) + 0.8 * ps
      seasons(cy) = se
      wl = lv; wt = tr; cy = newCy
      wl + 0.9 * wt + seasons(cy)
    }
    assert(got.length == vals.length)
    got.zipWithIndex.foreach { case (r, i) =>
      assert(math.abs(r.getDouble(1) - expHolt(i)) < 1e-12,
        s"holt row $i: ${r.getDouble(1)} vs ${expHolt(i)}")
      assert(math.abs(r.getDouble(2) - expWinter(i)) < 1e-12,
        s"winter row $i: ${r.getDouble(2)} vs ${expWinter(i)}")
    }
  }

  test("alias spellings: sq/square, greatest/least, country_code, ip_family") {
    import spark.implicits._
    val src = Map("run" -> """DEFINE f AS
        SELECT n, sq n AS s1, square n AS s2,
               greatest(n, 5, 3) AS g, least(n, 5, 3) AS l,
               ip_family(10.0.0.1) AS fam
        FROM tbl;""")
    val c = RaqlCompiler.fromSources(spark, funcDir, src)
      .fold(e => fail(s"parse: $e"), identity)
    c.registerTable("tbl", Seq(4L, 7L).toDF("n").coalesce(1))
    val rows = c.compile("run/f").orderBy("n").collect()
    assert(rows.length == 2)
    val r4 = rows(0)
    assert(r4.getLong(1) == 16L && r4.getLong(2) == 16L)
    assert(r4.getLong(3) == 5L && r4.getLong(4) == 3L)
    assert(r4.get(5).toString == "4")
    val r7 = rows(1)
    assert(r7.getLong(3) == 7L && r7.getLong(4) == 3L)
    // country_code routes to the canonical COUNTRYCODE implementation
    // (which demands registered geo ranges — the typed error proves it)
    val src2 = Map("run" -> """DEFINE f AS
        SELECT country_code(10.0.0.1) AS cc FROM tbl;""")
    val c2 = RaqlCompiler.fromSources(spark, funcDir, src2)
      .fold(e => fail(s"parse: $e"), identity)
    c2.registerTable("tbl", Seq(1L).toDF("n").coalesce(1))
    val err = intercept[UnsupportedOperationException](c2.compile("run/f"))
    assert(err.getMessage.contains("COUNTRYCODE"))
  }

  test("sort/f golden: SORT LAST bounded reorder buffer emission order") {
    val c = load("fixtures/earthquakes", "sort")
    val years = c.compile("sort/f").collect().map(_.get(0).toString.toInt)
    // reference sort.test: buffer of 96 over the 100-row fixture, keyed
    // by (-n, year) — heaviest years drain first
    assert(years.take(5).toSeq == Seq(2010, 1968, 1938, 1957, 1971))
    assert(years.length == 100)
    assert(years.toSet.size == 100) // a reorder, not a filter
  }

  test("RECALL GLOBALLY remembers from registration, without refresh") {
    // RECALL = REMEMBER with refresh=false (RamenExpr.ml:1469-1472): a
    // sighting inside the window does NOT extend it
    import spark.implicits._
    val c = new RaqlCompiler(spark, "/tmp")
    c.registerTable("tables/x", Seq(
      ("A", 0.0), ("A", 1.0), ("A", 1.5), ("A", 3.0))
      .toDF("k", "start"))
    RaqlParser.parseProgram("""DEFINE q AS
        FROM tables/x
        SELECT k, start, RECALL GLOBALLY (0.1, 2, k, start) AS r;""") match {
      case Right(p) => c.register("m", p)
      case Left(e) => fail(s"parse: $e")
    }
    val got = c.compile("m/q").collect()
      .map(r => (r.getAs[Double]("start"), r.getAs[Boolean]("r"))).toSet
    // registered at 0; 1 and 1.5 are within dur=2 of REGISTRATION (and do
    // not refresh it); 3.0 is past 0+2 → novel again (REMEMBER, which
    // refreshes, would still return true there: 3.0 - 1.5 < 2)
    assert(got == Set((0.0, false), (1.0, true), (1.5, true), (3.0, false)))
  }

  test("REMEMBER GLOBALLY (fpr, dur, key) honors dur against event time") {
    // the modifier 3-arg spelling must match the modifier-less one
    // (afun3_sf, RamenExpr.ml:1466-1468): an entry last seen beyond dur
    // is NOT remembered
    import spark.implicits._
    val c = new RaqlCompiler(spark, "/tmp")
    c.registerTable("tables/x", Seq(
      ("A", 0.0), ("A", 1.0), ("A", 10.0), ("B", 10.5))
      .toDF("k", "start"))
    RaqlParser.parseProgram("""DEFINE q AS
        FROM tables/x
        SELECT k, start, REMEMBER GLOBALLY (0.1, 2, k) AS r;""") match {
      case Right(p) => c.register("m", p)
      case Left(e) => fail(s"parse: $e")
    }
    val got = c.compile("m/q").collect()
      .map(r => (r.getAs[String]("k"), r.getAs[Double]("start"),
        r.getAs[Boolean]("r"))).toSet
    assert(got == Set(
      ("A", 0.0, false), ("A", 1.0, true), // within 2 s of last sighting
      ("A", 10.0, false),                  // 9 s later: expired
      ("B", 10.5, false)))
  }

  test("cross-group COMMIT BEFORE tumbling groups by (key, time window)") {
    // hosts.ramen idiom: GROUP BY host, COMMIT BEFORE in.start >= out.stop
    // with stop = out.start + d and start = TRUNCATE(MIN start, d) — the
    // emitted rows are per (host, d-window), not one per host
    import spark.implicits._
    val c = new RaqlCompiler(spark, "/tmp")
    c.registerTable("tables/x", Seq(
      ("a", 10.0, 1.0), ("a", 20.0, 2.0), ("a", 40.0, 3.0),
      ("b", 5.0, 10.0), ("b", 65.0, 20.0)).toDF("host", "start", "value"))
    RaqlParser.parseProgram("""DEFINE q AS
        FROM tables/x
        SELECT TRUNCATE(MIN start, 30) AS start, out.start + 30 AS stop,
               host, SUM value AS total
        GROUP BY host
        COMMIT BEFORE in.start >= out.stop;""") match {
      case Right(p) => c.register("m", p)
      case Left(e) => fail(s"parse: $e")
    }
    val got = c.compile("m/q").collect()
      .map(r => (r.getAs[String]("host"), r.getAs[Double]("start"),
        r.getAs[Double]("stop"), r.getAs[Double]("total"))).toSet
    assert(got == Set(
      ("a", 0.0, 30.0, 3.0), ("a", 30.0, 60.0, 3.0),
      ("b", 0.0, 30.0, 10.0), ("b", 60.0, 90.0, 20.0)))
  }

  test("GROUP BY running mode partitions every window by the group key") {
    import org.apache.spark.sql.functions.{count, min, max}
    val src = Map(
      fixture("cars"),
      "grouped" -> """DEFINE g AS
          FROM fixtures/cars/csv
          SELECT manufacturer, lag horsepower AS prev_hp,
                 min horsepower AS run_min, count horsepower AS n_seen
          GROUP BY manufacturer;""")
    val c = RaqlCompiler.fromSources(spark, fixtureDir, src)
      .fold(e => fail(s"parse: $e"), identity)
    val df = c.compile("grouped/g")
    // no single-partition global window: every Window carries the group key
    val wins = df.queryExecution.optimizedPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
    }
    assert(wins.nonEmpty && wins.forall(_.partitionSpec.nonEmpty))
    // one output row per input row; per-group final running state equals
    // the batch aggregate of the source
    val got = df.groupBy("manufacturer")
      .agg(min("run_min").as("m"), max("n_seen").as("n"))
      .collect().map(r => (r.getString(0), r.get(1).toString.toInt, r.getLong(2)))
      .toSet
    val want = c.compile("fixtures/cars/csv").groupBy("manufacturer")
      .agg(min("horsepower").as("m"), count("horsepower").as("n"))
      .collect().map(r => (r.getString(0), r.get(1).toString.toInt, r.getLong(2)))
      .toSet
    // a missing CSV compiles to an empty frame: the fixture must have rows
    val makers = Files.readAllLines(Paths.get(fixtureDir, "fixtures", "cars.csv"))
      .asScala.map(_.split(",")(1)).toSet
    assert(want.nonEmpty && want.map(_._1) == makers, s"batch side: $want")
    assert(got == want)
  }

  test("SORT LAST OR UNTIL releases the buffer min early") {
    val src = Map("s" -> """DEFINE f AS
        FROM tbl
        SELECT y
        SORT LAST 100 OR UNTIL in.y >= sort.smallest.y + 5 BY y;""")
    val c = RaqlCompiler.fromSources(spark, funcDir, src)
      .fold(e => fail(s"parse: $e"), identity)
    import spark.implicits._
    c.registerTable("tbl", Seq(3, 1, 2, 10, 0).toDF("y").coalesce(1))
    val got = c.compile("s/f").collect().map(_.getInt(0)).toSeq
    // 10 >= 1+5 fires mid-stream and releases min=1 BEFORE 0 arrives;
    // the end-of-stream drain then orders the remainder
    assert(got == Seq(1, 0, 2, 3, 10), s"got $got")
  }

  test("SORT LAST OR UNTIL can reference sort.greatest") {
    val src = Map("s" -> """DEFINE f AS
        FROM tbl
        SELECT y
        SORT LAST 100 OR UNTIL sort.greatest.y - in.y >= 5 BY y;""")
    val c = RaqlCompiler.fromSources(spark, funcDir, src)
      .fold(e => fail(s"parse: $e"), identity)
    import spark.implicits._
    c.registerTable("tbl", Seq(3, 1, 10, 2, 0).toDF("y").coalesce(1))
    val got = c.compile("s/f").collect().map(_.getInt(0)).toSeq
    // 2 arrives with 10 buffered (10-2 >= 5): releases min=1 early; 0
    // then fires again (10-0 >= 5) and leaves next; drain orders the rest
    assert(got == Seq(1, 0, 2, 3, 10), s"got $got")
  }

  test("TOP membership/rank/list compile without eager driver jobs") {
    val src = Map("t" -> """DEFINE f AS
        FROM fixtures/cars/csv
        SELECT manufacturer,
               IS manufacturer IN TOP 3 AS hot,
               RANK OF manufacturer IN TOP 3 AS rnk,
               LIST TOP 3 manufacturer AS tops;""")
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    val c = RaqlCompiler.fromSources(spark, fixtureDir, src + fixture("cars"))
      .fold(e => fail(s"parse: $e"), identity)
    spark.sparkContext.addSparkListener(listener)
    val df = try {
      val df0 = c.compile("t/f") // plan construction only
      Thread.sleep(500)
      assert(jobs.get == 0, s"${jobs.get} eager driver jobs during compile")
      df0
    } finally spark.sparkContext.removeSparkListener(listener)
    // and the values are the batch steady state: top-3 manufacturers
    val rows = df.collect()
    val byCount = rows.groupBy(_.getString(0)).view.mapValues(_.length).toMap
    val expect = byCount.toSeq.sortBy { case (k, n) => (-n, k) }.take(3)
    val tops = rows.head.getSeq[String](rows.head.fieldIndex("tops"))
    assert(tops == expect.map(_._1))
    rows.foreach { r =>
      val m = r.getString(0)
      val want = expect.indexWhere(_._1 == m)
      assert(r.getBoolean(1) == (want >= 0))
      if (want >= 0) assert(r.getInt(2) == want + 1)
      else assert(r.isNullAt(2))
    }
  }

  test("local_state_in_where_slow golden: REMEMBER + TOP in WHERE") {
    val c = load("fixtures/cars", "local_state_in_where_slow")
    val rows = c.compile("local_state_in_where_slow/f1").collect()
    // reference test: BMW rows pass the remember-within-1-year + TOP filter
    val makers = rows.map(_.getAs[String]("manufacturer")).toSet
    assert(makers.contains("BMW"), s"got $makers")
    assert(rows.length < 4539) // genuinely filtering
  }

  test("season_fit_multi regresses over the same phase only") {
    // alternating series 10,20,10,20,… with a constant predictor:
    // through-origin fit over the same phase in the 3 previous periods of
    // length 2 predicts that phase's value exactly
    val src = Map("sfm" -> """DEFINE f AS
        SELECT y, season_fit_multi(2, 3, y, one) AS pred
        FROM tbl;""")
    val c = RaqlCompiler.fromSources(spark, funcDir, src)
      .fold(e => fail(s"parse: $e"), identity)
    import spark.implicits._
    val data = (0 until 12).map(i => (if (i % 2 == 0) 10.0 else 20.0, 1.0))
    c.registerTable("tbl", data.toDF("y", "one").coalesce(1))
    val rows = c.compile("sfm/f").collect()
    // past the warmup (3 periods of 2), pred equals the current phase value
    rows.drop(6).foreach { r =>
      assert(math.abs(r.getDouble(1) - r.getDouble(0)) < 1e-9,
        s"pred ${r.getDouble(1)} for y ${r.getDouble(0)}")
    }
  }

  test("strings/f1 golden: containment, slices, repetition") {
    val c = load("strings")
    val row = c.compile("strings/f1").collect().head
    val byName = row.schema.fieldNames.zipWithIndex.toMap
    def b(n: String) = row.getBoolean(byName(n))
    def s(n: String) = row.getString(byName(n))
    assert(b("t1") && b("t2") && b("t3"))
    assert(s("t4") == "multi\nline")
    assert(row.getInt(byName("t5")) == 10)
    assert(Seq("t6", "t7", "t8", "t9", "t10").forall(s(_) == "glop"))
    assert(b("t11") && b("t12") && b("t13"))
  }

  test("env.X resolves environment variables as nullable strings (parameters.feature)") {
    import spark.implicits._
    val c = new RaqlCompiler(spark, "/tmp")
    c.environment = Map("LAST_NAME" -> "Smith")
    c.registerTable("tables/one", Seq(1).toDF("x"))
    RaqlParser.parseProgram("""
      PARAMETER first_name DEFAULTS TO "Adelaide";
      DEFINE f AS
        FROM tables/one
        SELECT param.first_name || " " || env.LAST_NAME AS greeting,
               env.NO_SUCH_VARIABLE AS missing;
    """) match {
      case Right(p) => c.register("test", p)
      case Left(e) => fail(s"parse: $e")
    }
    val row = c.compile("test/f").collect().head
    assert(row.getString(0) == "Adelaide Smith")
    assert(row.isNullAt(1)) // unset env var is NULL, not an error
  }

  test("parses a healthy fraction of the full reference test corpus") {
    assumeReference()
    val all = Files.list(Paths.get(funcDir)).iterator().asScala
      .filter(_.toString.endsWith(".ramen")).toList.sortBy(_.toString)
    val results = all.map { p =>
      val ok = RaqlParser.parseProgram(Files.readString(p)).isRight
      p.getFileName.toString -> ok
    }
    val good = results.count(_._2)
    info(s"parsed $good/${results.size}: " +
      results.filterNot(_._2).map(_._1).mkString("failing: ", ", ", ""))
    assert(good >= results.size / 2,
      s"only $good of ${results.size} reference programs parsed")
  }

  test("batch-compiles a healthy fraction of the full reference corpus") {
    // beyond parsing: every function of every program should also COMPILE
    // to a DataFrame plan (socket/broker sources and YIELD-loop programs
    // excluded — they need live endpoints or streaming sinks)
    assumeReference()
    val all = Files.list(Paths.get(funcDir)).iterator().asScala
      .filter(_.toString.endsWith(".ramen")).toList.sortBy(_.toString)
    val sources = all.flatMap { p =>
      val name = p.getFileName.toString.stripSuffix(".ramen")
      Some(name -> Files.readString(p))
        .filter(_ => RaqlParser.parseProgram(Files.readString(p)).isRight)
    }.toMap
    // fixtures must register under their directory name
    val fixtures = Files.list(Paths.get(s"$funcDir/fixtures")).iterator().asScala
      .filter(_.toString.endsWith(".ramen")).map { p =>
        s"fixtures/${p.getFileName.toString.stripSuffix(".ramen")}" ->
          Files.readString(p)
      }.filter { case (_, src) => RaqlParser.parseProgram(src).isRight }.toMap
    val c = RaqlCompiler.fromSources(spark, funcDir, sources ++ fixtures)
      .fold(e => fail(s"parse: $e"), identity)
    val skip = Set("net_csv", "sniffer", "kafka") // LISTEN/Kafka sources
    var ok = 0; var tried = 0
    val failures = scala.collection.mutable.ListBuffer.empty[String]
    (sources ++ fixtures).keys.toSeq.sorted.foreach { prog =>
      if (!skip.exists(prog.contains)) {
        val src = (sources ++ fixtures)(prog)
        RaqlParser.parseProgram(src).foreach { p =>
          p.funcs.foreach { f =>
            val usesLive = f.op match {
              case _: ListenFor | _: ReadKafka => true
              case _ => false
            }
            if (!usesLive) {
              tried += 1
              try { c.compile(s"$prog/${f.name}"); ok += 1 }
              catch { case e: Exception =>
                failures += s"$prog/${f.name}: ${e.toString.take(200)}" }
            }
          }
        }
      }
    }
    info(s"compiled $ok/$tried functions")
    failures.take(40).foreach(f => info(s"  FAIL $f"))
    // round-4 floor: the WHOLE corpus compiles (131/131); any regression
    // from here is a bug
    assert(ok == tried, s"only $ok of $tried functions compiled:\n" +
      failures.mkString("\n"))
  }
}
