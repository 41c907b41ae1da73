package graft

/** Writes `.explain("formatted")` artifacts for the optimization-round
  * deliverables (`plans/r<n>/<query>_{before,after}.txt`) so plan claims
  * in OPTIMIZATION_r*.md are checkable without running Spark.
  *
  * `runMain graft.PlanDump <outDir> <suffix> name1,name2,…|all`
  *
  * Names resolve against the query registry (`all` = every registered
  * query, in registry order — diff two builds' dumps to check that a
  * change leaves every plan alone); the special names
  * `p04_composed`/`p04_staged`/`p05_composed`/`p05_staged` dump the
  * pipeline plans at their two materialization strategies (identity cut
  * vs localCheckpoint cut — the staged dump shows the stage boundaries
  * as materialized leaf scans, which IS the optimization).
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val Array(outDir, suffix, names) = args.take(3)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.get()
    new java.io.File(outDir).mkdirs()
    def write(name: String, df: org.apache.spark.sql.DataFrame): Unit = {
      // capture the formatted explain string (Dataset.explain prints)
      val s = df.queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(s"$outDir/${name}_$suffix.txt"), s)
      println(s"[plandump] wrote $outDir/${name}_$suffix.txt")
    }
    val list =
      if (names == "all") Queries.all.map(_.name) else names.split(",").toSeq
    list.foreach {
      case n @ "p04_composed" =>
        write(n, PipelineQueries.incrementalBatchPlan(spark, sfDir))
      case n @ "p04_staged" =>
        val sc = graft.ops.CacheScope()
        try write(n, PipelineQueries.incrementalBatchPlan(spark, sfDir, sc,
          cut = sc.checkpoint))
        finally sc.release()
      case n @ "p05_composed" =>
        write(n, PipelineQueries.fullIngestPlan(spark, sfDir))
      case n @ "p05_staged" =>
        val sc = graft.ops.CacheScope()
        try write(n, PipelineQueries.fullIngestPlan(spark, sfDir, sc,
          cut = sc.checkpoint))
        finally sc.release()
      case n =>
        write(n, Queries.byName(n).run(spark, sfDir))
    }
    spark.stop()
  }
}
