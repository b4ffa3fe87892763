package graft

/** Measurement tooling (optimization rounds, guide §1.1/§7.2): writes the
  * `.explain("formatted")` physical plan of each named catalog query to
  * `<outDir>/<name>.txt`, so plan-shape claims in OPTIMIZATION_r*.md are
  * checkable against committed files without running Spark.
  *
  * Run: sbt "runMain graft.PlanDump <sfDir> <outDir> [--no-broadcast] [queryName ...]"
  * With no names, dumps the three bench groups (headline + group2 + group3).
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: PlanDump <sfDir> <outDir> [--no-broadcast] [queryName ...]")
    val sfDir = args(0)
    val outDir = java.nio.file.Paths.get(args(1))
    java.nio.file.Files.createDirectories(outDir)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = Bench.session(cpus)
    // --no-broadcast: dump the shuffled-fallback route (autoBroadcastJoinThreshold
    // = -1) as <name>_nobroadcast.txt — evidence that scale-route plans keep an
    // equi-join shape when the small side stops fitting (r17, VERDICT #6)
    val noBroadcast = args.contains("--no-broadcast")
    if (noBroadcast) spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val suffix = if (noBroadcast) "_nobroadcast" else ""
    val named = args.drop(2).toSeq.filterNot(_ == "--no-broadcast")
    val names =
      if (named.nonEmpty) named
      else graft.queries.Catalog.headlineNames ++
        graft.queries.Catalog.benchGroup2Names ++ graft.queries.Catalog.benchGroup3Names
    names.foreach { name =>
      val q = SparkEntry.queries.getOrElse(name, sys.error(s"unknown query $name"))
      // queryExecution.explainString == what .explain("formatted") prints
      val txt = q(spark, sfDir).queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      java.nio.file.Files.write(outDir.resolve(s"$name$suffix.txt"),
        txt.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      println(s"[plandump] wrote $name (${txt.length} chars)")
    }
    spark.stop()
  }
}
