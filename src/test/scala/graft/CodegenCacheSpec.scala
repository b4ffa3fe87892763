package graft

import org.apache.spark.metrics.source.CodegenMetrics

/** Every generated class is compiled once per JVM. graft re-plans its queries
  * on every execution, so a warm re-run hits Spark's codegen cache only if
  * the cache holds the working set (sized in [[graft.core.Sessions]]) and
  * every class compiles (a failed compile is never cached and runs again on
  * each execution).
  */
class CodegenCacheSpec extends SparkSpec {

  private def run(name: String): Unit =
    graft.queries.Catalog.queries(name)(spark, sfDir).collect()

  private def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  test("a warm re-run of a lab and llmops mix compiles no class") {
    // Together these need more than the 100 entries of Spark's default cache.
    // q33 is left out on purpose: its route probe and query side have
    // codegen'd LIMITs, and every LimitExec gets a fresh JVM-global counter
    // name in its generated source, so those stages recompile on each run.
    val mix = Seq("q32_lab1_pricematch", "q35_lab4_fraud", "q161_lab3_fleet_ann",
      "q54_curation_pipeline")
    mix.foreach(run)
    val before = compiles
    mix.foreach(run)
    assert(compiles - before == 0, "the warm re-run recompiled generated classes")
  }

  test("the Dedup and Text UDF result structs compile without the interpreted fallback") {
    val strict = Map("spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY",
      "spark.sql.codegen.fallback" -> "false")
    val saved = strict.keys.map(k => k -> spark.conf.getOption(k))
    try {
      strict.foreach { case (k, v) => spark.conf.set(k, v) }
      Seq("q18_dedup_exact", "q54_curation_pipeline").foreach(run)
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }
}
