package graft.perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.queries.Catalog

/** The closed-loop batch workload: one client thread runs a fixed query mix
  * pass after pass, consuming every result in full and comparing its
  * fingerprint with the one recorded, and dumped for the oracle gates, in
  * the verification pass before timing starts.
  */
object BatchWorkload {
  /** The batch mix: the four reference lab DAGs (lab3 in its production form,
    * the ANN twin q161; the exact-search twin q34 shares every other stage,
    * and q33 keeps the exact search route), then a cross-section of the
    * historical operator bench rows -- a scan/aggregate, an interval join,
    * exact dedup, the curation pipeline and two MATCH_RECOGNIZE shapes
    * (Catalyst-only and interpreted cross-variable conditions). Ten queries
    * over two passes give the 20 samples a median needs under the
    * percentile rule. */
  val mix: Seq[String] = Seq("q32_lab1_pricematch", "q33_lab2_rag", "q35_lab4_fraud",
    "q161_lab3_fleet_ann", "q01_pricing_summary", "q04_interval_join", "q18_dedup_exact",
    "q54_curation_pipeline", "q162_match_skip_past", "q169_match_xvar_cap")

  private val tables = Seq("region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings")

  def run(spark: SparkSession, cfg: Main.Config, sessionS: Double, tracer: Tracer,
          o: Main.Outcome): Unit = {
    val builders = mix.map(n => n -> Catalog.queries(n)).toMap

    // set-up: input registration, then the verification pass, which is the
    // first (cold) execution of every query: it dumps each result for the
    // oracle gates and records the fingerprint of exactly what was dumped
    val dumpDir = s"${cfg.out}/dump"
    val expected = mutable.LinkedHashMap[String, Fingerprint.Fp]()
    val (_, setupS) = Main.timed {
      tables.foreach(t => graft.core.Tables(spark, cfg.data, t).schema)
      mix.foreach { n =>
        try {
          builders(n)(spark, cfg.data).write.mode("overwrite").parquet(s"$dumpDir/$n")
          expected(n) = Fingerprint.of(spark.read.parquet(s"$dumpDir/$n"))
        } catch { case e: Exception => o.fail(s"$n verify: ${e.getClass.getSimpleName}: ${e.getMessage}") }
        Main.clearSession(spark)
      }
    }
    cfg.corrupt.filter(expected.contains).foreach { n =>
      expected(n) = expected(n).copy(rows = expected(n).rows + 1)
    }
    val oracle = graft.SparkEntry.oracleSql.filter { case (k, _) => expected.contains(k) }
    java.nio.file.Files.write(java.nio.file.Paths.get(dumpDir, "oracle_sql.json"),
      Json.render(oracle).getBytes("UTF-8"))

    // timed passes
    val queryS = mutable.ArrayBuffer[Double]()
    val perQuery = mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]]()
    val passS = mutable.ArrayBuffer[Double]()
    val cpuS = mutable.ArrayBuffer[Double]()
    val tracedPassS = mutable.ArrayBuffer[Double]()
    Machine.resetHeapPeak()
    val start = System.nanoTime()
    var pass = 0
    // at least two passes, so the pooled query times have 10 samples beyond
    // their median; the traced run alternates untraced and traced passes and
    // ends on an untraced one, so the traced pass is compared with passes
    // on both sides of it, not only with the slower first one
    val minPasses = if (cfg.trace) 3 else 2
    while (pass < minPasses || (System.nanoTime() - start) / 1e9 < cfg.seconds) {
      val traced = cfg.trace && pass % 2 == 1
      tracer.active = traced
      val cpu0 = Machine.processCpuS()
      val p0 = System.nanoTime()
      mix.foreach { n =>
        o.attempted += 1
        val q0 = System.nanoTime()
        val ok =
          try {
            val got = tracer.query(n) {
              val df = tracer.span("build", "queries") { builders(n)(spark, cfg.data) }
              tracer.span("action", "core") { tracer.fingerprint(n, df) }
            }
            expected.get(n).contains(got) || { o.fail(s"$n pass $pass: fingerprint $got != ${expected.get(n)}"); false }
          } catch { case e: Exception => o.fail(s"$n pass $pass: ${e.getClass.getSimpleName}: ${e.getMessage}"); false }
        // a failed query is never timed as a fast one
        if (ok) {
          val qs = (System.nanoTime() - q0) / 1e9
          queryS += qs
          perQuery.getOrElseUpdate(n, mutable.ArrayBuffer()) += qs
        }
      }
      val ps = (System.nanoTime() - p0) / 1e9
      if (traced) tracedPassS += ps else { passS += ps; cpuS += Machine.processCpuS() - cpu0 }
      Main.clearSession(spark)
      pass += 1
    }
    val measureS = (System.nanoTime() - start) / 1e9
    // traced run: each lab once more, re-composed stage by stage; its output
    // must equal the fused query's
    tracer.active = cfg.trace
    if (cfg.trace) mix.filter(Stages.twins.contains).foreach { n =>
      o.attempted += 1
      try {
        val got = tracer.query(s"$n.stagewise", counted = false) {
          Fingerprint.of(Stages.twins(n)(spark, cfg.data, tracer))
        }
        if (!expected.get(n).contains(got)) o.fail(s"$n stagewise: fingerprint $got != ${expected.get(n)}")
      } catch { case e: Exception => o.fail(s"$n stagewise: ${e.getClass.getSimpleName}: ${e.getMessage}") }
      Main.clearSession(spark)
    }
    tracer.active = false

    o.put("setup_s", sessionS + setupS, "s")
    o.put("pass_s", Stats.median(passS.toSeq), "s", passS.length)
    if (queryS.nonEmpty) {
      o.putPct("latency_s_p50", Stats.pct(queryS.toSeq, 0.5), "s")
      o.putPct("latency_s_p90", Stats.pct(queryS.toSeq, 0.9), "s")
    }
    o.put("cpu_s_per_pass", Stats.median(cpuS.toSeq), "s", cpuS.length)
    o.put("driver_heap_peak_mb", Machine.heapPeakMb(), "MB")
    o.details("passes") = pass
    o.details("pass_s_each") = passS.toSeq
    o.details("verify_s") = setupS
    o.details("measure_s") = measureS
    o.details("query_s_median") = perQuery.map { case (k, v) => k -> Stats.median(v.toSeq) }
    o.details("expected") = expected.map { case (k, v) => k -> v.toString }
    if (cfg.trace && tracedPassS.nonEmpty)
      tracer.overhead(Stats.median(tracedPassS.toSeq), Stats.median(passS.toSeq))
    tracer.report(o, tracedPassS.length)
  }
}
