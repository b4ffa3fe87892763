package graft.perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** One benchmark run of one workload in this JVM.
  *
  * Usage: graft.perfbench.Main --workload <name> --data <dir> --out <dir>
  *          --seconds <s> --trace <0|1> [--corrupt-expected <query>]
  *
  * `--corrupt-expected` alters one query's expected fingerprint, to show
  * that a wrong output counts as a failed operation.
  *
  * Writes `<out>/result.json`: the end-to-end metrics (trace 0) or the
  * per-layer metrics (trace 1), each with unit and sample count, plus the
  * attempted/failed operation counts and the run's machine stamp.
  */
object Main {
  final case class Config(workload: String, data: String, out: String, seconds: Double,
                          trace: Boolean, corrupt: Option[String])

  /** A metric value with its unit and the number of samples behind it;
    * `pctUsed` is set when a percentile had to fall back to a lower one. */
  final case class Metric(value: Double, unit: String, n: Int, pctUsed: Option[Double] = None)

  final class Outcome {
    val metrics = mutable.LinkedHashMap[String, Metric]()
    val details = mutable.LinkedHashMap[String, Any]()
    var attempted = 0L
    var failed = 0L
    val failures = mutable.ArrayBuffer[String]()

    def put(name: String, value: Double, unit: String, n: Int = 1): Unit =
      metrics(name) = Metric(value, unit, n)
    def putPct(name: String, p: Stats.Pct, unit: String): Unit =
      metrics(name) = Metric(p.value, unit, p.n, Some(p.pctUsed))
    def fail(what: String): Unit = { failed += 1; if (failures.length < 20) failures += what }
  }

  def parse(args: Array[String]): Config = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, sys.error(s"missing --$k"))
    Config(need("workload"), need("data"), need("out"), need("seconds").toDouble,
      m.getOrElse("trace", "0") == "1", m.get("corrupt-expected"))
  }

  def main(args: Array[String]): Unit = {
    val t0 = System.nanoTime()
    val cfg = parse(args)
    new java.io.File(cfg.out).mkdirs()
    val spark = graft.Bench.session(Machine.nproc.toString)
    val sessionS = (System.nanoTime() - t0) / 1e9
    val tracer = if (cfg.trace) new Tracer(spark) else Tracer.off(spark)
    val stamp0 = Machine.cpuStat()
    val o = new Outcome
    try {
      cfg.workload match {
        case "labs-operators-batch" => BatchWorkload.run(spark, cfg, sessionS, tracer, o)
        case "chain-stream"         => ChainWorkload.run(spark, cfg, sessionS, tracer, o)
        case w                                => sys.error(s"unknown workload '$w'")
      }
    } finally {
      val stamp1 = Machine.cpuStat()
      o.details("load1_start") = stamp0.load1
      o.details("load1_end") = stamp1.load1
      o.details("ext_cpu_frac") = Machine.extCpuFrac(stamp0, stamp1)
      o.details("steal_frac") = Machine.stealFrac(stamp0, stamp1)
      o.details("nproc") = Machine.nproc
      o.details("run_s") = (System.nanoTime() - t0) / 1e9
      tracer.close(cfg.out)
      writeResult(cfg, o)
      spark.stop()
    }
  }

  def writeResult(cfg: Config, o: Outcome): Unit = {
    val metrics = o.metrics.map { case (k, m) =>
      k -> (mutable.LinkedHashMap[String, Any]("value" -> m.value, "unit" -> m.unit, "n" -> m.n) ++
        m.pctUsed.map(p => "pct_used" -> p))
    }
    val doc = mutable.LinkedHashMap[String, Any](
      "workload" -> cfg.workload, "trace" -> cfg.trace,
      "attempted" -> o.attempted, "failed" -> o.failed, "failures" -> o.failures,
      "metrics" -> metrics, "details" -> o.details)
    val p = java.nio.file.Paths.get(cfg.out, "result.json")
    java.nio.file.Files.write(p, Json.render(doc).getBytes("UTF-8"))
  }

  /** Wall seconds of `f`, with its result. */
  def timed[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** Drops session-level caches so a repeated set-up starts from the same state. */
  def clearSession(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }
}
