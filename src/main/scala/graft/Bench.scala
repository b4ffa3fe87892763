package graft

import org.apache.spark.sql.SparkSession

/** Benchmark main: runs the headline queries against SPARK_GRAFT_SF_DIR and
  * prints one JSON line (driver contract). Each query is forced with .count()
  * — no driver-side collect of payload data.
  */
object Bench {

  /** One session recipe for Bench AND Smoke, so spot-times in BASELINE.md
    * measure the same environment as the headline runs. The shared config
    * set lives in [[graft.core.Sessions]] (r16 — one definition); the one
    * bench-specific extra: bench data arrives as ONE parquet file per table
    * (the sf1 replica is a single 184 MB lineitem), so the default 128 MB
    * maxPartitionBytes would scan it with ~2 tasks on 32 cores, serializing
    * every downstream agg. On a real cluster tables are many files and the
    * knob is moot; here it restores scan parallelism (splits land on
    * row-group boundaries).
    */
  private[graft] def session(cpus: String): SparkSession =
    graft.core.Sessions.localCpus(cpus, Map("spark.sql.files.maxPartitionBytes" -> "8m"))

  /** CPU-contention telemetry (r11 verdict #3): bench numbers on this box
    * swing 2–8x under external CPU steal, so every BENCH line now carries
    * enough to self-diagnose a contended window without same-window A/B
    * runs. Readings are Linux-proc-based: (load1, total busy jiffies across
    * all CPUs, this process's own jiffies).
    */
  private def cpuStat(): (Double, Long, Long) = {
    def firstLine(p: String): String =
      new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(p)), "UTF-8")
        .linesIterator.next()
    val load1 = firstLine("/proc/loadavg").split("\\s+")(0).toDouble
    // /proc/stat "cpu" line: user nice system idle iowait irq softirq steal …
    val f = firstLine("/proc/stat").split("\\s+").drop(1).map(_.toLong)
    val busy = f(0) + f(1) + f(2) + f(5) + f(6) + (if (f.length > 7) f(7) else 0L)
    (load1, busy, selfJiffies(firstLine("/proc/self/stat")))
  }

  /** utime + stime from a /proc/<pid>/stat line: "pid (comm) state ppid …" —
    * comm may itself contain spaces (and even ')'), so field-split only
    * AFTER the LAST ')'; utime and stime are then fields 12-13 (0-based) of
    * the remainder (kernel fields 14-15, 1-based). Spec-pinned against
    * adversarial comm values (r12 ADVICE).
    */
  private[graft] def selfJiffies(statLine: String): Long = {
    val rest = statLine.substring(statLine.lastIndexOf(')') + 1).trim.split("\\s+")
    rest(11).toLong + rest(12).toLong
  }

  /** Kernel jiffies-per-second for the /proc readings — `getconf CLK_TCK`
    * (USER_HZ is not exposed to the JVM directly); 100 is the x86 default
    * and the only value ever observed on this box, kept as the fallback.
    */
  private lazy val clkTck: Double =
    try {
      // stderr merged and the wait BOUNDED (r13 ADVICE): a hung getconf on
      // another image must not block the end-of-run telemetry read forever —
      // kill it and fall back rather than wedge the lazy val
      val p = new ProcessBuilder("getconf", "CLK_TCK").redirectErrorStream(true).start()
      if (!p.waitFor(5, java.util.concurrent.TimeUnit.SECONDS)) {
        p.destroyForcibly()
        throw new RuntimeException("getconf CLK_TCK timed out")
      }
      new String(p.getInputStream.readAllBytes(), "UTF-8").linesIterator
        .map(_.trim).find(_.nonEmpty).get.toDouble
    } catch { case _: Exception => 100.0 }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = session(cpus)
    // settle (r13): the sbt launch that starts this main leaves ITS OWN
    // compile/JVM-warmup spike in the 1-minute load average — exactly what
    // poisoned BENCH_r12.json's load1_start=5.23 on a box with zero external
    // steal. Wait (bounded) for load1 to decay below the anchor rule before
    // reading the start telemetry: a genuinely idle box settles and stamps
    // clean; real external load never settles and stays CONTENDED.
    val settleDeadline = System.nanoTime() + 180L * 1000000000L
    while (cpuStat()._1 > 1.0 && System.nanoTime() < settleDeadline) Thread.sleep(5000)
    val (load1Start, busy0, self0) = cpuStat()
    val wall0 = System.nanoTime()

    // Window-proofing (r14 verdict #1): two rounds running, the driver's
    // checked-in artifact caught a degraded scheduling window (r13: headline
    // lost to truncation; r14: 16.79 s vs the same binary's 11.77-12.84 s
    // clean readings) — a bad-enough window could spuriously breach the
    // 2x-of-BASELINE gate with unchanged code. Fix in the harness itself:
    // after one warm-up pass, time each query REPEATS times back-to-back in
    // the same JVM and record the per-query MIN (the classic min-of-N
    // benchmark estimator: external steal only ever ADDS time, so the min is
    // the least-contaminated reading of the binary's true cost). The max
    // rides along as "worst" so the full dump still shows the spread.
    val repeats = math.max(1, sys.env.getOrElse("SPARK_GRAFT_BENCH_REPEATS", "3").toInt)
    // Warm-up pass (JIT + codegen + parquet footer cache) so the measured pass
    // reflects steady-state executor throughput, not first-run compilation.
    def run(names: Seq[String]): Seq[(String, Double, Long, Double)] = {
      names.foreach { n =>
        try SparkEntry.queries(n)(spark, sfDir).count()
        catch { case _: Throwable => () }
      }
      names.map { name =>
        var best = Double.MaxValue
        var worst = 0.0
        var rows = -1L
        var r = 0
        while (r < repeats) {
          val t0 = System.nanoTime()
          val n =
            try SparkEntry.queries(name)(spark, sfDir).count()
            catch { case _: Throwable => -1L }
          val sec = (System.nanoTime() - t0) / 1e9
          // rows follows the repeat that produced `best` (r15 ADVICE): a
          // transient failure in the LAST repeat must not stamp rows:-1 next
          // to a valid min-of-N time — and a repeat that errored must never
          // contribute to `best` (a fast failure is not a fast query)
          if (n >= 0 && sec < best) { best = sec; rows = n }
          if (sec > worst) worst = sec
          r += 1
        }
        if (best == Double.MaxValue) best = worst // every repeat failed
        (name, best, rows, worst)
      }
    }
    def objOf(rs: Seq[(String, Double, Long, Double)]): (String, String, Double, String) = (
      rs.map { case (k, v, _, _) => "\"" + k + "\":" + v }.mkString("{", ",", "}"),
      rs.map { case (k, _, n, _) => "\"" + k + "\":" + n }.mkString("{", ",", "}"),
      rs.map(_._2).sum,
      rs.map { case (k, _, _, w) => "\"" + k + "\":" + w }.mkString("{", ",", "}"))
    val results = run(graft.queries.Catalog.headlineNames)
    // the second group (CEP/resample/packing/ANN/MR — families added after
    // the headline set froze) rides in the same line under "group2"; the
    // top-level "value" stays the headline total, anchor-comparable
    val results2 = run(graft.queries.Catalog.benchGroup2Names)
    // group3 (r11): the four end-to-end lab pipelines + the ANN lab
    val results3 = run(graft.queries.Catalog.benchGroup3Names)
    val (qs, rows, total, worst) = objOf(results)
    // row counts let a reader sanity-check that timings measure real output
    val (qs2, rows2, total2, worst2) = objOf(results2)
    val (qs3, rows3, total3, worst3) = objOf(results3)
    // extCpuFrac = CPU consumed by OTHER processes during the run, as a
    // fraction of total machine capacity (0 = clean window; BASELINE.md's
    // comparability rule is load1 < 1 at start and extCpuFrac < 0.05)
    val (load1End, busy1, self1) = cpuStat()
    val wallSec = (System.nanoTime() - wall0) / 1e9
    val nCpu = Runtime.getRuntime.availableProcessors()
    val extCpuFrac = math.max(0.0,
      ((busy1 - busy0) - (self1 - self0)) / clkTck / (wallSec * nCpu))
    // BASELINE.md's anchor-comparability rule, enforced in the artifact
    // itself (r12 verdict #5): a run started under external load (load1 > 1)
    // or with measurable external CPU steal is stamped CONTENDED — its
    // timings are real but must not become an anchor row, and a checked-in
    // BENCH_r*.json can no longer diverge silently from the clean-window rule
    val contended = load1Start > 1.0 || extCpuFrac > 0.05
    if (contended)
      System.err.println(f"[bench] CONTENDED window (load1_start=$load1Start%.2f, " +
        f"extCpuFrac=$extCpuFrac%.4f) — timings recorded but NOT anchor-comparable")
    // compact summary: emitted BEFORE the full line on its own line AND
    // duplicated as the full line's LAST key (r13 verdict #6 / next-round #6)
    // — the driver's artifact truncates long output from either end, and the
    // headline number must survive both (r13's artifact `tail` lost it to the
    // per-query dump's length)
    val summary = f"""{"headline_sec":$total%.2f,"group2_sec":$total2%.2f,""" +
      f""""group3_sec":$total3%.2f,"repeats":$repeats,"load1_start":$load1Start%.2f,""" +
      f""""extCpuFrac":$extCpuFrac%.4f,"contended":$contended}"""
    val json = s"""{"metric":"total","value":$total,"unit":"sec","repeats":$repeats,""" +
      s""""queries":$qs,"rows":$rows,"worst":$worst,""" +
      s""""group2":{"value":$total2,"queries":$qs2,"rows":$rows2,"worst":$worst2},""" +
      s""""group3":{"value":$total3,"queries":$qs3,"rows":$rows3,"worst":$worst3},""" +
      f""""load1_start":$load1Start%.2f,"load1_end":$load1End%.2f,""" +
      f""""extCpuFrac":$extCpuFrac%.4f,"contended":$contended,""" +
      f""""wallSec":$wallSec%.1f,"sf":"$sfDir",""" +
      s""""summary":$summary}"""
    // stdout line is unprefixed (build.sbt: run / outputStrategy := StdoutOutput);
    // the file copy is belt-and-braces for any runner that scrapes artifacts.
    println(s"[bench] summary $summary")
    println(json)
    val out = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "BENCH_OUT.json")
    java.nio.file.Files.write(java.nio.file.Paths.get(out),
      (json + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    spark.stop()
  }
}
