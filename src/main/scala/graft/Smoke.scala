package graft

import scala.util.control.NonFatal

import org.apache.spark.sql.{AnalysisException, DataFrame}
import org.apache.spark.sql.functions.{col, count, lit, struct, sum, xxhash64}

/** The query timer: execute catalog queries at the given scale with full
  * materialization, one `[smoke]` JSON line per query plus a trailing
  * summary line.
  *
  * Full materialization, not `count()`: `count()` lets Catalyst prune every
  * projected column the row count does not need, so a per-row-expensive
  * projection never runs (q138 measured 0.12 s by `count()` and 70 s for
  * real). Hashing a struct of every column forces the whole row; a query
  * with an unhashable (map-typed) column falls back to `count()`.
  *
  * Each query's first execution runs cold and is reported as `sec`; it is
  * also the warm-up. `QTIME_REPEATS` (default 0) further executions follow,
  * reported as their minimum `min` and worst `worst` — Bench's min-of-N
  * estimator on the full consume. A query that fails records `rc` 1 and its
  * error, and the next query still runs; only non-fatal errors are caught,
  * so a timing never comes from a JVM that has hit an OOM.
  *
  * The oracle gate runs sf0.01/sf0.1; this is the cheap way to execute the
  * whole catalog at sf1 and sf10, where layout and scale surprises surface
  * (SMOKE_sf1.json, SMOKE_sf10_heavy.json). A-B timing of a few queries:
  * `QTIME_REPEATS=5 … Smoke <sfDir> only=q28,q54`.
  *
  * Usage: runMain graft.Smoke <sfDir> [startAfter | only=qa,qb,...]
  */
object Smoke {

  /** One query's reading; `error` is empty when `rc` is 0. */
  final case class Result(q: String, rc: Int, rows: Long, error: String, sec: Double,
                          repeats: Seq[Double]) {
    private def fmt(d: Double) = String.format(java.util.Locale.ROOT, "%.2f", Double.box(d))

    def json: String = {
      val outcome =
        if (rc == 0) s""""rc":0,"rows":$rows"""
        else s""""rc":1,"error":"${error.replaceAll("[\"\\\\\n\r\t]", " ").take(160)}""""
      val timed = if (repeats.isEmpty) "" else
        s""","min":${fmt(repeats.min)},"worst":${fmt(repeats.max)},"repeats":${repeats.size}"""
      s"""{"q":"$q",$outcome,"sec":${fmt(sec)}$timed}"""
    }
  }

  /** Row count of the full consume (count + hash of every column). */
  def consume(build: () => DataFrame): Long = {
    val df = build()
    try df.select(count(lit(1)),
        sum(xxhash64(struct(df.columns.toSeq.map(col): _*)).cast("decimal(38,0)"))).head().getLong(0)
    catch { case _: AnalysisException => build().count() } // unhashable column
  }

  /** Time every query in order (see the object doc), printing each line as
    * it completes.
    */
  def time(queries: Seq[(String, () => DataFrame)], repeats: Int): Seq[Result] =
    queries.map { case (name, build) =>
      def timed(): (Long, Double) = {
        val t0 = System.nanoTime()
        val rows = consume(build)
        (rows, (System.nanoTime() - t0) / 1e9)
      }
      val t0 = System.nanoTime()
      val r =
        try {
          val (rows, sec) = timed()
          Result(name, 0, rows, "", sec, Seq.fill(repeats)(timed()._2))
        } catch {
          case NonFatal(e) =>
            Result(name, 1, -1L, Option(e.getMessage).getOrElse(e.getClass.getName),
              (System.nanoTime() - t0) / 1e9, Nil)
        }
      println(s"[smoke] ${r.json}")
      r
    }

  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: Smoke <sfDir> [startAfter | only=qa,qb,...]")
    val sfDir = args(0)
    val names = args.lift(1) match {
      case Some(s) if s.startsWith("only=") =>
        val wanted = s.stripPrefix("only=").split(",").map(_.trim).filter(_.nonEmpty).toSeq
        val missing = wanted.filterNot(SparkEntry.queries.contains)
        require(missing.isEmpty, s"unknown queries: ${missing.mkString(",")}")
        wanted
      case startAfter =>
        SparkEntry.queries.keys.toSeq.sorted.dropWhile(n => startAfter.exists(_ >= n))
    }
    val spark = Bench.session(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
    val results = time(names.map(n => n -> (() => SparkEntry.queries(n)(spark, sfDir))),
      sys.env.getOrElse("QTIME_REPEATS", "0").toInt)
    val failed = results.filter(_.rc != 0).map(_.q)
    println(s"""[smoke] {"summary":true,"ok":${results.size - failed.size},"failed":${failed.size},""" +
      s""""failedNames":[${failed.map("\"" + _ + "\"").mkString(",")}]}""")
    spark.stop()
    if (failed.nonEmpty) sys.exit(1)
  }
}
