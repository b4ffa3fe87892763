package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** The reference's table/DDL catalog surface (SURVEY.md §2.9): CREATE TABLE
  * with watermark + primary-key metadata, CTAS, DROP, DESCRIBE, and per-query
  * SET config. Spark has no notion of a watermark/PK in its catalog, so this
  * registry carries that metadata alongside the Spark table.
  *
  * Tables resolve to DataFrames lazily (a registered loader), so registering
  * is metadata-only — nothing materialises until a query runs.
  */
object TableRegistry {

  final case class TableDef(name: String,
                            schema: Option[StructType],
                            watermarkCol: Option[String] = None,
                            watermarkDelay: Option[String] = None,
                            primaryKey: Seq[String] = Seq.empty,
                            changelogMode: String = "append",
                            options: Map[String, String] = Map.empty,
                            load: SparkSession => DataFrame,
                            loadStream: Option[SparkSession => DataFrame] = None)

  private val tables = scala.collection.concurrent.TrieMap[String, TableDef]()
  private val sessionConf = scala.collection.concurrent.TrieMap[String, String]()

  /** CREATE TABLE (declared schema + loader). */
  def createTable(df: TableDef): Unit = tables.put(df.name, df)

  /** CREATE TABLE ... AS SELECT: registers the result of a query as a table
    * (schema inferred — CTAS semantics, LAB1-Walkthrough.md:122).
    */
  def createTableAs(spark: SparkSession, name: String, query: DataFrame,
                    primaryKey: Seq[String] = Seq.empty): Unit = {
    val materialized = query // lazy: the DataFrame itself is the definition
    tables.put(name, TableDef(name, Some(query.schema), primaryKey = primaryKey,
      load = _ => materialized))
  }

  /** ALTER TABLE ... MODIFY (WATERMARK ...) (LAB3-Walkthrough.md:493-496). */
  def alterWatermark(name: String, col: String, delay: String): Unit = {
    val t = resolve(name)
    tables.put(name, t.copy(watermarkCol = Some(col), watermarkDelay = Some(delay)))
  }

  def dropTable(name: String): Boolean = tables.remove(name).isDefined
  def exists(name: String): Boolean = tables.contains(name)
  def resolve(name: String): TableDef = tables.getOrElse(name, sys.error(s"no table '$name'"))
  def names: Seq[String] = tables.keys.toSeq.sorted

  /** DESCRIBE: name, type, nullable per column plus graft metadata. */
  def describe(name: String): Seq[(String, String)] = {
    val t = resolve(name)
    val cols = t.schema.map(_.fields.toSeq.map(f => f.name -> f.dataType.simpleString)).getOrElse(Seq.empty)
    cols ++
      t.watermarkCol.map(c => "WATERMARK" -> s"$c - ${t.watermarkDelay.getOrElse("")}").toSeq ++
      (if (t.primaryKey.nonEmpty) Seq("PRIMARY KEY" -> t.primaryKey.mkString(",")) else Seq.empty)
  }

  /** Scan with watermark applied if defined (streaming sources). */
  def scan(spark: SparkSession, name: String): DataFrame = {
    val t = resolve(name)
    val df = t.load(spark)
    (t.watermarkCol, t.watermarkDelay) match {
      case (Some(c), Some(d)) if df.isStreaming => df.withWatermark(c, d)
      case _                                    => df
    }
  }

  /** A table is a STREAM table when it carries a continuous loader — the
    * analog of the reference's topic-backed tables, every one of which is a
    * continuously-growing Kafka topic. A streaming CTAS/INSERT over such a
    * table becomes a standing statement (graft.sql.StreamPlanner).
    */
  def isStream(name: String): Boolean = tables.get(name).exists(_.loadStream.isDefined)
  def streamTableNames: Seq[String] = tables.values.filter(_.loadStream.isDefined).map(_.name).toSeq

  /** Tables whose backing files grow while a standing statement runs — reads
    * must re-resolve the file listing each query (SqlFrontend.parseSql).
    */
  def refreshOnRead: Seq[String] =
    tables.values.filter(_.options.get("graft.refresh-on-read").contains("true")).map(_.name).toSeq

  /** Continuous scan: the stream loader with the declared watermark applied.
    * Event time is cast to TIMESTAMP first — watermarks reject TIMESTAMP_NTZ,
    * and the UTC session makes the cast wall-clock-neutral.
    */
  def scanStream(spark: SparkSession, name: String): DataFrame = {
    val t = resolve(name)
    val loader = t.loadStream.getOrElse(sys.error(s"table '$name' is not a stream table"))
    val df = loader(spark)
    (t.watermarkCol, t.watermarkDelay) match {
      case (Some(c), Some(d)) =>
        df.withColumn(c, org.apache.spark.sql.functions.col(c).cast("timestamp")).withWatermark(c, d)
      case _ => df
    }
  }

  /** SET 'key' = 'value' (observed: sql.state-ttl — LAB1-Walkthrough.md:120). */
  def set(key: String, value: String): Unit = sessionConf.put(key, value)
  def unset(key: String): Unit = sessionConf.remove(key): Unit
  def get(key: String): Option[String] = sessionConf.get(key)
  def clearConf(): Unit = sessionConf.clear()

  /** The session's `sql.state-ttl` as whole seconds — the knob the reference
    * sets before its stateful queries (`'1 HOURS'` LAB1-Walkthrough.md:120,
    * `'14 d'` LAB4-Walkthrough.md:124). The standing MATCH_RECOGNIZE and
    * ML_DETECT_ANOMALIES stages read this and pass it to their operator's
    * event-time TTL (StreamingOps.resetTtlTimer).
    * None when unset (state unbounded, the operators' default).
    */
  def stateTtlSeconds: Option[Long] = get("sql.state-ttl").map(durationSeconds)

  /** Watermark delay for TTL'd streaming operators whose input carries no
    * watermark of its own (StreamingOps.withTtlWatermark):
    * `SET 'sql.state-ttl-watermark-delay' = '<n> <unit>'` when set, else the
    * TTL itself. Spark's transformWithState drops rows older than the
    * watermark, so a 0s delay on a stream with cross-key event-time skew
    * silently loses IN-ORDER rows of lagging keys — a data-loss semantic the
    * reference's Flink state TTL does not have (r8 ADVICE). Delay = TTL is
    * the no-loss default: a row more than TTL late would hit evicted state
    * anyway, and eviction stays bounded at newest + 2·TTL.
    */
  def stateTtlWatermarkDelay(ttlSeconds: Long): String =
    get("sql.state-ttl-watermark-delay").map(d => s"${durationSeconds(d)} seconds")
      .getOrElse(s"$ttlSeconds seconds")

  /** Flink-style duration literal → seconds: `'14 d'`, `'1 HOURS'`,
    * `'30 min'`, `'90 s'` (TimeUtils vocabulary: singular, plural, and short
    * unit names; case-insensitive; sub-second units are rejected — a state
    * TTL below one second is a config error, not a wish).
    */
  private[graft] def durationSeconds(s: String): Long = {
    val m = "(?i)^\\s*(\\d+)\\s*([a-z]+)\\s*$".r.findFirstMatchIn(s)
      .getOrElse(sys.error(s"unparseable duration '$s' (expected '<n> <unit>', e.g. '14 d')"))
    val n = m.group(1).toLong
    val perUnit = m.group(2).toLowerCase match {
      case "s" | "sec" | "secs" | "second" | "seconds" => 1L
      case "m" | "min" | "mins" | "minute" | "minutes" => 60L
      case "h" | "hour" | "hours" => 3600L
      case "d" | "day" | "days" => 86400L
      case u => sys.error(s"unsupported duration unit '$u' in '$s' (state TTLs are whole seconds)")
    }
    // multiplyExact, not a multiplyHigh==0 probe: products in [2^63, 2^64)
    // have a zero high word but wrap negative (r8 ADVICE)
    try Math.multiplyExact(n, perUnit)
    catch { case _: ArithmeticException => sys.error(s"duration '$s' overflows") }
  }
}
