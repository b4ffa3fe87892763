package graft

import org.apache.spark.sql.functions._

/** Focused gate for the r16 KeyImage.ofNormalized fix: sequential scans that
  * sort by the REAL key columns (for sort-elision) and detect key changes by
  * string image must treat −0.0 and 0.0 as ONE key, matching SQL equality
  * and Spark's shuffle normalization — otherwise sort-interleaved ±0.0 rows
  * read as alternating keys and the cursor resets mid-series.
  */
class ZeroKeySpec extends SparkSpec {

  test("the skip-past scan treats -0.0 and 0.0 partition keys as one series") {
    import spark.implicits._
    // `len` is the candidate match length at each row: S takes the start
    // row, C* greedily every following row inside it. One candidate of
    // length 3 at ts=1 must CONSUME ts=2 and ts=3 (which are themselves
    // candidates) regardless of their key's zero sign; a mid-series cursor
    // reset would re-offer and select them
    val df = Seq(
      (0.0, 1L, 3L), (-0.0, 2L, 2L), (0.0, 3L, 2L), (-0.0, 4L, 1L))
      .toDF("k", "ts", "len")
    df.createOrReplaceTempView("zero_keys")
    val sel = graft.sql.SqlFrontend.execute(spark, """
      SELECT * FROM zero_keys MATCH_RECOGNIZE (
        PARTITION BY k ORDER BY ts
        MEASURES FIRST(S.ts) AS ts
        ONE ROW PER MATCH
        AFTER MATCH SKIP PAST LAST ROW
        PATTERN (S C*)
        DEFINE C AS C.ts < S.ts + S.len
      )""").select("ts").as[Long].collect().sorted
    assert(sel.toSeq == Seq(1L, 4L),
      s"expected one series (select ts=1, consume 2-3, select 4); got ${sel.toSeq}")
  }

  test("ofNormalized only rewrites floating zeros, not string '-0.0'") {
    import spark.implicits._
    val df = Seq(("-0.0", -0.0, -0.0f)).toDF("s", "d", "f")
    val r = df.select(
      graft.core.KeyImage.ofNormalized(df, Seq(col("s"))).as("is"),
      graft.core.KeyImage.ofNormalized(df, Seq(col("d"))).as("id"),
      graft.core.KeyImage.ofNormalized(df, Seq(col("f"))).as("if")).head()
    assert(r.getString(0) == "V4:-0.0", "string keys keep their literal image")
    assert(r.getString(1) == "V3:0.0", "double -0.0 normalizes to 0.0")
    assert(r.getString(2) == "V3:0.0", "float -0.0 normalizes to 0.0")
  }
}
