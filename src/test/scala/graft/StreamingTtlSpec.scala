package graft

import java.sql.Timestamp

import org.apache.spark.sql.Encoders
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.streaming.StreamingQuery

import graft.streaming.StreamingOps.StateTtl
import graft.streaming.StreamingSequenceMatchQ.QTok

/** Event-time state TTL of the standing MATCH_RECOGNIZE operator — the analog
  * of the reference's `SET 'sql.state-ttl' = '14 d'` (LAB4-Walkthrough.md:124).
  * Each test pins BOTH halves of the contract: (1) a key idle past the TTL is
  * EVICTED (its partial state is dropped, never flushed), and (2) the key's
  * next event RE-ENTERS with fresh state, behaving exactly like a first-ever
  * event. The cardinality stress pins the reason the TTL exists: with keys
  * arriving and going idle, the state store's row count stays bounded by the
  * live-key window instead of growing monotonically with every key ever seen.
  *
  * Micro-batch mechanics the tests lean on: the watermark is computed from a
  * batch's max event time and takes effect in the NEXT batch, so each test
  * advances it with two throwaway-key batches before asserting eviction.
  */
class StreamingTtlSpec extends SparkSpec {

  // offset from epoch 0: the initial watermark is 0, and a row AT the
  // watermark is filtered as late by the stateful-operator input filter
  private def at(sec: Long) = new Timestamp((1000000L + sec) * 1000L)

  // a 0 s watermark delay: eviction lands on the batch after the one whose
  // max event time passes a key's newest event + 100 s
  private val ttl100 = Some(StateTtl(100L, "0 seconds"))

  /** One micro-batch: add the rows, drain. */
  private def push[A](mem: MemoryStream[A], q: StreamingQuery, rows: A*): Unit = {
    mem.addData(rows)
    q.processAllAvailable()
  }

  test("sequenceMatch TTL: a pattern can't span the eviction gap; fresh trail matches after") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    implicit val enc = Encoders.product[(String, String, Timestamp, Long)]
    val mem = MemoryStream[(String, String, Timestamp, Long)]
    val q = graft.streaming.StreamingSequenceMatchQ(
      mem.toDF().toDF("k", "typ", "ts", "tie"),
      "k", "typ", "ts", "tie", pattern = Seq(QTok("A", 1, 1), QTok("B", 1, 1)),
      ttl = ttl100)
      .writeStream.format("memory").queryName("ttl_seq").outputMode("append").start()
    try {
      push(mem, q, ("u1", "A", at(0), 1L))     // trail [A]; timer 100 s
      push(mem, q, ("w1", "A", at(1000), 90L))
      push(mem, q, ("w2", "A", at(1001), 91L)) // u1 evicted
      push(mem, q, ("u1", "B", at(1100), 2L))  // fresh trail: no A before it -> no match
      push(mem, q, ("u1", "A", at(1101), 3L), ("u1", "B", at(1102), 4L)) // re-entry matches
    } finally q.stop()
    val m = spark.table("ttl_seq").collect()
      .filter(_.getAs[String]("key") == "u1")
      .map(r => (r.getAs[Timestamp]("match_start_ts"), r.getAs[Timestamp]("match_end_ts")))
    assert(m.toSeq == Seq((at(1101), at(1102))),
      s"only the post-eviction A,B pair may match (A@0,B@1100 spans the gap), got ${m.toSeq}")
  }

  test("sequenceMatchQ TTL: an undecided start evicts silently; fresh buffer decides normally") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    implicit val enc = Encoders.product[(String, String, Timestamp, Long)]
    val mem = MemoryStream[(String, String, Timestamp, Long)]
    // PATTERN (A B?): greedy alternatives [A,B] then [A] — a lone A stays
    // UNDECIDED until a following event breaks the longer alternative
    val q = graft.streaming.StreamingSequenceMatchQ(
      mem.toDF().toDF("k", "typ", "ts", "tie"),
      "k", "typ", "ts", "tie", pattern = Seq(QTok("A", 1, 1), QTok("B", 0, 1)),
      ttl = ttl100)
      .writeStream.format("memory").queryName("ttl_seqq").outputMode("append").start()
    try {
      push(mem, q, ("u1", "A", at(0), 1L))     // undecided: [A,B] still completable
      push(mem, q, ("w1", "C", at(1000), 90L))
      push(mem, q, ("w2", "C", at(1001), 91L)) // u1 evicted: the undecided A@0 never emits
      push(mem, q, ("u1", "C", at(1100), 2L))  // fresh buffer: C matches no alternative
      push(mem, q, ("u1", "A", at(1101), 3L), ("u1", "C", at(1102), 4L)) // C decides A -> [A]
    } finally q.stop()
    val m = spark.table("ttl_seqq").collect()
      .filter(_.getAs[String]("key") == "u1")
      .map(r => (r.getAs[Timestamp]("match_start_ts"), r.getAs[Int]("matched_len")))
    // without eviction, C@1100 would have decided the A@0 start into a match at start 0
    assert(m.toSeq == Seq((at(1101), 1)),
      s"only the post-eviction start may match, got ${m.toSeq}")
  }

  test("value-CEP TTL: an open greedy value-run evicts silently; fresh buffer matches after") {
    import graft.operators.MatchRecognize.MrTok
    implicit val sq = spark.sqlContext
    implicit val enc = Encoders.product[(String, String, Timestamp, Double, Long)]
    val mem = MemoryStream[(String, String, Timestamp, Double, Long)]
    // S U+ with a PREV predicate: a rising tail stays OPEN until a breaking
    // event — the TTL must evict the open run, not flush it
    val q = graft.streaming.StreamingMatchRecognize(
      mem.toDF().toDF("k", "typ", "ts", "v", "tie"),
      "k", condCols = Seq("v"), tsCol = "ts", tieCol = "tie",
      tokens = Seq(MrTok("S", 1, Some(1)), MrTok("U", 1, None)),
      defs = Seq(None, Some("U.v > PREV(U.v)")),
      ttl = ttl100)
      .writeStream.format("memory").queryName("ttl_mrv").outputMode("append").start()
    try {
      push(mem, q, ("u1", "t", at(0), 1.0, 1L), ("u1", "t", at(1), 2.0, 2L)) // open rising run
      push(mem, q, ("w1", "t", at(1000), 9.0, 90L))
      push(mem, q, ("w2", "t", at(1001), 9.0, 91L)) // u1 evicted: the open S U+ never emits
      // fresh buffer: rise then break -> exactly one post-eviction match
      push(mem, q, ("u1", "t", at(1100), 5.0, 3L), ("u1", "t", at(1101), 6.0, 4L),
        ("u1", "t", at(1102), 1.0, 5L))
    } finally q.stop()
    val m = spark.table("ttl_mrv").collect()
      .filter(_.getAs[String]("key") == "u1")
      .map(r => (r.getAs[Timestamp]("match_start_ts"), r.getAs[Int]("matched_len")))
    assert(m.toSeq == Seq((at(1100), 2)),
      s"only the post-eviction run may match, got ${m.toSeq}")
  }

  test("TTL watermark delay defaults to the TTL; session key overrides; durations can't wrap") {
    import graft.sources.TableRegistry
    // default: delay = the TTL itself — a 0s delay would engage Spark's
    // late-row filter against cross-key event-time skew (r8 ADVICE medium)
    TableRegistry.unset("sql.state-ttl-watermark-delay")
    assert(TableRegistry.stateTtlWatermarkDelay(600L) == "600 seconds")
    TableRegistry.set("sql.state-ttl-watermark-delay", "2 min")
    try assert(TableRegistry.stateTtlWatermarkDelay(600L) == "120 seconds")
    finally TableRegistry.unset("sql.state-ttl-watermark-delay")
    // products in [2^63, 2^64) have a zero multiplyHigh word but wrap
    // negative — they must fail the overflow check, not require() later
    val e = intercept[Exception](
      TableRegistry.set("sql.state-ttl", "200000000000000 days") match {
        case _ => TableRegistry.stateTtlSeconds
      })
    assert(e.getMessage.contains("overflows"), e.getMessage)
    TableRegistry.unset("sql.state-ttl")
  }

  test("TTL bounds the state store: rows track the live-key window, not every key ever seen") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    implicit val enc = Encoders.product[(String, Timestamp, Long)]
    val mem = MemoryStream[(String, Timestamp, Long)]
    // a one-event pattern: every row is its own match, so the output counts
    // rows, and the state store holds one row per live key
    val q = graft.streaming.StreamingSequenceMatchQ(
      mem.toDF().toDF("user_id", "ts", "event_id").withColumn("typ", lit("e")),
      "user_id", "typ", "ts", "event_id", pattern = Seq(QTok("e", 1, 1)), ttl = ttl100)
      .writeStream.format("memory").queryName("ttl_card").outputMode("append").start()
    val batches = 10
    val keysPerBatch = 20
    try {
      (0 until batches).foreach { i =>
        // 20 FRESH keys per batch, 200 s apart: every batch's keys are past
        // the 100 s TTL when the next batch's watermark lands
        val rows = (0 until keysPerBatch).map(j => (s"k${i}_$j", at(i * 200L), (i * 100 + j).toLong))
        push(mem, q, rows: _*)
      }
      push(mem, q, ("flush", at(batches * 200L), 9999L)) // one more watermark move
    } finally q.stop()
    val totalKeys = batches * keysPerBatch + 1
    // bound: keys per batch (20) × batches live (a batch's keys evict once
    // the next batch's watermark passes their ts + 100 s, so at most 2) ×
    // state rows per key (1) = 40, plus the flush key — under totalKeys / 3
    // = 67; without the TTL every one of the 201 keys stays
    val stateRows = q.lastProgress.stateOperators(0).numRowsTotal
    assert(stateRows < totalKeys / 3,
      s"state must stay bounded by the live window: $stateRows rows vs $totalKeys keys seen")
    // and the output is still complete: every key matched exactly once
    assert(spark.table("ttl_card").count() == totalKeys.toLong)
  }
}
