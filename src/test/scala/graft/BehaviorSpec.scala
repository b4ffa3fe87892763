package graft

import org.apache.spark.sql.functions._

import graft.operators.Behavior
import graft.llmops.CorpusStats

class BehaviorSpec extends SparkSpec {

  private def ts(m: Int) = java.sql.Timestamp.valueOf(f"2026-01-05 00:$m%02d:00")

  test("funnel enforces strict ordering across stages") {
    import spark.implicits._
    val events = Seq(
      // user 1 completes in order
      (1L, "view", ts(1)), (1L, "click", ts(2)), (1L, "purchase", ts(3)),
      // user 2 clicks BEFORE viewing — click must not count; purchase after
      // the view but with no ordered click must not count either
      (2L, "click", ts(1)), (2L, "view", ts(2)), (2L, "purchase", ts(3)),
      // user 3 clicks at the exact view instant — strictness drops it
      (3L, "view", ts(5)), (3L, "click", ts(5)),
      // user 4 never views — excluded entirely
      (4L, "click", ts(1))).toDF("user_id", "event_type", "ts")
    val out = Behavior.funnel(events, "user_id", "event_type", "ts",
      Seq("view", "click", "purchase"))
      .collect().map(r => r.getAs[Long]("user_id") -> r).toMap
    assert(out.keySet == Set(1L, 2L, 3L))
    assert(out(1L).getAs[String]("stage") == "purchase")
    assert(out(2L).getAs[String]("stage") == "view")
    assert(out(2L).getAs[java.sql.Timestamp]("click_ts") == null)
    assert(out(3L).getAs[String]("stage") == "view")
  }

  test("sequenceMatch: strict contiguity, overlap emission, exact within-bound") {
    import spark.implicits._
    def ev(u: String, t: String, ts: String, id: Long) =
      (u, t, java.sql.Timestamp.valueOf(ts), id)
    val df = Seq(
      // u1: A B C consecutive — matches
      ev("u1", "A", "2024-01-01 00:00:00", 1), ev("u1", "B", "2024-01-01 00:01:00", 2),
      ev("u1", "C", "2024-01-01 00:02:00", 3),
      // u2: A x B C — the intervening x breaks strict contiguity (funnel would match)
      ev("u2", "A", "2024-01-01 00:00:00", 4), ev("u2", "x", "2024-01-01 00:00:30", 5),
      ev("u2", "B", "2024-01-01 00:01:00", 6), ev("u2", "C", "2024-01-01 00:02:00", 7),
      // u3: A A B B — overlapping A B at positions 2-3 only (A A breaks at 1-2)
      ev("u3", "A", "2024-01-01 00:00:00", 8), ev("u3", "A", "2024-01-01 00:01:00", 9),
      ev("u3", "B", "2024-01-01 00:02:00", 10), ev("u3", "B", "2024-01-01 00:03:00", 11),
      // u4: A B C but spanning 2h01m — outside a 2h bound, inside unbounded
      ev("u4", "A", "2024-01-01 00:00:00", 12), ev("u4", "B", "2024-01-01 01:00:00", 13),
      ev("u4", "C", "2024-01-01 02:01:00", 14),
      // u5: A B C spanning exactly 2h — the bound is inclusive
      ev("u5", "A", "2024-01-01 00:00:00", 15), ev("u5", "B", "2024-01-01 01:00:00", 16),
      ev("u5", "C", "2024-01-01 02:00:00", 17))
      .toDF("u", "t", "ts", "id")

    def users(pattern: Seq[String], within: Long) =
      graft.operators.Behavior.sequenceMatch(df, "u", "t", "ts", "id", pattern, within)
        .select("u").as[String].collect().toSeq.sorted
    assert(users(Seq("A", "B", "C"), 0) == Seq("u1", "u4", "u5"), "u2's gap event must break the match")
    assert(users(Seq("A", "B", "C"), 7200L * 1000000L) == Seq("u1", "u5"), "the within bound is inclusive at exactly 2h")
    assert(users(Seq("A", "B"), 0) == Seq("u1", "u3", "u4", "u5"), "u3 matches A->B once, at 00:01")
    val u3 = graft.operators.Behavior.sequenceMatch(df, "u", "t", "ts", "id", Seq("A", "B"))
      .filter($"u" === "u3").collect()
    assert(u3.length == 1 && u3.head.getAs[Long]("start_tie") == 9L)
  }

  test("weeklyRetention buckets users by first-seen week") {
    import spark.implicits._
    val day = (d: Int) => java.sql.Timestamp.valueOf(f"2026-01-$d%02d 12:00:00")
    // weeks (Mon-based): Jan 5-11 = w0 for both users; Jan 12-18 = next week
    val events = Seq(
      (1L, day(5)), (1L, day(6)), (1L, day(13)), // cohort w(Jan5), active w0 and w1
      (2L, day(7))).toDF("user_id", "ts")        // cohort w(Jan5), active w0 only
    val cells = Behavior.weeklyRetention(events, "user_id", "ts")
      .collect().map(r => (r.getAs[Long]("week_no"), r.getAs[Long]("active_users"))).toMap
    assert(cells == Map(0L -> 2L, 1L -> 1L))
  }

  test("streaming funnel commits match the batch funnel across micro-batches") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    implicit val enc = org.apache.spark.sql.Encoders.product[(Long, String, java.sql.Timestamp)]
    val fixture = Seq(
      (1L, "view", ts(1)), (1L, "click", ts(2)), (1L, "purchase", ts(3)),
      (2L, "click", ts(1)), (2L, "view", ts(2)), (2L, "purchase", ts(3)),
      (3L, "view", ts(5)), (3L, "click", ts(5)),
      (4L, "click", ts(1)))
    val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, String, java.sql.Timestamp)]
    val stream = graft.streaming.StreamingFunnel(
      mem.toDF().toDF("user_id", "event_type", "ts"),
      "user_id", "event_type", "ts", Seq("view", "click", "purchase"))
    val q = stream.writeStream.format("memory").queryName("funnel_sink")
      .outputMode("append").start()
    try {
      val (b1, b2) = fixture.splitAt(4) // split mid-user-1 across triggers
      mem.addData(b1); q.processAllAvailable()
      mem.addData(b2); q.processAllAvailable()
    } finally q.stop()
    val commits = spark.table("funnel_sink")
      .collect().map(r => (r.getAs[String]("user"), r.getAs[String]("stage")) -> r.getAs[java.sql.Timestamp]("ts")).toMap
    val batch = Behavior.funnel(
      fixture.toDF("user_id", "event_type", "ts"), "user_id", "event_type", "ts",
      Seq("view", "click", "purchase")).collect()
    for (r <- batch; stage <- Seq("view", "click", "purchase")) {
      val u = r.getAs[Long]("user_id").toString
      val expected = Option(r.getAs[java.sql.Timestamp](s"${stage}_ts"))
      assert(commits.get((u, stage)) == expected,
        s"user $u stage $stage: streaming ${commits.get((u, stage))} vs batch $expected")
    }
    assert(commits.keySet.map(_._1) == Set("1", "2", "3"), "user 4 never enters the funnel")
  }

  test("streaming funnel rejects duplicate stage names like the batch twin") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    implicit val enc = org.apache.spark.sql.Encoders.product[(Long, String, java.sql.Timestamp)]
    val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, String, java.sql.Timestamp)]
    val ex = intercept[IllegalArgumentException] {
      graft.streaming.StreamingFunnel(
        mem.toDF().toDF("user_id", "event_type", "ts"),
        "user_id", "event_type", "ts", Seq("view", "click", "view"))
    }
    assert(ex.getMessage.contains("distinct"))
  }

  test("streaming funnel keeps sub-millisecond strictness (micros, not getTime)") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    implicit val enc = org.apache.spark.sql.Encoders.product[(Long, String, java.sql.Timestamp)]
    val view = java.sql.Timestamp.valueOf("2026-01-05 00:00:00")
    val click = java.sql.Timestamp.valueOf("2026-01-05 00:00:00")
    click.setNanos(500000) // same millisecond, 500µs later — strictly after
    val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, String, java.sql.Timestamp)]
    val q = graft.streaming.StreamingFunnel(
      mem.toDF().toDF("user_id", "event_type", "ts"),
      "user_id", "event_type", "ts", Seq("view", "click"))
      .writeStream.format("memory").queryName("funnel_us_sink").outputMode("append").start()
    try {
      mem.addData(Seq((1L, "view", view), (1L, "click", click)))
      q.processAllAvailable()
    } finally q.stop()
    val stages = spark.table("funnel_us_sink").collect().map(_.getAs[String]("stage")).toSet
    assert(stages == Set("view", "click"),
      s"a click 500µs after the view must commit (batch does) — got $stages")
  }

  test("sessionize starts a new session exactly past the gap") {
    import spark.implicits._
    val t0 = java.sql.Timestamp.valueOf("2026-01-05 00:00:00")
    def at(sec: Long) = new java.sql.Timestamp(t0.getTime + sec * 1000)
    val events = Seq(
      (1L, 100L, at(0)), (2L, 100L, at(10)),       // session 1
      (3L, 100L, at(10 + 3601)),                   // 3601 s later → session 2
      (4L, 100L, at(10 + 3601 + 3600)),            // exactly 3600 s → SAME session
      (5L, 200L, at(5))).toDF("event_id", "user_id", "ts")
    val out = graft.operators.Behavior.sessionize(events, "user_id", "ts", "event_id", 3600)
      .collect().map(r => r.getAs[Long]("event_id") -> r.getAs[Long]("session_seq")).toMap
    assert(out == Map(1L -> 1L, 2L -> 1L, 3L -> 2L, 4L -> 2L, 5L -> 1L))
  }

  test("bloom prefilter join equals the plain join and actually cuts the probe side") {
    val orders = graft.core.Tables(spark, sfDir, "orders")
      .select("o_orderkey", "o_custkey", "o_totalprice")
    val dims = graft.core.Tables(spark, sfDir, "customer")
      .filter(col("c_mktsegment") === "BUILDING").select("c_custkey", "c_name")
    val bloomed = graft.operators.BloomJoin(orders, dims, "o_custkey", "c_custkey")
      .select("o_orderkey", "c_name").collect().toSet
    val plain = orders.join(dims, col("o_custkey") === col("c_custkey"))
      .select("o_orderkey", "c_name").collect().toSet
    assert(bloomed == plain, "bloom false positives must be removed by the exact join")
    val cut = graft.operators.BloomJoin.prefilter(orders, dims, "o_custkey", "c_custkey").count()
    val total = orders.count()
    assert(cut < total, s"the prefilter must drop rows ($cut of $total survived)")
    assert(cut >= plain.size, "the prefilter may never drop a truly matching row")
  }

  test("tfIdfTopTerms ranks rare terms above common ones") {
    import spark.implicits._
    val docs = Seq(
      (1L, "common common zebra"),
      (2L, "common yak yak"),
      (3L, "common plain")).toDF("doc_id", "text")
    val out = CorpusStats.tfIdfTopTerms(docs, "text", "doc_id", k = 1)
      .collect().map(r => r.getAs[Long]("doc_id") -> r).toMap
    // 'common' has df=3; each rare term df=1 → rare wins despite lower tf
    assert(out(1L).getAs[String]("token") == "zebra")
    assert(out(2L).getAs[String]("token") == "yak")
    assert(out(2L).getAs[Long]("tf") == 2L)
    assert(out(3L).getAs[String]("token") == "plain")
    assert(out(1L).getAs[Double]("score") == 3.0) // tf 1 · N 3 / df 1
  }

  test("windowed funnel: conversion exactly at the gap counts, one second past does not") {
    import spark.implicits._
    val t0 = java.sql.Timestamp.valueOf("2026-01-01 00:00:00")
    def plus(s: Long) = new java.sql.Timestamp(t0.getTime + s * 1000)
    val events = Seq(
      (1L, 100L, t0, "view"), (2L, 100L, plus(3600), "click"), // inside window
      (3L, 200L, t0, "view"), (4L, 200L, plus(3601), "click")) // 1s past it
      .toDF("event_id", "user_id", "ts", "event_type")
    val out = Behavior.funnel(events, "user_id", "event_type", "ts",
      Seq("view", "click"), maxGapSeconds = 3600)
      .collect().map(r => r.getAs[Long]("user_id") -> r.getAs[String]("stage")).toMap
    assert(out == Map(100L -> "click", 200L -> "view"))
    // unbounded default keeps the old semantics
    val unbounded = Behavior.funnel(events, "user_id", "event_type", "ts", Seq("view", "click"))
      .collect().map(r => r.getAs[Long]("user_id") -> r.getAs[String]("stage")).toMap
    assert(unbounded == Map(100L -> "click", 200L -> "click"))
  }

  test("streaming sessionize labels equal the batch operator across micro-batches") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    implicit val enc = org.apache.spark.sql.Encoders.product[(Long, Long, java.sql.Timestamp)]
    val ts = (sec: Int) => java.sql.Timestamp.valueOf(f"2026-01-01 00:${sec / 60}%02d:${sec % 60}%02d")
    // user 100: events at 0s, 30s (same session, gap == threshold), 61s (new
    // session: gap 31 > 30), 200s (third session); user 200: one event
    val fixture = Seq(
      (1L, 100L, ts(0)), (2L, 100L, ts(30)), (3L, 100L, ts(61)),
      (4L, 100L, ts(200)), (5L, 200L, ts(10)))
    val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, Long, java.sql.Timestamp)]
    val q = graft.streaming.StreamingSessionize(
      mem.toDF().toDF("event_id", "user_id", "ts"),
      "user_id", "ts", "event_id", gapSeconds = 30)
      .writeStream.format("memory").queryName("sess_sink").outputMode("append").start()
    try {
      val (b1, b2) = fixture.splitAt(3) // split mid-key across triggers
      mem.addData(b1); q.processAllAvailable()
      mem.addData(b2); q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.table("sess_sink").collect()
      .map(r => (r.getAs[String]("user"), r.getAs[Long]("tie"), r.getAs[Long]("session_seq"))).toSet
    val batch = Behavior.sessionize(
      fixture.toDF("event_id", "user_id", "ts"), "user_id", "ts", "event_id", gapSeconds = 30)
      .collect()
      .map(r => (r.getAs[Long]("user_id").toString, r.getAs[Long]("event_id"), r.getAs[Long]("session_seq"))).toSet
    assert(streamed == batch, s"streaming labels must equal batch:\n$streamed\nvs\n$batch")
    assert(batch.map(_._3).max == 3L, "fixture must exercise multiple sessions")
  }

  test("bigramLmScore: broadcast and join paths are bit-identical; scores rank fluency") {
    import spark.implicits._
    val ref = Seq(
      (1L, "the cat sat on the mat"),
      (2L, "the cat sat on the rug"),
      (3L, "the dog sat on the mat")).toDF("doc_id", "text")
    val probe = Seq(
      (10L, "the cat sat on the mat"), // in-distribution
      (11L, "mat the on sat cat the"), // scrambled: unseen bigrams
      (12L, "x")) // too short: null score
      .toDF("doc_id", "text")
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("n_bigrams"),
        Option(r.getAs[java.lang.Double]("score")).map(_.doubleValue()))).toSet
    val bcast = rows(CorpusStats.bigramLmScore(probe, ref, "text", "doc_id"))
    val join = rows(CorpusStats.bigramLmScore(probe, ref, "text", "doc_id", forceJoin = true))
    assert(bcast == join, s"paths must be bit-identical:\n$bcast\nvs\n$join")
    val byId = bcast.map(t => t._1 -> t).toMap
    assert(byId(10L)._3.get > byId(11L)._3.get, "fluent text must outscore scrambled text")
    assert(byId(12L)._2 == 0L && byId(12L)._3.isEmpty, "sub-bigram docs score null")
  }

  test("topNgrams counts document frequency, not occurrences, and cuts deterministically") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a b c a b c a b c"), // trigram "a b c" appears 3x within the doc
      (2L, "a b c x y z"),
      (3L, "x y z only here")).toDF("doc_id", "text")
    val out = CorpusStats.topNgrams(docs, "text", n = 3, k = 2)
      .collect().map(r => (r.getAs[String]("ngram"), r.getAs[Long]("df"))).toSeq
    // "a b c": docs 1,2 → df 2 (within-doc repeats counted once);
    // "x y z": docs 2,3 → df 2; tie broken by the ngram string ascending
    assert(out == Seq(("a b c", 2L), ("x y z", 2L)))
  }

  test("skipPastSelect refuses a fractional length column when the DataFrame is built") {
    import spark.implicits._
    val df = Seq(("u", 1L, 2.0), ("u", 2L, 0.0)).toDF("k", "ts", "len")
    val err = intercept[RuntimeException](
      Behavior.skipPastSelect(df, Seq(col("k")), Seq(col("ts")), "len"))
    assert(err.getMessage.contains("must be integral"), err.getMessage)
  }
}
