package graft

import org.apache.spark.sql.functions._

import graft.llmops.{Curation, Dedup}

/** Specs for the corpus-recipe operators: benchmark decontamination,
  * stratified sampling, and domain-mixture weighting.
  */
class MixingSpec extends SparkSpec {

  test("temperatureShares flattens toward uniform as alpha drops; alpha=1 keeps the empirical shares") {
    import spark.implicits._
    // 90/9/1 token split across three domains
    val docs = (Seq.fill(90)("big") ++ Seq.fill(9)("mid") ++ Seq.fill(1)("tiny"))
      .zipWithIndex.map { case (d, i) => (i.toLong, d, "w w w w w") }
      .toDF("id", "domain", "text")
    def shares(alpha: Double) =
      graft.llmops.Curation.temperatureShares(docs, org.apache.spark.sql.functions.col("domain"), "text", alpha)
        .select("domain", "target_share").as[(String, Double)].collect().toMap
    val s1 = shares(1.0)
    assert(math.abs(s1("big") - 0.9) < 1e-12 && math.abs(s1("tiny") - 0.01) < 1e-12)
    val s05 = shares(0.5)
    assert(s05("big") < s1("big") && s05("tiny") > s1("tiny"), "alpha<1 must flatten")
    val s01 = shares(0.1)
    assert(s01("tiny") > s05("tiny"), "lower alpha flattens more")
    Seq(s1, s05, s01).foreach(s => assert(math.abs(s.values.sum - 1.0) < 1e-9))
    // empty input: empty result, no NPE from the null aggregate reads
    val none = graft.llmops.Curation.temperatureShares(
      docs.filter(org.apache.spark.sql.functions.lit(false)),
      org.apache.spark.sql.functions.col("domain"), "text", 0.5)
    assert(none.count() == 0)
  }

  test("decontaminate flags planted contamination; clean docs stay clean") {
    import spark.implicits._
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "completely unrelated prose about catalyst optimizer internals"),
      (3L, "the quick brown fox jumps over another dog entirely")).toDF("doc_id", "text")
    val bench = Seq((100L, "the quick brown fox jumps over the lazy dog")).toDF("doc_id", "text")
    val res = Dedup.decontaminate(corpus, bench, "text", "doc_id", shingleSize = 3, threshold = 0.5)
      .collect().map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(res.size == 3)
    assert(res(1L).getAs[Double]("overlap") == 1.0 && res(1L).getAs[Boolean]("contaminated"))
    assert(res(2L).getAs[Long]("matched") == 0L && !res(2L).getAs[Boolean]("contaminated"))
    // doc 3 shares exactly the 4 leading trigrams of its 7 ("the quick brown"
    // ... "jumps over another" diverges) → matched 4 of 7, flagged at 0.5
    assert(res(3L).getAs[Long]("matched") == 4L)
    assert(res(3L).getAs[Long]("n_ngrams") == 7L)
    assert(res(3L).getAs[Boolean]("contaminated"))
  }

  test("decontaminate broadcast and distributed paths are identical on real docs") {
    val docs = graft.core.Tables(spark, sfDir, "documents")
    val corpus = docs.filter(col("doc_id") % 10 =!= 0)
    val bench = docs.filter(col("doc_id") % 10 === 0)
    def rows(forced: Boolean) =
      Dedup.decontaminate(corpus, bench, "text", "doc_id", shingleSize = 3,
        threshold = 0.5, forceDistributed = forced)
        .orderBy("doc_id").collect().toSeq
    val broadcastPath = rows(forced = false)
    assert(broadcastPath.nonEmpty)
    assert(broadcastPath == rows(forced = true))
  }

  test("stratified sample honors rates, keeps everything at 100, nests in the plain sample") {
    val docs = graft.core.Tables(spark, sfDir, "documents")
    val stratum = when(length(col("text")) < 200, "short")
      .when(length(col("text")) < 500, "medium").otherwise("long")
    val kept = Curation.stratifiedSample(docs, stratum, "text",
      Map("short" -> 10, "medium" -> 50, "long" -> 100))
    val keptByStratum = kept.groupBy("stratum").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val allByStratum = docs.withColumn("stratum", stratum).groupBy("stratum").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // rate 100 keeps the whole stratum; lower rates keep roughly their share
    assert(keptByStratum.getOrElse("long", 0L) == allByStratum.getOrElse("long", 0L))
    for (s <- Seq("short", "medium"); n <- keptByStratum.get(s)) {
      val rate = if (s == "short") 10 else 50
      val share = n.toDouble / allByStratum(s)
      assert(share < rate / 100.0 + 0.25, s"stratum $s kept $share at rate $rate%")
    }
    // the same content-hash bucket drives sample(): a doc kept at rate r is
    // kept by any plain sample with pct >= r, so the draw composes
    val plain = Curation.sample(docs, "text", 50).select("doc_id")
    val keptMedium = kept.filter(col("stratum") === "medium").select("doc_id")
    assert(keptMedium.join(plain, Seq("doc_id"), "left_anti").count() == 0)
  }

  test("clusters resolves chains and separate components to min labels") {
    import spark.implicits._
    // chain 1-2-3 (1~3 never emitted as a pair — the case pair-dropping alone
    // gets wrong) plus an unrelated component {10,11}
    val pairs = Seq((2L, 3L), (1L, 2L), (10L, 11L)).toDF("id_a", "id_b")
    val m = Dedup.clusters(pairs).collect()
      .map(r => r.getAs[Long]("id") -> r.getAs[Long]("cluster_id")).toMap
    assert(m == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L))
  }

  test("clusters: every real near-dup pair lands in one component") {
    val pairs = Dedup.embeddingNearDup(
      graft.core.Tables(spark, sfDir, "embeddings")
        .filter(col("vec_id") < 300).select(col("vec_id"), col("embedding")),
      "embedding", "vec_id", threshold = 0.35).select("id_a", "id_b").cache()
    val labels = Dedup.clusters(pairs)
    val a = labels.withColumnRenamed("id", "id_a").withColumnRenamed("cluster_id", "ca")
    val b = labels.withColumnRenamed("id", "id_b").withColumnRenamed("cluster_id", "cb")
    val joined = pairs.join(a, "id_a").join(b, "id_b")
    assert(joined.count() == pairs.count(), "every pair id must be labelled")
    assert(joined.filter(col("ca") =!= col("cb")).count() == 0,
      "pair endpoints must share a cluster")
    assert(labels.filter(col("cluster_id") > col("id")).count() == 0,
      "cluster_id is the component min")
  }

  test("scd2 collapses unchanged states and derives validity intervals") {
    import spark.implicits._
    val ts = (m: Int) => java.sql.Timestamp.valueOf(f"2026-01-01 00:$m%02d:00")
    val log = Seq(
      (1L, 100L, ts(1), "A"), (2L, 100L, ts(2), "A"), (3L, 100L, ts(3), "B"),
      (4L, 100L, ts(4), "A"), (5L, 200L, ts(1), "X"))
      .toDF("event_id", "user_id", "ts", "event_type")
    val out = graft.operators.Scd2(log, "user_id", "event_type", "ts", "event_id")
      .orderBy("user_id", "valid_from").collect()
    val u1 = out.filter(_.getAs[Long]("user_id") == 100L)
    assert(u1.map(_.getAs[String]("state")).toSeq == Seq("A", "B", "A"))
    assert(u1(0).getAs[java.sql.Timestamp]("valid_to") == ts(3), "A's interval closes when B starts")
    assert(u1(1).getAs[java.sql.Timestamp]("valid_to") == ts(4))
    assert(u1(2).getAs[java.sql.Timestamp]("valid_to") == null && u1(2).getAs[Boolean]("is_current"))
    val u2 = out.filter(_.getAs[Long]("user_id") == 200L)
    assert(u2.length == 1 && u2(0).getAs[Boolean]("is_current"))
  }

  test("scd2 treats null states as real states, not erased periods") {
    import spark.implicits._
    val ts = (m: Int) => java.sql.Timestamp.valueOf(f"2026-01-01 00:$m%02d:00")
    val log = Seq(
      (1L, 100L, ts(1), Option("A")), (2L, 100L, ts(2), Option.empty[String]),
      (3L, 100L, ts(3), Option.empty[String]), (4L, 100L, ts(4), Option("A")))
      .toDF("event_id", "user_id", "ts", "event_type")
    val out = graft.operators.Scd2(log, "user_id", "event_type", "ts", "event_id")
      .orderBy("valid_from").collect()
    // A → null (one interval, not two) → A: three intervals, null period kept
    assert(out.map(_.getAs[String]("state")).toSeq == Seq("A", null, "A"))
    assert(out(0).getAs[java.sql.Timestamp]("valid_to") == ts(2))
    assert(out(1).getAs[java.sql.Timestamp]("valid_to") == ts(4))
    assert(out(2).getAs[Boolean]("is_current"))
  }

  test("decontaminate paths agree on null-text docs") {
    import spark.implicits._
    val corpus = Seq((1L, Option("alpha beta gamma")), (2L, Option.empty[String]))
      .toDF("doc_id", "text")
    val bench = Seq((9L, "alpha beta gamma")).toDF("doc_id", "text")
    def run(forced: Boolean) =
      Dedup.decontaminate(corpus, bench, "text", "doc_id", shingleSize = 3,
        threshold = 0.5, forceDistributed = forced).orderBy("doc_id").collect().toSeq
    val b = run(forced = false)
    assert(b.map(_.getAs[Long]("doc_id")) == Seq(1L, 2L), "null-text docs must not vanish")
    assert(b == run(forced = true))
  }

  test("leakage-safe split never puts a near-dup pair across the boundary") {
    import spark.implicits._
    val emb = graft.core.Tables(spark, sfDir, "embeddings")
      .filter(col("vec_id") < 300)
    val pairs = Dedup.embeddingNearDup(
      emb.select(col("vec_id"), col("embedding")), "embedding", "vec_id", 0.35)
      .select("id_a", "id_b").cache()
    assert(pairs.count() > 0, "fixture must contain near-dups")
    val split = Curation.leakageSafeSplit(emb.select(col("vec_id")), "vec_id", pairs, 80, 10)
    val s = split.select(col("vec_id"), col("split"))
    val leaked = pairs
      .join(s.withColumnRenamed("vec_id", "id_a").withColumnRenamed("split", "sa"), "id_a")
      .join(s.withColumnRenamed("vec_id", "id_b").withColumnRenamed("split", "sb"), "id_b")
      .filter(col("sa") =!= col("sb")).count()
    assert(leaked == 0, "near-dup pairs must share a split")
    // whereas the naive per-doc split DOES leak on this fixture (the property
    // is non-vacuous: same corpus, same rates, doc-keyed hash)
    val naive = Curation.split(emb.select(col("vec_id").cast("string").as("k"), col("vec_id")), "k", 80, 10)
      .select(col("vec_id"), col("split"))
    val naiveLeaked = pairs
      .join(naive.withColumnRenamed("vec_id", "id_a").withColumnRenamed("split", "sa"), "id_a")
      .join(naive.withColumnRenamed("vec_id", "id_b").withColumnRenamed("split", "sb"), "id_b")
      .filter(col("sa") =!= col("sb")).count()
    assert(naiveLeaked > 0, "fixture should make the naive split leak; if not, strengthen it")
  }

  test("mixtureWeights computes the mixing table exactly") {
    import spark.implicits._
    val df = Seq(
      (0L, "a b c d"),       // web
      (4L, "a b c d e f"),   // web
      (1L, "a b")).toDF("doc_id", "text") // books
    val domain = when(col("doc_id") % 4 === 0, "web").otherwise("books")
    val m = Curation.mixtureWeights(df, domain, "text",
      Map("web" -> 0.75, "books" -> 0.25), budgetTokens = 100L)
      .collect().map(r => r.getAs[String]("domain") -> r).toMap
    assert(m("web").getAs[Long]("n_docs") == 2L)
    assert(m("web").getAs[Long]("domain_tokens") == 10L)
    assert(m("web").getAs[Long]("target_tokens") == 75L)
    assert(m("web").getAs[Double]("weight") == 7.5)
    assert(m("web").getAs[Long]("epochs") == 8L)
    assert(m("books").getAs[Long]("domain_tokens") == 2L)
    assert(m("books").getAs[Double]("weight") == 12.5)
    assert(m("books").getAs[Long]("epochs") == 13L)
  }

  test("applyMixture repeats heavy domains and subsamples light ones by the stated rule") {
    import spark.implicits._
    // web: 2 docs x 4 tokens = 8; books: 2 docs x 4 = 8. budget 16 at
    // 0.75/0.25 -> web target 12 (weight 1.5), books target 4 (weight 0.5)
    val df = Seq(
      (0L, "a b c d"), (4L, "e f g h"), // web
      (1L, "i j k l"), (5L, "m n o p")) // books
      .toDF("doc_id", "text")
    val domain = when(col("doc_id") % 4 === 0, "web").otherwise("books")
    val out = Curation.applyMixture(df, domain, "text", "doc_id",
      Map("web" -> 0.75, "books" -> 0.25), budgetTokens = 16L)
      .collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("epoch")))
    val copies = out.groupBy(_._1).view.mapValues(_.map(_._2).sorted.toSeq).toMap
    // replicate the stated rule exactly: floor(w) + (md5 bucket < floor(frac*100))
    val buckets = df.select(col("doc_id"), Curation.hashBucket(col("text")).as("b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    Seq(0L, 4L).foreach { id =>
      val expect = 1L + (if (buckets(id) < 50) 1L else 0L)
      assert(copies.getOrElse(id, Nil) == (1L to expect), s"web doc $id")
    }
    Seq(1L, 5L).foreach { id =>
      val expect = if (buckets(id) < 50) 1L else 0L
      assert(copies.getOrElse(id, Nil) == (1L to expect), s"books doc $id (0 copies must vanish)")
    }
  }
}
