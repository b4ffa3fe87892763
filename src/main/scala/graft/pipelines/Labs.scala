package graft.pipelines

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.agent._
import graft.anomaly.AnomalyDetector
import graft.core.Tables
import graft.functions.Scalars
import graft.ml.MlPredict
import graft.operators.{IntervalJoin, Tumble}
import graft.vector.{VectorSearchAgg, VectorStore}

/** The four reference lab topologies (SURVEY.md §0) re-expressed as fused
  * batch DAGs over the testdata tables, with deterministic local models so the
  * correctness suite can assert on outputs. The streaming variants share the
  * same stage functions (graft.streaming).
  *
  * Table casting: orders/customer/nation stand in for Lab1's
  * orders/customers/products; `events` stands in for ride_requests (Lab3) and
  * claims (Lab4); `documents` is the RAG corpus (Lab2/3/4).
  */
object Labs {

  /** ONE prompt definition per lab, shared by the batch and streaming twins.
    *
    * The r8 scale harness caught lab4's streaming judge prompt silently
    * omitting the claim narrative the batch prompt carries — with a
    * deterministic judge that split 8/10 verdicts on the same claims. That is
    * a bug CLASS, not a bug: any twin that re-states its prompt drifts.
    * Centralizing the builders makes drift impossible by construction
    * (r8 verdict directive #6); `LabPromptParitySpec` guards the twins
    * end-to-end and proves the guard non-vacuous with a broken fixture.
    * Fixing the class surfaced two live instances: lab1's streaming prompt
    * omitted the nation, lab3's streaming prompt omitted the time-of-day
    * bucket AND the retrieved context (computing the enrichment, then
    * discarding it).
    */
  private[graft] object Prompts {
    import org.apache.spark.sql.Column
    def lab1(orderId: Column, customerName: Column, nationName: Column,
             orderPrice: Column): Column =
      concat(lit("Price-match check for order "), orderId,
        lit(" customer "), customerName,
        lit(" nation "), nationName,
        lit(" at price "), orderPrice)
    def lab3Query(zone: Column, timeOfDay: Column, requestCount: Column): Column =
      concat(lit("surge in "), zone, lit(" during "), timeOfDay,
        lit(" with "), requestCount, lit(" requests"))
    def lab3(queryText: Column, searchResults: Column): Column =
      concat(lit("Explain this surge: "), queryText, lit("\nContext: "),
        concat_ws(" | ", transform(searchResults, r => r.getField("chunk"))))
    def lab4Base(claimId: Column, claimCity: Column, claimAmount: Column,
                 narrative: Column): Column =
      concat(lit("Claim "), claimId, lit(" city "), claimCity,
        lit(" amount "), Scalars.moneyFmt(claimAmount),
        lit(" narrative "), coalesce(narrative, lit("")))
    def lab4Policy(base: Column, searchResults: Column): Column =
      concat(base, lit(" policy context: "),
        concat_ws(" | ", transform(searchResults, r => r.getField("chunk"))))
  }

  // ------------------------------------------------------------------- lab 1

  /** Lab1 price-match: enrich orders with dims, run the price-match agent per
    * order, regex-extract the verdict (reference: LAB1-Walkthrough.md:119-262).
    */
  def lab1PriceMatch(spark: SparkSession, dir: String, limit: Int = 40): DataFrame = {
    val o = Tables(spark, dir, "orders")
    val c = Tables(spark, dir, "customer")
    val n = Tables(spark, dir, "nation")
    val enriched = o.join(broadcast(c), o("o_custkey") === c("c_custkey"))
      .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      .select(
        o("o_orderkey").as("order_id"),
        c("c_name").as("customer_name"),
        n("n_name").as("nation_name"),
        Scalars.moneyFmt(o("o_totalprice")).as("order_price"))
      .orderBy("order_id").limit(limit)

    val agent = AgentDefinition(
      name = "price_match_agent",
      model = ScriptedChatModel("scripted-pricer", Seq("http_get", "send_email"),
        verdictFor = p => if (math.floorMod(p.hashCode, 2) == 0) "MATCH" else "NO_MATCH"),
      systemPrompt = "You compare our price against a competitor page and email the customer.",
      tools = Map(
        "http_get" -> ScriptedTools.HttpGetTool(),
        "send_email" -> ScriptedTools.SendEmailTool()))

    val prompted = enriched.withColumn("prompt",
      Prompts.lab1(col("order_id"), col("customer_name"), col("nation_name"),
        col("order_price")))

    AgentRuntime.runOnColumn(prompted, agent, "prompt")
      .withColumn("verdict", regexp_extract(col("agent_response"), "VERDICT:\\s*(\\w+)", 1))
      .drop("prompt")
  }

  // ------------------------------------------------------------------- lab 2

  /** Lab2 RAG: embed the corpus, embed queries, top-k search, stuff the prompt,
    * generate (reference: terraform/lab2-vector-search/main.tf:253,292,331).
    */
  def lab2Rag(spark: SparkSession, dir: String, nQueries: Int = 5, k: Int = 3): DataFrame = {
    val docs = Tables(spark, dir, "documents")
    // embedDistinct: the corpus is the embed-cost driver and clone-heavy
    // corpora re-embed the same text — each distinct text hits the model once.
    // localCheckpoint (r16 optimization round): the corpus frame feeds the
    // route probe, the store collect / IVF build, and the chunk fetch — each
    // re-ran the scan+distinct+embed lineage; pinned blocks run it ONCE (the
    // curateFull precedent; blocks free with the DataFrame)
    val corpus = MlPredict.embedDistinct(docs, "local-embed-64", "text")
      .select(col("doc_id"), col("text").as("chunk"), col("embedding"))
      .localCheckpoint()

    val queries = docs.orderBy("doc_id").limit(nQueries)
      .select(col("doc_id").as("query_id"), col("text").as("query"))
    val embedded = MlPredict.embed(queries, "local-embed-64", "query")
    // auto: broadcast store for reference-sized collections, distributed knn
    // when the corpus outgrows the driver (VERDICT r1 wrong-#2)
    val searched = VectorSearchAgg.auto(spark, embedded, corpus, "embedding", k)
    val prompted = searched.withColumn("prompt",
      concat(
        lit("Answer using only this context:\n"),
        concat_ws("\n", transform(col("search_results"), r => r.getField("chunk"))),
        lit("\n\nQuestion: "), col("query")))
    MlPredict.generate(prompted, "local-textgen", "prompt")
      .select(col("query_id"), col("query"),
        element_at(col("search_results"), 1).getField("doc_id").as("top_doc_id"),
        element_at(col("search_results"), 1).getField("score").as("top_score"),
        size(col("search_results")).cast("long").as("n_results"),
        col("response"))
  }

  /** Streaming Lab2 embed-insert (the reference's continuous
    * `INSERT INTO queries_embed SELECT query, embedding FROM queries,
    * LATERAL TABLE(ML_PREDICT(...))`, terraform/lab2-vector-search/main.tf:253):
    * a file-stream of documents continuously embedded and appended to the
    * vector-store staging sink. The embed UDF runs row-local inside the
    * streaming micro-batch — no state, pure append.
    */
  def lab2EmbedStreaming(spark: SparkSession, dir: String, sinkPath: String,
                         checkpointPath: String): org.apache.spark.sql.streaming.StreamingQuery = {
    val docsSchema = spark.read.parquet(s"$dir/documents.parquet").schema
    val stream = spark.readStream.schema(docsSchema)
      .option("pathGlobFilter", "documents.parquet").parquet(dir)
    MlPredict.embed(stream, "local-embed-64", "text")
      .select(col("doc_id"), col("text").as("chunk"), col("embedding"))
      .writeStream
      .format("parquet")
      .option("path", sinkPath)
      .option("checkpointLocation", checkpointPath)
      .outputMode("append")
      .start()
  }

  // ------------------------------------------------------------------- lab 3

  /** Lab3 fleet: 5-min windows per zone (event_type), anomaly-detect the count
    * series, keep surges, embed a query, RAG-enrich, generate a reason
    * (reference: LAB3-Walkthrough.md:99-371).
    *
    * `ann = true` routes the RAG search through the IVF index with the
    * reference's own breadth knob — its vector tables are APPROXIMATE with
    * `numCandidates = 500` (terraform/lab3-agentic-fleet-management/
    * main.tf:110-124); `false` (default, the q34 catalog entry) keeps the
    * exact superset for rows-determinism. Output schema and surge rows are
    * identical either way; only which chunks enrich each reason can differ,
    * within the ≥ 0.95 recall gate (VectorSearchSpec).
    */
  def lab3Fleet(spark: SparkSession, dir: String, ann: Boolean = false,
                numCandidates: Int = 500): DataFrame = {
    val cfg = AnomalyDetector.Config(minTrainingSize = 8, maxTrainingSize = 50, confidencePercentage = 99.9)
    val windowed = Tumble(Tables(spark, dir, "events"), "ts", "5 minutes", col("event_type"))(
      "request_count" -> count(lit(1)),
      "total_value" -> Scalars.sumMoney(col("value")))
    val detected = AnomalyDetector.detectBatch(windowed, col("request_count"),
      Seq(col("event_type")), Seq(col("window_start")), cfg)
    val surges = detected
      .filter(col("is_anomaly") === true && col("request_count") > col("upper_bound"))
      .select(
        col("window_start").cast("timestamp_ntz").as("window_start"),
        col("event_type").as("zone"), col("request_count"),
        round(col("upper_bound"), 4).as("upper_bound"),
        Scalars.timeOfDayBucket(col("window_start")).as("time_of_day"))

    val queried = surges.withColumn("query_text",
      Prompts.lab3Query(col("zone"), col("time_of_day"), col("request_count")))

    val docs = Tables(spark, dir, "documents")
    // Overlap the two independent eager lineages (r16 optimization round,
    // guide §2.6): the QUERY side (tumble → anomaly windows → surge filter)
    // and the CORPUS side (embed pin + route probe + store collect / IVF
    // build) share no inputs but ran strictly back-to-back. The query side
    // pins on a helper thread while the corpus side builds on this one;
    // values are untouched — both lineages are deterministic, and the pin
    // only materializes what the final action would have computed anyway.
    // embedDistinct: each distinct text hits the model once — the corpus is
    // the embed-cost driver and clone-heavy corpora re-embed the same text.
    // corpus localCheckpoint: probe + collect/build + chunk fetch each
    // re-ran the embed lineage (the curateFull precedent).
    val exec = java.util.concurrent.Executors.newSingleThreadExecutor()
    try {
      val queriedF = exec.submit(new java.util.concurrent.Callable[org.apache.spark.sql.DataFrame] {
        override def call(): org.apache.spark.sql.DataFrame = queried.localCheckpoint(true)
      })
      val corpus = MlPredict.embedDistinct(docs, "local-embed-64", "text")
        .select(col("doc_id"), col("text").as("chunk"), col("embedding"))
        .localCheckpoint()
      // BOTH routes build their corpus-side store eagerly HERE, on this
      // thread, while the query side still pins on the helper (r17: the ann
      // route previously waited for the query pin and only then started the
      // IVF build inside ann(), overlapping the ~seconds-long build with
      // nothing but the tiny query-embed pin — now it overlaps the whole
      // anomaly chain; guide §2.6). prepareAnn ≡ ann: same build, same values.
      val bind: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame =
        if (ann) VectorSearchAgg.prepareAnn(corpus, "embedding", 3, numCandidates)
        else VectorSearchAgg.prepareAuto(spark, corpus, "embedding", 3)
      val queriedPinned =
        try queriedF.get()
        catch { case e: java.util.concurrent.ExecutionException => throw e.getCause }
      val embedded = MlPredict.embed(queriedPinned, "local-embed-64", "query_text")
      val enriched = bind(embedded)
      MlPredict.generate(
        enriched.withColumn("prompt", Prompts.lab3(col("query_text"), col("search_results"))),
        "local-textgen", "prompt", "reason")
        .select("window_start", "zone", "request_count", "upper_bound", "time_of_day", "reason")
    // shutdownNow (ADVICE r16): if the corpus side threw, interrupt the
    // still-running query pin instead of letting it finish discarded
    } finally exec.shutdownNow()
  }

  /** Streaming Lab3: the same topology as [[lab3Fleet]] but as a continuous
    * query — file-stream source → watermarked 5-min tumble (append on window
    * close) → transformWithState anomaly → surge filter → foreachBatch
    * RAG enrichment (embed + vector search + textgen) appended to a parquet
    * sink. foreachBatch is the agent/ML boundary (SURVEY.md §3: fused DAG with
    * per-batch side effects); in production the sink is a Kafka topic via
    * KafkaIO.sink.
    */
  def lab3FleetStreaming(spark: SparkSession, dir: String, sinkPath: String,
                         checkpointPath: String,
                         embedModel: String = "local-embed-64",
                         annCandidates: Option[Int] = None): org.apache.spark.sql.streaming.StreamingQuery = {
    import graft.streaming.{StreamingAnomaly, StreamingOps}
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val rawSchema = spark.read.parquet(s"$dir/events.parquet").schema
    val stream = spark.readStream.schema(rawSchema)
      .option("pathGlobFilter", "events.parquet").parquet(dir)
      .withColumn("ts", Tables.normalizeEventTs(rawSchema).cast("timestamp"))
    val windowed = StreamingOps.tumble(stream, "ts", "5 seconds", "5 minutes", col("event_type"))(
      "request_count" -> count(lit(1)))
    val cfg = AnomalyDetector.Config(minTrainingSize = 8, maxTrainingSize = 50, confidencePercentage = 99.9)
    val det = StreamingAnomaly(
      windowed.select(col("event_type"), col("window_start"), col("request_count")),
      "event_type", "window_start", "request_count", cfg)
    val surges = det.filter(col("is_anomaly") && col("value") > col("upper_bound"))

    // The RAG store is built ONCE, before the stream starts: the corpus is
    // near-static, so embedding + collecting it inside foreachBatch would redo
    // the full-corpus embed every micro-batch (VERDICT r1 wrong-#1). The
    // closure captures the finished store; per-batch work is only the (tiny)
    // surge-query embeds.
    val docs = Tables(spark, dir, "documents")
    val corpus = MlPredict.embedDistinct(docs, embedModel, "text")
      .select(col("doc_id"), col("text").as("chunk"), col("embedding"))
    // annCandidates = Some(nc): the reference's vector tables are ANN with
    // numCandidates = 500 (terraform lab3 main.tf:110-124) — prebuild +
    // pin the IVF index once here (the embed runs exactly once, at pin
    // time); each micro-batch then only embeds its surge queries and probes.
    // None keeps the exact broadcast store.
    val annStore = annCandidates.map { _ =>
      (graft.vector.VectorSearchAgg.buildIndex(corpus).pinned(),
        corpus.localCheckpoint())
    }
    val exactStore = if (annStore.isEmpty)
      Some(graft.vector.VectorStore.bruteForce(corpus, "doc_id", "chunk", "embedding"))
    else None

    surges.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointPath)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[graft.streaming.StreamingAnomaly.Detection], _: Long) =>
        if (!batch.isEmpty) {
          val s = batch.sparkSession
          // the batch twin's EXACT query text and prompt (shared builders):
          // value is the windowed count as a double — cast back to long so
          // the rendered text matches batch's bigint request_count
          val queried = batch.toDF().withColumn("query_text",
            Prompts.lab3Query(col("key"), Scalars.timeOfDayBucket(col("ts")),
              col("value").cast("long")))
          val embedded = MlPredict.embed(queried, embedModel, "query_text")
          val enriched = annStore match {
            case Some((ivf, chunks)) => graft.vector.VectorSearchAgg.annPrepared(
              embedded, ivf, chunks, "embedding", 3, annCandidates.get)
            case None => graft.vector.VectorSearchAgg(s, embedded, exactStore.get, "embedding", 3)
          }
          MlPredict.generate(
            enriched.withColumn("prompt", Prompts.lab3(col("query_text"), col("search_results"))),
            "local-textgen", "prompt", "reason")
            .select(col("key").as("zone"), col("ts").as("window_start"),
              col("value").as("request_count"), col("reason"))
            .write.mode("append").parquet(sinkPath)
        }
        ()
      }
      .start()
  }

  /** Streaming Lab1: file-stream orders → stream-static broadcast enrichment
    * (no state, the dims are near-static — SURVEY.md §7.4 item 2) →
    * foreachBatch agent execution → parquet sink.
    */
  def lab1PriceMatchStreaming(spark: SparkSession, dir: String, sinkPath: String,
                              checkpointPath: String, limitPerBatch: Int = 20): org.apache.spark.sql.streaming.StreamingQuery = {
    val ordersSchema = spark.read.parquet(s"$dir/orders.parquet").schema
    // ingest only the orders file: the file source needs a directory path, so
    // select the table via pathGlobFilter instead of null-filtering every
    // other table's rows each micro-batch
    val orders = spark.readStream.schema(ordersSchema)
      .option("pathGlobFilter", "orders.parquet").parquet(dir)
    val c = Tables(spark, dir, "customer")
    val n = Tables(spark, dir, "nation")
    val enriched = orders
      .join(broadcast(c), orders("o_custkey") === c("c_custkey"))
      .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      .select(
        orders("o_orderkey").as("order_id"),
        c("c_name").as("customer_name"),
        n("n_name").as("nation_name"),
        Scalars.moneyFmt(orders("o_totalprice")).as("order_price"))

    val agent = AgentDefinition(
      name = "price_match_agent",
      model = ScriptedChatModel("scripted-pricer", Seq("http_get", "send_email"),
        verdictFor = p => if (math.floorMod(p.hashCode, 2) == 0) "MATCH" else "NO_MATCH"),
      systemPrompt = "You compare our price against a competitor page and email the customer.",
      tools = Map(
        "http_get" -> ScriptedTools.HttpGetTool(),
        "send_email" -> ScriptedTools.SendEmailTool()))

    enriched.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointPath)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        if (!batch.isEmpty) {
          val bounded = batch.orderBy("order_id").limit(limitPerBatch)
            .withColumn("prompt",
              Prompts.lab1(col("order_id"), col("customer_name"), col("nation_name"),
                col("order_price")))
          AgentRuntime.runOnColumn(bounded, agent, "prompt")
            .withColumn("verdict", regexp_extract(col("agent_response"), "VERDICT:\\s*(\\w+)", 1))
            .drop("prompt")
            .write.mode("append").parquet(sinkPath)
        }
        ()
      }
      .start()
  }

  /** Streaming Lab4: 6-h tumble → stateful anomaly → foreachBatch
    * interval-join back to raw claims + judge agent → parquet sink.
    * The join/agent stage runs per micro-batch of closed-window anomalies —
    * the reference's own topology is likewise stage-decoupled (SURVEY.md §3).
    *
    * The static claims snapshot joins against every micro-batch, so it is read
    * and pinned ONCE before the stream starts (VERDICT r2 wrong-#2: re-reading
    * it inside foreachBatch is a full source scan + join per batch — at 100×
    * the table that scan dominates every batch). `staticDir` lets the snapshot
    * live somewhere other than the streamed-ingest dir (null = same dir).
    */
  def lab4FraudStreaming(spark: SparkSession, dir: String, sinkPath: String,
                         checkpointPath: String, queueLimit: Int = 10,
                         staticDir: String = null,
                         policyAnn: Option[Int] = None): org.apache.spark.sql.streaming.StreamingQuery = {
    import graft.streaming.{StreamingAnomaly, StreamingOps}
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val rawSchema = spark.read.parquet(s"$dir/events.parquet").schema
    // events*.parquet (not the single fixture name): replayed/backfill feeds
    // land as additional files and arrive in later micro-batches
    val stream = spark.readStream.schema(rawSchema)
      .option("pathGlobFilter", "events*.parquet").parquet(dir)
      .withColumn("ts", Tables.normalizeEventTs(rawSchema).cast("timestamp"))

    val claims = Tables(spark, Option(staticDir).getOrElse(dir), "events").select(
        col("event_id").as("claim_id"), col("event_type").as("claim_city"),
        col("ts").cast("timestamp").as("claim_ts"), col("value").as("claim_amount"),
        col("props").as("narrative"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    claims.count() // materialise now: no micro-batch ever re-scans the source
    val windowed = StreamingOps.tumble(stream, "ts", "5 seconds", "6 hours", col("event_type"))(
      "total_amount" -> Scalars.sumMoney(col("value")))
    val cfg = AnomalyDetector.Config(minTrainingSize = 8, maxTrainingSize = 50, confidencePercentage = 95.0)
    val spikes = StreamingAnomaly(
      windowed.select(col("event_type"), col("window_time"), col("total_amount")),
      "event_type", "window_time", "total_amount", cfg)
      .filter(col("is_anomaly") && col("value") > col("upper_bound"))

    val judge = AgentDefinition(
      name = "fraud_judge",
      model = ScriptedChatModel("scripted-judge", Seq.empty,
        verdictFor = p => Seq("APPROVE", "APPROVE_PARTIAL", "REQUEST_DOCS", "DENY_INELIGIBLE", "DENY_FRAUD")(
          math.floorMod(p.hashCode, 5))),
      systemPrompt = "Review the claim against the 9-point checklist.",
      tools = Map.empty)

    // policy-RAG store (reference terraform lab4 main.tf:270-290: ANN,
    // numCandidates = 500): built + pinned ONCE before the stream — the
    // corpus embed and k-means never run per micro-batch, same argument as
    // lab3's prebuilt store.
    val annStore = policyAnn.map { _ =>
      val corpus = MlPredict.embedDistinct(
          Tables(spark, Option(staticDir).getOrElse(dir), "documents"),
          "local-embed-64", "text")
        .select(col("doc_id"), col("text").as("chunk"), col("embedding"))
      (graft.vector.VectorSearchAgg.buildIndex(corpus).pinned(),
        corpus.localCheckpoint())
    }

    spikes.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointPath)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[graft.streaming.StreamingAnomaly.Detection], _: Long) =>
        if (!batch.isEmpty) {
          val spikeRows = batch.toDF()
            .select(col("key").as("city"), col("ts").as("window_time"))
          val queued = IntervalJoin(claims, spikeRows, "claim_city", "city",
            "claim_ts", "window_time", "'-6' HOUR", "'0' HOUR")
            .orderBy(col("claim_amount").desc, col("claim_id"))
            .limit(queueLimit)
          // the batch twin's EXACT prompt (shared builder — narrative
          // included): the judge is a deterministic function of the prompt,
          // so any text difference splits stream and batch verdicts on the
          // same claim (caught by SpotStreamingLabs at sf1 — 8/10 common
          // claims diverged before r8 pinned it)
          val basePrompt = Prompts.lab4Base(col("claim_id"), col("claim_city"),
            col("claim_amount"), col("narrative"))
          val toInvestigate = annStore match {
            case Some((ivf, chunks)) =>
              val embedded = MlPredict.embed(
                queued.withColumn("__nar", coalesce(col("narrative"), lit(""))),
                "local-embed-64", "__nar", "narrative_embedding")
              graft.vector.VectorSearchAgg.annPrepared(
                  embedded, ivf, chunks, "narrative_embedding", 3, policyAnn.get)
                .withColumn("prompt", Prompts.lab4Policy(basePrompt, col("search_results")))
                .drop("__nar", "narrative_embedding", "search_results")
            case None => queued.withColumn("prompt", basePrompt)
          }
          AgentRuntime.runOnColumn(toInvestigate, judge, "prompt")
            .withColumn("verdict", regexp_extract(col("agent_response"), "VERDICT:\\s*(\\w+)", 1))
            .select(col("claim_id"), col("claim_city"), col("claim_amount"),
              col("agent_status"), col("verdict"))
            .write.mode("append").parquet(sinkPath)
        }
        ()
      }
      .start()
  }

  // ------------------------------------------------------------------- lab 4

  /** Lab4 fraud: 6-h windows per city (event_type), anomaly on the claim-total
    * series, interval-join spikes back to raw claims, bound the queue, run the
    * judge agent, extract the verdict enum
    * (reference: LAB4-Walkthrough.md:126-445).
    *
    * `policyAnn = Some(numCandidates)` adds the reference's policy-RAG step
    * (`claims_to_investigate_with_policies`, LAB4-Walkthrough.md:280-309):
    * each queued claim's narrative is embedded and searched against the
    * policy corpus through the ANN path — the reference's fema policy
    * vectordb is approximate with numCandidates = 500
    * (terraform/lab4-pubsec-fraud-agents/main.tf:270-290) — and the top
    * sections are cited into the judge prompt. None (default, the q35
    * catalog entry) keeps the context-free prompt for rows-determinism.
    */
  def lab4Fraud(spark: SparkSession, dir: String, queueLimit: Int = 10,
                policyAnn: Option[Int] = None): DataFrame = {
    val events = Tables(spark, dir, "events")
    val cfg = AnomalyDetector.Config(minTrainingSize = 8, maxTrainingSize = 50, confidencePercentage = 95.0)
    val windowed = Tumble(events, "ts", "6 hours", col("event_type"))(
      "claim_count" -> count(lit(1)),
      "total_amount" -> Scalars.sumMoney(col("value")))
    val spikes = AnomalyDetector.detectBatch(windowed, col("total_amount"),
      Seq(col("event_type")), Seq(col("window_start")), cfg)
      .filter(col("is_anomaly") === true && col("total_amount") > col("upper_bound"))
      .select(col("event_type").as("city"), col("window_time"), col("total_amount"))

    val claims = events.select(
      col("event_id").as("claim_id"), col("event_type").as("claim_city"),
      col("ts").as("claim_ts"), col("value").as("claim_amount"), col("props").as("narrative"))

    val toInvestigate = IntervalJoin(claims, spikes, "claim_city", "city",
      "claim_ts", "window_time", "'-6' HOUR", "'0' HOUR")
      .orderBy(col("claim_amount").desc, col("claim_id"))
      .limit(queueLimit)

    val judge = AgentDefinition(
      name = "fraud_judge",
      model = ScriptedChatModel("scripted-judge", Seq.empty,
        verdictFor = p => Seq("APPROVE", "APPROVE_PARTIAL", "REQUEST_DOCS", "DENY_INELIGIBLE", "DENY_FRAUD")(
          math.floorMod(p.hashCode, 5))),
      systemPrompt = "Review the claim against the 9-point checklist.",
      tools = Map.empty)

    val basePrompt = Prompts.lab4Base(col("claim_id"), col("claim_city"),
      col("claim_amount"), col("narrative"))
    val prompted = policyAnn match {
      case Some(nc) =>
        val corpus = MlPredict.embedDistinct(Tables(spark, dir, "documents"),
            "local-embed-64", "text")
          .select(col("doc_id"), col("text").as("chunk"), col("embedding"))
        val embedded = MlPredict.embed(
          toInvestigate.withColumn("__nar", coalesce(col("narrative"), lit(""))),
          "local-embed-64", "__nar", "narrative_embedding")
        VectorSearchAgg.ann(embedded, corpus, "narrative_embedding", 3, nc)
          .withColumn("prompt", Prompts.lab4Policy(basePrompt, col("search_results")))
          .drop("__nar", "narrative_embedding", "search_results")
      case None => toInvestigate.withColumn("prompt", basePrompt)
    }

    AgentRuntime.runOnColumn(prompted, judge, "prompt")
      .withColumn("verdict", regexp_extract(col("agent_response"), "VERDICT:\\s*(\\w+)", 1))
      .select(col("claim_id"), col("claim_city"), col("claim_amount"),
        col("agent_status"), col("verdict"))
  }
}
