package graft.perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.agent.{AgentDefinition, AgentRuntime, ScriptedChatModel, ScriptedTools}
import graft.anomaly.AnomalyDetector
import graft.core.Tables
import graft.functions.Scalars
import graft.ml.MlPredict
import graft.operators.{IntervalJoin, Tumble}
import graft.pipelines.Labs.Prompts
import graft.vector.VectorSearchAgg

/** The lab DAGs of `graft.pipelines.Labs` re-composed from the modules'
  * public stage functions, each stage materialized and timed under its layer's
  * span, so the traced run can attribute a lab's time to tumble, anomaly,
  * embed, index build, search, generate and agent stages. The final outputs
  * must fingerprint-equal the fused queries'.
  */
object Stages {
  val keys: Seq[String] = Seq("anomaly.detect_s", "operators.tumble_s", "operators.interval_join_s",
    "ml.embed_s", "ml.generate_s", "vector.index_build_s", "vector.search_s", "agent.run_s")

  /** The lab queries that have a stagewise twin here. */
  val twins: Map[String, (SparkSession, String, Tracer) => DataFrame] = Map(
    "q32_lab1_pricematch" -> lab1, "q33_lab2_rag" -> lab2,
    "q161_lab3_fleet_ann" -> lab3, "q35_lab4_fraud" -> lab4)

  /** Runs `f` as the named stage and pins its output, so the stage's cost
    * lands in its own span and not in the next stage's. */
  private def stage(t: Tracer, key: String)(f: => DataFrame): DataFrame =
    t.span(key, key.takeWhile(_ != '.')) { f.localCheckpoint(true) }

  private def agentOn(t: Tracer, df: DataFrame, agent: AgentDefinition): DataFrame = {
    val out = stage(t, "agent.run_s") { AgentRuntime.runOnColumn(df, agent, "prompt") }
    t.agentFailedRows += out.filter(col("agent_status") =!= "SUCCESS").count()
    out
  }

  def lab1(spark: SparkSession, dir: String, t: Tracer): DataFrame = {
    val o = Tables(spark, dir, "orders")
    val c = Tables(spark, dir, "customer")
    val n = Tables(spark, dir, "nation")
    val enriched = o.join(broadcast(c), o("o_custkey") === c("c_custkey"))
      .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      .select(o("o_orderkey").as("order_id"), c("c_name").as("customer_name"),
        n("n_name").as("nation_name"), Scalars.moneyFmt(o("o_totalprice")).as("order_price"))
      .orderBy("order_id").limit(40)
    val agent = AgentDefinition(
      name = "price_match_agent",
      model = ScriptedChatModel("scripted-pricer", Seq("http_get", "send_email"),
        verdictFor = p => if (math.floorMod(p.hashCode, 2) == 0) "MATCH" else "NO_MATCH"),
      systemPrompt = "You compare our price against a competitor page and email the customer.",
      tools = Map("http_get" -> ScriptedTools.HttpGetTool(), "send_email" -> ScriptedTools.SendEmailTool()))
    val prompted = enriched.withColumn("prompt",
      Prompts.lab1(col("order_id"), col("customer_name"), col("nation_name"), col("order_price")))
    agentOn(t, prompted, agent)
      .withColumn("verdict", regexp_extract(col("agent_response"), "VERDICT:\\s*(\\w+)", 1))
      .drop("prompt")
  }

  private def corpus(spark: SparkSession, dir: String, t: Tracer): DataFrame =
    stage(t, "ml.embed_s") {
      MlPredict.embedDistinct(Tables(spark, dir, "documents"), "local-embed-64", "text")
        .select(col("doc_id"), col("text").as("chunk"), col("embedding"))
    }

  def lab2(spark: SparkSession, dir: String, t: Tracer): DataFrame = {
    val docs = Tables(spark, dir, "documents")
    val corp = corpus(spark, dir, t)
    val queries = docs.orderBy("doc_id").limit(5)
      .select(col("doc_id").as("query_id"), col("text").as("query"))
    val embedded = stage(t, "ml.embed_s") { MlPredict.embed(queries, "local-embed-64", "query") }
    val bind = t.span("vector.index_build_s", "vector") {
      VectorSearchAgg.prepareAuto(spark, corp, "embedding", 3)
    }
    val searched = stage(t, "vector.search_s") { bind(embedded) }
    val prompted = searched.withColumn("prompt", concat(lit("Answer using only this context:\n"),
      concat_ws("\n", transform(col("search_results"), r => r.getField("chunk"))),
      lit("\n\nQuestion: "), col("query")))
    stage(t, "ml.generate_s") { MlPredict.generate(prompted, "local-textgen", "prompt") }
      .select(col("query_id"), col("query"),
        element_at(col("search_results"), 1).getField("doc_id").as("top_doc_id"),
        element_at(col("search_results"), 1).getField("score").as("top_score"),
        size(col("search_results")).cast("long").as("n_results"), col("response"))
  }

  /** Lab3 in its ANN form (q161). */
  def lab3(spark: SparkSession, dir: String, t: Tracer): DataFrame = {
    val cfg = AnomalyDetector.Config(minTrainingSize = 8, maxTrainingSize = 50, confidencePercentage = 99.9)
    val windowed = stage(t, "operators.tumble_s") {
      Tumble(Tables(spark, dir, "events"), "ts", "5 minutes", col("event_type"))(
        "request_count" -> count(lit(1)), "total_value" -> Scalars.sumMoney(col("value")))
    }
    val detected = stage(t, "anomaly.detect_s") {
      AnomalyDetector.detectBatch(windowed, col("request_count"),
        Seq(col("event_type")), Seq(col("window_start")), cfg)
    }
    val queried = detected
      .filter(col("is_anomaly") === true && col("request_count") > col("upper_bound"))
      .select(col("window_start").cast("timestamp_ntz").as("window_start"),
        col("event_type").as("zone"), col("request_count"),
        round(col("upper_bound"), 4).as("upper_bound"),
        Scalars.timeOfDayBucket(col("window_start")).as("time_of_day"))
      .withColumn("query_text", Prompts.lab3Query(col("zone"), col("time_of_day"), col("request_count")))
    val corp = corpus(spark, dir, t)
    val bind = t.span("vector.index_build_s", "vector") {
      VectorSearchAgg.prepareAnn(corp, "embedding", 3, 500)
    }
    val embedded = stage(t, "ml.embed_s") { MlPredict.embed(queried, "local-embed-64", "query_text") }
    val enriched = stage(t, "vector.search_s") { bind(embedded) }
    stage(t, "ml.generate_s") {
      MlPredict.generate(
        enriched.withColumn("prompt", Prompts.lab3(col("query_text"), col("search_results"))),
        "local-textgen", "prompt", "reason")
    }.select("window_start", "zone", "request_count", "upper_bound", "time_of_day", "reason")
  }

  def lab4(spark: SparkSession, dir: String, t: Tracer): DataFrame = {
    val events = Tables(spark, dir, "events")
    val cfg = AnomalyDetector.Config(minTrainingSize = 8, maxTrainingSize = 50, confidencePercentage = 95.0)
    val windowed = stage(t, "operators.tumble_s") {
      Tumble(events, "ts", "6 hours", col("event_type"))(
        "claim_count" -> count(lit(1)), "total_amount" -> Scalars.sumMoney(col("value")))
    }
    val spikes = stage(t, "anomaly.detect_s") {
      AnomalyDetector.detectBatch(windowed, col("total_amount"),
        Seq(col("event_type")), Seq(col("window_start")), cfg)
    }.filter(col("is_anomaly") === true && col("total_amount") > col("upper_bound"))
      .select(col("event_type").as("city"), col("window_time"), col("total_amount"))
    val claims = events.select(col("event_id").as("claim_id"), col("event_type").as("claim_city"),
      col("ts").as("claim_ts"), col("value").as("claim_amount"), col("props").as("narrative"))
    val toInvestigate = stage(t, "operators.interval_join_s") {
      IntervalJoin(claims, spikes, "claim_city", "city", "claim_ts", "window_time", "'-6' HOUR", "'0' HOUR")
    }.orderBy(col("claim_amount").desc, col("claim_id")).limit(10)
    val judge = AgentDefinition(
      name = "fraud_judge",
      model = ScriptedChatModel("scripted-judge", Seq.empty,
        verdictFor = p => Seq("APPROVE", "APPROVE_PARTIAL", "REQUEST_DOCS", "DENY_INELIGIBLE", "DENY_FRAUD")(
          math.floorMod(p.hashCode, 5))),
      systemPrompt = "Review the claim against the 9-point checklist.",
      tools = Map.empty)
    val prompted = toInvestigate.withColumn("prompt", Prompts.lab4Base(col("claim_id"), col("claim_city"),
      col("claim_amount"), col("narrative")))
    agentOn(t, prompted, judge)
      .withColumn("verdict", regexp_extract(col("agent_response"), "VERDICT:\\s*(\\w+)", 1))
      .select(col("claim_id"), col("claim_city"), col("claim_amount"), col("agent_status"), col("verdict"))
  }
}
