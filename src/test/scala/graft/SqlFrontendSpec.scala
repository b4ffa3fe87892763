package graft

import java.net.InetSocketAddress
import java.util.concurrent.Executors
import java.util.concurrent.atomic.AtomicInteger

import com.fasterxml.jackson.databind.ObjectMapper
import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.apache.spark.sql.functions.{col, count, lit, max, session_window, sum, window}
import org.scalatest.BeforeAndAfterAll

import graft.agent.AgentCatalog
import graft.sql.SqlFrontend

/** The reference's own walkthrough SQL is the fixture (the reference tests the
  * same way — testing/e2e/test_sql_extraction.py:13-32): statements are
  * extracted verbatim from LAB1-Walkthrough.md and executed through
  * [[SqlFrontend]], with the remote sides (OpenAI-compatible model endpoint,
  * MCP streamable-HTTP server) played by in-process stubs.
  */
class SqlFrontendSpec extends SparkSpec with BeforeAndAfterAll {

  private val mapper = new ObjectMapper()
  private var server: HttpServer = _
  private var base: String = _
  private val mcpCalls = new java.util.concurrent.ConcurrentHashMap[String, AtomicInteger]()

  override def beforeAll(): Unit = {
    super.beforeAll()
    server = HttpServer.create(new InetSocketAddress(0), 0)
    server.setExecutor(Executors.newFixedThreadPool(8))
    // OpenAI-compatible chat endpoint (CREATE MODEL target)
    server.createContext("/v1/chat/completions", (ex: HttpExchange) => {
      val body = mapper.readTree(ex.getRequestBody.readAllBytes())
      val msgs = body.path("messages")
      val userPrompt = (0 until msgs.size())
        .find(i => msgs.path(i).path("role").asText() == "user")
        .map(i => msgs.path(i).path("content").asText()).getOrElse("")
      // scripted agent behavior over the wire: first turn calls http_get,
      // second turn closes with a verdict (same protocol as ScriptedChatModel)
      val toolTurns = (0 until msgs.size()).count(i => msgs.path(i).path("role").asText() == "tool")
      val content =
        if (userPrompt.startsWith("Price-match") && toolTurns == 0) "TOOL:http_get competitor-url"
        else if (userPrompt.startsWith("Price-match")) "Analysis complete. Decision: PRICE_MATCH"
        else if (userPrompt.startsWith("COMPETITOR URL") && toolTurns == 0) "TOOL:http_get competitor-url"
        else if (userPrompt.startsWith("COMPETITOR URL"))
          "Competitor Price:\n19.99\n\nDecision:\nPRICE_MATCH\n\nSummary:\nPrice matched and email sent."
        else if (userPrompt.contains("send_email tool") && toolTurns == 0) "TOOL:send_email {\"to\":\"test\"}"
        else if (userPrompt.contains("send_email tool")) "Email sent successfully."
        else if (userPrompt.startsWith("CLAIM FOR REVIEW"))
          "Verdict:\nAPPROVE\n\nIssues Found:\nNone significant.\n\n" +
            "Policy Basis:\nIAPPG 1.2 applies.\n\nSummary:\nClaim appears legitimate."
        else s"stub-answer: ${userPrompt.take(40)}"
      val root = mapper.createObjectNode()
      val msg = root.putArray("choices").addObject().putObject("message")
      msg.put("role", "assistant"); msg.put("content", content)
      val bytes = mapper.writeValueAsString(root).getBytes("UTF-8")
      ex.sendResponseHeaders(200, bytes.length); ex.getResponseBody.write(bytes); ex.close()
    })
    // MCP streamable-HTTP endpoint (CREATE TOOL target): JSON-RPC tools/call
    server.createContext("/mcp", (ex: HttpExchange) => {
      val body = mapper.readTree(ex.getRequestBody.readAllBytes())
      assert(body.path("method").asText() == "tools/call")
      val tool = body.path("params").path("name").asText()
      mcpCalls.computeIfAbsent(tool, _ => new AtomicInteger(0)).incrementAndGet()
      val root = mapper.createObjectNode()
      root.put("jsonrpc", "2.0"); root.put("id", body.path("id").asInt())
      val item = root.putObject("result").putArray("content").addObject()
      item.put("type", "text"); item.put("text", s"$tool-result price=19.99")
      val bytes = mapper.writeValueAsString(root).getBytes("UTF-8")
      ex.sendResponseHeaders(200, bytes.length); ex.getResponseBody.write(bytes); ex.close()
    })
    // Atlas-like vector search endpoint (CREATE TABLE connector=mongodb target):
    // exact cosine over a tiny in-memory collection, honoring limit
    server.createContext("/vectordb", (ex: HttpExchange) => {
      val body = mapper.readTree(ex.getRequestBody.readAllBytes())
      lastVectorRequest = body
      val q = (0 until body.path("queryVector").size()).map(i => body.path("queryVector").path(i).asDouble())
      val corpus = Seq((10L, "doc-ten", Seq(1.0, 0.0)), (11L, "doc-eleven", Seq(0.6, 0.8)),
        (12L, "doc-twelve", Seq(0.0, 1.0)))
      def cos(a: Seq[Double], b: Seq[Double]) = {
        val dot = a.zip(b).map { case (x, y) => x * y }.sum
        dot / (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum))
      }
      val root = mapper.createObjectNode()
      val arr = root.putArray("results")
      corpus.map { case (id, chunk, v) => (id, chunk, cos(q, v)) }
        .sortBy { case (id, _, s) => (-s, id) }
        .take(body.path("limit").asInt())
        .foreach { case (id, chunk, s) =>
          val o = arr.addObject(); o.put("doc_id", id); o.put("chunk", chunk); o.put("score", s)
          // declared-schema fields (lab2 document_id STRING; lab4 metadata)
          o.put("document_id", id.toString)
          o.put("pages", s"p$id"); o.put("section_reference", s"SR-$id"); o.put("title", s"Title $id")
          val fc = o.putArray("fraud_categories"); fc.add("misrepresentation"); fc.add(s"cat-$id")
          val pk = o.putArray("policy_keywords"); pk.add("flood"); pk.add("damage")
          o.put("char_count", chunk.length)
        }
      val bytes = mapper.writeValueAsString(root).getBytes("UTF-8")
      ex.sendResponseHeaders(200, bytes.length); ex.getResponseBody.write(bytes); ex.close()
    })
    // remote vector-collection insert endpoint (S6 sink)
    server.createContext("/vectordb/insert", (ex: HttpExchange) => {
      val body = mapper.readTree(ex.getRequestBody.readAllBytes())
      val docs = body.path("documents")
      (0 until docs.size()).foreach { i =>
        insertedDocs.put(docs.path(i).path("doc_id").asLong(), docs.path(i).path("chunk").asText())
      }
      val root = mapper.createObjectNode()
      root.put("inserted", docs.size())
      val bytes = mapper.writeValueAsString(root).getBytes("UTF-8")
      ex.sendResponseHeaders(200, bytes.length); ex.getResponseBody.write(bytes); ex.close()
    })
    // OpenAI-compatible embeddings endpoint (embedding CREATE MODELs)
    server.createContext("/v1/embeddings", (ex: HttpExchange) => {
      val body = mapper.readTree(ex.getRequestBody.readAllBytes())
      val texts = body.path("input")
      val root = mapper.createObjectNode()
      val data = root.putArray("data")
      (0 until texts.size()).foreach { i =>
        val item = data.addObject()
        item.put("index", i)
        val emb = item.putArray("embedding")
        emb.add(texts.get(i).asText().length.toFloat); emb.add(i.toFloat)
      }
      val bytes = mapper.writeValueAsString(root).getBytes("UTF-8")
      ex.sendResponseHeaders(200, bytes.length); ex.getResponseBody.write(bytes); ex.close()
    })
    server.start()
    base = s"http://127.0.0.1:${server.getAddress.getPort}"
  }

  @volatile private var lastVectorRequest: com.fasterxml.jackson.databind.JsonNode = _
  private val insertedDocs = new java.util.concurrent.ConcurrentHashMap[Long, String]()

  override def afterAll(): Unit = { server.stop(0); super.afterAll() }

  private lazy val walkthrough =
    new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("/root/reference/LAB1-Walkthrough.md")), "UTF-8")

  private def sqlBlocks: Seq[String] =
    "(?s)```sql\\s*(.*?)```".r.findAllMatchIn(walkthrough).map(_.group(1).trim).toSeq

  test("walkthrough CREATE TOOL + CREATE AGENT execute verbatim over a live MCP stub") {
    // the terraform-provisioned connection the walkthrough assumes
    SqlFrontend.execute(spark,
      s"CREATE CONNECTION `remote-mcp-connection` WITH ('type'='MCP_SERVER', 'endpoint'='$base/mcp')")
    // the model the agent DDL names, served by the OpenAI-compatible stub
    SqlFrontend.execute(spark,
      "CREATE CONNECTION bedrock_conn WITH ('type'='bedrock', 'endpoint'='" + base + "/v1')")
    SqlFrontend.execute(spark,
      "CREATE MODEL remote_mcp_model INPUT (prompt STRING) OUTPUT (response STRING) " +
        "WITH ('provider'='bedrock', 'task'='text_generation', 'bedrock.connection'='bedrock_conn')")

    val createTool = sqlBlocks.find(_.toUpperCase.startsWith("CREATE TOOL"))
      .getOrElse(fail("walkthrough must contain CREATE TOOL"))
    val createAgent = sqlBlocks.find(_.toUpperCase.startsWith("CREATE AGENT"))
      .getOrElse(fail("walkthrough must contain CREATE AGENT"))
    SqlFrontend.execute(spark, createTool)
    SqlFrontend.execute(spark, createAgent)

    val agent = AgentCatalog.resolve("price_match_agent")
    assert(agent.tools.keySet == Set("http_get", "send_email"), s"got ${agent.tools.keySet}")
    assert(agent.maxIterations == 10 && agent.maxConsecutiveFailures == 2)
    assert(agent.systemPrompt.contains("price matching assistant"))

    // run the agent: model turn 1 → MCP http_get over real HTTP → final verdict
    mcpCalls.clear()
    val res = graft.agent.AgentRuntime.run(agent, "Price-match check for order 42 at price 29.95")
    assert(res.status == "SUCCESS", s"agent must close: $res")
    assert(res.response.contains("PRICE_MATCH"))
    assert(mcpCalls.containsKey("http_get") && mcpCalls.get("http_get").get() == 1,
      s"the MCP stub must have served the tool call, saw $mcpCalls")
  }

  test("walkthrough LATERAL TABLE(ML_PREDICT(...)) test query runs after rewrite") {
    SqlFrontend.execute(spark,
      "CREATE CONNECTION bedrock_conn2 WITH ('type'='bedrock', 'endpoint'='" + base + "/v1')")
    SqlFrontend.execute(spark,
      "CREATE MODEL llm_textgen_model INPUT (prompt STRING) OUTPUT (response STRING) " +
        "WITH ('provider'='bedrock', 'task'='text_generation', 'bedrock.connection'='bedrock_conn2')")
    val q = sqlBlocks.find(b => b.toUpperCase.contains("LATERAL TABLE(ML_PREDICT"))
      .getOrElse(fail("walkthrough must contain the LATERAL ML_PREDICT test query"))
    val rows = SqlFrontend.execute(spark, q).collect()
    assert(rows.length == 1)
    assert(rows(0).getAs[String]("question").contains("Colorado"))
    assert(rows(0).getAs[String]("response").startsWith("stub-answer:"))
  }

  test("SET / DESCRIBE / DROP and CTAS round-trip through the registries") {
    import spark.implicits._
    Seq((1L, "a"), (2L, "b")).toDF("id", "v").createOrReplaceTempView("src_tbl")
    SqlFrontend.execute(spark, "CREATE TABLE derived_tbl AS SELECT id, upper(v) AS vv FROM src_tbl")
    assert(spark.sql("SELECT * FROM derived_tbl").count() == 2)
    val desc = SqlFrontend.execute(spark, "DESCRIBE derived_tbl").collect()
    assert(desc.map(_.getString(0)).toSet == Set("id", "vv"))
    SqlFrontend.execute(spark, "SET 'sql.state-ttl' = '1 h'")
    assert(graft.sources.TableRegistry.get("sql.state-ttl").contains("1 h"))
    SqlFrontend.execute(spark, "DROP TABLE derived_tbl")
    assert(!graft.sources.TableRegistry.exists("derived_tbl"))
  }

  test("DESCRIBE AGENT|TOOL|MODEL name (the harness's two-token form) describes each kind") {
    // the harness issues exactly `DESCRIBE {obj_type} {obj_name}` for
    // AGENT/TOOL/MODEL and bare `DESCRIBE {obj_name}` for tables
    // (testing/helpers/flink_sql_helper.py:276-281)
    SqlFrontend.execute(spark,
      s"CREATE CONNECTION desc_conn WITH ('type'='mcp', 'endpoint'='$base/mcp')")
    SqlFrontend.execute(spark,
      "CREATE MODEL desc_model INPUT (prompt STRING) OUTPUT (response STRING) " +
        "WITH ('provider'='local', 'task'='text_generation')")
    SqlFrontend.execute(spark,
      "CREATE TOOL desc_tool USING CONNECTION desc_conn WITH ('type'='mcp', 'allowed_tools'='get_price')")
    SqlFrontend.execute(spark,
      "CREATE AGENT desc_agent USING MODEL desc_model USING PROMPT 'You check things.' " +
        "USING TOOLS desc_tool WITH ('max_iterations' = '5')")

    def props(sql: String): Map[String, String] =
      SqlFrontend.execute(spark, sql).collect().map(r => r.getString(0) -> r.getString(1)).toMap

    val agent = props("DESCRIBE AGENT desc_agent")
    assert(agent("name") == "desc_agent" && agent("model") == "desc_model")
    assert(agent("tools") == "get_price" && agent("max_iterations") == "5")
    val tool = props("DESCRIBE TOOL desc_tool")
    assert(tool("name") == "desc_tool")
    val model = props("DESCRIBE MODEL desc_model")
    assert(model("name") == "desc_model")
    val conn = props("DESCRIBE CONNECTION desc_conn")
    assert(conn("type") == "mcp")
    // a missing object is the FAILED-statement analog: the call must throw
    intercept[RuntimeException](SqlFrontend.execute(spark, "DESCRIBE AGENT no_such_agent"))
    intercept[Exception](SqlFrontend.execute(spark, "DESCRIBE MODEL no_such_model"))
    // and the bare table form still routes to the table registry
    import spark.implicits._
    Seq((1L, "x")).toDF("id", "v").createOrReplaceTempView("desc_tbl_src")
    SqlFrontend.execute(spark, "CREATE TABLE desc_tbl AS SELECT * FROM desc_tbl_src")
    assert(SqlFrontend.execute(spark, "DESCRIBE desc_tbl").collect()
      .map(_.getString(0)).toSet == Set("id", "v"))
    SqlFrontend.execute(spark, "DROP TABLE desc_tbl")
  }

  test("CREATE TABLE connector=mongodb registers a live remote vector store honoring numCandidates") {
    SqlFrontend.execute(spark,
      s"CREATE CONNECTION `mongodb-connection` WITH ('type'='MONGODB', 'endpoint'='$base/vectordb')")
    // the reference's lab2 DDL shape (terraform/lab2-vector-search/main.tf:215)
    SqlFrontend.execute(spark,
      "CREATE TABLE IF NOT EXISTS documents_vectordb_lab2 ( document_id STRING, chunk STRING, " +
        "embedding ARRAY<FLOAT> ) WITH ( 'connector' = 'mongodb', " +
        "'mongodb.connection' = 'mongodb-connection', 'mongodb.database' = 'graftdb', " +
        "'mongodb.collection' = 'docs', 'mongodb.index' = 'emb_idx', " +
        "'mongodb.embedding_column' = 'embedding', 'mongodb.numCandidates' = '500' )")

    val store = graft.vector.VectorTableCatalog.resolve("documents_vectordb_lab2")
    val hits = store.search(Array(1f, 0f), 2)
    assert(hits.map(_.doc_id) == Seq(10L, 11L), s"got $hits")
    assert(hits.head.chunk == "doc-ten" && hits.head.score > 0.99)
    // the table's configured ANN breadth travels on every request
    assert(lastVectorRequest.path("numCandidates").asInt() == 500)
    assert(lastVectorRequest.path("limit").asInt() == 2)
    assert(lastVectorRequest.path("index").asText() == "emb_idx")
    assert(lastVectorRequest.path("path").asText() == "embedding")

    // same trait → drives VECTOR_SEARCH_AGG unchanged
    import spark.implicits._
    val queries = Seq((1L, Seq(0.0f, 1.0f))).toDF("query_id", "embedding")
    val out = graft.vector.VectorSearchAgg(spark, queries, store, "embedding", 1)
      .selectExpr("search_results[0].doc_id AS d").as[Long].head()
    assert(out == 12L)
  }

  test("lab1 price_match_results CTAS with AI_RUN_AGENT runs verbatim over the stubs") {
    // prerequisites the walkthrough assumes: connection, model, tool, agent
    SqlFrontend.execute(spark,
      s"CREATE CONNECTION `remote-mcp-connection` WITH ('type'='MCP_SERVER', 'endpoint'='$base/mcp')")
    SqlFrontend.execute(spark,
      "CREATE CONNECTION bedrock_conn3 WITH ('type'='bedrock', 'endpoint'='" + base + "/v1')")
    SqlFrontend.execute(spark,
      "CREATE MODEL remote_mcp_model INPUT (prompt STRING) OUTPUT (response STRING) " +
        "WITH ('provider'='bedrock', 'task'='text_generation', 'bedrock.connection'='bedrock_conn3')")
    SqlFrontend.execute(spark, sqlBlocks.find(_.toUpperCase.startsWith("CREATE TOOL")).get)
    SqlFrontend.execute(spark, sqlBlocks.find(_.toUpperCase.startsWith("CREATE AGENT")).get)

    import spark.implicits._
    Seq((1L, "blue kayak", "kai@example.com", 129.99),
        (2L, "red canoe", "ada@example.com", 349.50))
      .toDF("order_id", "product_name", "customer_email", "order_price")
      .createOrReplaceTempView("enriched_orders")

    val ctas = sqlBlocks.find(b => b.toUpperCase.contains("AI_RUN_AGENT") &&
        b.toUpperCase.startsWith("CREATE TABLE"))
      .getOrElse(fail("walkthrough must contain the price_match_results CTAS"))
    mcpCalls.clear()
    SqlFrontend.execute(spark, ctas)
    val out = spark.table("price_match_results").orderBy("order_id").collect()
    assert(out.length == 2)
    assert(out.forall(_.getAs[String]("agent_status") == "SUCCESS"))
    assert(out.forall(_.getAs[String]("decision") == "PRICE_MATCH"))
    // SQL TRIM strips spaces, not the newline the section format carries
    assert(out.head.getAs[String]("competitor_price").trim == "19.99")
    assert(out.forall(_.getAs[String]("raw_response").nonEmpty))
    // each order's agent loop hit the MCP stub for its http_get
    assert(mcpCalls.get("http_get").get() >= 2, s"saw $mcpCalls")
    // CTAS is a snapshot: re-reading the table must NOT re-run the agents
    val callsAfterCtas = mcpCalls.get("http_get").get()
    spark.table("price_match_results").collect()
    spark.table("price_match_results").collect()
    assert(mcpCalls.get("http_get").get() == callsAfterCtas,
      "reads of a CTAS table must not re-execute agent calls")
  }

  test("lab1 AI_TOOL_INVOKE test query runs verbatim and invokes the tool over MCP") {
    SqlFrontend.execute(spark,
      s"CREATE CONNECTION `remote-mcp-connection` WITH ('type'='MCP_SERVER', 'endpoint'='$base/mcp')")
    SqlFrontend.execute(spark,
      "CREATE CONNECTION bedrock_conn4 WITH ('type'='bedrock', 'endpoint'='" + base + "/v1')")
    SqlFrontend.execute(spark,
      "CREATE MODEL remote_mcp_model INPUT (prompt STRING) OUTPUT (response STRING) " +
        "WITH ('provider'='bedrock', 'task'='text_generation', 'bedrock.connection'='bedrock_conn4')")
    SqlFrontend.execute(spark, sqlBlocks.find(_.toUpperCase.startsWith("CREATE TOOL")).get)

    val q = sqlBlocks.find(_.toUpperCase.contains("AI_TOOL_INVOKE"))
      .getOrElse(fail("walkthrough must contain the AI_TOOL_INVOKE test query"))
    mcpCalls.clear()
    val row = SqlFrontend.execute(spark, q).collect()
    assert(row.length == 1)
    assert(row(0).getAs[String]("response") == "Email sent successfully.")
    assert(mcpCalls.get("send_email").get() == 1, s"saw $mcpCalls")
  }

  test("lab3 completed_actions CTAS (un-aliased AI_RUN_AGENT, constraint block) runs verbatim") {
    // the walkthrough's agent, stood in by a deterministic chat producing the
    // three labeled sections its REGEXP_EXTRACTs parse
    graft.agent.AgentCatalog.register(graft.agent.AgentDefinition(
      name = "boat_dispatch_agent",
      model = new graft.ml.ChatModel {
        val name = "dispatch-stub"
        def chat(system: String, messages: Seq[graft.ml.Message]): String =
          "Dispatch Summary:\nDispatched 3 boats to the surge zone.\n\n" +
            "Dispatch JSON:\n{\"boats\": 3}\n\nAPI Response:\n{\"status\": \"ok\"}"
      },
      systemPrompt = "", tools = Map.empty))
    import spark.implicits._
    Seq(("Z-7", "2024-03-01 12:00:00", 42L, "storm surge"))
      .toDF("pickup_zone", "window_time", "request_count", "anomaly_reason")
      .createOrReplaceTempView("anomalies_enriched")

    val md = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("/root/reference/LAB3-Walkthrough.md")), "UTF-8")
    // fences anchored to line starts: the SQL itself contains inline ```json
    // inside its regex literals
    val ctas = "(?sm)^```sql\\s*\\n(.*?)^```".r.findAllMatchIn(md).map(_.group(1).trim)
      .find(b => b.toUpperCase.contains("AI_RUN_AGENT") && b.toUpperCase.startsWith("CREATE TABLE"))
      .getOrElse(fail("LAB3 walkthrough must contain the completed_actions CTAS"))
    SqlFrontend.execute(spark, ctas)
    val out = spark.table("completed_actions").collect()
    assert(out.length == 1)
    assert(out(0).getAs[String]("dispatch_summary").contains("Dispatched 3 boats"))
    assert(out(0).getAs[String]("dispatch_json").trim == "{\"boats\": 3}")
    assert(out(0).getAs[String]("api_response").trim == "{\"status\": \"ok\"}")
    assert(out(0).getAs[String]("raw_response").nonEmpty)
  }

  test("MATCH_RECOGNIZE rewrites to the lead() CEP formulation") {
    import spark.implicits._
    def ev(u: String, t: String, ts: String, id: Long, price: Double) =
      (u, t, java.sql.Timestamp.valueOf(ts), id, price)
    val df = Seq(
      ev("u1", "view", "2024-01-01 00:00:00", 1, 10.0),
      ev("u1", "click", "2024-01-01 00:01:00", 2, 11.0),
      ev("u1", "purchase", "2024-01-01 00:02:00", 3, 12.0),
      ev("u2", "view", "2024-01-01 00:00:00", 4, 10.0),
      ev("u2", "error", "2024-01-01 00:00:30", 5, 10.0), // breaks contiguity
      ev("u2", "click", "2024-01-01 00:01:00", 6, 11.0),
      ev("u2", "purchase", "2024-01-01 00:02:00", 7, 12.0),
      ev("u3", "view", "2024-01-01 00:00:00", 8, 10.0),
      ev("u3", "click", "2024-01-01 03:00:00", 9, 9.0), // price DROPS + outside WITHIN
      ev("u3", "purchase", "2024-01-01 03:01:00", 10, 12.0))
      .toDF("u", "t", "ts", "id", "price")
    df.createOrReplaceTempView("mr_events")

    val out = SqlFrontend.execute(spark,
      """SELECT * FROM mr_events
        |  MATCH_RECOGNIZE (
        |    PARTITION BY u
        |    ORDER BY ts
        |    MEASURES
        |      A.ts AS start_ts,
        |      LAST(C.ts) AS end_ts,
        |      C.price AS final_price
        |    ONE ROW PER MATCH
        |    AFTER MATCH SKIP TO NEXT ROW
        |    PATTERN (A B C) WITHIN INTERVAL '2' HOUR
        |    DEFINE
        |      A AS A.t = 'view',
        |      B AS B.t = 'click' AND B.price > A.price,
        |      C AS C.t = 'purchase'
        |  ) AS mr""".stripMargin)
    val rows = out.collect()
    assert(rows.length == 1 && rows.head.getAs[String]("u") == "u1" &&
      rows.head.getAs[Double]("final_price") == 12.0 &&
      rows.head.getAs[java.sql.Timestamp]("end_ts") == java.sql.Timestamp.valueOf("2024-01-01 00:02:00"),
      s"only u1 matches (u2 gap, u3 price-drop + WITHIN), got ${rows.mkString(";")}")

    // same text minus measures/cross-var, vs the native operator
    val sqlMatches = SqlFrontend.execute(spark,
      """SELECT * FROM mr_events
        |  MATCH_RECOGNIZE (
        |    PARTITION BY u ORDER BY ts
        |    MEASURES A.ts AS match_start_ts
        |    ONE ROW PER MATCH
        |    AFTER MATCH SKIP TO NEXT ROW
        |    PATTERN (A B C)
        |    DEFINE A AS A.t = 'view', B AS B.t = 'click', C AS C.t = 'purchase'
        |  )""".stripMargin).select("u", "match_start_ts")
    val native = graft.operators.Behavior.sequenceMatch(
      df, "u", "t", "ts", "id", Seq("view", "click", "purchase"))
      .select("u", "match_start_ts")
    assert(sqlMatches.exceptAll(native).isEmpty && native.exceptAll(sqlMatches).isEmpty)

    // RUNNING semantics in DEFINE: a forward reference sees nothing matched
    // yet -> NULL -> the pattern can never match (the standard's behavior),
    // instead of peeking at the future row
    val fwd = SqlFrontend.execute(spark,
      """SELECT * FROM mr_events MATCH_RECOGNIZE (
        |  PARTITION BY u ORDER BY ts MEASURES A.ts AS s ONE ROW PER MATCH
        |  AFTER MATCH SKIP TO NEXT ROW PATTERN (A B C)
        |  DEFINE A AS A.t = 'view', B AS B.t = 'click' AND B.price < C.price,
        |         C AS C.t = 'purchase')""".stripMargin)
    assert(fwd.isEmpty, "forward DEFINE references must be NULL (running semantics)")

    // a SKIP TO target that names no pattern variable fails loudly at parse
    val e1 = intercept[Exception](SqlFrontend.execute(spark,
      """SELECT * FROM mr_events MATCH_RECOGNIZE (
        |  PARTITION BY u ORDER BY ts MEASURES A.ts AS s ONE ROW PER MATCH
        |  AFTER MATCH SKIP TO FIRST Z PATTERN (A B) DEFINE A AS A.t = 'view')""".stripMargin))
    assert(e1.getMessage.contains("unknown pattern variable"), e1.getMessage)
    // cross-variable and self-FIRST DEFINEs under unbounded quantifiers run
    // on the scan's interpreted predicate since r10 (they used to be a loud
    // state-a-bound refusal) — these parse, plan, and execute
    SqlFrontend.execute(spark,
      """SELECT * FROM mr_events MATCH_RECOGNIZE (
        |  PARTITION BY u ORDER BY ts MEASURES FIRST(A.ts) AS s ONE ROW PER MATCH
        |  AFTER MATCH SKIP TO NEXT ROW PATTERN (A+ B)
        |  DEFINE A AS A.t = 'view', B AS B.price > A.price)""".stripMargin).collect()
    SqlFrontend.execute(spark,
      """SELECT * FROM mr_events MATCH_RECOGNIZE (
        |  PARTITION BY u ORDER BY ts MEASURES FIRST(A.ts) AS s ONE ROW PER MATCH
        |  AFTER MATCH SKIP TO NEXT ROW PATTERN (A{2,} B)
        |  DEFINE A AS A.t = 'view' AND A.price > FIRST(A.price))""".stripMargin).collect()
    // beyond the interpreted surface (r11): a function-bearing cross-variable
    // DEFINE under an unbounded pattern compiles through the Catalyst
    // fallback and EXECUTES (route parity pinned in MatchRecognizeScanSpec)
    SqlFrontend.execute(spark,
      """SELECT * FROM mr_events MATCH_RECOGNIZE (
        |  PARTITION BY u ORDER BY ts MEASURES FIRST(A.ts) AS s ONE ROW PER MATCH
        |  AFTER MATCH SKIP TO NEXT ROW PATTERN (A+ B)
        |  DEFINE A AS A.t = 'view', B AS abs(B.price) > A.price)""".stripMargin).collect()
    // the genuine limits stay loud on BOTH paths: non-determinism is refused
    val e2 = intercept[Exception](SqlFrontend.execute(spark,
      """SELECT * FROM mr_events MATCH_RECOGNIZE (
        |  PARTITION BY u ORDER BY ts MEASURES FIRST(A.ts) AS s ONE ROW PER MATCH
        |  AFTER MATCH SKIP TO NEXT ROW PATTERN (A+ B)
        |  DEFINE A AS A.t = 'view', B AS rand() > 0.5 AND B.price > A.price)""".stripMargin))
    assert(e2.getMessage.contains("deterministic"), e2.getMessage)
  }

  test("MATCH_RECOGNIZE SKIP PAST LAST ROW selects non-overlapping matches and is the default") {
    import spark.implicits._
    def ev(k: String, t: String, sec: Int, id: Long) =
      (k, t, new java.sql.Timestamp(1700000000000L + sec * 1000L), id)
    // k1: x x x x x  — PATTERN (A B) candidates start at every x with a
    // successor; skip-past greedily takes 1-2 and 3-4 (5 has no successor).
    // k2: x x y x x — the y breaks row 4's... no: candidates at 1 (covers 2)
    // and 4 (covers 5); the non-candidate y still occupies a row position.
    // k3: x x x — selecting 1-2 CONSUMES row 2's candidacy; row 3 alone can't match.
    val df = (Seq(ev("k1", "x", 0, 1), ev("k1", "x", 1, 2), ev("k1", "x", 2, 3),
      ev("k1", "x", 3, 4), ev("k1", "x", 4, 5),
      ev("k2", "x", 0, 6), ev("k2", "x", 1, 7), ev("k2", "y", 2, 8),
      ev("k2", "x", 3, 9), ev("k2", "x", 4, 10),
      ev("k3", "x", 0, 11), ev("k3", "x", 1, 12), ev("k3", "x", 2, 13)))
      .toDF("k", "t", "ts", "id")
    df.createOrReplaceTempView("mr_sp_events")

    def starts(afterMatch: String): Seq[(String, Long)] =
      SqlFrontend.execute(spark,
        s"""SELECT * FROM mr_sp_events MATCH_RECOGNIZE (
           |  PARTITION BY k ORDER BY ts
           |  MEASURES A.id AS start_id
           |  ONE ROW PER MATCH
           |  $afterMatch
           |  PATTERN (A B)
           |  DEFINE A AS A.t = 'x', B AS B.t = 'x')""".stripMargin)
        .collect().map(r => (r.getAs[String]("k"), r.getAs[Long]("start_id")))
        .sortBy(identity).toSeq

    val expected = Seq(("k1", 1L), ("k1", 3L), ("k2", 6L), ("k2", 9L), ("k3", 11L))
    assert(starts("AFTER MATCH SKIP PAST LAST ROW") == expected)
    // absent clause = the SQL standard's default strategy
    assert(starts("") == expected)
    // contrast: SKIP TO NEXT ROW keeps the overlapping starts
    assert(starts("AFTER MATCH SKIP TO NEXT ROW") ==
      Seq(("k1", 1L), ("k1", 2L), ("k1", 3L), ("k1", 4L), ("k2", 6L), ("k2", 9L),
        ("k3", 11L), ("k3", 12L)))

    // quantified + greedy: A{1,2} over x,x,x takes len 2 first, then len 1
    // (FIRST(A.id): a bare A.id is the LAST A occurrence per the standard)
    val q = SqlFrontend.execute(spark,
      """SELECT * FROM mr_sp_events MATCH_RECOGNIZE (
        |  PARTITION BY k ORDER BY ts
        |  MEASURES FIRST(A.id) AS start_id
        |  ONE ROW PER MATCH
        |  AFTER MATCH SKIP PAST LAST ROW
        |  PATTERN (A{1,2})
        |  DEFINE A AS A.t = 'x')""".stripMargin)
      .filter(col("k") === "k3")
      .collect().map(_.getAs[Long]("start_id")).sorted.toSeq
    assert(q == Seq(11L, 13L), s"greedy len-2 then len-1, got $q")

    // all three surfaces agree: SQL text, DataFrame operator, streaming twin
    import graft.streaming.StreamingSequenceMatchQ.QTok
    val op = graft.operators.Behavior.sequenceMatchSkipPast(
      df, "k", "t", "ts", "id", Seq(QTok("x", 1, 1), QTok("x", 1, 1)))
      .collect().map(r => (r.getAs[String]("k"), r.getAs[Long]("start_tie")))
      .sortBy(identity).toSeq
    assert(op == expected, s"DataFrame operator disagrees with the SQL rewrite: $op")

    implicit val sq = spark.sqlContext
    implicit val enc = org.apache.spark.sql.Encoders.product[(String, String, java.sql.Timestamp, Long)]
    val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(String, String, java.sql.Timestamp, Long)]
    val sq2 = graft.streaming.StreamingSequenceMatchQ(
      mem.toDF().toDF("k", "t", "ts", "id"), "k", "t", "ts", "id",
      pattern = Seq(QTok("x", 1, 1), QTok("x", 1, 1)), skipPast = true)
      .writeStream.format("memory").queryName("mr_sp_stream").outputMode("append").start()
    try {
      // split mid-k1 across triggers: non-overlap must hold across batches
      val rows = df.collect().map(r =>
        (r.getString(0), r.getString(1), r.getTimestamp(2), r.getLong(3))).sortBy(_._4)
      val (b1, b2) = rows.splitAt(3)
      mem.addData(b1.toSeq); sq2.processAllAvailable()
      mem.addData(b2.toSeq); sq2.processAllAvailable()
    } finally sq2.stop()
    val streamed = spark.table("mr_sp_stream").collect()
      .map(r => (r.getAs[String]("key"), r.getAs[Long]("start_tie"))).sortBy(identity).toSeq
    assert(streamed == expected, s"streaming skip-past disagrees: $streamed")
  }

  test("MATCH_RECOGNIZE PREV/NEXT navigate physically inside DEFINE") {
    import spark.implicits._
    def ev(k: String, sec: Int, id: Long, price: Double) =
      (k, new java.sql.Timestamp(1700000000000L + sec * 1000L), id, price)
    // k1: 10 11 12 9 — rising run of 2 after the start row
    val df = Seq(ev("k1", 0, 1, 10.0), ev("k1", 1, 2, 11.0), ev("k1", 2, 3, 12.0),
      ev("k1", 3, 4, 9.0)).toDF("k", "ts", "id", "price")
    df.createOrReplaceTempView("mr_nav_events")

    // the ticker idiom: S anchors anywhere, U rows strictly rise over their
    // physical predecessor (which under strict contiguity is the prior row)
    val runs = SqlFrontend.execute(spark,
      """SELECT * FROM mr_nav_events MATCH_RECOGNIZE (
        |  PARTITION BY k ORDER BY ts, id
        |  MEASURES FIRST(S.id) AS start_id, LAST(U.id) AS end_id
        |  ONE ROW PER MATCH
        |  AFTER MATCH SKIP TO NEXT ROW
        |  PATTERN (S U{1,2})
        |  DEFINE U AS U.price > PREV(U.price))""".stripMargin)
      .collect().map(r => (r.getAs[Long]("start_id"), r.getAs[Long]("end_id"))).toSet
    // start 1: greedy U{2} = rows 2,3 (11>10, 12>11); start 2: U{1} = row 3
    // (12>11; the longer option dies at 9>12); starts 3,4: no rise follows
    assert(runs == Set((1L, 3L), (2L, 3L)), s"got $runs")

    // PREV beyond the partition start is NULL -> the condition never holds
    val headless = SqlFrontend.execute(spark,
      """SELECT * FROM mr_nav_events MATCH_RECOGNIZE (
        |  PARTITION BY k ORDER BY ts, id
        |  MEASURES FIRST(U.id) AS start_id
        |  ONE ROW PER MATCH
        |  AFTER MATCH SKIP TO NEXT ROW
        |  PATTERN (U)
        |  DEFINE U AS U.price > PREV(U.price))""".stripMargin)
      .collect().map(_.getAs[Long]("start_id")).toSet
    assert(headless == Set(2L, 3L), s"row 1 has no predecessor (NULL), got $headless")

    // NEXT reads forward of the candidate row — even past the match extent
    val peak = SqlFrontend.execute(spark,
      """SELECT * FROM mr_nav_events MATCH_RECOGNIZE (
        |  PARTITION BY k ORDER BY ts, id
        |  MEASURES FIRST(P.id) AS peak_id
        |  ONE ROW PER MATCH
        |  AFTER MATCH SKIP TO NEXT ROW
        |  PATTERN (P)
        |  DEFINE P AS P.price > PREV(P.price) AND P.price > NEXT(P.price))""".stripMargin)
      .collect().map(_.getAs[Long]("peak_id")).toSet
    assert(peak == Set(3L), s"only row 3 (12) is a local peak, got $peak")

    // loud boundaries: MEASURES navigation and cross-variable navigation
    val e1 = intercept[Exception](SqlFrontend.execute(spark,
      """SELECT * FROM mr_nav_events MATCH_RECOGNIZE (
        |  PARTITION BY k ORDER BY ts, id MEASURES PREV(U.price) AS p ONE ROW PER MATCH
        |  AFTER MATCH SKIP TO NEXT ROW PATTERN (U) DEFINE U AS U.price > 0)""".stripMargin))
    assert(e1.getMessage.contains("DEFINE-only"), e1.getMessage)
    val e2 = intercept[Exception](SqlFrontend.execute(spark,
      """SELECT * FROM mr_nav_events MATCH_RECOGNIZE (
        |  PARTITION BY k ORDER BY ts, id MEASURES FIRST(A.id) AS s ONE ROW PER MATCH
        |  AFTER MATCH SKIP TO NEXT ROW PATTERN (A B)
        |  DEFINE A AS A.price > 0, B AS B.price > PREV(A.price))""".stripMargin))
    assert(e2.getMessage.contains("variable being DEFINEd"), e2.getMessage)
  }

  test("SHOW family lists every catalog kind; SHOW CREATE TABLE reconstructs DDL") {
    SqlFrontend.executeAll(spark,
      """CREATE CONNECTION show_conn WITH ('type' = 'mcp_server', 'endpoint' = 'http://localhost:1');
        |CREATE MODEL show_model INPUT (t STRING) OUTPUT (r STRING)
        |  WITH ('provider' = 'local', 'task' = 'text_generation', 'local.model' = 'local-textgen');
        |CREATE TABLE show_src (id BIGINT, ts TIMESTAMP, v DOUBLE,
        |  WATERMARK FOR ts AS ts - INTERVAL '5' SECOND)
        |  WITH ('connector' = 'datagen')""".stripMargin)
    def names(sql: String): Seq[String] =
      SqlFrontend.execute(spark, sql).collect().map(_.getString(0)).toSeq
    assert(names("SHOW TABLES").contains("show_src"))
    assert(names("SHOW MODELS").contains("show_model"))
    assert(names("SHOW CONNECTIONS").contains("show_conn"))
    assert(names("SHOW FUNCTIONS").contains("graft_l2_normalize"))
    assert(names("SHOW FUNCTIONS").contains("cosine_similarity"))
    // agents/tools surface registered definitions
    assert(names("SHOW AGENTS").isEmpty || names("SHOW AGENTS").forall(_.nonEmpty))
    val ddl = names("SHOW CREATE TABLE show_src").head
    assert(ddl.contains("CREATE TABLE `show_src`") && ddl.contains("`id` BIGINT") &&
      ddl.contains("WATERMARK FOR ts AS ts - INTERVAL '5' SECOND"), ddl)
    // the emitted DDL must ROUND-TRIP: re-executing it (renamed) keeps the
    // watermark rather than silently dropping it
    SqlFrontend.execute(spark, ddl.replace("`show_src`", "show_src_rt"))
    val rt = graft.sources.TableRegistry.resolve("show_src_rt")
    assert(rt.watermarkCol.contains("ts") && rt.watermarkDelay.contains("5 second"),
      s"watermark must survive the DDL round-trip: ${rt.watermarkCol}/${rt.watermarkDelay}")
    // SHOW JOBS is the Flink spelling of the statement-lifecycle listing
    // (`upstream` = the chain edges the r16 re-submission cascade walks)
    val jobs = SqlFrontend.execute(spark, "SHOW JOBS")
    assert(jobs.columns.toSeq == Seq("name", "status", "kind", "upstream", "statement"))
  }

  test("SESSION window TVF rewrites to native session_window; RESET clears conf") {
    import spark.implicits._
    def ev(u: String, ts: String) = (u, java.sql.Timestamp.valueOf(ts))
    val df = Seq(
      ev("u1", "2024-01-01 00:00:00"), ev("u1", "2024-01-01 00:10:00"), // one session (gap 30m)
      ev("u1", "2024-01-01 02:00:00"),                                   // new session
      ev("u2", "2024-01-01 00:00:00")).toDF("u", "ts")
    df.createOrReplaceTempView("sess_tvf_src")
    val out = SqlFrontend.execute(spark,
      """SELECT window_start, window_end, u, COUNT(*) AS cnt
        |FROM TABLE(SESSION(TABLE sess_tvf_src PARTITION BY u, DESCRIPTOR(ts), INTERVAL '30' MINUTE))
        |GROUP BY window_start, window_end, u""".stripMargin)
    val native = df.groupBy(session_window(col("ts"), "30 minutes"), col("u"))
      .agg(count(lit(1)).as("cnt"))
      .select(col("session_window.start").as("window_start"),
        col("session_window.end").as("window_end"), col("u"), col("cnt"))
    assert(out.exceptAll(native).isEmpty && native.exceptAll(out).isEmpty,
      "SESSION TVF must equal the native session_window formulation")
    assert(out.count() == 3)
    // window_time convention: end - 1 ms, usable inside expressions
    val wt = SqlFrontend.execute(spark,
      """SELECT window_time, COUNT(*) AS cnt
        |FROM TABLE(SESSION(TABLE sess_tvf_src PARTITION BY u, DESCRIPTOR(ts), INTERVAL '30' MINUTE))
        |GROUP BY window_start, window_end, window_time, u""".stripMargin)
    assert(wt.select(max("window_time")).head().getTimestamp(0).getNanos % 1000000000L != 0,
      "window_time must be end - 1ms")

    SqlFrontend.execute(spark, "SET 'graft.test.key' = 'v1'")
    assert(graft.sources.TableRegistry.get("graft.test.key").contains("v1"))
    SqlFrontend.execute(spark, "RESET 'graft.test.key'")
    assert(graft.sources.TableRegistry.get("graft.test.key").isEmpty)
    // bare RESET clears ALL registry session properties (Flink's form)
    SqlFrontend.execute(spark, "SET 'graft.test.a' = '1'")
    SqlFrontend.execute(spark, "SET 'graft.test.b' = '2'")
    SqlFrontend.execute(spark, "RESET")
    assert(graft.sources.TableRegistry.get("graft.test.a").isEmpty &&
      graft.sources.TableRegistry.get("graft.test.b").isEmpty)
  }

  test("SESSION TVF scope discipline: subqueries untouched, keys enforced, pre-agg refs rejected") {
    import spark.implicits._
    def ev(u: String, ts: String) = (u, java.sql.Timestamp.valueOf(ts))
    Seq(ev("u1", "2024-01-01 00:00:00"), ev("u1", "2024-01-01 00:10:00"),
      ev("u2", "2024-01-01 00:05:00")).toDF("u", "ts").createOrReplaceTempView("sc_events")
    Seq("u1").toDF("u").createOrReplaceTempView("sc_vip")

    // an IN-subquery with its own GROUP BY must NOT receive the session_window
    val sub = SqlFrontend.execute(spark,
      """SELECT window_start, u, COUNT(*) AS cnt
        |FROM TABLE(SESSION(TABLE sc_events PARTITION BY u, DESCRIPTOR(ts), INTERVAL '30' MINUTE))
        |WHERE u IN (SELECT u FROM sc_vip GROUP BY u)
        |GROUP BY window_start, window_end, u""".stripMargin).collect()
    assert(sub.length == 1 && sub.head.getAs[String]("u") == "u1" && sub.head.getAs[Long]("cnt") == 2)

    // dropping a PARTITION BY key from the GROUP BY would merge sessions
    // across keys — loud error, not silent global sessions
    val e1 = intercept[Exception](SqlFrontend.execute(spark,
      """SELECT window_start, COUNT(*) AS cnt
        |FROM TABLE(SESSION(TABLE sc_events PARTITION BY u, DESCRIPTOR(ts), INTERVAL '30' MINUTE))
        |GROUP BY window_start, window_end""".stripMargin))
    assert(e1.getMessage.contains("must appear in the GROUP BY"), e1.getMessage)

    // window_* before aggregation is not expressible over a grouping construct
    val e2 = intercept[Exception](SqlFrontend.execute(spark,
      """SELECT u, COUNT(*) AS cnt
        |FROM TABLE(SESSION(TABLE sc_events PARTITION BY u, DESCRIPTOR(ts), INTERVAL '30' MINUTE))
        |WHERE window_time < TIMESTAMP '2024-01-02 00:00:00'
        |GROUP BY window_start, window_end, u""".stripMargin))
    assert(e2.getMessage.contains("before"), e2.getMessage)

    // a WITH prefix recurses per stage: only the TVF-owning stage rewrites
    val cte = SqlFrontend.execute(spark,
      """WITH vips AS (SELECT u FROM sc_vip GROUP BY u)
        |SELECT window_start, e.u, COUNT(*) AS cnt
        |FROM TABLE(SESSION(TABLE sc_events PARTITION BY u, DESCRIPTOR(ts), INTERVAL '30' MINUTE)) e
        |GROUP BY window_start, window_end, e.u""".stripMargin)
    assert(cte.count() == 2, "CTE prefix must not garble the rewrite")
  }

  test("EXPLAIN surfaces the post-rewrite plan") {
    import spark.implicits._
    Seq((1L, "a"), (2L, "b")).toDF("id", "s").createOrReplaceTempView("ex_t")
    val plain = SqlFrontend.execute(spark, "EXPLAIN SELECT id FROM ex_t WHERE id > 1")
      .collect().map(_.getString(0)).mkString("\n")
    assert(plain.contains("Physical Plan"), plain.take(200))
    // Flink's other accepted form, and proof the rewrite pipeline applies:
    // a TUMBLE TVF explains as the rewritten window plan instead of erroring
    Seq((java.sql.Timestamp.valueOf("2024-01-01 00:00:00"), 1.0))
      .toDF("ts", "v").createOrReplaceTempView("ex_s")
    val tvf = SqlFrontend.execute(spark,
      """EXPLAIN PLAN FOR SELECT window_start, COUNT(*) AS n
        |FROM TABLE(TUMBLE(TABLE ex_s, DESCRIPTOR(ts), INTERVAL '5' MINUTE))
        |GROUP BY window_start""".stripMargin)
      .collect().map(_.getString(0)).mkString("\n")
    assert(tvf.contains("Physical Plan") && tvf.toLowerCase.contains("window"), tvf.take(300))
  }

  test("MATCH_RECOGNIZE bounded quantifiers expand greedily") {
    import spark.implicits._
    def ev(u: String, t: String, ts: String, price: Double) =
      (u, t, java.sql.Timestamp.valueOf(ts), price)
    // u1: view click click purchase  — B{1,2} should greedily take BOTH clicks
    // u2: view purchase              — B{1,2} cannot match (no click)
    // u3: view click purchase        — one click
    val df = Seq(
      ev("u1", "view", "2024-01-01 00:00:00", 1.0),
      ev("u1", "click", "2024-01-01 00:01:00", 2.0),
      ev("u1", "click", "2024-01-01 00:02:00", 3.0),
      ev("u1", "purchase", "2024-01-01 00:03:00", 4.0),
      ev("u2", "view", "2024-01-01 00:00:00", 1.0),
      ev("u2", "purchase", "2024-01-01 00:01:00", 2.0),
      ev("u3", "view", "2024-01-01 00:00:00", 1.0),
      ev("u3", "click", "2024-01-01 00:01:00", 5.0),
      ev("u3", "purchase", "2024-01-01 00:02:00", 6.0))
      .toDF("u", "t", "ts", "price")
    df.createOrReplaceTempView("mrq_events")

    val out = SqlFrontend.execute(spark,
      """SELECT * FROM mrq_events
        |  MATCH_RECOGNIZE (
        |    PARTITION BY u ORDER BY ts
        |    MEASURES FIRST(B.price) AS first_click, LAST(B.price) AS last_click,
        |             C.ts AS purchase_ts
        |    ONE ROW PER MATCH
        |    AFTER MATCH SKIP TO NEXT ROW
        |    PATTERN (A B{1,2} C)
        |    DEFINE A AS A.t = 'view', B AS B.t = 'click', C AS C.t = 'purchase'
        |  )""".stripMargin)
      .collect().map(r => (r.getAs[String]("u"),
        r.getAs[Double]("first_click"), r.getAs[Double]("last_click"))).sortBy(_._1)
    // u1 greedy: B×2 (prices 2.0, 3.0); u3: B×1 (5.0); u2: no match
    assert(out.toSeq == Seq(("u1", 2.0, 3.0), ("u3", 5.0, 5.0)), out.mkString(";"))

    // optional variable: absent B yields NULL measures, match still emits
    val opt = SqlFrontend.execute(spark,
      """SELECT * FROM mrq_events
        |  MATCH_RECOGNIZE (
        |    PARTITION BY u ORDER BY ts
        |    MEASURES A.ts AS start_ts, B.price AS click_price
        |    ONE ROW PER MATCH
        |    AFTER MATCH SKIP TO NEXT ROW
        |    PATTERN (A B? C)
        |    DEFINE A AS A.t = 'view', B AS B.t = 'click', C AS C.t = 'purchase'
        |  )""".stripMargin)
      .collect().map(r => (r.getAs[String]("u"), Option(r.get(r.fieldIndex("click_price")))))
      .sortBy(_._1)
    // u1: view click [click] purchase — A B C needs contiguity: B=click then C
    //     must be next row; greedy B present picks (view,click,?) — row after
    //     first click is 'click' not purchase, so B-present fails at start row;
    //     B-absent needs purchase right after view — also fails at start row.
    //     Start row 2 (click) fails A. So u1 emits NOTHING from row 0... but
    //     SKIP TO NEXT ROW tries every start: no match for u1.
    // u2: view purchase — B absent: matches, click_price NULL
    // u3: view click purchase — B present: matches, 5.0
    assert(opt.toSeq == Seq(("u2", None), ("u3", Some(5.0))), opt.mkString(";"))
  }

  test("FOR SYSTEM_TIME AS OF temporal join picks the version valid at the probe's time") {
    import spark.implicits._
    val rates = Seq(
      ("EUR", java.sql.Timestamp.valueOf("2024-01-01 00:00:00"), 1.05),
      ("EUR", java.sql.Timestamp.valueOf("2024-01-01 12:00:00"), 1.10),
      ("GBP", java.sql.Timestamp.valueOf("2024-01-01 00:00:00"), 1.25)).toDF("currency", "rate_ts", "rate")
    graft.sources.TableRegistry.createTable(graft.sources.TableRegistry.TableDef(
      "fx_rates", None, watermarkCol = Some("rate_ts"), watermarkDelay = Some("5 seconds"),
      primaryKey = Seq("currency"), load = _ => rates))
    Seq(
      (1L, "EUR", java.sql.Timestamp.valueOf("2024-01-01 06:00:00"), 100.0),
      (2L, "EUR", java.sql.Timestamp.valueOf("2024-01-01 18:00:00"), 100.0),
      (3L, "GBP", java.sql.Timestamp.valueOf("2024-01-01 12:00:00"), 50.0),
      (4L, "JPY", java.sql.Timestamp.valueOf("2024-01-01 12:00:00"), 10.0), // no version at all
      (5L, "EUR", java.sql.Timestamp.valueOf("2023-12-31 00:00:00"), 7.0)) // before first version
      .toDF("order_id", "currency", "order_ts", "amount").createOrReplaceTempView("fx_orders")
    try {
      val out = SqlFrontend.execute(spark,
        """SELECT o.order_id, r.rate, o.amount * r.rate AS converted
          |FROM fx_orders o
          |JOIN fx_rates FOR SYSTEM_TIME AS OF o.order_ts AS r
          |ON r.currency = o.currency
          |ORDER BY o.order_id""".stripMargin)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      // order 1 at 06:00 sees the 00:00 EUR rate; order 2 at 18:00 the 12:00 rate;
      // JPY and the pre-history order drop (inner temporal join)
      assert(out == Seq((1L, 1.05), (2L, 1.10), (3L, 1.25)))

      val left = SqlFrontend.execute(spark,
        """SELECT o.order_id, r.rate
          |FROM fx_orders o
          |LEFT JOIN fx_rates FOR SYSTEM_TIME AS OF o.order_ts AS r
          |ON r.currency = o.currency
          |ORDER BY o.order_id""".stripMargin).collect()
      assert(left.length == 5 && left(3).isNullAt(1) && left(4).isNullAt(1))

      // Flink's versioned-table requirement enforced
      graft.sources.TableRegistry.createTable(graft.sources.TableRegistry.TableDef(
        "fx_rates_nopk", None, load = _ => rates))
      val e = intercept[IllegalArgumentException] {
        SqlFrontend.execute(spark,
          "SELECT * FROM fx_orders o JOIN fx_rates_nopk FOR SYSTEM_TIME AS OF o.order_ts AS r ON r.currency = o.currency")
      }
      assert(e.getMessage.contains("primary key and row time attribute"))
    } finally {
      graft.sources.TableRegistry.dropTable("fx_rates")
      graft.sources.TableRegistry.dropTable("fx_rates_nopk")
    }
  }

  test("CUMULATE and HOP window TVFs rewrite to the native window semantics") {
    import spark.implicits._
    val rnd = new scala.util.Random(19)
    val ev = (1 to 500).map { i =>
      (s"t${rnd.nextInt(3)}", new java.sql.Timestamp(1700000000000L + rnd.nextInt(43200) * 1000L))
    }.toDF("etype", "ets")
    ev.createOrReplaceTempView("cum_events")

    // CUMULATE(step 30m, max 2h) — SQL result must equal the slice-decomposed operator
    val cumSql = SqlFrontend.execute(spark,
      """SELECT window_start, window_end, etype, COUNT(*) AS cnt
        |FROM TABLE(CUMULATE(TABLE cum_events, DESCRIPTOR(ets), INTERVAL '30' MINUTE, INTERVAL '2' HOUR))
        |GROUP BY window_start, window_end, etype""".stripMargin)
    val cumNative = graft.operators.Cumulate(ev, "ets", "30 minutes", "2 hours", "etype")(
      slice = Seq("c" -> count(lit(1))), merge = Seq("cnt" -> sum(col("c"))))
      .select("window_start", "window_end", "etype", "cnt")
    assert(cumSql.exceptAll(cumNative).isEmpty && cumNative.exceptAll(cumSql).isEmpty)
    assert(cumSql.count() > 0)

    // window_time rides along per-row like Flink's TVF contract
    val wt = SqlFrontend.execute(spark,
      """SELECT window_end, window_time
        |FROM TABLE(CUMULATE(TABLE cum_events, DESCRIPTOR(ets), INTERVAL '30' MINUTE, INTERVAL '2' HOUR))
        |LIMIT 1""".stripMargin).collect().head
    assert(wt.getTimestamp(1).getTime == wt.getTimestamp(0).getTime - 1)

    // HOP(slide 15m, size 30m) — must equal Spark's native sliding window
    val hopSql = SqlFrontend.execute(spark,
      """SELECT window_start, window_end, etype, COUNT(*) AS cnt
        |FROM TABLE(HOP(TABLE cum_events, DESCRIPTOR(ets), INTERVAL '15' MINUTE, INTERVAL '30' MINUTE))
        |GROUP BY window_start, window_end, etype""".stripMargin)
    val hopNative = ev
      .groupBy(window(col("ets"), "30 minutes", "15 minutes"), col("etype"))
      .agg(count(lit(1)).as("cnt"))
      .select(col("window.start").as("window_start"), col("window.end").as("window_end"),
        col("etype"), col("cnt"))
    assert(hopSql.exceptAll(hopNative).isEmpty && hopNative.exceptAll(hopSql).isEmpty)

    // Flink's integral-multiple constraints fail loudly
    assertThrows[IllegalArgumentException] {
      SqlFrontend.execute(spark,
        "SELECT * FROM TABLE(CUMULATE(TABLE cum_events, DESCRIPTOR(ets), INTERVAL '45' MINUTE, INTERVAL '2' HOUR))")
    }
    assertThrows[IllegalArgumentException] {
      SqlFrontend.execute(spark,
        "SELECT * FROM TABLE(HOP(TABLE cum_events, DESCRIPTOR(ets), INTERVAL '20' MINUTE, INTERVAL '30' MINUTE))")
    }
  }

  test("ML_DETECT_ANOMALIES config text reaches every detector knob, including ARIMA's dOrder") {
    val cfg = SqlFrontend.parseAnomalyCfg(
      "JSON_OBJECT('minTrainingSize' VALUE '8', 'maxTrainingSize' VALUE '40', " +
        "'confidencePercentage' VALUE '99.9', 'forecast' VALUE 'arima', " +
        "'arOrder' VALUE '2', 'dOrder' VALUE '0')")
    assert(cfg.forecast == "arima" && cfg.arOrder == 2 && cfg.dOrder == 0 &&
      cfg.minTrainingSize == 8 && cfg.maxTrainingSize == 40)
    // defaults: dOrder 1 (the integrated model IS the point of 'arima')
    assert(SqlFrontend.parseAnomalyCfg("JSON_OBJECT('forecast' VALUE 'arima')").dOrder == 1)
  }

  test("lab3 TUMBLE + ML_DETECT_ANOMALIES SQL runs verbatim and matches the native operators") {
    val rides = graft.sources.Generators.rideRequests(spark,
      zones = Seq("French Quarter", "Garden District", "Marigny"), surgeZone = "French Quarter",
      baseStart = java.sql.Timestamp.valueOf("2024-03-01 00:00:00"), hours = 30,
      ratePerZonePerHour = 60, surgeMultiplier = 12, surgeStartHour = 26, surgeHours = 1)
    rides.createOrReplaceTempView("ride_requests")

    val md = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("/root/reference/LAB3-Walkthrough.md")), "UTF-8")
    val blocks = "(?sm)^```sql\\s*\\n(.*?)^```".r.findAllMatchIn(md).map(_.group(1).trim).toSeq

    // the visualization query (WITH windowed_traffic AS ... ML_DETECT_ANOMALIES ...)
    val vizSql = blocks.find(b => b.toUpperCase.startsWith("WITH") && b.contains("ML_DETECT_ANOMALIES"))
      .getOrElse(fail("LAB3 walkthrough must contain the windowed anomaly query"))
    val viz = SqlFrontend.execute(spark, vizSql)
      .selectExpr("pickup_zone", "window_time", "request_count",
        "anomaly_result.is_anomaly AS is_anomaly", "round(anomaly_result.upper_bound, 6) AS ub")
      .collect().map(r => (r.getString(0), r.getTimestamp(1), r.getLong(2),
        r.getBoolean(3), Option(r.get(4)))).toSet

    // native twin: Tumble + detectBatch with the SQL's config (286/7000/99.999)
    val cfg = graft.anomaly.AnomalyDetector.Config(286, 7000, 99.999)
    val windowed = graft.operators.Tumble(rides, "request_ts", "5 minutes", col("pickup_zone"))(
      "request_count" -> count(lit(1)))
    val native = graft.anomaly.AnomalyDetector.detectBatch(windowed, col("request_count"),
      Seq(col("pickup_zone")), Seq(col("window_start")), cfg)
      .selectExpr("pickup_zone", "CAST(window_time AS TIMESTAMP) AS window_time", "request_count",
        "is_anomaly", "round(upper_bound, 6) AS ub")
      .collect().map(r => (r.getString(0), r.getTimestamp(1), r.getLong(2),
        r.getBoolean(3), Option(r.get(4)))).toSet
    assert(viz.nonEmpty && viz == native,
      s"SQL-text anomaly detection must equal the native operators (sql=${viz.size}, native=${native.size})")

    // the continuous-job CTAS (anomalies_per_zone), verbatim
    val ctas = blocks.find(b => b.toUpperCase.startsWith("CREATE TABLE") && b.contains("ML_DETECT_ANOMALIES"))
      .getOrElse(fail("LAB3 walkthrough must contain the anomalies_per_zone CTAS"))
    SqlFrontend.execute(spark, ctas)
    val surges = spark.table("anomalies_per_zone").collect()
    assert(surges.nonEmpty, "the planted surge must be detected")
    assert(surges.forall(_.getAs[Boolean]("is_surge")))
    assert(surges.exists(_.getAs[String]("pickup_zone") == "French Quarter"),
      "the surging zone must be among the flagged rows")
  }

  test("lab2 search_results CTAS with VECTOR_SEARCH_AGG runs verbatim from terraform") {
    SqlFrontend.execute(spark,
      s"CREATE CONNECTION `mongodb-connection` WITH ('type'='MONGODB', 'endpoint'='$base/vectordb')")
    SqlFrontend.execute(spark,
      "CREATE TABLE IF NOT EXISTS documents_vectordb_lab2 ( document_id STRING, chunk STRING, " +
        "embedding ARRAY<FLOAT> ) WITH ( 'connector' = 'mongodb', " +
        "'mongodb.connection' = 'mongodb-connection', 'mongodb.numCandidates' = '500' )")
    import spark.implicits._
    Seq(("what is doc ten", Seq(1.0f, 0.0f)), ("what is doc twelve", Seq(0.0f, 1.0f)))
      .toDF("query", "embedding").createOrReplaceTempView("queries_embed")

    // the exact statement the reference submits (no terraform interpolation in it)
    val tf = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("/root/reference/terraform/lab2-vector-search/main.tf")), "UTF-8")
    val stmt = "statement = \"(CREATE TABLE IF NOT EXISTS search_results[^\"]*)\"".r
      .findFirstMatchIn(tf).map(_.group(1))
      .getOrElse(fail("terraform must contain the search_results CTAS"))

    SqlFrontend.execute(spark, stmt)
    val out = spark.table("search_results").orderBy("query").collect()
    assert(out.length == 2)
    val first = out.head // "what is doc ten" → nearest is doc 10
    // document_id is STRING per the table's declared schema
    assert(first.getAs[String]("document_id_1") == "10" && first.getAs[String]("chunk_1") == "doc-ten")
    assert(first.getAs[Double]("score_1") > first.getAs[Double]("score_3"),
      "ranks must order by descending score")
    assert(out(1).getAs[String]("document_id_1") == "12")
  }

  test("INSERT INTO appends through the registry") {
    import spark.implicits._
    Seq((1L, "x")).toDF("id", "v").createOrReplaceTempView("ins_src")
    SqlFrontend.execute(spark, "CREATE TABLE ins_tgt AS SELECT id, v FROM ins_src")
    SqlFrontend.execute(spark, "INSERT INTO ins_tgt SELECT id + 1 AS id, 'y' AS v FROM ins_src")
    assert(spark.table("ins_tgt").count() == 2)
  }

  test("lab4 anomaly -> investigate -> RAG-policies SQL chain runs verbatim") {
    // deterministic claims: 3 cities x 40 six-hour windows x 5 claims, with a
    // 12x amount spike planted in Naples after the 8-window warm-up
    val claims = spark.range(600).selectExpr(
      "concat('c-', id) AS claim_id",
      "concat('Applicant ', pmod(id, 37)) AS applicant_name",
      "element_at(array('Naples', 'Tampa', 'Miami'), CAST(pmod(id, 3) + 1 AS INT)) AS city",
      "concat('Storm damage to roof and interior, claim ', id) AS claim_narrative",
      """CAST(CASE WHEN pmod(id, 3) = 0 AND CAST(id / 15 AS INT) = 35
           THEN 12000 + pmod(id * 7, 500) ELSE 1000 + pmod(id * 7, 500) END AS STRING) AS claim_amount""",
      "CAST(800 + pmod(id * 11, 400) AS STRING) AS damage_assessed",
      "'true' AS has_insurance", "CAST(500 + pmod(id, 100) AS STRING) AS insurance_amount",
      "'yes' AS is_primary_residence", "'2024-02-20' AS assessment_date",
      "'2024-02-15' AS disaster_date", "'adjuster' AS assessment_source",
      "'no' AS shared_account", "'no' AS shared_phone",
      "CAST(pmod(id, 4) AS STRING) AS previous_claims_count", "'2023-05-01' AS last_claim_date",
      "timestampadd(MINUTE, CAST(pmod(id, 15) * 17 AS INT), " +
        "timestampadd(HOUR, CAST(id / 15 AS INT) * 6, TIMESTAMP '2024-02-01 00:00:00')) AS claim_timestamp")
    claims.createOrReplaceTempView("claims")

    val md = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("/root/reference/LAB4-Walkthrough.md")), "UTF-8")
    val blocks = "(?sm)^```sql\\s*\\n(.*?)^```".r.findAllMatchIn(md).map(_.group(1).trim).toSeq

    // stage 1: SET + claims_anomalies_by_city CTAS (TUMBLE + ML_DETECT_ANOMALIES)
    SqlFrontend.executeAll(spark,
      blocks.find(_.contains("CREATE TABLE claims_anomalies_by_city AS")).getOrElse(fail("missing lab4 anomaly CTAS")))
    val anomalies = spark.table("claims_anomalies_by_city").collect()
    assert(anomalies.nonEmpty, "the planted Naples spike must be flagged")
    assert(anomalies.exists(_.getAs[String]("city") == "Naples"))
    assert(anomalies.forall(_.getAs[Boolean]("is_anomaly")))

    // stage 2: interval join back to raw claims, bounded queue
    SqlFrontend.executeAll(spark,
      blocks.find(_.contains("CREATE TABLE claims_to_investigate AS")).getOrElse(fail("missing lab4 investigate CTAS")))
    val invest = spark.table("claims_to_investigate").collect()
    assert(invest.nonEmpty && invest.length <= 10)
    assert(invest.forall(_.getAs[String]("claim_narrative").nonEmpty))

    // stage 3: embed narratives + policy RAG over the cosmosdb vector table,
    // DDL taken verbatim from the lab4 terraform
    SqlFrontend.execute(spark,
      s"CREATE CONNECTION `cosmosdb-connection-lab4` WITH ('type'='COSMOSDB', 'endpoint'='$base/vectordb')")
    SqlFrontend.execute(spark,
      "CREATE CONNECTION bedrock_conn5 WITH ('type'='bedrock', 'endpoint'='" + base + "/v1')")
    SqlFrontend.execute(spark,
      "CREATE MODEL llm_embedding_model INPUT (text STRING) OUTPUT (embedding ARRAY<FLOAT>) " +
        "WITH ('provider'='bedrock', 'task'='embedding', 'bedrock.connection'='bedrock_conn5', 'dim'='2')")
    val tf = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("/root/reference/terraform/lab4-pubsec-fraud-agents/main.tf")), "UTF-8")
    val femaDdl = "(?s)(CREATE TABLE IF NOT EXISTS fema_policies_vectordb.*?\\)\\s*;)".r
      .findFirstMatchIn(tf).map(_.group(1))
      .getOrElse(fail("lab4 terraform must contain the fema_policies_vectordb DDL"))
    SqlFrontend.execute(spark, femaDdl)
    SqlFrontend.executeAll(spark,
      blocks.find(_.contains("claims_to_investigate_with_policies")).getOrElse(fail("missing lab4 RAG CTAS")))
    val withPolicies = spark.table("claims_to_investigate_with_policies").collect()
    assert(withPolicies.length == invest.length)
    val r = withPolicies.head
    assert(r.getAs[String]("policy_chunk_1").nonEmpty)
    assert(r.getAs[String]("policy_section_1").startsWith("SR-"))
    assert(r.getAs[scala.collection.Seq[String]]("policy_fraud_cats_1").contains("misrepresentation"))
    assert(r.getAs[Double]("policy_score_1") >= r.getAs[Double]("policy_score_3"),
      "policy ranks must descend by score")

    // stage 4: the tool-less fraud agent, DDL verbatim from the walkthrough
    SqlFrontend.execute(spark,
      "CREATE MODEL llm_textgen_model INPUT (prompt STRING) OUTPUT (response STRING) " +
        "WITH ('provider'='bedrock', 'task'='text_generation', 'bedrock.connection'='bedrock_conn5')")
    val createAgent = blocks.find(_.toUpperCase.startsWith("CREATE AGENT"))
      .getOrElse(fail("missing lab4 CREATE AGENT"))
    SqlFrontend.execute(spark, createAgent)
    val agent = graft.agent.AgentCatalog.resolve("claims_fraud_investigation_agent")
    assert(agent.tools.isEmpty && agent.maxIterations == 10)
    assert(agent.systemPrompt.contains("OUTPUT RULES"))

    // stage 5: claims_reviewed CTAS (un-aliased AI_RUN_AGENT over the giant
    // CONCAT prompt), verbatim
    SqlFrontend.executeAll(spark,
      blocks.find(_.contains("CREATE TABLE claims_reviewed")).getOrElse(fail("missing claims_reviewed CTAS")))
    val reviewed = spark.table("claims_reviewed").collect()
    assert(reviewed.length == invest.length)
    assert(reviewed.forall(_.getAs[String]("verdict") == "APPROVE"))
    assert(reviewed.forall(_.getAs[String]("issues_found").contains("None significant")))
    assert(reviewed.forall(_.getAs[String]("policy_basis").contains("IAPPG")))
    assert(reviewed.forall(_.getAs[String]("summary").contains("legitimate")))
  }

  test("ALTER TABLE MODIFY WATERMARK runs verbatim from the lab3 troubleshooting section") {
    import spark.implicits._
    Seq(("r1", java.sql.Timestamp.valueOf("2024-03-01 00:00:00")))
      .toDF("request_id", "request_ts").createOrReplaceTempView("ride_requests")
    val md = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("/root/reference/LAB3-Walkthrough.md")), "UTF-8")
    val alter = "(?sm)^```sql[^\\n]*\\n(ALTER TABLE.*?)^```".r.findFirstMatchIn(md).map(_.group(1).trim)
      .getOrElse(fail("LAB3 walkthrough must contain the ALTER TABLE watermark statement"))
    SqlFrontend.execute(spark, alter)
    val t = graft.sources.TableRegistry.resolve("ride_requests")
    assert(t.watermarkCol.contains("request_ts"))
    assert(t.watermarkDelay.contains("5 second"))
  }

  test("streaming embed-insert sinks into the remote vector collection over HTTP") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val store = graft.vector.RemoteVectorStore(s"$base/vectordb", "graftdb", "docs", "idx")
    insertedDocs.clear()

    val mem = MemoryStream[(Long, String)]
    mem.addData((1L, "alpha doc"), (2L, "beta doc"))
    val embedded = graft.ml.MlPredict.embed(
      mem.toDF().toDF("doc_id", "chunk"), "local-embed-64", "chunk")
    val tmp = java.nio.file.Files.createTempDirectory("vsink").toString
    val q = graft.vector.VectorSink.writeStream(embedded, store,
      "doc_id", "chunk", "embedding", s"$tmp/ckpt").start()
    try {
      q.processAllAvailable()
      mem.addData((3L, "gamma doc"))
      q.processAllAvailable()
    } finally q.stop()

    assert(insertedDocs.size() == 3, s"all docs must land remotely, got $insertedDocs")
    assert(insertedDocs.get(2L) == "beta doc" && insertedDocs.get(3L) == "gamma doc")
  }

  test("statement splitter respects quoted semicolons and line comments") {
    val stmts = SqlFrontend.splitStatements("SET 'a' = 'x;y'; SELECT 1")
    assert(stmts == Seq("SET 'a' = 'x;y'", "SELECT 1"))
    // a leading comment must not swallow the statement after it, and a
    // semicolon inside a comment must not split
    val commented = SqlFrontend.splitStatements(
      "-- set up; carefully\nSELECT 1 -- trailing; note\n+ 2; SELECT 3")
    assert(commented == Seq("SELECT 1 \n+ 2", "SELECT 3"), s"got $commented")
    // quotes keep comment markers literal
    val quoted = SqlFrontend.splitStatements("SELECT '--not a comment'; SELECT 2")
    assert(quoted == Seq("SELECT '--not a comment'", "SELECT 2"))
  }

  test("lab2 INSERT INTO queries_embed runs verbatim from terraform (embed lateral, no column list)") {
    SqlFrontend.execute(spark,
      "CREATE CONNECTION bedrock_conn6 WITH ('type'='bedrock', 'endpoint'='" + base + "/v1')")
    SqlFrontend.execute(spark,
      "CREATE MODEL llm_embedding_model INPUT (text STRING) OUTPUT (embedding ARRAY<FLOAT>) " +
        "WITH ('provider'='bedrock', 'task'='embedding', 'bedrock.connection'='bedrock_conn6', 'dim'='2')")
    import spark.implicits._
    Seq("how do i configure flink", "what is a watermark").toDF("query")
      .createOrReplaceTempView("queries")
    spark.catalog.dropTempView("queries_embed")
    graft.sources.TableRegistry.dropTable("queries_embed")

    val tf = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("/root/reference/terraform/lab2-vector-search/main.tf")), "UTF-8")
    val stmt = "statement = \"(INSERT INTO queries_embed[^\"]*)\"".r
      .findFirstMatchIn(tf).map(_.group(1))
      .getOrElse(fail("lab2 terraform must contain the queries_embed INSERT"))
    SqlFrontend.execute(spark, stmt)
    val out = spark.table("queries_embed").collect()
    assert(out.length == 2)
    // stub embedding = [len(text), index-in-request]
    assert(out.forall(_.getAs[scala.collection.Seq[Float]]("embedding").length == 2))
    assert(out.map(_.getAs[String]("query")).toSet ==
      Set("how do i configure flink", "what is a watermark"))
  }

  test("INSERT INTO a vector table routes documents to the remote collection") {
    SqlFrontend.execute(spark,
      s"CREATE CONNECTION `mongodb-connection` WITH ('type'='MONGODB', 'endpoint'='$base/vectordb')")
    SqlFrontend.execute(spark,
      "CREATE TABLE IF NOT EXISTS docs_vdb_ins ( document_id STRING, chunk STRING, " +
        "embedding ARRAY<FLOAT> ) WITH ( 'connector' = 'mongodb', " +
        "'mongodb.connection' = 'mongodb-connection' )")
    import spark.implicits._
    Seq((21L, "inserted one", Seq(1.0f, 0.0f)), (22L, "inserted two", Seq(0.0f, 1.0f)))
      .toDF("document_id", "chunk", "embedding").createOrReplaceTempView("ins_vec_src")
    insertedDocs.clear()
    SqlFrontend.execute(spark, "INSERT INTO docs_vdb_ins SELECT document_id, chunk, embedding FROM ins_vec_src")
    assert(insertedDocs.size() == 2, s"docs must land remotely, got $insertedDocs")
    assert(insertedDocs.get(21L) == "inserted one" && insertedDocs.get(22L) == "inserted two")
  }

  test("a reserved keyword after a lateral never swallows the clause that follows it") {
    // the alias group matches WHERE and the column-list group matches (flag);
    // neither belongs to the lateral — the rewrite must resume AT the keyword
    val out = SqlFrontend.rewriteLateral(
      "SELECT o.id FROM t o, LATERAL TABLE(ML_PREDICT('m', o.txt)) WHERE (flag)")
    assert(out.contains("WHERE (flag)"), s"WHERE ( must survive: $out")
    assert(!out.toUpperCase.contains("LATERAL"), out)
  }

  test("repeated INSERT INTO appends deltas without rewriting the table") {
    import spark.implicits._
    Seq((1L, "a")).toDF("id", "v").createOrReplaceTempView("ins_delta_src1")
    Seq((2L, "b")).toDF("id", "v").createOrReplaceTempView("ins_delta_src2")
    SqlFrontend.execute(spark, "CREATE TABLE ins_delta AS SELECT * FROM ins_delta_src1")
    SqlFrontend.execute(spark, "INSERT INTO ins_delta SELECT * FROM ins_delta_src2")
    SqlFrontend.execute(spark, "INSERT INTO ins_delta SELECT 3L AS id, 'c' AS v")
    val rows = spark.table("ins_delta").orderBy("id")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(rows == Seq((1L, "a"), (2L, "b"), (3L, "c")))
    SqlFrontend.execute(spark, "DROP TABLE ins_delta")
  }
}
