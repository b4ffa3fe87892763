package graft.sql

import scala.concurrent.duration.DurationInt

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.agent._
import graft.ml._
import graft.operators.MatchRecognize
import graft.sources.TableRegistry
import org.apache.spark.sql.graft.Bridge

/** Statement-text front-end for the reference's SQL surface (VERDICT r1
  * missing-#5): accepts the walkthroughs' DDL as text and dispatches into the
  * existing catalogs, and rewrites the `LATERAL TABLE(ML_PREDICT(...))` TVF
  * shape into the registered scalar functions before handing anything else to
  * `spark.sql`.
  *
  * Grammar covered (everything the walkthroughs/terraform actually type):
  *   - CREATE MODEL name INPUT (…) OUTPUT (…) WITH ('provider'=…, 'task'=…,
  *     '<provider>.connection'=…)           (terraform/core/main.tf:461-563)
  *   - CREATE CONNECTION name WITH ('type'=…, 'endpoint'=…)
  *                                          (terraform/lab1-tool-calling/main.tf:65-73)
  *   - CREATE TOOL name USING CONNECTION c WITH ('type'='mcp',
  *     'allowed_tools'=…, 'request_timeout'=…)   (LAB1-Walkthrough.md:141-148)
  *   - CREATE AGENT name USING MODEL m USING PROMPT '…' USING TOOLS t
  *     [COMMENT '…'] WITH (…)                    (LAB1-Walkthrough.md:155-180)
  *   - CREATE TABLE name AS SELECT …  (CTAS → temp view + TableRegistry)
  *   - SET 'k' = 'v' · DROP TABLE|MODEL|TOOL|AGENT n · DESCRIBE n
  *   - SELECT … FROM t, LATERAL TABLE(ML_PREDICT('m', col [, MAP[…]])) AS r(c)
  *     → SELECT …, ml_predict('m', col) AS c FROM t   (LAB1-Walkthrough.md:63-70)
  *
  * Statement names may be Flink-style qualified (`env`.`cluster`.`name`) —
  * the last segment is the registry key.
  */
object SqlFrontend {

  /** Execute a script of ';'-separated statements; returns the last result. */
  def executeAll(spark: SparkSession, script: String): Seq[DataFrame] =
    splitStatements(script).map(execute(spark, _))

  def execute(spark: SparkSession, statement: String): DataFrame = {
    val sql = statement.trim.stripSuffix(";").trim
    sql match {
      case CreateConnectionRe(name, props) => createConnection(spark, unqualify(name), parseProps(props))
      case CreateModelRe(name, _, output, props) => createModel(spark, unqualify(name), output, parseProps(props))
      case CreateToolRe(name, conn, props) => createTool(spark, unqualify(name), unqualify(conn), parseProps(props))
      case CreateAgentRe(name, model, prompt, tools, props) =>
        createAgent(spark, unqualify(name), unqualify(model), prompt,
          Option(tools).getOrElse(""), parseProps(Option(props).getOrElse("")))
      case CtasRe(name, select) if StreamPlanner.referencesStream(select) =>
        // the reference's CTAS over a topic-backed table is a STANDING
        // continuous statement (PENDING → RUNNING until stopped —
        // testing/helpers/flink_sql_helper.py:98-136): start a StreamingQuery
        StreamPlanner.startCtas(spark, unqualify(name), select, sql)
        status(spark, "TABLE", unqualify(name))
      case CtasRe(name, select) =>
        // CTAS over bounded tables is a one-time SNAPSHOT: materialize before
        // registering, or a query with agent/model calls would re-execute
        // them (fresh responses, duplicated tool side effects) on every read
        val df = materialize(spark, unqualify(name), parseSql(spark, select))
        TableRegistry.createTableAs(spark, unqualify(name), df)
        df.createOrReplaceTempView(unqualify(name))
        StatementCatalog.recordCompleted(unqualify(name), sql)
        status(spark, "TABLE", unqualify(name))
      case CreateVectorTableRe(name, cols, props) if parseProps(props).get("connector").exists(connectorIsVector) =>
        createVectorTable(spark, unqualify(name), cols, parseProps(props))
      case InsertRe(name, select) if StreamPlanner.referencesStream(select) =>
        // a standing INSERT INTO … SELECT over a stream table (the reference's
        // continuous `INSERT INTO queries_embed SELECT …`,
        // terraform/lab2-vector-search/main.tf:253)
        StreamPlanner.startInsert(spark, unqualify(name), select, sql)
        status(spark, "INSERT", unqualify(name))
      case InsertRe(name, select) =>
        // INSERT INTO t SELECT … (bounded batch semantics = append snapshot;
        // stream-sourced inserts take the standing branch above). A VECTOR table
        // target routes the rows to the remote collection over HTTP — the
        // reference's `INSERT INTO documents_vectordb SELECT …, embedding`
        // flow (terraform/lab2-vector-search/main.tf:238-263); anything else
        // appends to the local registry (snapshotted, like CTAS).
        val df = parseSql(spark, select)
        val tgt = unqualify(name)
        scala.util.Try(graft.vector.VectorTableCatalog.resolve(tgt)).toOption match {
          case Some(remote: graft.vector.RemoteVectorStore) =>
            insertIntoVectorTable(df, remote)
          case _ =>
            // only the DELTA hits disk; the registered table is the lazy
            // union of the (already disk-backed) prior contents and the new
            // snapshot. N inserts = N parquet dirs read once each — the
            // rewrite-the-whole-table formulation did O(N²) write volume.
            val snap = materialize(spark, tgt, df)
            val merged =
              if (TableRegistry.exists(tgt))
                TableRegistry.resolve(tgt).load(spark).unionByName(snap)
              else snap
            TableRegistry.createTableAs(spark, tgt, merged)
            merged.createOrReplaceTempView(tgt)
        }
        StatementCatalog.recordCompleted(s"insert-into-$tgt", sql)
        status(spark, "INSERT", tgt)
      case AlterWatermarkRe(name, wmCol, delayN, delayUnit) =>
        val tgt = unqualify(name)
        if (!TableRegistry.exists(tgt))
          TableRegistry.createTable(TableRegistry.TableDef(tgt, None, load = s => s.table(tgt)))
        TableRegistry.alterWatermark(tgt, wmCol, s"$delayN ${delayUnit.toLowerCase}")
        status(spark, "ALTER TABLE", tgt)
      case SetRe(k, v) =>
        TableRegistry.set(k, v); status(spark, "SET", s"$k=$v")
      case ResetRe(k) =>
        TableRegistry.unset(k); status(spark, "RESET", k)
      case BareResetRe() =>
        // Flink's bare RESET clears ALL session properties — intercept before
        // Spark's RESET (which would clear Spark conf and leave the registry's
        // properties stale, silently)
        TableRegistry.clearConf(); status(spark, "RESET", "ALL")
      case ShowStatementsRe() =>
        // the statement-lifecycle surface (`confluent flink statement list` /
        // the harness's get_statement_status — flink_sql_helper.py:98-160)
        import spark.implicits._
        StatementCatalog.list.toDF("name", "status", "kind", "upstream", "statement")
      case StopStatementRe(quoted, bare) =>
        val name = Option(quoted).getOrElse(bare)
        require(StatementCatalog.get(name).isDefined, s"no statement '$name'")
        StatementCatalog.stop(name)
        status(spark, "STOP STATEMENT", name)
      case ResumeStatementRe(quoted, bare) =>
        val name = Option(quoted).getOrElse(bare)
        StatementCatalog.relightStanding(name) // loud on unknown / one-shot
        status(spark, "RESUME STATEMENT", name)
      case CreateTableHeadRe() =>
        // declared-schema CREATE TABLE (terraform/topic-table form): columns +
        // PRIMARY KEY + WATERMARK land in the registry; the table starts as
        // an empty relation that INSERT INTO / standing statements fill
        createDeclaredTable(spark, sql)
      case ShowRe(kind) => showObjects(spark, kind.toUpperCase)
      case ShowCreateRe(name) => showCreateTable(spark, unqualify(name))
      case ExplainRe(query) =>
        // the user-facing plan surface (Flink's EXPLAIN [PLAN FOR]): the
        // query goes through the SAME rewrite pipeline as execution, so what
        // the user reads is the plan that would actually run
        import spark.implicits._
        parseSql(spark, query).queryExecution
          .explainString(org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
          .split("\n").toSeq.toDF("plan")
      case DropRe(kind, name) => drop(spark, kind.toUpperCase, unqualify(name))
      case DescribeTypedRe(kind, name) => describeObject(spark, kind.toUpperCase, unqualify(name))
      case DescribeRe(name) =>
        import spark.implicits._
        TableRegistry.describe(unqualify(name)).toDF("col_name", "data_type")
      case other => parseSql(spark, other)
    }
  }

  /** CTAS/INSERT snapshot: written to a session-scoped warehouse directory
    * and read back. Disk-backed — no executor-storage pinning (a
    * localCheckpoint would grow block-manager memory per statement and die
    * with a lost executor), reads recompute from files, side effects run
    * exactly once at statement time.
    */
  private val warehouseCleanup = new java.util.concurrent.atomic.AtomicBoolean(false)

  private def materialize(spark: SparkSession, name: String, df: DataFrame): DataFrame = {
    val root = s"${System.getProperty("java.io.tmpdir")}/graft_warehouse/" +
      spark.sparkContext.applicationId
    if (warehouseCleanup.compareAndSet(false, true))
      Runtime.getRuntime.addShutdownHook(new Thread(() => deleteRecursively(new java.io.File(root))))
    val dir = s"$root/${name}_${System.nanoTime()}"
    df.write.mode("overwrite").parquet(dir)
    spark.read.parquet(dir)
  }

  private def deleteRecursively(f: java.io.File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(deleteRecursively))
    f.delete(): Unit
  }

  /** Parse query text with Flink/standard-SQL string-literal semantics:
    * backslashes stay literal (the walkthrough regexes — `'\*{0,2}…'`,
    * LAB1-Walkthrough.md:203-205 — depend on it). Spark's default literal
    * parser strips them; the legacy rule is scoped to this thread's parses
    * of this statement (the rewrite's own included) by
    * `Bridge.withLiteralStrings`, and the session's conf is never written.
    */
  private[graft] def parseSql(spark: SparkSession, text: String): DataFrame = {
    // continuously-written standing-statement sinks re-resolve their parquet
    // file listing on every read (a stored temp-view plan would pin the file
    // index from view-creation time and never see new micro-batch output)
    TableRegistry.refreshOnRead
      .filter(t => ("(?i)\\b" + java.util.regex.Pattern.quote(t) + "\\b").r.findFirstIn(text).isDefined)
      .foreach(t => TableRegistry.resolve(t).load(spark).createOrReplaceTempView(t))
    val prevScope = ephemeralViews.get()
    ephemeralViews.set(scala.collection.mutable.Buffer.empty[String])
    try Bridge.withLiteralStrings(spark)(Bridge.sql(spark, rewrite(spark, text)))
    finally {
      // rewrite-registered intermediate views (llmops TVFs, MATCH_RECOGNIZE
      // scan / skip-past relations) are statement-scoped: the analyzed plan
      // no longer references them, and without this drop repeated executions
      // of one statement text accumulate views and cached plans for the
      // session's lifetime (r8 ADVICE)
      ephemeralViews.get().foreach(v => spark.catalog.dropTempView(v))
      ephemeralViews.set(prevScope)
    }
  }

  /** Names of rewrite-registered views created while parsing ONE statement;
    * null outside a [[parseSql]] scope (direct rewrite calls in specs keep
    * today's leave-the-view behavior).
    */
  private val ephemeralViews = new ThreadLocal[scala.collection.mutable.Buffer[String]]
  private[graft] def trackEphemeralView(name: String): Unit =
    Option(ephemeralViews.get()).foreach(_ += name)

  // ------------------------------------------------------------------ grammar

  private val CreateConnectionRe =
    "(?is)^CREATE\\s+CONNECTION\\s+(\\S+)\\s+WITH\\s*\\((.*)\\)$".r
  private val CreateModelRe =
    "(?is)^CREATE\\s+MODEL\\s+(\\S+)\\s+INPUT\\s*\\(([^)]*)\\)\\s*OUTPUT\\s*\\(([^)]*)\\)\\s*WITH\\s*\\((.*)\\)$".r
  private val CreateToolRe =
    "(?is)^CREATE\\s+TOOL\\s+(\\S+)\\s+USING\\s+CONNECTION\\s+(\\S+)\\s+WITH\\s*\\((.*)\\)$".r
  // USING TOOLS is optional — lab4's fraud agent is tool-less
  // (LAB4-Walkthrough.md:330-384). The quoted-string pattern is the linear
  // "runs of non-quotes, optionally joined by doubled quotes" form — the
  // per-character alternation (?:[^']|'')* recurses once per character and
  // overflows the stack on lab4's ~50-line prompt.
  private val QuotedBody = "[^']*(?:''[^']*)*"
  private val CreateAgentRe =
    (s"(?is)^CREATE\\s+AGENT\\s+(\\S+)\\s+USING\\s+MODEL\\s+(\\S+)\\s+USING\\s+PROMPT\\s+'($QuotedBody)'" +
      s"(?:\\s+USING\\s+TOOLS\\s+([`\\w,\\s.-]+?))?(?:\\s+COMMENT\\s+'$QuotedBody')?(?:\\s+WITH\\s*\\((.*)\\))?$$").r
  // CTAS may carry a constraint block and table options before AS
  // (LAB3-Walkthrough.md:455-459: `CREATE TABLE completed_actions (PRIMARY KEY
  // (pickup_zone) NOT ENFORCED) WITH ('changelog.mode'='append') AS SELECT …`)
  private val CtasRe =
    ("(?is)^CREATE\\s+TABLE\\s+(?:IF\\s+NOT\\s+EXISTS\\s+)?(\\S+)\\s*" +
      "(?:\\((?:[^()]|\\([^()]*\\))*\\)\\s*)?(?:WITH\\s*\\((?:'[^']*'|[^)'])*\\)\\s*)?AS\\s+((?:SELECT|WITH).*)$").r
  private val CreateVectorTableRe =
    "(?is)^CREATE\\s+TABLE\\s+(?:IF\\s+NOT\\s+EXISTS\\s+)?(\\S+)\\s*\\(([^)]*)\\)\\s*WITH\\s*\\((.*)\\)$".r
  // any remaining CREATE TABLE with a declared column list (nested parens —
  // TIMESTAMP(3), DECIMAL(10,2) — break the simpler regexes above, so this
  // one only anchors the head and the body is parsed with balancedArgs)
  private val CreateTableHeadRe =
    "(?is)^CREATE\\s+TABLE\\s+(?:IF\\s+NOT\\s+EXISTS\\s+)?[\\w.`]+\\s*\\(.*$".r
  private val InsertRe =
    "(?is)^INSERT\\s+INTO\\s+(\\S+)\\s+(SELECT.*)$".r
  // ALTER TABLE t MODIFY (WATERMARK FOR ts AS ts - INTERVAL '5' SECOND)
  // (LAB3-Walkthrough.md:494-495)
  private val AlterWatermarkRe =
    ("(?is)^ALTER\\s+TABLE\\s+(\\S+)\\s+MODIFY\\s*\\(\\s*WATERMARK\\s+FOR\\s+(\\w+)\\s+AS\\s+" +
      "\\w+\\s*-\\s*INTERVAL\\s+'(\\d+)'\\s+(\\w+)\\s*\\)$").r
  private val SetRe = "(?is)^SET\\s+'([^']+)'\\s*=\\s*'([^']*)'$".r
  private val ResetRe = "(?is)^RESET\\s+'([^']+)'$".r
  private val BareResetRe = "(?is)^RESET$".r
  private val ShowStatementsRe = "(?is)^SHOW\\s+(?:STATEMENTS|JOBS)$".r
  // the statement stop/resume lifecycle (`confluent flink statement
  // stop|resume <name>`, the product ops the harness drives via CLI) as SQL:
  // STOP halts the continuous query keeping sink + checkpoint readable;
  // RESUME relights a NEW instance on the SAME checkpoint (r14 —
  // StatementCatalog.relightStanding), continuing exactly where it stopped
  // quotes must balance: either 'name' or name — a stray half-quote
  // (STOP STATEMENT 'name) is a parse error, matching the CLI surface
  private val StopStatementRe = "(?is)^STOP\\s+STATEMENT\\s+(?:'([\\w-]+)'|([\\w-]+))$".r
  private val ResumeStatementRe = "(?is)^RESUME\\s+STATEMENT\\s+(?:'([\\w-]+)'|([\\w-]+))$".r
  private val ShowRe = "(?is)^SHOW\\s+(TABLES|VIEWS|MODELS|TOOLS|AGENTS|CONNECTIONS|FUNCTIONS)$".r
  private val ShowCreateRe = "(?is)^SHOW\\s+CREATE\\s+TABLE\\s+([\\w.`]+)$".r
  // Flink accepts both `EXPLAIN <query>` and `EXPLAIN PLAN FOR <query>`
  private val ExplainRe = "(?is)^EXPLAIN\\s+(?:PLAN\\s+FOR\\s+)?(.+)$".r
  private val DropRe = "(?is)^DROP\\s+(TABLE|MODEL|TOOL|AGENT|CONNECTION)\\s+(?:IF\\s+EXISTS\\s+)?(\\S+)$".r
  // the reference harness issues both forms: bare `DESCRIBE t` for tables and
  // `DESCRIBE AGENT|TOOL|MODEL name` for the typed objects ("DESCRIBE TABLE
  // foo is invalid" — testing/helpers/flink_sql_helper.py:276-281)
  private val DescribeTypedRe = "(?is)^DESCRIBE\\s+(AGENT|TOOL|MODEL|CONNECTION)\\s+(\\S+)$".r
  private val DescribeRe = "(?is)^DESCRIBE\\s+(\\S+)$".r

  /** `'k' = 'v'` pairs inside a WITH(...) clause; keys lower-cased (the
    * reference mixes 'MAX_ITERATIONS' and 'max_consecutive_failures').
    */
  private[graft] def parseProps(s: String): Map[String, String] =
    "'([^']*)'\\s*=\\s*'([^']*)'".r.findAllMatchIn(s)
      .map(m => m.group(1).toLowerCase -> m.group(2)).toMap

  /** `` `env`.`cluster`.`name` `` → `name`. */
  private[graft] def unqualify(name: String): String =
    name.replace("`", "").split('.').last.trim

  /** Split on ';' outside single-quoted strings, with `--` line comments
    * (outside strings) stripped FIRST — a comment may contain ';', and a
    * statement may legitimately start after a leading comment line.
    */
  private[graft] def splitStatements(script: String): Seq[String] = {
    val sb = new StringBuilder
    var inQuote = false
    var inComment = false
    var i = 0
    while (i < script.length) {
      val c = script.charAt(i)
      if (inComment) { if (c == '\n') { inComment = false; sb += c } }
      else if (inQuote) { sb += c; if (c == '\'') inQuote = false }
      else if (c == '\'') { inQuote = true; sb += c }
      else if (c == '-' && i + 1 < script.length && script.charAt(i + 1) == '-') { inComment = true; i += 1 }
      else sb += c
      i += 1
    }
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    val cur = new StringBuilder
    inQuote = false
    sb.toString.foreach {
      case '\'' => inQuote = !inQuote; cur += '\''
      case ';' if !inQuote => out += cur.toString; cur.clear()
      case c => cur += c
    }
    if (cur.toString.trim.nonEmpty) out += cur.toString
    out.toSeq.map(_.trim).filter(_.nonEmpty)
  }

  /** Rows → remote vector collection: id = the first column that is neither
    * the chunk text nor the embedding; batched per partition via VectorSink.
    */
  private def insertIntoVectorTable(df: DataFrame, remote: graft.vector.RemoteVectorStore): Unit = {
    val embCol = remote.embeddingColumn
    val cols = df.columns
    require(cols.contains(embCol), s"INSERT into vector table needs an '$embCol' column, got ${cols.mkString(",")}")
    val chunkCol = cols.find(_.equalsIgnoreCase("chunk"))
      .getOrElse(sys.error("INSERT into vector table needs a 'chunk' column"))
    val idCandidates = cols.filter(c => c != embCol && c != chunkCol)
    // exactly (id, chunk, embedding): extra columns would be silently dropped
    // — fail loudly so the caller projects explicitly
    require(idCandidates.length == 1,
      s"INSERT into vector table expects exactly (id, chunk, $embCol); got ${cols.mkString(", ")}")
    graft.vector.VectorSink.writeBatch(df, remote, idCandidates.head, chunkCol, embCol)
  }

  // ---------------------------------------------------------------- dispatch

  private def connectorIsVector(c: String): Boolean =
    Set("mongodb", "cosmosdb", "azure-cosmos")(c.toLowerCase)

  /** External vector table (terraform/lab2-vector-search/main.tf:215): builds a
    * [[graft.vector.RemoteVectorStore]] from the `<connector>.*` options —
    * database, collection, index, embedding_column, and the ANN breadth
    * `numCandidates` — resolving the endpoint through the named connection.
    */
  private def createVectorTable(spark: SparkSession, name: String, colSpec: String,
                                props: Map[String, String]): DataFrame = {
    val connector = props("connector").toLowerCase
    def opt(key: String, default: => String): String =
      props.getOrElse(s"$connector.$key".toLowerCase, default)
    val endpoint = props.get(s"$connector.connection")
      .map(c => ConnectionCatalog.resolve(unqualify(c)).endpoint)
      .getOrElse(opt("endpoint", sys.error(s"vector table '$name' needs a connection or endpoint")))
    val embCol = opt("embedding_column", "embedding")
    // result shape = declared columns minus the embedding vector, plus score
    val resultSchema = parseColumns(colSpec).filterNot(_.name == embCol) match {
      case Seq() => None
      case fields => Some(org.apache.spark.sql.types.StructType(
        fields :+ org.apache.spark.sql.types.StructField("score", org.apache.spark.sql.types.DoubleType)))
    }
    graft.vector.VectorTableCatalog.register(name, graft.vector.RemoteVectorStore(
      endpoint = endpoint,
      database = opt("database", "default"),
      collection = opt("collection", opt("container", name)),
      index = opt("index", s"${name}_index"),
      embeddingColumn = embCol,
      numCandidates = opt("numcandidates", "500").toInt), resultSchema)
    status(spark, "VECTOR TABLE", name)
  }

  /** `name TYPE, name TYPE, …` → struct fields (the vector-table DDL column
    * vocabulary: primitives + ARRAY<STRING|FLOAT>).
    */
  /** Split on top-level commas only (parens/brackets/quotes protected) —
    * DECIMAL(10,2), ARRAY<...>, and quoted literals stay whole.
    */
  private[graft] def topLevelSplit(s: String): Seq[String] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    val cur = new StringBuilder
    var depth = 0; var inQuote = false
    s.foreach { c =>
      if (inQuote) { cur += c; if (c == '\'') inQuote = false }
      else c match {
        case '\''              => inQuote = true; cur += c
        case '(' | '[' | '<'   => depth += 1; cur += c
        case ')' | ']' | '>'   => depth -= 1; cur += c
        case ',' if depth == 0 => out += cur.toString.trim; cur.clear()
        case other             => cur += other
      }
    }
    if (cur.toString.trim.nonEmpty) out += cur.toString.trim
    out.toSeq
  }

  private[graft] def parseColumns(spec: String): Seq[org.apache.spark.sql.types.StructField] = {
    import org.apache.spark.sql.types._
    val DecimalRe = "DECIMAL\\((\\d+),(\\d+)\\)".r
    def typ(t: String): DataType = t.trim.toUpperCase.replaceAll("\\s+", "") match {
      case "STRING" | "VARCHAR"     => StringType
      case "INT" | "INTEGER"        => IntegerType
      case "BIGINT"                 => LongType
      case "FLOAT"                  => FloatType
      case "DOUBLE"                 => DoubleType
      case "BOOLEAN"                => BooleanType
      case "BYTES" | "BINARY"       => BinaryType
      case "ARRAY<STRING>"          => ArrayType(StringType)
      case "ARRAY<FLOAT>"           => ArrayType(FloatType)
      case "ARRAY<DOUBLE>"          => ArrayType(DoubleType)
      case DecimalRe(p, sc)         => DecimalType(p.toInt, sc.toInt)
      // Flink TIMESTAMP(p) is wall-clock (NTZ); TIMESTAMP_LTZ(p) is instant.
      // The session runs UTC (known-hard #6), where Spark's TimestampType
      // matches LTZ exactly; plain TIMESTAMP maps to it too because every
      // lab pipeline compares within one table's convention.
      case ts if ts.startsWith("TIMESTAMP_NTZ") => TimestampNTZType
      case ts if ts.startsWith("TIMESTAMP")     => TimestampType
      case other => throw new IllegalArgumentException(s"unsupported column type: $other")
    }
    topLevelSplit(spec).filter(_.nonEmpty)
      .filterNot(c => c.toUpperCase.startsWith("PRIMARY") || c.toUpperCase.startsWith("WATERMARK"))
      .map { c =>
        val parts = c.split("\\s+", 2)
        require(parts.length == 2,
          s"column entry '$c' has a name but no type in: $spec")
        org.apache.spark.sql.types.StructField(unqualify(parts(0)), typ(parts(1)))
      }.toSeq
  }

  private def createConnection(spark: SparkSession, name: String, props: Map[String, String]): DataFrame = {
    ConnectionCatalog.register(ConnectionCatalog.Connection(
      name, props.getOrElse("type", ""), props.getOrElse("endpoint", ""), props))
    status(spark, "CONNECTION", name)
  }

  /** Provider dispatch: HTTP providers (bedrock/azureopenai/openai — all
    * reachable through an OpenAI-compatible gateway endpoint carried by their
    * connection) vs the local deterministic stand-ins when no connection is
    * configured. Registering refreshes the ml_predict/ml_embed UDF snapshots.
    */
  private def createModel(spark: SparkSession, name: String, output: String,
                          props: Map[String, String]): DataFrame = {
    val task = props.getOrElse("task", "text_generation").toLowerCase
    val provider = props.getOrElse("provider", "local").toLowerCase
    val conn = props.get(s"$provider.connection").map(c => ConnectionCatalog.resolve(unqualify(c)))
    (task, conn) match {
      case ("embedding", Some(c)) =>
        ModelCatalog.registerEmbedding(OpenAiEmbedding(name,
          httpCfg(c, props, provider), dim = props.getOrElse("dim", "64").toInt))
      case ("embedding", None) =>
        ModelCatalog.registerEmbedding(LocalHashEmbedding(name))
      case (_, Some(c)) =>
        val cfg = httpCfg(c, props, provider)
        ModelCatalog.registerTextGen(OpenAiTextGen(name, cfg))
        ModelCatalog.registerChat(OpenAiChat(name, cfg))
      case (_, None) =>
        val local = LocalTemplateTextGen(name)
        ModelCatalog.registerTextGen(local)
        ModelCatalog.registerChat(ChatFromTextGen(local))
    }
    graft.plans.GraftExtensions.registerModelUdfs(spark) // refresh driver snapshot
    status(spark, "MODEL", name)
  }

  private def httpCfg(c: ConnectionCatalog.Connection, props: Map[String, String],
                      provider: String): HttpConfig =
    HttpConfig(
      endpoint = c.endpoint,
      model = props.getOrElse(s"$provider.model", props.getOrElse("model", "default")),
      apiKey = c.options.get("api_key"),
      timeout = props.get("request_timeout").map(_.toInt.seconds).getOrElse(30.seconds))

  /** CREATE TOOL: one DDL name binding a set of MCP tools. Each allowed tool
    * is registered individually (the agent loop calls them by wire name) and
    * the DDL name maps to the whole set for `USING TOOLS`.
    */
  private def createTool(spark: SparkSession, name: String, connName: String,
                         props: Map[String, String]): DataFrame = {
    require(props.getOrElse("type", "mcp").equalsIgnoreCase("mcp"), s"unsupported tool type for '$name'")
    val conn = ConnectionCatalog.resolve(connName)
    val timeout = props.get("request_timeout").map(_.trim.toInt.seconds).getOrElse(30.seconds)
    val allowed = props.getOrElse("allowed_tools", "").split(",").map(_.trim).filter(_.nonEmpty).toSeq
    require(allowed.nonEmpty, s"tool '$name' lists no allowed_tools")
    // 'max_retries' is a graft extension knob: transport retries default to 0
    // (tools are side-effecting); opt idempotent tool sets back in via DDL
    val retries = props.getOrElse("max_retries", "0").toInt
    val members = allowed.map(t =>
      McpHttpTool(t, conn.endpoint, requestTimeout = timeout, maxRetries = retries))
    members.foreach(ToolCatalog.register)
    ToolGroupCatalog.register(name, members.map(_.name))
    status(spark, "TOOL", name)
  }

  private def createAgent(spark: SparkSession, name: String, modelName: String,
                          prompt: String, toolsClause: String, props: Map[String, String]): DataFrame = {
    val toolNames = toolsClause.split(",").map(n => unqualify(n)).filter(_.nonEmpty).toSeq
    val tools = toolNames.flatMap(n => ToolGroupCatalog.expand(n)).distinct
    AgentCatalog.register(AgentDefinition(
      name = name,
      model = ModelCatalog.chat(modelName),
      systemPrompt = prompt.replace("''", "'"),
      tools = ToolCatalog.resolveAll(tools),
      maxIterations = props.getOrElse("max_iterations", "10").toInt,
      maxConsecutiveFailures = props.getOrElse("max_consecutive_failures", "2").toInt))
    status(spark, "AGENT", name)
  }

  /** `DESCRIBE AGENT|TOOL|MODEL|CONNECTION name` → (property, value) rows.
    * Fails (the harness's FAILED statement analog) when the object does not
    * exist; succeeding with rows is its COMPLETED analog.
    */
  /** Declared-schema `CREATE TABLE t (cols…, PRIMARY KEY…, WATERMARK…) WITH
    * (props)` — the terraform/topic-table DDL form
    * (terraform/lab1-tool-calling/main.tf:233-241: every reference table is
    * declared this way). Registers schema + PRIMARY KEY + WATERMARK metadata
    * (the inputs the temporal join and streaming planner read) and exposes
    * the table as an initially-empty relation that `INSERT INTO` snapshots
    * and standing statements fill. No live broker binds here — the connector
    * options are carried verbatim so `KafkaIO` can bind them on a cluster.
    */
  private def createDeclaredTable(spark: SparkSession, sql: String): DataFrame = {
    val head = "(?is)^CREATE\\s+TABLE\\s+(?:IF\\s+NOT\\s+EXISTS\\s+)?([\\w.`]+)\\s*\\(".r
      .findFirstMatchIn(sql).get
    val name = unqualify(head.group(1))
    val (entries, after) = balancedArgs(sql, sql.indexOf('(', head.end - 1))
    val body = entries.mkString(", ")
    val rest = sql.substring(after).trim
    val props: Map[String, String] =
      "(?is)^WITH\\s*\\((.*)\\)$".r.findFirstMatchIn(rest).map(m => parseProps(m.group(1)))
        .getOrElse {
          require(rest.isEmpty, s"CREATE TABLE $name: unparsed trailer '$rest'")
          Map.empty
        }
    val schema = org.apache.spark.sql.types.StructType(parseColumns(body))
    val pk = "(?i)PRIMARY\\s+KEY\\s*\\(([^)]*)\\)".r.findFirstMatchIn(body)
      .map(_.group(1).split(",").map(c => unqualify(c.trim)).toSeq).getOrElse(Seq.empty)
    val wm = ("(?is)WATERMARK\\s+FOR\\s+`?(\\w+)`?\\s+AS\\s+`?\\w+`?\\s*-\\s*" +
      "INTERVAL\\s+'(\\d+)'\\s+(\\w+)").r.findFirstMatchIn(body)
    val empty = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    TableRegistry.createTable(TableRegistry.TableDef(name, Some(schema),
      watermarkCol = wm.map(_.group(1)),
      watermarkDelay = wm.map(m => s"${m.group(2)} ${m.group(3).toLowerCase}"),
      primaryKey = pk,
      options = props,
      load = s => empty))
    empty.createOrReplaceTempView(name)
    status(spark, "TABLE", name)
  }

  /** SHOW TABLES/VIEWS/MODELS/TOOLS/AGENTS/CONNECTIONS/FUNCTIONS — the
    * catalog-browsing surface a SQL workspace session leans on. TABLES merges
    * the graft registry with the session's temp views (a CTAS lands in both);
    * FUNCTIONS lists the installed graft SQL pack.
    */
  private def showObjects(spark: SparkSession, kind: String): DataFrame = {
    import spark.implicits._
    def one(colName: String, values: Seq[String]) = values.distinct.sorted.toDF(colName)
    kind match {
      case "TABLES" | "VIEWS" =>
        val views = spark.catalog.listTables().collect().map(_.name).toSeq
        one(if (kind == "TABLES") "table_name" else "view_name",
          graft.sources.TableRegistry.names ++ views)
      case "MODELS" => one("model_name", graft.ml.ModelCatalog.names)
      case "TOOLS" => one("tool_name", graft.agent.ToolCatalog.names)
      case "AGENTS" => one("agent_name", graft.agent.AgentCatalog.names)
      case "CONNECTIONS" => one("connection_name", graft.agent.ConnectionCatalog.names)
      case "FUNCTIONS" =>
        one("function_name", graft.plans.GraftExtensions.functions.map(_._1.funcName))
    }
  }

  /** SHOW CREATE TABLE — reconstruct Flink-flavored DDL from the registry's
    * TableDef (columns, WATERMARK, PRIMARY KEY NOT ENFORCED, WITH options).
    */
  private def showCreateTable(spark: SparkSession, name: String): DataFrame = {
    import spark.implicits._
    val t = TableRegistry.resolve(name)
    val cols = t.schema.map(_.fields.toSeq.map(f => s"  `${f.name}` ${f.dataType.sql}"))
      .getOrElse(Seq.empty)
    // Flink interval syntax — INTERVAL '5' SECOND, number and unit apart —
    // so the emitted DDL round-trips through createDeclaredTable (and Flink)
    // instead of silently losing the watermark on re-execution
    val wm = t.watermarkCol.map { c =>
      val parts = t.watermarkDelay.getOrElse("0 seconds").split("\\s+", 2)
      val unit = if (parts.length > 1) parts(1).toUpperCase else "SECONDS"
      s"  WATERMARK FOR $c AS $c - INTERVAL '${parts(0)}' $unit"
    }
    val pk = if (t.primaryKey.nonEmpty)
      Seq(s"  PRIMARY KEY (${t.primaryKey.map(k => s"`$k`").mkString(", ")}) NOT ENFORCED")
    else Seq.empty
    val body = (cols ++ wm.toSeq ++ pk).mkString(",\n")
    val withOpts = if (t.options.nonEmpty)
      t.options.toSeq.sorted.map { case (k, v) => s"  '$k' = '$v'" }
        .mkString(" WITH (\n", ",\n", "\n)")
    else ""
    Seq(s"CREATE TABLE `$name` (\n$body\n)$withOpts").toDF("create_statement")
  }

  private def describeObject(spark: SparkSession, kind: String, name: String): DataFrame = {
    import spark.implicits._
    val rows: Seq[(String, String)] = kind match {
      case "AGENT" =>
        val a = AgentCatalog.get(name).getOrElse(sys.error(s"no agent '$name'"))
        Seq("name" -> a.name, "model" -> a.model.name,
          "tools" -> a.tools.keys.toSeq.sorted.mkString(","),
          "max_iterations" -> a.maxIterations.toString,
          "max_consecutive_failures" -> a.maxConsecutiveFailures.toString,
          "prompt" -> a.systemPrompt)
      case "TOOL" =>
        ToolGroupCatalog.members(name) match {
          case Some(ms) => ("name" -> name) +: ms.map("member" -> _)
          case None =>
            val t = ToolCatalog.get(name).getOrElse(sys.error(s"no tool '$name'"))
            Seq("name" -> t.name, "description" -> t.description)
        }
      case "MODEL" =>
        val kinds = ModelCatalog.kindsOf(name)
        require(kinds.nonEmpty, s"no model '$name'")
        ("name" -> name) +: kinds.map("task" -> _)
      case "CONNECTION" =>
        val c = ConnectionCatalog.resolve(name)
        Seq("name" -> c.name, "type" -> c.connType, "endpoint" -> c.endpoint)
    }
    rows.toDF("property", "value")
  }

  private def drop(spark: SparkSession, kind: String, name: String): DataFrame = {
    kind match {
      case "TABLE" =>
        // dropping a standing statement's sink table stops its continuous
        // query first (the reference's drop-stops-job semantics)
        StatementCatalog.stop(name)
        StatementCatalog.stop(s"insert-into-$name")
        TableRegistry.dropTable(name); spark.catalog.dropTempView(name)
      case "TOOL"  => ToolGroupCatalog.dropGroup(name)
      case _       => () // MODEL/AGENT/CONNECTION registries keep last-write-wins
    }
    status(spark, s"DROP $kind", name)
  }

  // ----------------------------------------------------------- TVF rewriting

  /** All statement-text rewrites that turn Flink TVF shapes into the engine's
    * scalar-function forms before `spark.sql`.
    */
  private[graft] def rewrite(spark: SparkSession, sql: String): String =
    rewriteToolInvoke(spark,
      rewriteRunAgent(spark,
        rewriteVectorSearch(spark,
          rewriteDetectAnomalies(rewriteSession(rewriteCumulate(rewriteHop(rewriteTumble(rewriteTemporalJoin(spark, rewriteMatchRecognize(spark, rewriteLateral(rewriteLlmops(spark, sql))))))))))))

  // --------------------------------------------------- llmops TVFs (graft_*)

  private val llmopsViewId = new java.util.concurrent.atomic.AtomicInteger(0)

  private[graft] val GraftDedupRe =
    ("(?is)TABLE\\s*\\(\\s*GRAFT_DEDUP\\s*\\(\\s*TABLE\\s+([\\w.`]+)\\s*,\\s*" +
      "DESCRIPTOR\\s*\\(\\s*(\\w+)\\s*\\)\\s*,\\s*DESCRIPTOR\\s*\\(\\s*(\\w+)\\s*\\)\\s*" +
      "(?:,\\s*'(\\w+)'\\s*)?(?:,\\s*([0-9.]+)\\s*)?\\)\\s*\\)").r
  private[graft] val GraftBm25Re =
    ("(?is)TABLE\\s*\\(\\s*GRAFT_BM25_TOPK\\s*\\(\\s*TABLE\\s+([\\w.`]+)\\s*,\\s*" +
      "DESCRIPTOR\\s*\\(\\s*(\\w+)\\s*\\)\\s*,\\s*DESCRIPTOR\\s*\\(\\s*(\\w+)\\s*\\)\\s*,\\s*" +
      "TABLE\\s+([\\w.`]+)\\s*,\\s*DESCRIPTOR\\s*\\(\\s*(\\w+)\\s*\\)\\s*,\\s*" +
      "DESCRIPTOR\\s*\\(\\s*(\\w+)\\s*\\)\\s*(?:,\\s*(\\d+)\\s*)?\\)\\s*\\)").r
  private[graft] val GraftRrfRe =
    ("(?is)TABLE\\s*\\(\\s*GRAFT_RRF\\s*\\(\\s*TABLE\\s+([\\w.`]+)\\s*,\\s*TABLE\\s+([\\w.`]+)\\s*" +
      "(?:,\\s*(\\d+)\\s*)?(?:,\\s*(\\d+)\\s*)?\\)\\s*\\)").r
  private[graft] val GraftExactSubstrRe =
    ("(?is)TABLE\\s*\\(\\s*GRAFT_EXACT_SUBSTRINGS\\s*\\(\\s*TABLE\\s+([\\w.`]+)\\s*,\\s*" +
      "DESCRIPTOR\\s*\\(\\s*(\\w+)\\s*\\)\\s*,\\s*DESCRIPTOR\\s*\\(\\s*(\\w+)\\s*\\)\\s*" +
      "(?:,\\s*(\\d+)\\s*)?\\)\\s*\\)").r
  private[graft] val GraftRerankRe =
    ("(?is)TABLE\\s*\\(\\s*GRAFT_RERANK\\s*\\(\\s*TABLE\\s+([\\w.`]+)\\s*,\\s*" +
      "DESCRIPTOR\\s*\\(\\s*(\\w+)\\s*\\)\\s*,\\s*DESCRIPTOR\\s*\\(\\s*(\\w+)\\s*\\)\\s*" +
      "(?:,\\s*(\\d+)\\s*)?\\)\\s*\\)").r
  private[graft] val GraftPageRankRe =
    ("(?is)TABLE\\s*\\(\\s*GRAFT_PAGERANK\\s*\\(\\s*TABLE\\s+([\\w.`]+)\\s*,\\s*" +
      "DESCRIPTOR\\s*\\(\\s*(\\w+)\\s*\\)\\s*,\\s*DESCRIPTOR\\s*\\(\\s*(\\w+)\\s*\\)\\s*" +
      "(?:,\\s*(\\d+)\\s*)?\\)\\s*\\)").r
  private[graft] val GraftMergeRe =
    ("(?is)TABLE\\s*\\(\\s*GRAFT_MERGE\\s*\\(\\s*TABLE\\s+([\\w.`]+)\\s*,\\s*" +
      "TABLE\\s+([\\w.`]+)\\s*,\\s*DESCRIPTOR\\s*\\(\\s*(\\w+)\\s*\\)\\s*\\)\\s*\\)").r
  private[graft] val GraftSimJoinRe =
    ("(?is)TABLE\\s*\\(\\s*GRAFT_SIMJOIN\\s*\\(\\s*TABLE\\s+([\\w.`]+)\\s*,\\s*" +
      "DESCRIPTOR\\s*\\(\\s*(\\w+)\\s*\\)\\s*,\\s*DESCRIPTOR\\s*\\(\\s*(\\w+)\\s*\\)\\s*" +
      "(?:,\\s*([0-9.]+)\\s*)?\\)\\s*\\)").r
  private[graft] val GraftPackRe =
    ("(?is)TABLE\\s*\\(\\s*GRAFT_PACK\\s*\\(\\s*TABLE\\s+([\\w.`]+)\\s*,\\s*" +
      "DESCRIPTOR\\s*\\(\\s*(\\w+)\\s*\\)\\s*,\\s*DESCRIPTOR\\s*\\(\\s*(\\w+)\\s*\\)\\s*" +
      ",\\s*(\\d+)\\s*\\)\\s*\\)").r

  /** SQL surface for the training-data operators (engine extension — the
    * DataFrame API is primary, VERDICT r4 missing-#4). Each TVF resolves its
    * TABLE arguments, drives the EXISTING DataFrame engine, registers the
    * result as a session temp view, and splices the view name into the
    * statement — the same materialize-and-substitute shape as the vector
    * TVFs, so the surrounding SQL composes freely:
    *
    *   - `TABLE(GRAFT_DEDUP(TABLE t, DESCRIPTOR(id), DESCRIPTOR(text)
    *     [, 'exact'|'minhash'|'simhash' [, threshold]]))` → the KEPT rows of
    *     t (minhash default, LSH pairs → connected components → min-id
    *     keeper per near-dup cluster);
    *   - `TABLE(GRAFT_BM25_TOPK(TABLE docs, DESCRIPTOR(id), DESCRIPTOR(text),
    *     TABLE queries, DESCRIPTOR(qid), DESCRIPTOR(qtext) [, k]))` →
    *     (query_id, doc_id, score, rank);
    *   - `TABLE(GRAFT_RRF(TABLE a, TABLE b [, k0 [, k]]))` → reciprocal-rank
    *     fusion of two (query_id, doc_id, rank) lists;
    *   - `TABLE(GRAFT_EXACT_SUBSTRINGS(TABLE t, DESCRIPTOR(id),
    *     DESCRIPTOR(text) [, minLen]))` → the ExactSubstr duplicated-span set
    *     (doc_id, span_start, span_end), minLen default 40;
    *   - `TABLE(GRAFT_RERANK(TABLE pairs, DESCRIPTOR(queryText),
    *     DESCRIPTOR(docText) [, k]))` → joint lexical rerank of a candidate
    *     table carrying query_id/doc_id and the two pair-text columns;
    *   - `TABLE(GRAFT_PAGERANK(TABLE edges, DESCRIPTOR(src), DESCRIPTOR(dst)
    *     [, iters]))` → (node, rank_fp, rank), fixed-point PageRank, iters
    *     default 5;
    *   - `TABLE(GRAFT_MERGE(TABLE base, TABLE changes, DESCRIPTOR(key)))` →
    *     the merged snapshot; `changes` carries base's columns plus
    *     `op` (I/U/D) and `seq`;
    *   - `TABLE(GRAFT_SIMJOIN(TABLE t, DESCRIPTOR(id), DESCRIPTOR(text)
    *     [, threshold]))` → EXACT Jaccard similarity self-join
    *     (AllPairs/PPJoin prefix-filtered), (id_a, id_b, jaccard),
    *     threshold default 0.5;
    *   - `TABLE(GRAFT_PACK(TABLE t, DESCRIPTOR(id), DESCRIPTOR(text),
    *     seqLen))` → the sequence-packing placement map (id, n_tokens,
    *     seq_id, seq_start, doc_start, piece_len) in id order.
    */
  private[graft] def rewriteLlmops(spark: SparkSession, sql: String): String = {
    def view(df: org.apache.spark.sql.DataFrame): String = {
      val name = s"__graft_llmops_${llmopsViewId.incrementAndGet()}"
      df.createOrReplaceTempView(name)
      trackEphemeralView(name)
      name
    }
    var cur = sql
    var m = GraftDedupRe.findFirstMatchIn(cur)
    while (m.isDefined) {
      val mm = m.get
      val df = spark.table(unqualify(mm.group(1)))
      val (id, text) = (mm.group(2), mm.group(3))
      val method = Option(mm.group(4)).map(_.toLowerCase).getOrElse("minhash")
      val threshold = Option(mm.group(5)).map(_.toDouble).getOrElse(0.5)
      import graft.llmops.Dedup
      val kept = method match {
        case "exact" =>
          require(mm.group(5) == null,
            "GRAFT_DEDUP: 'exact' takes no threshold (identity has no radius)")
          df.join(Dedup.exact(df, text, id).select(id), Seq(id), "left_semi")
        case "minhash" | "simhash" =>
          // simhash's radius is a hamming distance, not a jaccard threshold
          // — silently ignoring a supplied threshold would misrepresent the
          // result, so reject it (the DataFrame API exposes maxHamming)
          require(method == "minhash" || mm.group(5) == null,
            "GRAFT_DEDUP: 'simhash' takes no threshold (its radius is a hamming " +
              "distance — use Dedup.simHashPairs(maxHamming) from the DataFrame API)")
          val pairs =
            if (method == "minhash") Dedup.minHashLsh(df, text, id, threshold = threshold)
            else Dedup.simHashPairs(df, text, id)
          import org.apache.spark.sql.functions.col
          val keepers = Dedup.resolveKeepers(df.select(col(id)), id, pairs)
            .filter(col("keep")).select(col("id").as(id))
          df.join(keepers, Seq(id), "left_semi")
        case other => sys.error(s"GRAFT_DEDUP: unknown method '$other' (exact|minhash|simhash)")
      }
      cur = cur.substring(0, mm.start) + view(kept) + cur.substring(mm.end)
      m = GraftDedupRe.findFirstMatchIn(cur)
    }
    m = GraftBm25Re.findFirstMatchIn(cur)
    while (m.isDefined) {
      val mm = m.get
      val docs = spark.table(unqualify(mm.group(1)))
      val queries = spark.table(unqualify(mm.group(4)))
      val k = Option(mm.group(7)).map(_.toInt).getOrElse(10)
      val out = graft.llmops.CorpusStats.bm25TopK(docs, mm.group(2), mm.group(3),
        queries, mm.group(5), mm.group(6), k)
      cur = cur.substring(0, mm.start) + view(out) + cur.substring(mm.end)
      m = GraftBm25Re.findFirstMatchIn(cur)
    }
    m = GraftRrfRe.findFirstMatchIn(cur)
    while (m.isDefined) {
      val mm = m.get
      val lists = Seq(spark.table(unqualify(mm.group(1))), spark.table(unqualify(mm.group(2))))
      val k0 = Option(mm.group(3)).map(_.toInt).getOrElse(60)
      val k = Option(mm.group(4)).map(_.toInt).getOrElse(10)
      cur = cur.substring(0, mm.start) + view(graft.llmops.Retrieval.rrf(lists, k0, k)) + cur.substring(mm.end)
      m = GraftRrfRe.findFirstMatchIn(cur)
    }
    m = GraftExactSubstrRe.findFirstMatchIn(cur)
    while (m.isDefined) {
      val mm = m.get
      val df = spark.table(unqualify(mm.group(1)))
      val minLen = Option(mm.group(4)).map(_.toInt).getOrElse(40)
      val spans = graft.llmops.Dedup.exactSubstringSpans(df, mm.group(3), mm.group(2), minLen)
      cur = cur.substring(0, mm.start) + view(spans) + cur.substring(mm.end)
      m = GraftExactSubstrRe.findFirstMatchIn(cur)
    }
    m = GraftRerankRe.findFirstMatchIn(cur)
    while (m.isDefined) {
      val mm = m.get
      import org.apache.spark.sql.functions.col
      val pairs = spark.table(unqualify(mm.group(1)))
      val k = Option(mm.group(4)).map(_.toInt).getOrElse(10)
      val out = graft.llmops.Retrieval.rerank(pairs,
        graft.llmops.Retrieval.lexicalScore(col(mm.group(2)), col(mm.group(3))), k)
      cur = cur.substring(0, mm.start) + view(out) + cur.substring(mm.end)
      m = GraftRerankRe.findFirstMatchIn(cur)
    }
    m = GraftPageRankRe.findFirstMatchIn(cur)
    while (m.isDefined) {
      val mm = m.get
      val edges = spark.table(unqualify(mm.group(1)))
      val iters = Option(mm.group(4)).map(_.toInt).getOrElse(5)
      val out = graft.operators.Graph.pageRank(edges, mm.group(2), mm.group(3), iters)
      cur = cur.substring(0, mm.start) + view(out) + cur.substring(mm.end)
      m = GraftPageRankRe.findFirstMatchIn(cur)
    }
    m = GraftMergeRe.findFirstMatchIn(cur)
    while (m.isDefined) {
      val mm = m.get
      val base = spark.table(unqualify(mm.group(1)))
      val changes = spark.table(unqualify(mm.group(2)))
      val out = graft.operators.Merge.applyChangelog(base, changes, Seq(mm.group(3)))
      cur = cur.substring(0, mm.start) + view(out) + cur.substring(mm.end)
      m = GraftMergeRe.findFirstMatchIn(cur)
    }
    m = GraftSimJoinRe.findFirstMatchIn(cur)
    while (m.isDefined) {
      val mm = m.get
      val df = spark.table(unqualify(mm.group(1)))
      val threshold = Option(mm.group(4)).map(_.toDouble).getOrElse(0.5)
      val out = graft.llmops.Dedup.jaccardJoinPrefix(df, mm.group(3), mm.group(2),
        threshold = threshold)
      cur = cur.substring(0, mm.start) + view(out) + cur.substring(mm.end)
      m = GraftSimJoinRe.findFirstMatchIn(cur)
    }
    m = GraftPackRe.findFirstMatchIn(cur)
    while (m.isDefined) {
      val mm = m.get
      val df = spark.table(unqualify(mm.group(1)))
      val out = graft.llmops.Packing.packSequences(df, mm.group(3), mm.group(2),
        seqLen = mm.group(4).toLong)
      cur = cur.substring(0, mm.start) + view(out) + cur.substring(mm.end)
      m = GraftPackRe.findFirstMatchIn(cur)
    }
    cur
  }

  private[graft] val TumbleRe =
    ("(?is)FROM\\s+TABLE\\s*\\(\\s*TUMBLE\\s*\\(\\s*TABLE\\s+([\\w.`]+)\\s*,\\s*" +
      "DESCRIPTOR\\s*\\(\\s*(\\w+)\\s*\\)\\s*,\\s*INTERVAL\\s+'(\\d+)'\\s+(\\w+)\\s*\\)\\s*\\)").r

  /** `FROM TABLE(TUMBLE(TABLE t, DESCRIPTOR(ts), INTERVAL '5' MINUTE))`
    * (LAB3-Walkthrough.md:108-110, LAB4-Walkthrough.md:135-140) → a subquery
    * appending Flink's window_start / window_end / window_time (= end − 1 ms,
    * the window's event-time attribute) from Spark's epoch-aligned `window()`.
    */
  private[graft] def rewriteTumble(sql: String): String =
    TumbleRe.replaceAllIn(sql, m => {
      val (tbl, ts, n, unit) = (m.group(1), m.group(2), m.group(3), m.group(4).toLowerCase)
      java.util.regex.Matcher.quoteReplacement(
        s"FROM (SELECT *, __w.start AS window_start, __w.end AS window_end, " +
          s"timestampadd(MILLISECOND, -1, __w.end) AS window_time " +
          s"FROM (SELECT *, window($ts, '$n $unit') AS __w FROM $tbl) __graft_w0) __graft_w")
    })

  private[graft] val TemporalJoinRe =
    ("(?is)(LEFT\\s+)?JOIN\\s+([\\w.`]+)\\s+FOR\\s+SYSTEM_TIME\\s+AS\\s+OF\\s+([\\w.`]+)" +
      "(?:\\s+(?:AS\\s+)?(?!ON\\b)(\\w+))?\\s+ON\\s+(.*?)" +
      "(?=\\s+(?:WHERE|GROUP|HAVING|ORDER|LIMIT|UNION|JOIN|LEFT|RIGHT|INNER|FULL|CROSS)\\b|\\s*\\z)").r

  /** Flink temporal table join: `JOIN rates FOR SYSTEM_TIME AS OF o.order_ts
    * AS r ON r.currency = o.currency` — each left row joins the version of
    * the right table valid at the left row's event time. Flink requires the
    * versioned side to declare a PRIMARY KEY and an event-time attribute;
    * this rewrite takes both from [[graft.sources.TableRegistry]] (where
    * CREATE TABLE's constraint block and WATERMARK clause put them) and fails
    * with Flink's own complaint when they're missing.
    *
    * Rewrite shape: the versioned side becomes an inline SCD2 — ONE window
    * (`LEAD(ts) OVER (PARTITION BY pk ORDER BY ts)`) turns the change log
    * into validity intervals — and the original ON clause gains the interval
    * residual. Both aliases survive, so outer column references resolve
    * untouched. The probe side replicates only per matched-key VERSION (the
    * join stays an equi-join on the caller's own keys); for unkeyed as-of
    * lookups or very long per-key histories, [[graft.operators.AsOfJoin]]'s
    * union + running-last plan is the zero-replication operator path.
    */
  private[graft] def rewriteTemporalJoin(spark: SparkSession, sql: String): String =
    TemporalJoinRe.replaceAllIn(sql, m => {
      val (leftKw, tbl, timeExpr) = (Option(m.group(1)).getOrElse(""), m.group(2), m.group(3))
      val alias = Option(m.group(4)).getOrElse(tbl)
      val cond = m.group(5).trim
      val short = unqualify(tbl)
      require(graft.sources.TableRegistry.exists(short),
        s"temporal join: versioned table '$tbl' is not registered")
      val t = graft.sources.TableRegistry.resolve(short)
      require(t.primaryKey.nonEmpty && t.watermarkCol.isDefined,
        s"Temporal Table Join requires primary key and row time attribute in versioned table, " +
          s"but no primary key or row time attribute can be found in table '$tbl'")
      val wm = t.watermarkCol.get
      val pk = t.primaryKey.mkString(", ")
      t.load(spark).createOrReplaceTempView(short) // registry table → resolvable relation
      java.util.regex.Matcher.quoteReplacement(
        s"${leftKw}JOIN (SELECT *, LEAD($wm) OVER (PARTITION BY $pk ORDER BY $wm) " +
          s"AS __graft_valid_to FROM $tbl) AS $alias " +
          s"ON ($cond) AND $timeExpr >= $alias.$wm " +
          s"AND ($alias.__graft_valid_to IS NULL OR $timeExpr < $alias.__graft_valid_to)")
    })

  /** Flink `MATCH_RECOGNIZE` (row-pattern recognition, the CEP SQL surface):
    * `PATTERN` sequences of variables with BOUNDED quantifiers (`A`, `A?`,
    * `A{m}`, `A{m,n}`), `ONE ROW PER MATCH`, `AFTER MATCH SKIP TO NEXT ROW`
    * or `AFTER MATCH SKIP PAST LAST ROW` (the latter is ALSO the implicit
    * default when the clause is absent — the SQL standard's), optional
    * `WITHIN INTERVAL …`, `DEFINE` conditions over any pattern variable's
    * columns (cross-variable comparisons like `B.price > A.price` work),
    * `MEASURES X.col [AS a]` with `FIRST`/`LAST`.
    *
    * Rewritten to the SAME lead()-window formulation
    * [[graft.operators.Behavior.sequenceMatch]] uses (and q111's oracle
    * verifies): a quantified pattern expands into its fixed-length
    * alternatives (bounded, so the product is finite and enumerable), each
    * alternative's DEFINE conjunction becomes a predicate over `lead(col, k)`
    * offsets, and ONE `CASE WHEN alt₁ … WHEN alt₂ …` tries alternatives in
    * GREEDY order (leftmost quantifier longest first — the SQL-standard
    * default; matches are decided per starting row, so SKIP TO NEXT ROW is
    * exact). All alternatives share one window spec → one shuffle + one sort,
    * no joins, no explode; Catalyst computes each distinct (col, offset) lead
    * once. Inside `DEFINE v`, `v.col` and `LAST(v.col)` are the current
    * candidate row and `FIRST(v.col)` the variable's first occurrence —
    * Flink's RUNNING semantics: only earlier-offset occurrences are visible,
    * so a forward reference (`DEFINE B AS B.x > C.x` with C later in the
    * pattern) and a reference to an absent optional variable are both NULL —
    * the condition can never hold, exactly as the standard prescribes.
    * MEASURES see the FULL match (final semantics).
    *
    * SKIP PAST LAST ROW layers a greedy NON-OVERLAP selection on the same
    * candidate CASE: the per-start candidates (with their row counts) are
    * computed by the identical window pass, then
    * [[graft.operators.Behavior.skipPastSelect]] scans each key in order —
    * a candidate is selected iff its start row is not consumed by the
    * previously selected match, and a selected length-L match consumes the
    * next L−1 rows. That selection has an unbounded per-key dependency chain
    * (every decision depends on all earlier ones), so it is NOT expressible
    * as one more window — the rewrite registers the selected relation as a
    * temp view (the [[rewriteTemporalJoin]] precedent) backed by one
    * repartition + sortWithinPartitions + O(1)-state mapPartitions scan,
    * which is also how a native MATCH_RECOGNIZE engine executes it.
    *
    * `PREV`/`NEXT` navigate physically inside DEFINE (the ticker-pattern
    * idiom `B AS B.price > PREV(B.price)`): at candidate offset k they are
    * the k∓n lead() refs — rows BEFORE the match start included, NULL past
    * the partition edge, per the standard. DEFINE-only, self-variable-only
    * (loud errors otherwise — in MEASURES there is no single current row).
    *
    * UNBOUNDED quantifiers (`A+`, `A*`, `A{m,}`) and `ALL ROWS PER MATCH`
    * route to the NFA CURSOR path instead (r8 verdict directive #1): each
    * DEFINE compiles to one Catalyst-evaluated boolean column (row-local —
    * the variable's own row plus PREV/NEXT physical navigation; cross-
    * variable and FIRST() conditions stay on the bounded path, loudly), and
    * [[graft.operators.MatchRecognize.scan]] runs the same greedy leftmost-
    * longest selection as the CASE expansion via a per-key O(attempt)-state
    * cursor — one repartition + one (key, order) sort shared with the DEFINE
    * window. MEASURES keep final semantics through per-variable FIRST/LAST
    * structs the scan emits; `ALL ROWS PER MATCH` emits every matched row
    * (input columns + measures + `CLASSIFIER()`), with FINAL measure
    * semantics — a documented deviation from the standard's RUNNING default,
    * and a capability beyond Flink (ONE ROW only there). The
    * variable-targeted strategies `SKIP TO [FIRST|LAST] <var>` (r9) also run
    * on the scan — the cursor resumes AT the target row, overlaps allowed,
    * empty-target/self-loop failing loudly per the standard — as do
    * `MATCH_NUMBER()` (the scan's per-key match ordinal) and aggregate
    * MEASURES (`count/sum/min/max/avg` over a variable's matched rows; sums
    * are exact HALF_UP-scale-6 decimals, order-independent). Cross-variable
    * and FIRST() DEFINEs compose with ALL scan-routed features too (r10):
    * they compile to [[graft.operators.MrConditions]]' interpreted predicate
    * — evaluated against the attempt's buffered rows, where every earlier
    * variable's placement is fixed — while row-local DEFINEs and PREV/NEXT
    * navigation stay Catalyst-codegen'd (navigation becomes a lag()/lead()
    * helper column over the same shared window). The interpreter's condition
    * surface is the documented subset in MrConditions; anything beyond it
    * fails at plan time with the bounded-path hint.
    *
    * The clause itself is read by [[MrClause.parse]], the one parser the
    * standing planner's stage shares; this method only lowers it.
    */
  private[graft] def rewriteMatchRecognize(spark: SparkSession, sql: String): String = {
    val mr = MrClause.parse(sql).getOrElse(return sql)
    val partCols = mr.partition
    val ordCols = mr.order
    val ord = ordCols.head
    val idx = mr.varIndex
    val w = s"(PARTITION BY ${partCols.mkString(", ")} ORDER BY ${ordCols.mkString(", ")})"
    val subsetNames: Set[String] = mr.subsets.map(_._1).toSet
    // a variable name valid in MEASURES: pattern variables plus subsets
    val mVars: Set[String] = idx.keySet ++ subsetNames

    /** Column ref at absolute row offset k from the match start. */
    def at(colName: String, k: Int): String =
      if (k == 0) colName else s"lead($colName, $k) OVER $w"

    /** Substitute pattern-variable refs for one expansion. `self` = the
      * (variable, occurrence-offset) currently being DEFINEd, if any.
      *
      * DEFINE uses RUNNING semantics (Flink/standard): while classifying a
      * row as `v`, only occurrences at STRICTLY EARLIER offsets (plus the
      * candidate row itself for `v`'s own refs) are visible; a reference to
      * a variable with nothing matched yet — any forward reference — is
      * NULL, which makes the condition unsatisfiable, exactly as the
      * standard prescribes. MEASURES (`self = None`) see the full match.
      */
    def subst(expr: String, offsets: Map[String, Seq[Int]],
              self: Option[(String, Int)]): String = {
      def visible(v: String): Seq[Int] = self match {
        case Some((_, off)) => offsets.getOrElse(v, Nil).filter(_ < off)
        case None           => offsets.getOrElse(v, Nil)
      }
      // PREV/NEXT: PHYSICAL navigation relative to the row being classified
      // (the standard's row-pattern navigation; Flink restricts it to DEFINE
      // and so do we — in MEASURES the "current row" is the whole match).
      // At candidate offset k, PREV(self.col, n) is the partition row k−n —
      // lead() with a negative offset IS lag(), and a row before the
      // partition start is NULL, exactly the standard's out-of-range rule.
      // PREV can therefore see rows BEFORE the match start: physical, not
      // logical, navigation. Only the variable being DEFINEd may navigate
      // (other variables' "current row" is ambiguous mid-match) — loud error.
      val nav = "(?i)\\b(PREV|NEXT)\\s*\\(\\s*(\\w+)\\.(\\w+)\\s*(?:,\\s*(\\d+)\\s*)?\\)".r
        .replaceAllIn(expr, mm => java.util.regex.Matcher.quoteReplacement {
          val kind = mm.group(1).toUpperCase
          val (v, c) = (mm.group(2), mm.group(3))
          val n = Option(mm.group(4)).map(_.toInt).getOrElse(1)
          if (!idx.contains(v)) mm.matched
          else self match {
            case Some((sv, off)) if sv == v =>
              at(c, if (kind == "PREV") off - n else off + n)
            case Some(_) => sys.error(s"MATCH_RECOGNIZE: $kind() may only navigate the " +
              s"variable being DEFINEd, got $kind($v.$c)")
            case None => sys.error(s"MATCH_RECOGNIZE: $kind() is DEFINE-only " +
              "(physical navigation has no single current row in MEASURES)")
          }
        })
      // optional trailing integer = Flink's logical occurrence offset
      // (FIRST(A.c, k) = the (k+1)-th occurrence, LAST(A.c, k) = k back from
      // the last); the RUNNING list for the variable being DEFINEd ends at
      // the candidate row, and an out-of-run offset is NULL
      val marked = "(?i)\\b(FIRST|LAST)\\s*\\(\\s*(\\w+)\\.(\\w+)\\s*(?:,\\s*(\\d+)\\s*)?\\)".r
        .replaceAllIn(nav, mm => java.util.regex.Matcher.quoteReplacement {
          val (kind, v, c) = (mm.group(1).toUpperCase, mm.group(2), mm.group(3))
          val k = Option(mm.group(4)).map(_.toInt).getOrElse(0)
          if (!idx.contains(v)) mm.matched
          else {
            val occ = self match {
              case Some((sv, off)) if sv == v => visible(v) :+ off
              case _ => visible(v)
            }
            occ.lift(if (kind == "FIRST") k else occ.size - 1 - k)
              .map(at(c, _)).getOrElse("NULL")
          }
        })
      "\\b(\\w+)\\.(\\w+)\\b".r.replaceAllIn(marked, mm =>
        java.util.regex.Matcher.quoteReplacement {
          val (v, c) = (mm.group(1), mm.group(2))
          if (!idx.contains(v)) mm.matched
          else self match {
            case Some((sv, off)) if sv == v => at(c, off)
            case _ => visible(v) match {
              case Nil => "NULL"
              case occ => at(c, occ.last)
            }
          }
        })
    }
    // MATCH_NUMBER(), CLASSIFIER() and aggregate measures need the cursor —
    // scan route (CLASSIFIER under ONE ROW is the last matched row's label,
    // r14 — only the scan's winning path knows it)
    val usesMatchNumber = mr.measures.exists(m =>
      "(?i)\\bMATCH_NUMBER\\s*\\(".r.findFirstIn(m.text).isDefined)
    val usesClassifier = mr.measures.exists(m =>
      "(?i)\\bCLASSIFIER\\s*\\(".r.findFirstIn(m.text).isDefined)
    val AggRe = "(?i)\\b(count|sum|min|max|avg)\\s*\\(\\s*(\\w+)\\.(\\w+|\\*)\\s*\\)".r
    val usesAggregates = mr.measures.exists(m =>
      AggRe.findAllMatchIn(m.text).exists(mm => mVars.contains(mm.group(2))))
    // which flavors of per-output-row RUNNING structs the scan must emit:
    // var-ref measures need __mr_run_first/last, aggregate measures (r11)
    // need __mr_run_agg — detected separately so neither pays for the other
    val runningAggs = mr.measures.exists(m =>
      m.running && AggRe.findAllMatchIn(m.text).exists(mm => idx.contains(mm.group(2))))
    val runningNonAgg = mr.measures.exists(m =>
      m.running && {
        val stripped = AggRe.replaceAllIn(m.text, mm =>
          if (idx.contains(mm.group(2))) "0"
          else java.util.regex.Matcher.quoteReplacement(mm.matched))
        "\\b(\\w+)\\.(\\w+)\\b".r.findAllMatchIn(stripped)
          .exists(mm => idx.contains(mm.group(1)))
      })
    val relation = if (!mr.composite && mr.subsets.isEmpty && mr.linear.forall(_.hi.isDefined) &&
      !mr.allRows && !usesMatchNumber && !usesAggregates && !usesClassifier &&
      (mr.skip == MatchRecognize.SkipToNextRow || mr.skip == MatchRecognize.SkipPastLastRow)) {
      // ------------------------------- bounded, ONE ROW: lead()-expansion CASE
      // every bounded-count assignment, greedy order: leftmost quantifier
      // longest first (descending lexicographic) — reluctant tokens ascend
      // (shortest first) instead; zero-length matches excluded
      val expansions: Seq[Seq[Int]] = mr.linear
        .map(t => (if (t.reluctant) t.lo to t.hi.get else t.hi.get to t.lo by -1).toSeq)
        .foldLeft(Seq(Seq.empty[Int]))((acc, counts) => acc.flatMap(pfx => counts.map(pfx :+ _)))
        .filter(_.sum > 0)
      require(expansions.nonEmpty, "MATCH_RECOGNIZE: pattern admits only the empty match")
      require(expansions.size <= 256,
        s"MATCH_RECOGNIZE: quantifier ranges expand to ${expansions.size} alternatives (cap 256) — " +
          "tighten the bounds")

      // one WHEN branch per alternative: its DEFINEs at their absolute offsets,
      // the existence guard on the final row, the WITHIN bound, its measures
      val branches = expansions.map { counts =>
        val starts = counts.scanLeft(0)(_ + _)
        val offsets: Map[String, Seq[Int]] = mr.varNames.zipWithIndex.map { case (v, i) =>
          v -> (starts(i) until starts(i + 1))
        }.toMap
        val len = counts.sum
        val defineConds = mr.varNames.flatMap { v =>
          mr.defines.get(v).toSeq.flatMap(cond =>
            offsets(v).map(off => s"(${subst(cond, offsets, Some((v, off)))})"))
        }
        val exists = s"${at(ord, len - 1)} IS NOT NULL"
        val within = mr.withinMicros.map(us =>
          s"unix_micros(CAST(${at(ord, len - 1)} AS TIMESTAMP)) - " +
            s"unix_micros(CAST($ord AS TIMESTAMP)) <= $us")
        val cond = ((defineConds :+ exists) ++ within.toSeq).mkString(" AND ")
        // '__len' always rides in the struct: the skip-past selection consumes
        // it, and the measure-less form already exposed it as the one field
        val fields = (s"'__len', $len" +:
          mr.measures.map(m => s"'${m.alias}', ${subst(m.text, offsets, None)}")).mkString(", ")
        s"WHEN ($cond) THEN named_struct($fields)"
      }

      val measureNames = mr.measures.map(_.alias)
      require(!measureNames.contains("__len"), "MATCH_RECOGNIZE: '__len' is a reserved measure alias")
      val candidateSql = s"SELECT *, CASE ${branches.mkString(" ")} END AS __mr FROM ${mr.table}"
      if (mr.skip == MatchRecognize.SkipToNextRow) {
        val outerCols = (partCols ++ measureNames.map(a => s"__mr.$a AS $a")).mkString(", ")
        s"(SELECT $outerCols FROM ($candidateSql) __graft_mr0 WHERE __mr IS NOT NULL)"
      } else {
        // non-overlap selection: candidates flow through skipPastSelect's
        // per-key ordered scan; the selected relation becomes a temp view the
        // rewritten text references (rewriteTemporalJoin registers views the
        // same way). EVERY row enters the scan — non-candidates still occupy
        // row positions a selected match must consume.
        val cand0 = Bridge.sql(spark, s"SELECT *, __mr.__len AS __graft_len FROM ($candidateSql) __graft_mr0")
        // column pruning before the selection scan (r16 optimization round,
        // guide §2.3 "project before the exchange"): skipPastSelect's MrScan
        // node reads its whole input by position, so Catalyst cannot prune
        // beneath it and every source column would be shuffled and sorted.
        // The scan needs only the key/order columns and the candidate struct
        // (measures already live INSIDE __mr, computed by the CASE above);
        // the outer select reads partCols + __mr fields. Identical output
        // rows (q162 oracle).
        val candRefs = (partCols ++ ordCols)
          .flatMap("\\w+".r.findAllIn(_)).map(_.toLowerCase).toSet
        val cand = cand0.select(cand0.columns
          .filter(c => candRefs.contains(c.toLowerCase) || !c.matches("\\w+") ||
            c == "__mr" || c == "__graft_len")
          .map(org.apache.spark.sql.functions.col).toIndexedSeq: _*)
        val sel = graft.operators.Behavior.skipPastSelect(
          cand, partCols.map(Bridge.expr(spark, _)),
          ordCols.map(Bridge.expr(spark, _)), "__graft_len")
        val out = sel.select((partCols ++ measureNames.map(a => s"__mr.$a AS $a")).map(Bridge.expr(spark, _)): _*)
        // counter-named like every rewrite-registered view (llmops TVFs,
        // temporal join): a content-hash name can collide across texts and
        // silently swap plans under a cached/standing statement
        val view = "__graft_mr_skippast_" + llmopsViewId.incrementAndGet()
        out.createOrReplaceTempView(view)
        trackEphemeralView(view)
        view
      }
    } else {
      // -------------- unbounded quantifiers / ALL ROWS: the NFA cursor scan.
      // Row-local DEFINE predicates (the variable's own row plus PREV/NEXT
      // physical navigation — the common case) each compile to ONE boolean
      // column over the shared (key, order) window, Catalyst-codegen'd.
      // CROSS-VARIABLE and FIRST() conditions (r10 — previously a loud
      // state-a-bound refusal) route to the scan's interpreted predicate
      // instead ([[graft.operators.MrConditions]]): inside one NFA attempt
      // every earlier variable's run placement is fixed, so LAST/FIRST/bare
      // refs are direct reads of buffered rows. PREV/NEXT stays Catalyst
      // either way — it is rewritten to a precomputed lag()/lead() helper
      // column over the SAME window (one shared exchange + sort), so the
      // interpreter never reaches outside the attempt's buffer.
      val navCols = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
      def navRewrite(cond: String, v: String, forDyn: Boolean): String =
        "(?i)\\b(PREV|NEXT)\\s*\\(\\s*(\\w+)\\.(\\w+)\\s*(?:,\\s*(\\d+)\\s*)?\\)".r
          .replaceAllIn(cond, mm => java.util.regex.Matcher.quoteReplacement {
            val kind = mm.group(1).toUpperCase
            val (vv, c) = (mm.group(2), mm.group(3))
            val nn = Option(mm.group(4)).map(_.toInt).getOrElse(1)
            if (!idx.contains(vv)) mm.matched
            else if (vv != v) sys.error(s"MATCH_RECOGNIZE: $kind() may only navigate the " +
              s"variable being DEFINEd, got $kind($vv.$c)")
            else {
              val sql = if (kind == "PREV") s"lag($c, $nn) OVER $w" else s"lead($c, $nn) OVER $w"
              if (!forDyn) sql
              else { // the interpreter reads it as a bare column of the candidate row
                val name = s"__graft_mrnav_${navCols.size}"
                navCols += ((name, sql))
                name
              }
            }
          })
      /** True when the condition references another variable's rows or the
        * self run's FIRST — the parts only the attempt's buffer can answer.
        */
      def needsDyn(cond: String, v: String): Boolean = {
        // any cross-variable ref, any SUBSET union ref (r11), any FIRST(),
        // or any LOGICAL OFFSET (even self-LAST: `LAST(B.v, 1)` is a
        // run-relative read only the attempt buffer can answer) routes the
        // whole condition to the interpreter
        val crossFl = "(?i)\\b(FIRST|LAST)\\s*\\(\\s*(\\w+)\\.(\\w+)\\s*(?:,\\s*(\\d+)\\s*)?\\)".r
          .findAllMatchIn(cond).exists { mm =>
            val (kind, vv) = (mm.group(1).toUpperCase, mm.group(2))
            val k = Option(mm.group(4)).map(_.toInt).getOrElse(0)
            subsetNames.contains(vv) ||
              (idx.contains(vv) && (vv != v || kind == "FIRST" || k > 0))
          }
        // strip FIRST/LAST(...) and PREV/NEXT(...) arguments before probing
        // bare qualified refs so their var.col operands don't double-count
        val bare = "(?i)\\b(?:FIRST|LAST|PREV|NEXT)\\s*\\(\\s*\\w+\\.\\w+\\s*(?:,\\s*\\d+\\s*)?\\)".r
          .replaceAllIn(cond, " ")
        crossFl || "\\b(\\w+)\\.(\\w+)\\b".r.findAllMatchIn(bare)
          .exists(mm => subsetNames.contains(mm.group(1)) ||
            (idx.contains(mm.group(1)) && mm.group(1) != v))
      }
      def localDefine(cond: String, v: String): String = {
        val nav = navRewrite(cond, v, forDyn = false)
        val marked = "(?i)\\b(FIRST|LAST)\\s*\\(\\s*(\\w+)\\.(\\w+)\\s*(?:,\\s*(\\d+)\\s*)?\\)".r
          .replaceAllIn(nav, mm => java.util.regex.Matcher.quoteReplacement {
            val (kind, vv, c) = (mm.group(1).toUpperCase, mm.group(2), mm.group(3))
            val k = Option(mm.group(4)).map(_.toInt).getOrElse(0)
            if (!idx.contains(vv)) mm.matched
            // running LAST (offset 0) = the candidate row; any other form
            // was routed to the interpreter by needsDyn
            else if (vv == v && kind == "LAST" && k == 0) c
            else sys.error(s"unreachable: needsDyn routes $kind($vv.$c, $k) to the interpreter")
          })
        "\\b(\\w+)\\.(\\w+)\\b".r.replaceAllIn(marked, mm =>
          java.util.regex.Matcher.quoteReplacement {
            val (vv, c) = (mm.group(1), mm.group(2))
            if (!idx.contains(vv)) mm.matched
            else if (vv == v) c
            else sys.error(s"unreachable: needsDyn routes $vv.$c to the interpreter")
          })
      }
      // (static Catalyst column, interpreted condition) per variable: exactly
      // one of the pair is live — lit(true) + Some(text) on the dynamic route
      val defPairs: Seq[(org.apache.spark.sql.Column, Option[String])] =
        mr.varNames.map { nm =>
          mr.defines.get(nm) match {
            case None => (org.apache.spark.sql.functions.lit(true), None)
            case Some(cond) if needsDyn(cond, nm) =>
              (org.apache.spark.sql.functions.lit(true), Some(navRewrite(cond, nm, forDyn = true)))
            case Some(cond) =>
              (Bridge.expr(spark, localDefine(cond, nm)), None)
          }
        }
      val defs = defPairs.map(_._1)
      val dynDefs: Seq[Option[String]] =
        if (defPairs.exists(_._2.isDefined)) defPairs.map(_._2) else Seq.empty
      // columns the MEASURES read → captured into the per-variable structs
      // (subset-variable refs too — their structs carry the same fields)
      val measureColNames = mr.measures.flatMap { m =>
        "\\b(\\w+)\\.(\\w+)\\b".r.findAllMatchIn(m.text)
          .filter(mm => mVars.contains(mm.group(1))).map(_.group(2)).toSeq
      }.distinct
      // MEASURES read the FULL match (final semantics): FIRST/LAST/bare refs
      // become fields of the scan's __mr_first_<v>/__mr_last_<v> structs;
      // CLASSIFIER() is the scan's __mr_var label (per-row under ALL ROWS;
      // the last matched row's label under ONE ROW — r14, ISO)
      def scanMeasure(e0: String, running: Boolean = false): String = {
        "(?i)\\b(PREV|NEXT)\\s*\\(\\s*(\\w+)\\.".r.findFirstMatchIn(e0)
          .filter(mm => idx.contains(mm.group(2)))
          .foreach(mm => sys.error(s"MATCH_RECOGNIZE: ${mm.group(1).toUpperCase}() is " +
            "DEFINE-only (physical navigation has no single current row in MEASURES)"))
        // aggregate measures over a variable's matched rows → the scan's
        // __mr_agg_<v> struct, or under RUNNING (r11) the per-output-row
        // __mr_run_agg_<v> prefix struct; avg = one deterministic double
        // division of the exact decimal sum by the non-null count
        val e = AggRe.replaceAllIn(e0, mm => java.util.regex.Matcher.quoteReplacement {
          val (fn, v, c) = (mm.group(1).toLowerCase, mm.group(2), mm.group(3))
          if (!mVars.contains(v)) mm.matched
          else {
            require(!(running && subsetNames.contains(v)),
              s"MATCH_RECOGNIZE: RUNNING over SUBSET variable '$v' is not supported " +
                "(MEASURES under ALL ROWS default to RUNNING, the standard) — mark the " +
                "measure FINAL")
            val base = if (running) s"__mr_run_agg_$v" else s"__mr_agg_$v"
            fn match {
              case "count" => s"$base.cnt_${if (c == "*") "rows" else c}"
              case "avg" =>
                require(c != "*", "MATCH_RECOGNIZE: avg(V.*) — name a column")
                s"(CAST($base.sum_$c AS DOUBLE) / $base.cnt_$c)"
              case f =>
                require(c != "*", s"MATCH_RECOGNIZE: $f(V.*) — name a column")
                s"$base.${f}_$c"
            }
          }
        })
        // MATCH_NUMBER(): the match's 1-based ordinal WITHIN its partition —
        // deterministic under any parallelism, unlike the standard's
        // query-global counter (documented deviation; per-key ordinals are
        // what downstream joins actually use)
        val mn = "(?i)\\bMATCH_NUMBER\\s*\\(\\s*\\)".r.replaceAllIn(e, _ => "__mr_seq")
        // CLASSIFIER(): the scan's __mr_var — per-row under ALL ROWS, or
        // (r14, ISO 9075-2) the LAST matched row's label under ONE ROW
        val cls = "(?i)\\bCLASSIFIER\\s*\\(\\s*\\)".r.replaceAllIn(mn, _ => "__mr_var")
        val fl = "(?i)\\b(FIRST|LAST)\\s*\\(\\s*(\\w+)\\.(\\w+)\\s*(?:,\\s*(\\d+)\\s*)?\\)".r
          .replaceAllIn(cls, mm => java.util.regex.Matcher.quoteReplacement {
            val (kind, vv, c) = (mm.group(1).toLowerCase, mm.group(2), mm.group(3))
            val k = Option(mm.group(4)).map(_.toInt).getOrElse(0)
            if (!mVars.contains(vv)) mm.matched
            else if (running) {
              require(!subsetNames.contains(vv),
                s"MATCH_RECOGNIZE: RUNNING over SUBSET variable '$vv' is not supported " +
                  "(MEASURES under ALL ROWS default to RUNNING, the standard) — mark the " +
                  "measure FINAL")
              require(k == 0, "MATCH_RECOGNIZE: RUNNING with a logical offset is not " +
                s"supported (MEASURES under ALL ROWS default to RUNNING, the standard) — " +
                  s"mark the measure FINAL or drop the offset in ${mm.matched}")
              s"__mr_run_${kind}_$vv.$c" // per-output-row running struct
            }
            else if (k == 0) s"__mr_${kind}_$vv.$c" // plain FIRST/LAST struct (FINAL)
            else {
              require(!subsetNames.contains(vv),
                s"MATCH_RECOGNIZE: logical-offset ${kind.toUpperCase}($vv.$c, $k) over a " +
                  "SUBSET variable is not supported — offset into a member variable instead")
              s"__mr_off_${kind.take(1)}${k}_$vv.$c" // logical-offset struct
            }
          })
        "\\b(\\w+)\\.(\\w+)\\b".r.replaceAllIn(fl, mm =>
          java.util.regex.Matcher.quoteReplacement {
            val (vv, c) = (mm.group(1), mm.group(2))
            if (!mVars.contains(vv)) mm.matched
            else if (running) {
              require(!subsetNames.contains(vv),
                s"MATCH_RECOGNIZE: RUNNING over SUBSET variable '$vv' is not supported " +
                  "(MEASURES under ALL ROWS default to RUNNING, the standard) — mark the " +
                  "measure FINAL")
              s"__mr_run_last_$vv.$c"
            }
            else s"__mr_last_$vv.$c"
          })
      }
      mr.measures.foreach(m => require(!m.alias.startsWith("__mr_"),
        s"MATCH_RECOGNIZE: measure alias '${m.alias}' uses the reserved __mr_ prefix"))
      val input00full = spark.sql(s"SELECT * FROM ${mr.table}")
      // Column pruning before the NFA scan (r16 optimization round, guide
      // §2.3): scanPattern's MrScan node reads its whole input by position,
      // so Catalyst cannot prune beneath it and every source column — wide
      // payloads included — would cross the exchange and the sort even when
      // no clause referenced it. Under ONE ROW PER MATCH the output is
      // partition keys + measures, and every column the scan can possibly
      // touch appears textually in PARTITION BY / ORDER BY / DEFINE /
      // MEASURES (the substitution and the interpreted conditions both
      // resolve names from these same texts), so keeping exactly the source
      // columns mentioned there is safe over-approximation — quoted literals
      // contribute harmless extra tokens, never a miss. ALL ROWS emits every
      // source column by contract: no pruning.
      val input00 =
        if (mr.allRows) input00full
        else {
          val refs = (partCols ++ ordCols ++ mr.defines.values ++ mr.measures.map(_.text))
            .flatMap("\\w+".r.findAllIn(_)).map(_.toLowerCase).toSet
          // a column whose NAME is not a plain \w+ identifier (backticked,
          // hyphenated, non-ASCII) can never be matched by the token probe —
          // keep it defensively rather than mis-prune a referenced column
          val keep = input00full.columns.filter(c =>
            refs.contains(c.toLowerCase) || !c.matches("\\w+"))
          if (keep.length == input00full.columns.length) input00full
          else input00full.select(keep.map(org.apache.spark.sql.functions.col).toIndexedSeq: _*)
        }
      // PARTITION BY expressions under ALL ROWS (r16, VERDICT r15 #3): each
      // non-plain entry pre-projects onto the input under its selectExpr
      // auto-name, so the ALL-ROWS shape (which emits every input column)
      // carries the computed key as a regular column — the SAME auto-named
      // column the streaming route emits, dissolving the old
      // schema-agreement refusal. The auto-name must not shadow a real
      // source column (a silent replace would corrupt it in the output);
      // two raw entries resolving to one auto-name are a duplicate key.
      val (input, partColsR) =
        if (!mr.allRows) (input00, partCols)
        else partCols.foldLeft((input00, Seq.empty[String])) {
          case ((df, acc), p) if p.matches("\\w+") => (df, acc :+ p)
          case ((df, acc), p) =>
            val nm = df.select(Bridge.expr(spark, p)).columns.head
            require(!input00.columns.contains(nm),
              s"MATCH_RECOGNIZE: PARTITION BY expression '$p' resolves to auto-name '$nm', " +
                "which already exists as a source column — pre-project the expression " +
                "upstream under a different alias")
            (df.withColumn(nm, Bridge.expr(spark, p)), acc :+ s"`$nm`")
        }
      require(partColsR.distinct.size == partColsR.size,
        s"MATCH_RECOGNIZE: PARTITION BY entries resolve to duplicate key columns: $partColsR")
      if (mr.allRows) mr.measures.foreach(m =>
        require(!input.columns.contains(m.alias),
          s"MATCH_RECOGNIZE: ALL ROWS PER MATCH emits every input column; measure alias '${m.alias}' collides"))
      // logical-offset FIRST/LAST measures → extra per-(var, kind, k) structs
      val OffRe = "(?i)\\b(FIRST|LAST)\\s*\\(\\s*(\\w+)\\.(\\w+)\\s*,\\s*(\\d+)\\s*\\)".r
      val offsetSpecs: Seq[(Int, Boolean, Int)] = mr.measures.flatMap { m =>
        OffRe.findAllMatchIn(m.text).flatMap { mm =>
          val (kind, v, k) = (mm.group(1).toUpperCase, mm.group(2), mm.group(4).toInt)
          if (!idx.contains(v) || k == 0) None else Some((idx(v), kind == "FIRST", k))
        }
      }.distinct
      // aggregate fields each variable's / subset's __mr_agg struct must carry
      val aggByVar = {
        val byVar = scala.collection.mutable.Map
          .empty[String, scala.collection.mutable.LinkedHashSet[(String, String)]]
        mr.measures.foreach { m =>
          AggRe.findAllMatchIn(m.text).foreach { mm =>
            val (fn, v, c) = (mm.group(1).toLowerCase, mm.group(2), mm.group(3))
            if (mVars.contains(v)) {
              val specs = byVar.getOrElseUpdate(v,
                scala.collection.mutable.LinkedHashSet.empty[(String, String)])
              fn match {
                case "count" => specs += (("cnt", c))
                case "avg"   => specs += (("sum", c)); specs += (("cnt", c))
                case f       => specs += ((f, c))
              }
            }
          }
        }
        byVar
      }
      val aggSpecs: Seq[Seq[(String, String)]] =
        mr.varNames.map(v => aggByVar.get(v).map(_.toSeq).getOrElse(Seq.empty))
      val subsetSpecs: Seq[MatchRecognize.SubsetSpec] =
        mr.subsets.map { case (nm, members) =>
          MatchRecognize.SubsetSpec(nm, members,
            aggByVar.get(nm).map(_.toSeq).getOrElse(Seq.empty)) }
      // PREV/NEXT helpers for interpreted DEFINEs ride as input columns over
      // the same window W — Catalyst collapses their sort into the scan's
      // (plan-guard spec); they are dropped by the final selectExpr below
      // (baseCols comes from the PRE-nav `input`)
      val input2 =
        if (navCols.isEmpty) input
        else input.select(("*" +: navCols.toSeq.map { case (nm, e) => s"$e AS $nm" }).map(Bridge.expr(spark, _)): _*)
      val scanned = MatchRecognize.scanPattern(
        input2, partColsR.map(Bridge.expr(spark, _)),
        ordCols.map(Bridge.expr(spark, _)), ord, mr.varNames, mr.scanBranches, defs,
        mr.withinMicros, mr.skip, mr.allRows, measureColNames,
        if (aggSpecs.forall(_.isEmpty)) Seq.empty else aggSpecs, dynDefs, offsetSpecs,
        runningStructs = runningNonAgg, runningAggStructs = runningAggs,
        subsets = subsetSpecs,
        // composite patterns execute by the parse tree (r12): choice points
        // decided at their written positions — ISO preferment even when a
        // variable-length quantifier precedes an alternation
        tree = mr.tree,
        oneRowClassifier = usesClassifier && !mr.allRows)
      val measures = mr.measures.map(m => s"${scanMeasure(m.text, m.running)} AS ${m.alias}")
      // ALL ROWS emits every input column (the standard's shape); ONE ROW the
      // partition key plus measures — both from the match rows the scan kept
      val baseCols = if (mr.allRows) input.columns.toSeq else partCols
      val out = scanned.select((baseCols ++ measures).map(Bridge.expr(spark, _)): _*)
      val view = "__graft_mr_scan_" + llmopsViewId.incrementAndGet()
      out.createOrReplaceTempView(view)
      trackEphemeralView(view)
      view
    }
    rewriteMatchRecognize(spark, mr.splice(sql, relation))
  }

  private[graft] val CumulateRe =
    ("(?is)FROM\\s+TABLE\\s*\\(\\s*CUMULATE\\s*\\(\\s*TABLE\\s+([\\w.`]+)\\s*,\\s*" +
      "DESCRIPTOR\\s*\\(\\s*(\\w+)\\s*\\)\\s*,\\s*INTERVAL\\s+'(\\d+)'\\s+(\\w+)\\s*,\\s*" +
      "INTERVAL\\s+'(\\d+)'\\s+(\\w+)\\s*\\)\\s*\\)").r

  /** `FROM TABLE(CUMULATE(TABLE t, DESCRIPTOR(ts), INTERVAL '1' HOUR,
    * INTERVAL '6' HOUR))` — Flink's cumulating window TVF. The TVF contract
    * is row-level (each input row appears once per cumulative window that
    * contains it), so the rewrite is the row-exploded form; the DataFrame
    * operator [[graft.operators.Cumulate]] is the slice-decomposed scale path
    * for the aggregate-over-TVF shape.
    */
  private[graft] val SessionRe =
    ("(?is)FROM\\s+TABLE\\s*\\(\\s*SESSION\\s*\\(\\s*(?:DATA\\s*=>\\s*)?TABLE\\s+([\\w.`]+)" +
      "(?:\\s+PARTITION\\s+BY\\s+(?:\\(([^)]*)\\)|([\\w.`]+)))?\\s*,\\s*" +
      "DESCRIPTOR\\s*\\(\\s*(\\w+)\\s*\\)\\s*,\\s*INTERVAL\\s+'(\\d+)'\\s+(\\w+)\\s*\\)\\s*\\)").r

  /** Positions of `keyword` at paren-depth 0 outside quotes. */
  private def topLevelIndexOf(sql: String, keyword: String): Seq[Int] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[Int]
    val re = ("(?i)" + keyword).r
    var depth = 0; var inQuote = false; var i = 0
    val hits = re.findAllMatchIn(sql).map(_.start).toSet
    while (i < sql.length) {
      val c = sql.charAt(i)
      if (inQuote) { if (c == '\'') inQuote = false }
      else c match {
        case '\'' => inQuote = true
        case '(' | '[' => depth += 1
        case ')' | ']' => depth -= 1
        case _ => if (depth == 0 && hits(i)) out += i
      }
      i += 1
    }
    out.toSeq
  }

  /** Flink `SESSION` window TVF (the fourth window TVF, FLIP-145 syntax):
    * `TABLE(SESSION(TABLE t [PARTITION BY k], DESCRIPTOR(ts), gap))`.
    *
    * Unlike TUMBLE/HOP/CUMULATE, a row's session isn't row-local — it
    * depends on its neighbors — so the rewrite can't precompute per-row
    * window columns; it targets Spark's native `session_window` GROUPING
    * construct: the gap becomes `GROUP BY session_window(ts, gap), keys`,
    * and `window_start`/`window_end`/`window_time` project from the session
    * struct (window_time = end − 1 ms, the house convention). Works batch
    * AND streaming (session_window is watermark-mergeable in append mode).
    *
    * Scope discipline (this is a text rewrite, so the envelope is explicit
    * and violations are LOUD, never silent):
    *  - a leading `WITH` recurses per CTE body, so only the stage owning the
    *    TVF is touched;
    *  - only the single top-level GROUP BY of that stage is rewritten —
    *    subquery aggregations are out of reach by depth;
    *  - every TVF PARTITION BY key must appear in that GROUP BY (dropping
    *    one would silently merge sessions across keys — error instead);
    *  - `window_*` references are substituted ONLY in the stage's select
    *    list and its post-GROUP-BY tail (HAVING/ORDER); a pre-aggregation
    *    `window_*` (e.g. in WHERE) isn't expressible over a grouping
    *    construct and errors with the outer-query workaround.
    */
  private[graft] def rewriteSession(sql: String): String = {
    val m = SessionRe.findFirstMatchIn(sql).getOrElse(return sql)
    if (sql.trim.toUpperCase.startsWith("WITH")) {
      // recurse per stage: only the CTE (or final select) owning the TVF
      // is rewritten, everything else passes through verbatim
      val (ctes, fin) = StreamPlanner.splitWith(sql)
      return ctes.map { case (nm, body) => s"$nm AS (${rewriteSession(body)})" }
        .mkString("WITH ", ", ", "\n") + rewriteSession(fin)
    }
    val tbl = m.group(1)
    val partKeys = (Option(m.group(2)).toSeq.flatMap(_.split(",").toSeq) ++
      Option(m.group(3)).toSeq).map(_.trim).filter(_.nonEmpty)
    val (ts, n, unit) = (m.group(4), m.group(5), m.group(6).toLowerCase)
    val sw = s"session_window($ts, '$n $unit')"
    val out = sql.substring(0, m.start) + s"FROM $tbl" + sql.substring(m.end)

    val gbPositions = topLevelIndexOf(out, "GROUP\\s+BY")
    require(gbPositions.size == 1,
      s"SESSION TVF needs exactly one top-level GROUP BY in its stage, found ${gbPositions.size}")
    val gbStart = gbPositions.head
    val afterKeysRe = "(?is)^GROUP\\s+BY\\s+(.*?)(?=\\b(?:HAVING|ORDER|LIMIT|WINDOW)\\b|$)".r
    val gbM = afterKeysRe.findFirstMatchIn(out.substring(gbStart)).get
    val keys = splitTopLevelCommas(gbM.group(1)).map(_.trim).filter(_.nonEmpty)
    val kept = keys.filterNot(k =>
      Set("WINDOW_START", "WINDOW_END", "WINDOW_TIME")(k.toUpperCase))
    def lastSeg(s: String) = s.split("\\.").last.replace("`", "").trim
    partKeys.foreach { k =>
      require(kept.exists(g => lastSeg(g).equalsIgnoreCase(lastSeg(k))),
        s"SESSION TVF PARTITION BY key '$k' must appear in the GROUP BY — omitting it would " +
          "silently merge sessions across keys; group by it (aggregate across keys in an outer query)")
    }
    val newGb = (sw +: kept).mkString("GROUP BY ", ", ", " ")
    val tail = out.substring(gbStart + gbM.end) // HAVING/ORDER/LIMIT tail

    val exprOf = Map(
      "window_start" -> "session_window.start",
      "window_end" -> "session_window.end",
      "window_time" -> "timestampadd(MILLISECOND, -1, session_window.end)")
    def refs(s: String): String = exprOf.foldLeft(s) { case (acc, (name, e)) =>
      acc.replaceAll("(?i)\\b" + name + "\\b", java.util.regex.Matcher.quoteReplacement(e))
    }
    val head = out.substring(0, gbStart)
    val (sel, fromPart) = topLevelSelectFrom(head)
    // pre-aggregation window_* (WHERE over the TVF's output columns) cannot
    // be expressed over a grouping construct — reject rather than mis-plan;
    // depth-0 only, so a TUMBLE-rewritten subquery's aliases are untouched
    topLevelIndexOf(fromPart, "\\bWINDOW_(?:START|END|TIME)\\b").headOption.foreach { i =>
      sys.error("SESSION TVF: window_start/window_end/window_time cannot be referenced before " +
        s"aggregation (at '…${fromPart.substring(i, math.min(i + 30, fromPart.length))}…') — " +
        "filter in an outer query instead")
    }
    val BareAs = "(?is)^(window_start|window_end|window_time)(?:\\s+AS\\s+(\\w+))?$".r
    val items = splitTopLevelCommas(sel).map { item =>
      item.trim match {
        case BareAs(name, alias) =>
          val nm = name.toLowerCase
          s"${exprOf(nm)} AS ${if (alias != null) alias else nm}"
        case other => refs(other)
      }
    }
    rewriteSession(
      s"SELECT ${items.mkString(", ")} FROM $fromPart $newGb${refs(tail)}")
  }

  private[graft] def rewriteCumulate(sql: String): String =
    CumulateRe.replaceAllIn(sql, m => {
      val (tbl, ts) = (m.group(1), m.group(2))
      val stepUs = graft.operators.Cumulate.durationMicros(s"${m.group(3)} ${m.group(4)}")
      val maxUs = graft.operators.Cumulate.durationMicros(s"${m.group(5)} ${m.group(6)}")
      require(maxUs % stepUs == 0 && maxUs > 0,
        s"CUMULATE max_size must be a positive integral multiple of step (got step=$stepUs us, max=$maxUs us)")
      java.util.regex.Matcher.quoteReplacement(
        s"FROM (SELECT *, timestampadd(MILLISECOND, -1, window_end) AS window_time " +
          s"FROM (SELECT *, timestamp_micros(unix_micros(CAST($ts AS TIMESTAMP)) - " +
          s"pmod(unix_micros(CAST($ts AS TIMESTAMP)), $maxUs)) AS window_start FROM $tbl) __graft_c0 " +
          s"LATERAL VIEW explode(sequence(window_start + INTERVAL $stepUs MICROSECOND, " +
          s"window_start + INTERVAL $maxUs MICROSECOND, INTERVAL $stepUs MICROSECOND)) " +
          s"__graft_c1 AS window_end " +
          s"WHERE CAST($ts AS TIMESTAMP) < window_end) __graft_c")
    })

  private[graft] val HopRe =
    ("(?is)FROM\\s+TABLE\\s*\\(\\s*HOP\\s*\\(\\s*TABLE\\s+([\\w.`]+)\\s*,\\s*" +
      "DESCRIPTOR\\s*\\(\\s*(\\w+)\\s*\\)\\s*,\\s*INTERVAL\\s+'(\\d+)'\\s+(\\w+)\\s*,\\s*" +
      "INTERVAL\\s+'(\\d+)'\\s+(\\w+)\\s*\\)\\s*\\)").r

  /** `FROM TABLE(HOP(TABLE t, DESCRIPTOR(ts), INTERVAL '5' MINUTE,
    * INTERVAL '10' MINUTE))` — Flink's hopping (sliding) window TVF, args
    * (slide, size). Each row lands in exactly size/slide windows whose
    * slide-aligned starts cover it; size must be an integral multiple of
    * slide (Flink's own constraint), so no residual containment filter is
    * needed.
    */
  private[graft] def rewriteHop(sql: String): String =
    HopRe.replaceAllIn(sql, m => {
      val (tbl, ts) = (m.group(1), m.group(2))
      val slideUs = graft.operators.Cumulate.durationMicros(s"${m.group(3)} ${m.group(4)}")
      val sizeUs = graft.operators.Cumulate.durationMicros(s"${m.group(5)} ${m.group(6)}")
      require(sizeUs % slideUs == 0 && sizeUs > 0,
        s"HOP size must be a positive integral multiple of slide (got slide=$slideUs us, size=$sizeUs us)")
      java.util.regex.Matcher.quoteReplacement(
        s"FROM (SELECT *, window_start + INTERVAL $sizeUs MICROSECOND AS window_end, " +
          s"timestampadd(MILLISECOND, -1, window_start + INTERVAL $sizeUs MICROSECOND) AS window_time " +
          s"FROM (SELECT *, timestamp_micros(unix_micros(CAST($ts AS TIMESTAMP)) - " +
          s"pmod(unix_micros(CAST($ts AS TIMESTAMP)), $slideUs)) AS __graft_h_a FROM $tbl) __graft_h0 " +
          s"LATERAL VIEW explode(sequence(__graft_h_a - INTERVAL ${sizeUs - slideUs} MICROSECOND, " +
          s"__graft_h_a, INTERVAL $slideUs MICROSECOND)) __graft_h1 AS window_start) __graft_h")
    })

  /** `ML_DETECT_ANOMALIES(v, ts, JSON_OBJECT('minTrainingSize' VALUE …, …))
    * OVER (PARTITION BY k ORDER BY t RANGE …)` (LAB3-Walkthrough.md:119-132,
    * LAB4-Walkthrough.md:150-163) → the engine's z-band detector expressed as
    * inline SQL window functions over decimal-exact sums — the SAME
    * formulation `AnomalyDetector.detectBatch` uses (and q08's DuckDB oracle
    * verifies), with the trailing-history frame
    * `ROWS BETWEEN maxTrainingSize PRECEDING AND 1 PRECEDING` and warm-up
    * gating on minTrainingSize. Config keys (incl. the enableStl rejection)
    * go through [[graft.anomaly.AnomalyDetector.Config]].
    */
  private[graft] def rewriteDetectAnomalies(sql: String): String = {
    val call = AnomalyCall.parse(sql).getOrElse(return sql)
    val cfg = call.cfg
    // this rewrite IS the z-band window formulation; a seasonal or AR config
    // has no SQL-window form — fail loudly rather than mis-evaluate (the
    // DataFrame API, AnomalyDetector.detectBatch, runs those)
    require(cfg.forecast == "zband" && !cfg.enableStl,
      s"the SQL OVER-window rewrite supports forecast='zband' with enableStl=FALSE only " +
        s"(got forecast='${cfg.forecast}', enableStl=${cfg.enableStl}); " +
        "use AnomalyDetector.detectBatch for the AR/seasonal forecasters")
    val (part, ord) = (call.partition.mkString(", "), call.order)
    // sliding-frame sums as differences of two growing-frame cumulative sums
    // — the AnomalyDetector.detectBatchWindow rewrite (Spark re-aggregates a
    // bounded sliding ROWS frame from scratch per row; UNBOUNDED PRECEDING
    // frames update incrementally, and decimal subtraction is exact so the
    // digit-string re-entry sees the identical value; the all-NULL-frame
    // divergence is masked by the warm gate)
    val wA = s"(PARTITION BY $part ORDER BY $ord ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)"
    val wB = s"(PARTITION BY $part ORDER BY $ord ROWS BETWEEN UNBOUNDED PRECEDING AND ${cfg.maxTrainingSize + 1} PRECEDING)"
    def frameSum(e: String): String = {
      val a = s"SUM($e) OVER $wA"
      val b = s"SUM($e) OVER $wB"
      s"(CASE WHEN $b IS NULL THEN $a ELSE $a - $b END)"
    }

    val vx = s"CAST(${call.value} AS DOUBLE)"
    // element precision 27, not 38 — see AnomalyDetector.detectBatchWindow:
    // at 38 the capped subtraction silently drops to scale 7
    val s1 = s"CAST(CAST(${frameSum(s"CAST(CAST($vx AS STRING) AS DECIMAL(27,6))")} AS STRING) AS DOUBLE)"
    val s2 = s"CAST(CAST(${frameSum(s"CAST(CAST($vx * $vx AS STRING) AS DECIMAL(27,8))")} AS STRING) AS DOUBLE)"
    val n = s"CAST(COUNT($vx) OVER $wA - COUNT($vx) OVER $wB AS DOUBLE)"
    val forecast = s"($s1 / $n)"
    val sd = s"SQRT(GREATEST(($s2 - $s1 * $s1 / $n) / ($n - 1), 0.0))"
    val upper = s"($forecast + ${cfg.z} * $sd)"
    val lower = s"($forecast - ${cfg.z} * $sd)"
    val warm = s"($n >= ${cfg.minTrainingSize})"
    val struct =
      s"named_struct(" +
        s"'forecast_value', CASE WHEN $warm THEN $forecast END, " +
        s"'upper_bound', CASE WHEN $warm THEN $upper END, " +
        s"'lower_bound', CASE WHEN $warm THEN $lower END, " +
        s"'is_anomaly', CASE WHEN $warm THEN ($vx > $upper OR $vx < $lower) ELSE false END)"

    rewriteDetectAnomalies(call.splice(sql, struct))
  }

  /** `JSON_OBJECT('minTrainingSize' VALUE …, …)` config text → detector
    * config (shared by the batch OVER-window rewrite above and the streaming
    * stage in [[StreamPlanner]]). enableStl=TRUE requires a seasonalPeriod
    * key (our explicit form of the period the reference's closed engine
    * infers from timestamps); Config rejects the combination otherwise.
    * forecast/arOrder are engine extensions reachable from SQL text too.
    */
  private[graft] def parseAnomalyCfg(cfgText: String): graft.anomaly.AnomalyDetector.Config = {
    def key(name: String, default: String): String =
      s"(?i)'$name'\\s+VALUE\\s+'?([\\w.]+)'?".r.findFirstMatchIn(cfgText).map(_.group(1)).getOrElse(default)
    graft.anomaly.AnomalyDetector.Config(
      minTrainingSize = key("minTrainingSize", "2").toInt,
      maxTrainingSize = key("maxTrainingSize", "1000").toInt,
      confidencePercentage = key("confidencePercentage", "95.0").toDouble,
      enableStl = key("enableStl", "false").toBoolean,
      forecast = key("forecast", "zband").toLowerCase,
      arOrder = key("arOrder", "3").toInt,
      seasonalPeriod = key("seasonalPeriod", "0").toInt,
      dOrder = key("dOrder", "1").toInt)
  }

  // ------------------------------------------------- balanced-call utilities

  /** Split the argument list of a call: `s(openIdx)` must be '('; returns the
    * top-level comma-separated args (trimmed) and the index just past the
    * matching ')'. Respects single-quoted strings, nested parens, and
    * `MAP[...]` brackets.
    */
  private[graft] def balancedArgs(s: String, openIdx: Int): (Seq[String], Int) = {
    require(s.charAt(openIdx) == '(', s"expected '(' at $openIdx")
    val args = scala.collection.mutable.ArrayBuffer.empty[String]
    val cur = new StringBuilder
    var depth = 0
    var inQuote = false
    var i = openIdx
    while (i < s.length) {
      val c = s.charAt(i)
      if (inQuote) { cur += c; if (c == '\'') inQuote = false }
      else c match {
        case '\'' => inQuote = true; cur += c
        case '(' | '[' => depth += 1; if (depth > 1) cur += c
        case ')' | ']' =>
          depth -= 1
          if (depth == 0 && c == ')') {
            if (cur.toString.trim.nonEmpty) args += cur.toString.trim
            return (args.toSeq, i + 1)
          } else cur += c
        case ',' if depth == 1 => args += cur.toString.trim; cur.clear()
        case other => cur += other
      }
      i += 1
    }
    sys.error(s"unbalanced parentheses in call starting at $openIdx")
  }

  /** Split on top-level commas only (paren- and quote-aware) — for GROUP BY
    * key lists, select lists, and composite PARTITION BY keys, where a naive
    * `split(",")` would cut through `concat(a, b)`.
    */
  private[graft] def splitTopLevelCommas(s: String): Seq[String] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    var depth = 0
    var inQuote = false
    var start = 0
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (inQuote) { if (c == '\'') inQuote = false }
      else c match {
        case '\'' => inQuote = true
        case '(' | '[' => depth += 1
        case ')' | ']' => depth -= 1
        case ',' if depth == 0 => out += s.substring(start, i); start = i + 1
        case _ =>
      }
      i += 1
    }
    out += s.substring(start)
    out.toSeq
  }

  /** Strip a surrounding `'…'` or `` `…` `` from an identifier/literal arg. */
  private def unquoteArg(a: String): String = {
    val t = a.trim
    if ((t.startsWith("'") && t.endsWith("'")) || (t.startsWith("`") && t.endsWith("`")))
      t.substring(1, t.length - 1)
    else t
  }

  /** Split `SELECT <list> FROM <rest>` at the first top-level FROM. */
  private[graft] def topLevelSelectFrom(sql: String): (String, String) = {
    var depth = 0
    var inQuote = false
    var i = 0
    val upper = sql.toUpperCase
    while (i < sql.length - 4) {
      val c = sql.charAt(i)
      if (inQuote) { if (c == '\'') inQuote = false }
      else c match {
        case '\'' => inQuote = true
        case '(' | '[' => depth += 1
        case ')' | ']' => depth -= 1
        case _ =>
          if (depth == 0 && upper.startsWith("FROM", i) &&
              (i == 0 || !Character.isLetterOrDigit(sql.charAt(i - 1))) &&
              (i + 4 >= sql.length || !Character.isLetterOrDigit(sql.charAt(i + 4)))) {
            val sel = sql.substring(0, i).replaceFirst("(?is)^\\s*SELECT\\s+", "")
            return (sel, sql.substring(i + 4))
          }
      }
      i += 1
    }
    sys.error("no top-level FROM found")
  }

  private val ReservedAfterLateral =
    Set("WHERE", "GROUP", "ORDER", "WITH", "ON", "JOIN", "LIMIT", "HAVING", "UNION",
      "LEFT", "RIGHT", "INNER", "CROSS", "FULL", "NATURAL", "OUTER")

  private val RunAgentStartRe = "(?is),\\s*LATERAL\\s+TABLE\\s*\\(\\s*AI_RUN_AGENT\\s*\\(".r

  /** `FROM t [alias], LATERAL TABLE(AI_RUN_AGENT('agent', <prompt expr…>))
    * [AS] r` (LAB1-Walkthrough.md:195-214, LAB3-Walkthrough.md:460-470,
    * LAB4-Walkthrough.md:410-425) → a per-agent scalar UDF returning the
    * (status, response) struct, appended in a subquery so `r.status` /
    * `r.response` (or bare `status`/`response` when un-aliased, the lab3
    * form) resolve naturally. Multiple prompt args concatenate with a space.
    * The agent definition resolves on the DRIVER at rewrite time and ships in
    * the UDF closure (executor registries never see runtime registrations).
    */
  private def rewriteRunAgent(spark: SparkSession, sql: String): String = {
    val m = RunAgentStartRe.findFirstMatchIn(sql).getOrElse(return sql)
    val (args, afterArgs) = balancedArgs(sql, m.end - 1)
    require(args.size >= 2, s"AI_RUN_AGENT needs (agent, prompt…), got ${args.size} args")
    // optional `[AS] alias` and optional TVF column list `(status, response)`
    // after the closing paren (lab1: `as agent_result(status, response)`)
    val tail = sql.substring(afterArgs)
    val tailM = ("(?is)^\\s*\\)\\s*(?:(?:AS\\s+)?([A-Za-z_]\\w*)" +
      "(\\s*\\(\\s*\\w+(?:\\s*,\\s*\\w+)*\\s*\\))?)?").r.findFirstMatchIn(tail)
      .getOrElse(sys.error("malformed LATERAL TABLE(AI_RUN_AGENT(...))"))
    val aliasOpt = Option(tailM.group(1)).filterNot(a => ReservedAfterLateral(a.toUpperCase))
    // a reserved "alias" (WHERE/GROUP/…) means there was no alias: neither it
    // NOR a parenthesized group the column-list regex swallowed (`WHERE
    // (flag)`) belongs to the lateral — resume at the keyword itself, not
    // `end - keyword.length`, which would delete the swallowed group
    val colList = aliasOpt.flatMap(_ => Option(tailM.group(2)))
      .map(_.replaceAll("[()\\s]", "").split(",").toSeq)
    val consumed =
      if (aliasOpt.isDefined) tailM.end
      else Option(tailM.group(1)).map(_ => tailM.start(1)).getOrElse(tailM.end)

    val agentName = unqualify(unquoteArg(args.head))
    // prompt = the non-MAP args after the name (extras like a session key
    // concatenate into the prompt; MAP[...] args are invocation options)
    val promptArgs = args.tail.filterNot(_.toUpperCase.startsWith("MAP["))
    val promptExpr =
      if (promptArgs.size == 1) promptArgs.head
      else promptArgs.map(a => s"CAST($a AS STRING)").mkString("CONCAT(", ", ' ', ", ")")
    val agentDef = AgentCatalog.resolve(agentName)
    val fname = s"__ai_run_agent_${agentName.replaceAll("\\W", "_")}"
    spark.udf.register(fname, (prompt: String) =>
      AgentRuntime.run(agentDef, if (prompt == null) "" else prompt))

    val without = sql.substring(0, m.start) + sql.substring(afterArgs + consumed)
    val (sel, rest) = topLevelSelectFrom(without)
    // the outer subquery takes over the from-item's alias (or its bare table
    // name) so qualified references in the select list — `pmi.order_id` —
    // keep resolving after the wrap; a prefix match so trailing WHERE/GROUP
    // clauses (which stay INSIDE the wrap) don't defeat the alias detection
    val outerAlias = "(?s)^\\s*([\\w.`]+)(?:\\s+(?:AS\\s+)?(\\w+))?".r.findFirstMatchIn(rest)
      .map { rm =>
        Option(rm.group(2)).filterNot(a => ReservedAfterLateral(a.toUpperCase))
          .getOrElse(unqualify(rm.group(1)))
      }
      .getOrElse("__graft_ar")
    val restClean = rest.replaceAll(";\\s*$", "")
    val call = s"$fname($promptExpr)"
    val rewritten = (aliasOpt, colList) match {
      case (Some(alias), Some(cols)) =>
        // positional rename of the (status, response) struct fields
        val fields = Seq("status", "response")
        val named = cols.zip(fields).map { case (c, f) => s"'$c', __g0.$f" }.mkString(", ")
        s"SELECT $sel FROM (SELECT *, named_struct($named) AS $alias " +
          s"FROM (SELECT *, $call AS __g0 FROM $restClean) __g1) $outerAlias"
      case (Some(alias), None) =>
        s"SELECT $sel FROM (SELECT *, $call AS $alias FROM $restClean) $outerAlias"
      case _ =>
        s"SELECT $sel FROM (SELECT *, __g0.status AS status, __g0.response AS response " +
          s"FROM (SELECT *, $call AS __g0 FROM $restClean) __g1) $outerAlias"
    }
    rewriteRunAgent(spark, rewritten) // a second lateral, if any
  }

  private val ToolInvokeStartRe = "(?i)AI_TOOL_INVOKE\\s*\\(".r

  /** Scalar `AI_TOOL_INVOKE('model', 'prompt', MAP[…], MAP['tool','desc',…],
    * MAP[…])` (LAB1-Walkthrough.md:80-91): one model turn + at most one tool
    * execution. Rewrites to a per-model UDF over [[AgentRuntime.invokeOnce]]
    * with the allowed tools taken from the tools MAP's keys.
    */
  private def rewriteToolInvoke(spark: SparkSession, sql: String): String = {
    val m = ToolInvokeStartRe.findFirstMatchIn(sql).getOrElse(return sql)
    val (args, end) = balancedArgs(sql, m.end - 1)
    require(args.size >= 2, s"AI_TOOL_INVOKE needs (model, prompt, …), got ${args.size}")
    val model = unqualify(unquoteArg(args.head))
    // the tools map is the MAP[...] arg with content (observed arg order:
    // on_error MAP[], tools MAP[...], options MAP[...] — tools come first)
    val toolKeys = args.drop(2)
      .filter(a => a.toUpperCase.startsWith("MAP["))
      .map(a => "'([^']*)'".r.findAllMatchIn(a).map(_.group(1)).toSeq)
      .find(_.nonEmpty).getOrElse(Seq.empty)
      .grouped(2).map(_.head).toSeq
    val agentDef = AgentDefinition(
      name = s"tool_invoke_$model",
      model = ModelCatalog.chat(model),
      systemPrompt = "",
      tools = ToolCatalog.resolveAll(toolKeys))
    val fname = s"__ai_tool_invoke_${model.replaceAll("\\W", "_")}"
    spark.udf.register(fname, (prompt: String) =>
      AgentRuntime.invokeOnce(agentDef, if (prompt == null) "" else prompt).response)
    val rewritten = sql.substring(0, m.start) + s"$fname(${args(1)})" + sql.substring(end)
    rewriteToolInvoke(spark, rewritten)
  }

  private val VsaLateralRe =
    ("(?is),\\s*LATERAL\\s+TABLE\\s*\\(\\s*VECTOR_SEARCH_AGG\\s*\\(\\s*([\\w.`-]+)\\s*,\\s*" +
      "DESCRIPTOR\\s*\\(\\s*\\w+\\s*\\)\\s*,\\s*([\\w.]+)\\s*,\\s*(\\d+)\\s*\\)\\s*\\)\\s*(?:AS\\s+)?(\\w+)").r

  /** `FROM qe, LATERAL TABLE(VECTOR_SEARCH_AGG(tbl, DESCRIPTOR(emb),
    * qe.embedding, k)) AS vs` (terraform/lab2-vector-search/main.tf:292) →
    * drop the lateral, register a per-(table,k) search UDF over the resolved
    * [[graft.vector.VectorTableCatalog]] store, and substitute
    * `vs.search_results[N]…` references. Flink's array indexing is 1-based,
    * Spark's 0-based — indices shift during substitution; the reference's
    * `document_id` field maps onto the store's `doc_id`.
    */
  private def rewriteVectorSearch(spark: SparkSession, sql: String): String = {
    var cur = sql
    var m = VsaLateralRe.findFirstMatchIn(cur)
    while (m.isDefined) {
      val mm = m.get
      val (table, qvec, k, alias) = (unqualify(mm.group(1)), mm.group(2), mm.group(3).toInt, mm.group(4))
      val store = graft.vector.VectorTableCatalog.resolve(table)
      val declared = graft.vector.VectorTableCatalog.resultSchema(table)
      // sanitized: the table-name group admits '-' and '.' (hyphenated topic
      // names), which would make the UDF name unparseable in the spliced SQL
      val fname = s"__vsa_${table.replaceAll("\\W", "_")}_$k"
      declared match {
        case Some(schema) =>
          // schema-driven: results in the table's DECLARED column shape, so
          // `.pages` / `.fraud_categories` / any metadata field just works
          val remote = store.asInstanceOf[graft.vector.RemoteVectorStore]
          spark.udf.register(fname,
            udfForSchema(remote, k, schema))
        case None =>
          spark.udf.register(fname, (q: Seq[Float]) => store.search(q.toArray, k))
      }
      cur = cur.substring(0, mm.start) + cur.substring(mm.end)
      // vs.search_results[N].field → __vsa(qe.embedding)[N-1].field (Flink's
      // 1-based indexing shifts; without a declared schema the legacy
      // document_id → doc_id mapping applies), then bare vs.search_results
      val indexed = ("(?i)\\b" + java.util.regex.Pattern.quote(alias) + "\\.search_results\\[(\\d+)\\]\\.(\\w+)").r
      cur = indexed.replaceAllIn(cur, rm => {
        val field =
          if (declared.isEmpty && rm.group(2).equalsIgnoreCase("document_id")) "doc_id" else rm.group(2)
        s"$fname($qvec)[${rm.group(1).toInt - 1}].$field"
      })
      cur = ("(?i)\\b" + java.util.regex.Pattern.quote(alias) + "\\.search_results\\b").r
        .replaceAllIn(cur, s"$fname($qvec)")
      m = VsaLateralRe.findFirstMatchIn(cur)
    }
    cur
  }

  private def udfForSchema(remote: graft.vector.RemoteVectorStore, k: Int,
                           schema: org.apache.spark.sql.types.StructType): org.apache.spark.sql.expressions.UserDefinedFunction =
    org.apache.spark.sql.functions.udf(
      new org.apache.spark.sql.api.java.UDF1[scala.collection.Seq[Float], Seq[org.apache.spark.sql.Row]] {
        override def call(q: scala.collection.Seq[Float]): Seq[org.apache.spark.sql.Row] =
          remote.searchRows(q.toArray, k, schema)
      },
      org.apache.spark.sql.types.ArrayType(schema))

  private val LateralRe =
    ("(?is),\\s*LATERAL\\s+TABLE\\s*\\(\\s*ML_PREDICT\\s*\\(\\s*'([\\w.-]+)'\\s*,\\s*([\\w.]+)\\s*" +
      "(?:,\\s*MAP\\s*\\[[^\\]]*\\]\\s*)?\\)\\s*\\)\\s*(?:(?:AS\\s+)?(\\w+))?(?:\\s*\\(\\s*(\\w+)\\s*\\))?").r

  /** `FROM t, LATERAL TABLE(ML_PREDICT('m', c [, MAP[...]])) AS r[(out)]` →
    * drop the lateral clause and substitute the output column with the scalar
    * `ml_predict('m', c)` (or `ml_embed` when `m` names an embedding model).
    * Without a column list the output takes the model's declared OUTPUT name
    * (`embedding` for embedding models, `response` for textgen — the names
    * every reference CREATE MODEL uses, terraform/core/main.tf:461-563;
    * lab4 references `e.embedding`, LAB4-Walkthrough.md:250-254). Iterates so
    * chained laterals all rewrite.
    */
  private[graft] def rewriteLateral(sql: String): String = {
    var cur = sql
    var m = LateralRe.findFirstMatchIn(cur)
    while (m.isDefined) {
      val mm = m.get
      val (model, arg) = (mm.group(1), mm.group(2))
      // a "keyword alias" means there was no alias — don't consume it
      val alias = Option(mm.group(3)).filterNot(a => ReservedAfterLateral(a.toUpperCase))
      val isEmbed = ModelCatalog.embeddingSnapshot.contains(unqualify(model))
      val fn = if (isEmbed) "ml_embed" else "ml_predict"
      // a reserved "alias" carries no column list either — anything the list
      // group swallowed after the keyword belongs to the outer query
      val outCol = alias.flatMap(_ => Option(mm.group(4)))
        .getOrElse(if (isEmbed) "embedding" else "response")
      val call = s"$fn('${unqualify(model)}', $arg)"
      val reserved = Option(mm.group(3)).exists(a => ReservedAfterLateral(a.toUpperCase))
      val without =
        if (reserved) cur.substring(0, mm.start) + cur.substring(mm.start(3))
        else cur.substring(0, mm.start) + cur.substring(mm.end)
      // first standalone reference (optionally alias-qualified) becomes the
      // call; keep the column name unless the site aliases it itself
      // (`e.embedding AS narrative_embedding`, LAB4-Walkthrough.md:250-254)
      val aliasPrefix = alias.map(a => "(?:" + java.util.regex.Pattern.quote(a) + "\\.)?").getOrElse("")
      val ref = ("(?i)\\b" + aliasPrefix + outCol + "\\b").r
      cur = ref.findFirstMatchIn(without) match {
        case Some(r) =>
          val hasOwnAlias = without.substring(r.end).matches("(?is)^\\s+AS\\b.*")
          val expr = if (hasOwnAlias) call else s"$call AS $outCol"
          without.substring(0, r.start) + expr + without.substring(r.end)
        case None => without
      }
      m = LateralRe.findFirstMatchIn(cur)
    }
    cur
  }

  private def status(spark: SparkSession, kind: String, name: String): DataFrame = {
    import spark.implicits._
    Seq((kind, name, "OK")).toDF("object_type", "name", "status")
  }
}

/** DDL tool name → member wire-tool names (`CREATE TOOL x ... allowed_tools`);
  * `USING TOOLS x` expands through here.
  */
object ToolGroupCatalog {
  private val groups = scala.collection.concurrent.TrieMap[String, Seq[String]]()
  def register(name: String, members: Seq[String]): Unit = groups.put(name, members)
  def dropGroup(name: String): Unit = groups.remove(name)
  def members(name: String): Option[Seq[String]] = groups.get(name)
  /** A name expands to its group, or to itself when it's a direct tool. */
  def expand(name: String): Seq[String] = groups.getOrElse(name, Seq(name))
}

/** Agents need a ChatModel; local stand-in models are TextGen — adapt by
  * answering the latest user message.
  */
final case class ChatFromTextGen(inner: TextGenModel) extends ChatModel {
  override def name: String = inner.name
  override def chat(system: String, messages: Seq[Message]): String =
    inner.generate(messages.reverse.find(_.role == "user").map(_.content).getOrElse(""))
}
