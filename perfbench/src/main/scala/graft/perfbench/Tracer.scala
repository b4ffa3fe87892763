package graft.perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicLong, LongAdder}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Per-layer tracing for the benchmark's traced run. Nothing here changes
  * what the workloads compute: spans time calls into the modules' public
  * functions, a `SparkListener` aggregates job/stage/task counters by query,
  * a `StreamingQueryListener` aggregates progress by statement, and
  * delegating models count model calls. [[Tracer.off]] is the untraced run's
  * no-op twin, so both runs drive the same code path.
  */
class Tracer(spark: SparkSession) {
  import Tracer._

  private val sc = spark.sparkContext
  @volatile private var on = false
  def active: Boolean = on
  def active_=(v: Boolean): Unit = {
    // events of the work just traced are delivered before tracing stops
    if (on && !v) org.apache.spark.BenchBus.drain(sc)
    on = v && enabled
    CountingModels.on = on
    sparkAgg.on = on
    stream.on = on
  }
  private val startNs = System.nanoTime()

  /** A closed span; times in seconds since the tracer started. */
  final case class Span(id: Int, name: String, layer: String, start: Double, end: Double,
                        parent: Int, query: String)
  private val spans = mutable.ArrayBuffer[Span]()
  private val stack = mutable.Stack[(Int, String, String, Double)]()
  private var nextSpan = 0
  private var currentQuery = ""
  private var queryInstance = 0L

  val sparkAgg = new SparkAgg
  val stream = new StreamAgg
  private val plans = mutable.Map[String, (Int, Int, Int)]()
  private var overheadFrac = Double.NaN
  private var queryWallS = 0.0

  if (enabled) {
    sc.addSparkListener(sparkAgg)
    spark.streams.addListener(stream)
    CountingModels.install()
  }

  def enabled: Boolean = true

  private def now(): Double = (System.nanoTime() - startNs) / 1e9

  /** Runs one operation of the mix under a job group named after it; with
    * `counted` false its Spark work stays out of the per-pass counters. */
  def query[T](name: String, counted: Boolean = true)(f: => T): T = {
    queryInstance += 1
    sc.setJobGroup(name, name)
    sc.setLocalProperty(QidKey, s"$name#$queryInstance")
    val traced = active && counted
    sc.setLocalProperty(TracedKey, if (traced) "1" else null)
    currentQuery = name
    // epoch milliseconds, the clock of the task infos the listener sees
    val t0 = System.currentTimeMillis()
    try span(name, "harness")(f)
    finally {
      if (traced) {
        val t1 = System.currentTimeMillis()
        queryWallS += (t1 - t0) / 1000.0
        sparkAgg.queryWall(s"$name#$queryInstance", t0, t1)
      }
      sc.clearJobGroup()
      sc.setLocalProperty(QidKey, null)
      sc.setLocalProperty(TracedKey, null)
      sc.setLocalProperty(PhaseKey, null)
    }
  }

  def span[T](name: String, layer: String)(f: => T): T = {
    if (!active) return f
    val id = nextSpan
    nextSpan += 1
    stack.push((id, name, layer, now()))
    val prevPhase = sc.getLocalProperty(PhaseKey)
    sc.setLocalProperty(PhaseKey, layer)
    try f
    finally {
      val (_, n, l, s) = stack.pop()
      sc.setLocalProperty(PhaseKey, prevPhase)
      spans += Span(id, n, l, s, now(), stack.headOption.map(_._1).getOrElse(-1), currentQuery)
    }
  }

  /** Fingerprints `df`; traced, it also records the final plan's shape. */
  def fingerprint(name: String, df: DataFrame): Fingerprint.Fp = {
    val (fp, agg) = Fingerprint.withPlan(df)
    if (active) {
      val nodes = planNodes(agg.queryExecution.executedPlan)
      val names = nodes.map(_.nodeName)
      plans(name) = (names.count(_.contains("Exchange")), names.count(_ == "Sort"),
        names.count(n => n.contains("ExistingRDD") || n == "Scan ExistingRDD"))
    }
    fp
  }

  def overhead(tracedPassS: Double, untracedPassS: Double): Unit =
    overheadFrac = tracedPassS / untracedPassS - 1.0

  /** Per-layer metrics, per traced pass (batch) or per run (stream); the
    * lab stage times and agent failures are per stagewise pass. */
  def report(o: Main.Outcome, tracedPasses: Int): Unit = {
    org.apache.spark.BenchBus.drain(sc)
    val per = math.max(1, tracedPasses).toDouble
    val a = sparkAgg.totals()
    def put(k: String, v: Double, unit: String) = o.put(k, v, unit, tracedPasses)
    put("spark.jobs", a.jobs / per, "count")
    put("spark.stages", a.stages / per, "count")
    put("spark.tasks", a.tasks / per, "count")
    put("spark.driver_gap_s", sparkAgg.driverGapS() / per, "s")
    put("spark.core_busy_frac",
      if (queryWallS > 0) a.taskRunMs / 1000.0 / (queryWallS * Machine.nproc) else 0.0, "ratio")
    put("spark.executor_cpu_s", a.cpuNs / 1e9 / per, "s")
    put("spark.shuffle_write_bytes", a.shuffleWrite / per, "bytes")
    put("spark.shuffle_read_bytes", a.shuffleRead / per, "bytes")
    put("spark.spill_bytes", a.spill / per, "bytes")
    put("spark.input_bytes", a.input / per, "bytes")
    put("spark.result_bytes", a.result / per, "bytes")
    put("spark.pinned_block_bytes", sparkAgg.pinnedPeak.toDouble, "bytes")
    put("queries.build_jobs", sparkAgg.jobsInPhase("queries") / per, "count")
    val byName = spans.groupBy(_.name).map { case (k, v) => k -> v.map(s => s.end - s.start).sum }
    put("queries.build_s", byName.getOrElse("build", 0.0) / per, "s")
    put("queries.action_s", byName.getOrElse("action", 0.0) / per, "s")
    Stages.keys.foreach(k => put(k, byName.getOrElse(k, 0.0), "s"))
    put("ml.embed_calls", CountingModels.embedCalls.sum / per, "count")
    put("ml.embed_distinct_ratio", CountingModels.distinctRatio, "ratio")
    put("ml.generate_calls", CountingModels.generateCalls.sum / per, "count")
    put("agent.failed_rows", agentFailedRows.toDouble, "count")
    val pl = plans.values
    put("plan.exchanges", pl.map(_._1).sum.toDouble, "count")
    put("plan.sorts", pl.map(_._2).sum.toDouble, "count")
    put("plan.rdd_boundaries", pl.map(_._3).sum.toDouble, "count")
    put("sql.execute_s", byName.getOrElse("sql.execute", 0.0), "s")
    stream.report(o)
    put("trace.overhead_frac", if (overheadFrac.isNaN) 0.0 else overheadFrac, "ratio")
    selfTimes().foreach { case (layer, s) => o.details(s"self_s.$layer") = s / per }
  }

  @volatile var agentFailedRows = 0L

  /** Self time per layer: each span's duration minus its children's. */
  def selfTimes(): Map[String, Double] = {
    val child = spans.groupBy(_.parent).map { case (p, cs) => p -> cs.map(c => c.end - c.start).sum }
    spans.groupBy(_.layer).map { case (l, ss) =>
      l -> ss.map(s => (s.end - s.start) - child.getOrElse(s.id, 0.0)).sum
    }
  }

  def close(out: String): Unit = if (spans.nonEmpty) {
    val rows = spans.map(s => mutable.LinkedHashMap[String, Any]("id" -> s.id, "name" -> s.name,
      "layer" -> s.layer, "start" -> s.start, "end" -> s.end, "parent" -> s.parent, "query" -> s.query))
    java.nio.file.Files.write(java.nio.file.Paths.get(out, "spans.json"),
      Json.render(rows).getBytes("UTF-8"))
  }
}

object Tracer {
  val QidKey = "graft.perfbench.qid"
  val TracedKey = "graft.perfbench.traced"
  val PhaseKey = "graft.perfbench.phase"

  /** The untraced run's tracer: job groups only, no listeners, no spans. */
  def off(spark: SparkSession): Tracer = new Tracer(spark) {
    override def enabled: Boolean = false
    override def report(o: Main.Outcome, tracedPasses: Int): Unit = ()
  }

  /** Every node of a physical plan, through adaptive wrappers and query stages. */
  def planNodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => planNodes(a.executedPlan)
    case q: QueryStageExec        => q +: planNodes(q.plan)
    case other                    => other +: (other.children ++ other.subqueries).flatMap(planNodes)
  }
}

/** Job/stage/task counters of traced queries, by query instance. */
class SparkAgg extends SparkListener {
  final class Totals {
    var jobs = 0L; var stages = 0L; var tasks = 0L; var taskRunMs = 0L; var cpuNs = 0L
    var shuffleWrite = 0L; var shuffleRead = 0L; var spill = 0L; var input = 0L; var result = 0L
  }
  private val t = new Totals
  private val stageQid = new ConcurrentHashMap[Int, String]()
  private val phaseJobs = new ConcurrentHashMap[String, LongAdder]()
  private val intervals = new ConcurrentHashMap[String, mutable.ArrayBuffer[(Long, Long)]]()
  private val walls = new ConcurrentHashMap[String, (Long, Long)]()
  private val blocks = new ConcurrentHashMap[String, Long]()
  private val pinned = new AtomicLong(0L)
  @volatile var pinnedPeak = 0L
  /** Off between traced phases: work of stream threads that inherited a
    * traced query's properties is then not counted. */
  @volatile var on = false

  private def traced(props: java.util.Properties): Option[String] =
    Option(props).filter(p => on && p.getProperty(Tracer.TracedKey) == "1")
      .flatMap(p => Option(p.getProperty(Tracer.QidKey)))

  override def onJobStart(e: SparkListenerJobStart): Unit = traced(e.properties).foreach { qid =>
    synchronized { t.jobs += 1; t.stages += e.stageInfos.length }
    e.stageInfos.foreach(s => stageQid.put(s.stageId, qid))
    val phase = Option(e.properties.getProperty(Tracer.PhaseKey)).getOrElse("")
    phaseJobs.computeIfAbsent(phase, _ => new LongAdder).increment()
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Option(stageQid.get(e.stageId)).filter(_ => on).foreach { qid =>
    val m = e.taskMetrics
    synchronized {
      t.tasks += 1
      t.taskRunMs += e.taskInfo.finishTime - e.taskInfo.launchTime
      if (m != null) {
        t.cpuNs += m.executorCpuTime
        t.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        t.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        t.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        t.input += m.inputMetrics.bytesRead
        t.result += m.resultSize
      }
      intervals.computeIfAbsent(qid, _ => mutable.ArrayBuffer()) +=
        ((e.taskInfo.launchTime, e.taskInfo.finishTime))
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
    val i = e.blockUpdatedInfo
    if (i.blockId.isRDD) {
      val size = if (i.storageLevel.isValid) i.memSize + i.diskSize else 0L
      val prev = Option(blocks.put(i.blockId.name, size)).getOrElse(0L)
      val cur = pinned.addAndGet(size - prev)
      if (on && cur > pinnedPeak) pinnedPeak = cur
    }
  }

  def queryWall(qid: String, startMs: Long, endMs: Long): Unit = walls.put(qid, (startMs, endMs))

  def jobsInPhase(phase: String): Double = Option(phaseJobs.get(phase)).map(_.sum.toDouble).getOrElse(0.0)

  def totals(): Totals = synchronized(t)

  /** Query wall time during which no task of that query ran, summed. */
  def driverGapS(): Double = synchronized {
    walls.asScala.map { case (qid, wall) =>
      SparkAgg.uncoveredMs(wall, intervals.getOrDefault(qid, mutable.ArrayBuffer()).toSeq) / 1000.0
    }.sum
  }
}

object SparkAgg {
  /** Milliseconds of `wall` not covered by the union of `intervals`. */
  def uncoveredMs(wall: (Long, Long), intervals: Seq[(Long, Long)]): Long = {
    val (s, e) = wall
    val iv = intervals.map { case (a, b) => (math.max(a, s), math.min(b, e)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L; var curS = -1L; var curE = -1L
    iv.foreach { case (a, b) =>
      if (a > curE) { if (curE > curS) covered += curE - curS; curS = a; curE = b }
      else curE = math.max(curE, b)
    }
    if (curE > curS) covered += curE - curS
    math.max(0L, (e - s) - covered)
  }
}

/** Streaming progress aggregated by statement (the `cq_` prefix dropped). */
class StreamAgg extends StreamingQueryListener {
  final class Stat {
    var batches = 0L
    val triggerMs = mutable.ArrayBuffer[Double]()
    var addBatchMs, planMs, walMs, latestOffsetMs, stateCommitMs = 0.0
    var stateRows, stateBytes, lateDropped = 0L
    val lagS = mutable.ArrayBuffer[Double]()
  }
  val stats = new ConcurrentHashMap[String, Stat]()
  @volatile var on = false

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()

  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    if (!on || (p.numInputRows == 0 && p.stateOperators.isEmpty)) return
    val key = Option(p.name).getOrElse("?").stripPrefix("cq_")
    val s = stats.computeIfAbsent(key, _ => new Stat)
    def d(k: String): Double = Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)
    s.synchronized {
      s.batches += 1
      s.triggerMs += d("triggerExecution")
      s.addBatchMs += d("addBatch"); s.planMs += d("queryPlanning")
      s.walMs += d("walCommit"); s.latestOffsetMs += d("latestOffset")
      p.stateOperators.foreach { so =>
        s.stateRows = so.numRowsTotal; s.stateBytes = so.memoryUsedBytes
        s.stateCommitMs += so.commitTimeMs; s.lateDropped += so.numRowsDroppedByWatermark
      }
      val et = p.eventTime
      if (et.containsKey("watermark") && et.containsKey("max")) {
        val w = java.time.Instant.parse(et.get("watermark")).toEpochMilli
        val mx = java.time.Instant.parse(et.get("max")).toEpochMilli
        if (w > 0) s.lagS += (mx - w) / 1000.0
      }
    }
  }

  val statements = Seq("norm", "spikes", "queue")

  def report(o: Main.Outcome): Unit = statements.foreach { k =>
    val s = Option(stats.get(k)).getOrElse(new Stat)
    def put(m: String, v: Double, unit: String) = o.put(s"stream.$m.$k", v, unit, s.batches.toInt)
    put("batches", s.batches.toDouble, "count")
    put("trigger_s_p50", if (s.triggerMs.isEmpty) 0.0 else Stats.median(s.triggerMs.toSeq) / 1000, "s")
    put("add_batch_s", s.addBatchMs / 1000, "s")
    put("plan_s", s.planMs / 1000, "s")
    put("wal_s", s.walMs / 1000, "s")
    put("latest_offset_s", s.latestOffsetMs / 1000, "s")
    put("state_rows", s.stateRows.toDouble, "count")
    put("state_bytes", s.stateBytes.toDouble, "bytes")
    put("state_commit_s", s.stateCommitMs / 1000, "s")
    put("late_rows_dropped", s.lateDropped.toDouble, "count")
    put("watermark_lag_s", if (s.lagS.isEmpty) 0.0 else Stats.median(s.lagS.toSeq), "s")
  }
}

/** Delegating models: the catalog's local models, wrapped to count calls. */
object CountingModels {
  @volatile var on = false
  val embedCalls = new LongAdder
  val generateCalls = new LongAdder
  private val distinct = ConcurrentHashMap.newKeySet[String]()

  def distinctRatio: Double = {
    val c = embedCalls.sum
    if (c == 0) 0.0 else distinct.size.toDouble / c
  }

  final case class Embed(inner: graft.ml.EmbeddingModel) extends graft.ml.EmbeddingModel {
    def name: String = inner.name
    def dim: Int = inner.dim
    def embed(text: String): Array[Float] = {
      if (CountingModels.on) { CountingModels.embedCalls.increment(); CountingModels.distinct.add(text) }
      inner.embed(text)
    }
    override def embedBatch(texts: Seq[String]): Seq[Array[Float]] = {
      if (CountingModels.on) {
        CountingModels.embedCalls.add(texts.length); texts.foreach(CountingModels.distinct.add)
      }
      inner.embedBatch(texts)
    }
  }

  final case class Generate(inner: graft.ml.TextGenModel) extends graft.ml.TextGenModel {
    def name: String = inner.name
    def generate(prompt: String): String = {
      if (CountingModels.on) CountingModels.generateCalls.increment()
      inner.generate(prompt)
    }
    override def generateBatch(prompts: Seq[String]): Seq[String] = {
      if (CountingModels.on) CountingModels.generateCalls.add(prompts.length)
      inner.generateBatch(prompts)
    }
  }

  private var installed = false

  def install(): Unit = synchronized {
    if (!installed) {
      graft.ml.ModelCatalog.registerEmbedding(Embed(graft.ml.ModelCatalog.embedding("local-embed-64")))
      graft.ml.ModelCatalog.registerTextGen(Generate(graft.ml.ModelCatalog.textGen("local-textgen")))
      installed = true
    }
  }
}
