package graft

/** Physical-plan regression guards: the properties that make the headline
  * queries scale are pinned here, so a refactor that silently loses a
  * pushdown, a broadcast, or the composite join key fails fast — not at the
  * next benchmark.
  */
class PlanAuditSpec extends SparkSpec {

  private def plan(name: String): String =
    graft.queries.Catalog.queries(name)(spark, sfDir).queryExecution.executedPlan.toString

  test("q01: filter and column pruning reach the parquet scan") {
    val p = plan("q01_pricing_summary")
    assert(p.contains("PushedFilters: [IsNotNull(l_quantity), GreaterThan(l_quantity,5.0)]"),
      "the quantity filter must be pushed into the scan")
    assert(p.contains("ReadSchema: struct<l_quantity:double,l_extendedprice:double,l_discount:double,"),
      "only the referenced columns may be read")
    assert(!p.contains("l_comment"), "unused wide columns must be pruned")
  }

  test("q03: both dimension joins broadcast — the fact side never shuffles") {
    val p = plan("q03_enrich_join")
    assert("BroadcastHashJoin".r.findAllIn(p).size == 2, "customer and nation must both broadcast")
    assert(!p.contains("SortMergeJoin"), "no sort-merge shuffle for broadcast-able dims")
  }

  test("q44: the interval join's equi-key carries the composite (city, time-bucket)") {
    val p = plan("q44_window_interval_join")
    assert(p.contains("__ij_bucket"), "the bucketed range join must keep the time bucket in the key")
    // the bucket participates in the JOIN KEY, not just a filter
    assert("(?s)Join \\[claim_city[^\\]]*__ij_bucket".r.findFirstIn(p).isDefined ||
      "BroadcastHashJoin \\[claim_city#\\d+, __ij_bucket".r.findFirstIn(p).isDefined,
      s"composite equi-key expected in:\n${p.linesIterator.filter(_.contains("Join")).mkString("\n")}")
    assert(!p.contains("CartesianProduct"), "never a cartesian fallback")
  }

  test("q04/q44: the interval joins survive a non-broadcastable small side (r17)") {
    // the sf0.1 plans broadcast the small side; at 100 TB the windowed /
    // orders side outgrows the threshold and the planner must fall back to a
    // shuffled EQUI-join on the same keys — never a per-key cartesian or a
    // BroadcastNestedLoopJoin on the residual range predicate
    val threshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      for (name <- Seq("q04_interval_join", "q44_window_interval_join")) {
        val df = graft.queries.Catalog.queries(name)(spark, sfDir)
        val p = df.queryExecution.executedPlan.toString
        assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
          s"$name must keep an equi-join shape without broadcast:\n" +
            p.linesIterator.filter(_.contains("Join")).mkString("\n"))
        assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin"),
          s"$name expected a shuffled equi-join fallback")
      }
      // same rows on both routes (q04 is the cheaper one to compare fully)
      val smj = graft.queries.Catalog.queries("q04_interval_join")(spark, sfDir).count()
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", threshold)
      val bhj = graft.queries.Catalog.queries("q04_interval_join")(spark, sfDir).count()
      assert(smj == bhj, s"route change must not change rows: $smj vs $bhj")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", threshold)
  }

  test("q17: knn reduces map-side through the bounded top-k aggregator") {
    val p = plan("q17_knn_cosine")
    assert(p.contains("partial_topkagg"),
      "candidates must be reduced map-side (partial aggregation) before the per-query shuffle")
    assert(p.contains("BroadcastNestedLoopJoin"),
      "queries broadcast against the corpus — the corpus side never moves")
  }

  test("q109: cumulate explodes slice partials, never the fact rows") {
    val p = plan("q109_window_cumulate")
    val aggs = "HashAggregate".r.findAllMatchIn(p).map(_.start).toSeq
    val gen = "Generate explode".r.findFirstMatchIn(p).map(_.start)
      .getOrElse(fail("the cumulative-window explode must be present"))
    // plans print top-down: merge aggregates (phase 3) above the explode,
    // slice aggregates (phase 1) below it — an explode BELOW the last
    // aggregate pair would mean fact rows are being replicated
    assert(aggs.size == 4, s"expected 2 partial/final aggregate pairs, got ${aggs.size}")
    assert(aggs.count(_ < gen) == 2 && aggs.count(_ > gen) == 2,
      "the explode must sit between the slice aggregation and the merge aggregation")
  }

  test("q02: predicate pushdown on the orders scan") {
    val p = plan("q02_filter_project")
    // (the plan string truncates long filter lists — match prefixes)
    assert(p.contains("EqualTo(o_orderstatus,O)") && p.contains("GreaterThan(o_total"),
      "both predicates must be pushed to the scan")
  }

  test("q79: SCD2's two window passes share one exchange and one sort") {
    val p = plan("q79_scd2_build")
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1,
      s"both windows must reuse a single (user_id) exchange:\n${p.linesIterator.filter(_.contains("Exchange")).mkString("\n")}")
    assert("\\bSort \\[".r.findAllIn(p).size == 1,
      "both windows must reuse a single (user_id, ts, event_id) sort")
  }

  test("q162: skip-past selection reuses the candidate window's exchange — one shuffle total") {
    // skipPastSelect's MrScanExec requires its input clustered by the key
    // and sorted by (key, ts, tie); EnsureRequirements must satisfy both with
    // the candidate window's own exchange and sort — at 60M events a second
    // shuffle would double the network cost for zero movement
    val p = plan("q162_match_skip_past")
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1,
      s"candidate window and skip-past scan must share one exchange:\n${p.linesIterator.filter(_.contains("Exchange")).mkString("\n")}")
    assert("\\bSort \\[".r.findAllIn(p).size == 1, s"window and scan must share one sort:\n$p")
    assert(p.indexOf("MrScanExec") >= 0 && p.indexOf("MrScanExec") < p.indexOf("Exchange"),
      s"the exchange must sit below the scan node:\n$p")
    assert(!p.contains("DeserializeToObject"), s"the scan re-grew an object boundary:\n$p")
  }

  private val mrQueries = Seq("q162_match_skip_past", "q169_match_xvar_cap",
    "q176_match_permute", "q177_match_subset", "q180_match_iso_preferment")

  test("MATCH_RECOGNIZE scans are one Catalyst plan: exchange and sort under MrScanExec") {
    for (name <- mrQueries) {
      val p = plan(name)
      val scanAt = p.indexOf("MrScanExec")
      assert(scanAt >= 0, s"$name: no MrScanExec node:\n$p")
      assert(!p.contains("ExistingRDD") && !p.contains("DeserializeToObject"),
        s"$name: the scan left the plan through an RDD or object boundary:\n$p")
      assert("Exchange hashpartitioning".r.findAllIn(p).size == 1,
        s"$name: expected exactly one hash exchange:\n$p")
      assert(p.indexOf("Exchange hashpartitioning") > scanAt &&
        "\\bSort \\[".r.findAllMatchIn(p).exists(_.start > scanAt),
        s"$name: the exchange and sort must sit below MrScanExec:\n$p")
    }
  }

  test("building the MATCH_RECOGNIZE queries runs no table-scanning Spark job before the action") {
    // a scan that leaves the plan through queryExecution.toRdd runs the
    // child's shuffle stage under adaptive execution while the DataFrame is
    // still being built. Every spark.read.parquet runs one footer job to
    // infer the schema; what must not run is a job that scans table rows (a
    // FileScanRDD). Jobs are counted by job group; a marker job in the same
    // group, started after the builds, proves every earlier job event has
    // reached the listener.
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    val group = "mr-build-" + System.nanoTime()
    val scanJobs = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val markerSeen = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null && e.properties.getProperty("spark.jobGroup.id") == group) {
          if (e.properties.getProperty("spark.job.description") == "marker") markerSeen.countDown()
          else if (e.stageInfos.exists(_.rddInfos.exists(_.name == "FileScanRDD")))
            scanJobs.add(e.stageInfos.map(_.name).mkString(", "))
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "build")
      Seq("q162_match_skip_past", "q169_match_xvar_cap")
        .foreach(graft.queries.Catalog.queries(_)(spark, sfDir))
      sc.setJobDescription("marker")
      sc.parallelize(Seq(1), 1).count()
      assert(markerSeen.await(60, java.util.concurrent.TimeUnit.SECONDS), "marker job never seen")
      assert(scanJobs.isEmpty, s"building scanned table rows: ${scanJobs.toArray.mkString("; ")}")
    } finally {
      sc.clearJobGroup()
      sc.setJobDescription(null)
      sc.removeSparkListener(listener)
    }
  }

  test("q76: decontamination's corpus scan is shuffle-free on the broadcast path") {
    val p = plan("q76_decontam")
    assert(!p.contains("Exchange"),
      s"the corpus side must not shuffle — bench hashes ship as a broadcast array:\n$p")
  }

  test("q88: line dedup's broadcast path rewrites docs without joining the corpus") {
    val p = plan("q88_line_dedup")
    // the only plan join allowed is none: hot chunks probe as a broadcast map
    // inside the rebuild UDF; the count-agg job runs eagerly before planning
    assert(!p.contains("Join"), s"corpus rewrite must be join-free:\n$p")
    assert(!p.contains("Exchange"), "corpus rows must not shuffle on the broadcast path")
  }

  test("q91: mixture weights broadcast; the corpus never shuffles") {
    val p = plan("q91_apply_mixture")
    assert(p.contains("BroadcastHashJoin"), "the |domains|-row weights table must broadcast")
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      "the corpus side of the weights join must stay in place")
  }

  test("q92: per-group top-k aggregates map-side, never window-sorts") {
    val p = plan("q92_topk_per_group")
    assert(p.contains("partial_topkagg"), "map-side partial bounded aggregation required")
    assert(!p.contains("Window"), "no window-sort formulation")
  }

  test("q113: exact sampling ships O(strata·k) through the bounded aggregator") {
    val p = plan("q113_exact_stratified_sample")
    assert(p.contains("partial_topkagg"), "map-side partial bounded aggregation required")
    assert(!p.contains("Window"), "no per-stratum window sort")
  }

  test("q115: divergence computes the vocab join once and broadcasts the totals") {
    val p = plan("q115_corpus_divergence")
    // both consumers must read the materialized vocab table, not rebuild the
    // corpus-scan → count-agg → join chain (which would scan the corpus twice)
    assert(!p.contains("SortMergeJoin FullOuter"),
      s"vocab join must be materialized ahead of the totals broadcast:\n$p")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      "the 1-row totals must broadcast back")
  }

  test("q116: snapshot diff is one full-outer join, nothing re-reads") {
    val p = plan("q116_snapshot_diff")
    assert(p.contains("FullOuter"), "keyed diff is a full outer join")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "diff must join on the key, never cross")
  }

  test("q139: document text never key-shuffles — hash exchanges carry only ids, positions, hashes") {
    import org.apache.spark.sql.catalyst.plans.physical.RoundRobinPartitioning
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.types.StringType
    val df = graft.queries.Catalog.queries("q139_exact_substring_spans")(spark, sfDir)
    val exchanges = df.queryExecution.sparkPlan.collect { case e: ShuffleExchangeExec => e }
    assert(exchanges.nonEmpty, "the gram-hash and island windows must shuffle")
    exchanges.foreach { e =>
      e.outputPartitioning match {
        // Parallelism.defend's round-robin legitimately redistributes the
        // raw docs ONCE (its documented cost on a non-splittable layout,
        // one row per doc) — every keyed exchange downstream is per-GRAM
        // and must carry 24-byte (doc_id, p, hash) rows, never the text
        case _: RoundRobinPartitioning => ()
        case _ =>
          assert(!e.output.exists(_.dataType == StringType),
            s"a keyed exchange carries a string column — the text (or grams) leaked " +
              s"into a shuffle: ${e.output.map(a => s"${a.name}:${a.dataType.simpleString}")}")
      }
    }
    // the island-merge groupBy must reuse the doc window's partitioning: a
    // subset hash partitioning satisfies the grouping's clustered
    // distribution, so only defend's round-robin + the two window exchanges
    // may appear
    assert(exchanges.size <= 3, s"unexpected extra shuffles:\n${df.queryExecution.sparkPlan}")
  }

  test("q141: total sort numbers rows across MANY partitions — never a one-task window") {
    // the numbering is the RunningSum node over a range shuffle; audit the
    // physical layout too, not only the plan string
    val df = graft.queries.Catalog.queries("q141_total_sort")(spark, sfDir)
    assert(df.queryExecution.executedPlan.toString.contains("RunningSum"),
      "totalSort must come back as the RunningSum node, not a window plan")
    assert(!df.queryExecution.executedPlan.toString.contains("Window"),
      "the single-task row_number window is the anti-pattern")
    assert(df.rdd.getNumPartitions > 1,
      "positions must be produced in parallel partitions")
  }

  test("q142: transition matrix is one event scan — totals window the aggregate, never a join subplan") {
    val p = plan("q142_markov_transitions")
    assert(p.contains("Window"), "lag must be a keyed window")
    // the totals were once a broadcast join whose subplan re-planned the
    // whole scan+lag (2.33 s -> 0.77 s at sf1 when windowed instead)
    assert(!p.contains("Join"), "no join may exist — a totals subplan re-scans the log")
    assert("FileScan|Scan parquet".r.findAllIn(p).size <= 1,
      "the event log must be planned exactly once")
  }

  test("q143: z-values are a row-local projection — the only exchange is min/max's scalar agg") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    val df = graft.queries.Catalog.queries("q143_zorder_layout")(spark, sfDir)
    val shuffles = df.queryExecution.executedPlan.collect { case e: ShuffleExchangeLike => e }
    assert(shuffles.isEmpty,
      s"the interleave must fuse into the scan projection:\n${df.queryExecution.sparkPlan}")
  }

  test("q08: the anomaly window carries NO bounded sliding frame (round-7 rewrite guard)") {
    // Spark re-aggregates a bounded [-max, -1] ROWS frame from scratch per
    // row; the detector's decimal sums must stay differences of incremental
    // UNBOUNDED PRECEDING frames — a regression here is an O(rows × frame)
    // digit-string cast storm that only surfaces at sf1+ (12 s of lab3's
    // surge stage). The window SPEC prints frame bounds in the plan.
    val p = plan("q08_anomaly_detect")
    assert(p.contains("unboundedpreceding"), s"expected cumulative frames in:\n$p")
    assert(!p.toLowerCase.contains("rows between 50 preceding"),
      "the bounded sliding frame must not reappear")
    // same guard for the SQL-text rewrite twin
    val p60 = plan("q60_sql_text_anomaly")
    assert(!p60.toLowerCase.contains("rows between 50 preceding"),
      "the SQL-text rewrite must use the cumulative-difference form too")
  }

  test("engine sessions keep bounded typed aggs on the hash path (sf10 spill guard)") {
    // the 128-distinct-key default silently degrades ObjectHashAggregate to
    // sort-based, spilling the full pre-agg input (the sf10 exact-knn stream
    // filled the disk); both session builders must override it
    assert(spark.conf.get("spark.sql.objectHashAggregate.sortBased.fallbackThreshold").toLong >= 1000000L,
      "Graft.session must raise the object-agg fallback threshold")
  }
}
