package graft

import org.apache.spark.sql.functions._

class SketchSpec extends SparkSpec {

  test("q70 sketches stay within their error contracts vs the exact answers") {
    val li = graft.core.Tables(spark, sfDir, "lineitem")
    val exact = li.groupBy("l_returnflag").agg(
      countDistinct(col("l_orderkey")).as("orders"),
      countDistinct(col("l_partkey")).as("parts"),
      percentile(col("l_extendedprice"), lit(0.5)).as("median"))
      .collect().map(r => r.getString(0) -> r).toMap
    val approx = graft.queries.Catalog.queries("q70_approx_sketches")(spark, sfDir)
      .collect().map(r => r.getString(0) -> r).toMap
    assert(approx.keySet == exact.keySet)
    for ((flag, a) <- approx) {
      val e = exact(flag)
      // HLL++ default rsd = 5%; 3σ bound
      assert(math.abs(a.getLong(1) - e.getLong(1)).toDouble / e.getLong(1) < 0.15,
        s"$flag approx_orders ${a.getLong(1)} vs ${e.getLong(1)}")
      assert(math.abs(a.getLong(2) - e.getLong(2)).toDouble / e.getLong(2) < 0.15,
        s"$flag approx_parts ${a.getLong(2)} vs ${e.getLong(2)}")
      // percentile_approx(accuracy=10000): rank error ≤ n/10000 → tight here
      assert(math.abs(a.getDouble(3) - e.getDouble(3)) / e.getDouble(3) < 0.02,
        s"$flag median ${a.getDouble(3)} vs ${e.getDouble(3)}")
    }
  }

  test("q70 determinism: HLL is layout-independent; percentile_approx is pinned per layout") {
    // the driver's rows check re-runs q70 across rounds — this pins why it
    // can't flap. Measured here (not assumed): HLL++ register-merge is a
    // commutative max, so approx_count_distinct is identical under ANY
    // partitioning; percentile_approx's Greenwald-Khanna merge IS layout-
    // dependent (repartitioning shifts the reported element within the rank-
    // error bound), but bit-stable across reruns of the same plan over the
    // same files — which is exactly what the driver re-executes.
    val li = graft.core.Tables(spark, sfDir, "lineitem")
      .select(col("l_returnflag"), col("l_orderkey"), col("l_partkey"), col("l_extendedprice"))
    def agg(df: org.apache.spark.sql.DataFrame) = df.groupBy("l_returnflag").agg(
      approx_count_distinct(col("l_orderkey")).as("hll"),
      // accuracy 100 on thousands of rows per group forces GK compression —
      // at the catalog's accuracy=10000 this sf would store values exactly
      // and the layout dependence would hide until a bigger scale factor
      percentile_approx(col("l_extendedprice"), lit(0.5), lit(100)).as("p50"))
      .orderBy("l_returnflag").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSeq
    val base = agg(li)
    assert(agg(li) == base, "same plan, same files: bit-stable rerun")
    val layouts = Seq(li.repartition(17), li.repartition(3, col("l_orderkey")),
      li.coalesce(1), li.orderBy(desc("l_extendedprice")))
    layouts.foreach { v =>
      val a = agg(v)
      assert(a.map(x => (x._1, x._2)) == base.map(x => (x._1, x._2)),
        s"HLL must not depend on layout: ${a.mkString("|")} vs ${base.mkString("|")}")
      // percentile may move under re-layout, but only within the GK rank
      // error (n/accuracy ranks): pin it to a 5% value envelope here
      a.zip(base).foreach { case ((f, _, p), (_, _, bp)) =>
        assert(math.abs(p - bp) / bp < 0.05, s"$f p50 drifted past the error bound: $p vs $bp")
      }
    }
  }

  test("sketch aggregates plan map-side partials (mergeable, no raw shuffle)") {
    val plan = graft.queries.Catalog.queries("q70_approx_sketches")(spark, sfDir)
      .queryExecution.executedPlan.toString
    // partial_ aggregates before the exchange = per-partition sketches merge,
    // raw rows never cross the wire — the property that makes HLL the 100 TB
    // answer to DISTINCT
    assert(plan.contains("partial_approx_count_distinct"), plan)
  }
}
