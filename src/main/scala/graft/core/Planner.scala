package graft.core

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy}

/** The one planner strategy for graft's own Catalyst nodes, [[MrScan]] and
  * [[RunningSum]] (the Pathling `SqlStrategy` pattern): each logical node
  * becomes its exec, and EnsureRequirements then plans the exchange and sort
  * the exec asks for.
  */
object Planner extends SparkStrategy {
  def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case s: MrScan => MrScanExec(s.keys, s.order, s.output, s.body, planLater(s.child)) :: Nil
    case r: RunningSum => RunningSumExec(r.order, r.weight, r.before, r.total, planLater(r.child)) :: Nil
    case _ => Nil
  }

  /** `plan` as a DataFrame of `spark`; installs this strategy on that session
    * once.
    */
  def ofRows(spark: org.apache.spark.sql.SparkSession, plan: LogicalPlan): DataFrame = {
    val session = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val exp = session.experimental
    exp.synchronized { if (!exp.extraStrategies.contains(this)) exp.extraStrategies :+= this }
    org.apache.spark.sql.graft.Bridge.ofRows(session, plan)
  }
}
