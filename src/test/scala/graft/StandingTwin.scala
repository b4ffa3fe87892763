package graft

import org.apache.spark.sql.{DataFrame, Encoder, Row, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.sources.TableRegistry
import graft.sql.SqlFrontend

/** One SQL text on both routes: a STREAM table fed by a MemoryStream for the
  * standing CTAS, the same rows as a temp view for the batch twin.
  */
object StandingTwin {

  /** Register `name` as a STREAM table over a fresh MemoryStream; `shape`
    * names (and may derive) its columns.
    */
  def stream[T: Encoder](spark: SparkSession, name: String)(shape: DataFrame => DataFrame): MemoryStream[T] = {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[T]
    val schema = shape(mem.toDF()).schema
    TableRegistry.createTable(TableRegistry.TableDef(name, Some(schema),
      load = s => s.createDataFrame(s.sparkContext.emptyRDD[Row], schema),
      loadStream = Some(_ => shape(mem.toDF()))))
    mem
  }

  /** Run `select` as a standing CTAS into `sink`, feed each slice as one
    * micro-batch, and return `read` of the sink's rows; the sink is dropped.
    */
  def standing[T](spark: SparkSession, mem: MemoryStream[T], sink: String, select: String,
                  slices: Seq[Seq[T]])(read: DataFrame => DataFrame): Set[Row] = {
    SqlFrontend.execute(spark, s"CREATE TABLE $sink AS $select")
    try {
      val q = Drain.standing(sink)
      slices.foreach { s => mem.addData(s: _*); q.processAllAvailable() }
      read(SqlFrontend.execute(spark, s"SELECT * FROM $sink")).collect().toSet
    } finally SqlFrontend.execute(spark, s"DROP TABLE $sink")
  }

  /** The message `statement` fails with; a sink it created is dropped. */
  def refusal(spark: SparkSession, statement: String, sink: Option[String] = None): String = {
    val e = scala.util.Try(SqlFrontend.execute(spark, statement)).failed
      .getOrElse(throw new AssertionError(s"expected a refusal: $statement"))
    sink.filter(TableRegistry.exists).foreach(t => SqlFrontend.execute(spark, s"DROP TABLE $t"))
    e.getMessage
  }
}
