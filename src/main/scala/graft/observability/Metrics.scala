package graft.observability

import scala.collection.concurrent.TrieMap

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener

/**
 * Observability layer (SURVEY §2.4 A7/A8/A10, §2.9 ST9): the reference's
 * atomic counters + statsd gauges (`incremental/ReplicationCounters.java`,
 * `StatsTracker.java:36-66`) re-expressed with Spark-native machinery —
 * `Dataset.observe` metrics collected by a `QueryExecutionListener`, and
 * the lag alert buckets (lag itself comes from [[StatusServer]]'s rollup).
 */
object Metrics {

  /** A7/A8 — attach named counters to a plan: rows + bytes copied flow out
    * with the query execution, no second pass over the data. */
  def observeCounters(df: DataFrame, name: String,
      bytesCol: Option[String] = None): DataFrame = bytesCol match {
    case Some(b) => df.observe(name, count(lit(1)).as("rows"),
      coalesce(sum(col(b)), lit(0L)).as("bytes"))
    case None => df.observe(name, count(lit(1)).as("rows"))
  }

  /** Collects observed metrics from completed executions, keyed by the
    * observation name (the statsd-emission point in a real deployment). */
  final class Collector extends QueryExecutionListener {
    val metrics = TrieMap.empty[String, Map[String, Any]]
    private def capture(qe: QueryExecution): Unit =
      qe.observedMetrics.foreach { case (name, row) =>
        metrics.put(name,
          row.schema.fieldNames.zip(row.toSeq).toMap)
      }
    override def onSuccess(funcName: String, qe: QueryExecution,
        durationNs: Long): Unit = capture(qe)
    override def onFailure(funcName: String, qe: QueryExecution,
        exception: Exception): Unit = capture(qe)
  }

  def install(spark: SparkSession): Collector = {
    val c = new Collector
    spark.listenerManager.register(c)
    c
  }

  /** A10/ST9 — alert thresholds on replication lag, the age of the oldest
    * non-terminal job in the state table ([[StatusServer]]'s rollup). */
  val LagThresholdsSeconds: Seq[Long] = Seq(1800L, 3600L, 7200L, 10800L, 21600L)

  def lagBucket(lagSeconds: Long): Int =
    LagThresholdsSeconds.count(_ <= lagSeconds)
}
