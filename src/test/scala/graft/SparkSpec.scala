package graft

import graft.sources.cassandralike.{CellScan, DriverAnswerScan, ScanMetrics}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReaderFactory, Scan}
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Shared local session for all specs (one JVM-wide session; Spark startup
  * dominates test wall-clock otherwise). */
object SparkSpec {
  val cpus = 4
  lazy val spark: SparkSession = {
    val s = GraftSession.get("graft-test", cpus)
    s.sparkContext.setLogLevel("ERROR")
    s
  }
  val sfDir = "/root/testdata/sf0.001"
}

abstract class SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  def spark: SparkSession = SparkSpec.spark
  def sfDir: String = SparkSpec.sfDir
}

/** A store scan as the optimizer planned it: the distributed [[CellScan]],
  * or the [[DriverAnswerScan]] that answered a key-addressed read at
  * planning (executed as a `LocalTableScanExec`, so no `BatchScanExec`
  * holds it). Either way the store scan's planned partitions, description
  * and store IO counters are inspectable. */
final case class PlannedScan(scan: Scan) {
  def description: String = scan.description()
  def cellScan: CellScan = scan match {
    case d: DriverAnswerScan => d.scan
    case c: CellScan => c
  }
  def answered: Boolean = scan.isInstanceOf[DriverAnswerScan]
  def partitions: Array[InputPartition] = scan.toBatch.planInputPartitions()
  def readerFactory: PartitionReaderFactory = scan.toBatch.createReaderFactory()

  /** Store IO by metric name: a driver answer's own counters, else every
    * planned partition drained through the executors' reader. */
  def counters: Map[String, Long] = scan match {
    case d: DriverAnswerScan =>
      ScanMetrics.values(d.counters).map(m => m.name() -> m.value()).toMap
    case _ =>
      val factory = readerFactory
      val totals = collection.mutable.Map.empty[String, Long].withDefaultValue(0L)
      partitions.foreach { p =>
        val r = factory.createReader(p)
        try { while (r.next()) r.get() } finally {
          r.currentMetricsValues().foreach(m => totals(m.name()) += m.value())
          r.close()
        }
      }
      totals.toMap
  }
}

object PlannedScan {
  /** Every DSv2 scan of `df`'s optimized plan, subqueries included, in plan
    * order. */
  def all(df: DataFrame): Seq[PlannedScan] = all(df.queryExecution.optimizedPlan)

  def all(plan: LogicalPlan): Seq[PlannedScan] = plan.collectWithSubqueries {
    case r: DataSourceV2ScanRelation => PlannedScan(r.scan)
  }

  def of(df: DataFrame): PlannedScan = all(df).headOption.getOrElse(
    throw new AssertionError(
      s"no DataSourceV2ScanRelation in plan:\n${df.queryExecution.optimizedPlan}"))
}
