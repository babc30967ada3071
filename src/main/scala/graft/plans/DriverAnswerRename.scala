package graft.plans

import graft.sources.cassandralike.DriverAnswerScan
import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, Expression, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project}
import org.apache.spark.sql.execution.{LocalTableScanExec, SparkPlan, SparkStrategy}
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation

/** Plans a column rename over a driver answer ([[DriverAnswerScan]]) as one
  * `LocalTableScanExec` of the renamed rows. Spark would plan the rename as
  * a `ProjectExec` over the local scan, and the two compile into a
  * whole-stage-codegen stage whose collect starts a job, where a bare local
  * scan is collected on the driver. A complete metadata aggregate always
  * carries such a rename: its result columns' names. */
object DriverAnswerRename extends SparkStrategy {
  private def rename(e: Expression): Boolean = e match {
    case _: Attribute => true
    case Alias(c, _) => rename(c)
    case _ => false
  }

  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case Project(list, DataSourceV2ScanRelation(_, d: DriverAnswerScan, output, _, _))
        if list.forall(rename) =>
      val project = UnsafeProjection.create(list, output)
      LocalTableScanExec(list.map(_.toAttribute),
        d.rows().toSeq.map(r => project(r).copy()), None) :: Nil
    case _ => Nil
  }
}
