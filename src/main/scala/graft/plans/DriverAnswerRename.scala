package graft.plans

import graft.sources.cassandralike.DriverAnswerScan
import org.apache.spark.sql.catalyst.expressions.{AttributeReference, Expression, Unevaluable, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project}
import org.apache.spark.sql.execution.{LocalTableScanExec, SparkPlan, SparkStrategy}
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation

/** Plans a projection over a driver answer ([[DriverAnswerScan]]) as one
  * `LocalTableScanExec` of the projected rows, when every expression is
  * deterministic and evaluable — the condition of Spark's own
  * `ConvertToLocalRelation`. Spark would plan it as a `ProjectExec` over
  * the local scan, and the two compile into a whole-stage-codegen stage
  * whose collect starts a job, where a bare local scan is collected on the
  * driver. A complete metadata aggregate always carries such a projection:
  * its result columns' names, often under a cast. */
object DriverAnswerRename extends SparkStrategy {
  private def evaluable(e: Expression): Boolean = e.deterministic &&
    !e.exists(x => x.isInstanceOf[Unevaluable] && !x.isInstanceOf[AttributeReference])

  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case Project(list, DataSourceV2ScanRelation(_, d: DriverAnswerScan, output, _, _))
        if list.forall(evaluable) =>
      val project = UnsafeProjection.create(list, output)
      LocalTableScanExec(list.map(_.toAttribute),
        d.rows().toSeq.map(r => project(r).copy()), None) :: Nil
    case _ => Nil
  }
}
