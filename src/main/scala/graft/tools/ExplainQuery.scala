package graft.tools

import org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation

/** Print the formatted physical plan of judged queries, then the
  * description of every DSv2 scan in the optimized plan (subqueries
  * included): a scan answered at planning runs as a bare `LocalTableScan`,
  * and its description is what shows the scan it wraps, the pushed
  * aggregates with their `AggStats:` path and the `DriverAnswer:` store IO.
  * `runMain graft.tools.ExplainQuery <name> [<name>...]`. */
object ExplainQuery {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val spark = graft.GraftSession.get("graft-explain")
    spark.sparkContext.setLogLevel("ERROR")
    args.foreach { name =>
      println(s"\n===== $name =====")
      val df = graft.SparkEntry.queries(name)(spark, sfDir)
      df.explain("formatted")
      df.queryExecution.optimizedPlan.collectWithSubqueries {
        case r: DataSourceV2ScanRelation => r.scan.description()
      }.zipWithIndex.foreach { case (d, i) => println(s"Scan ${i + 1}: $d") }
    }
    spark.stop()
  }
}
