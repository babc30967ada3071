package graft.tools

/** Print the formatted physical plan of judged queries:
  * `runMain graft.tools.ExplainQuery <name> [<name>...]`. */
object ExplainQuery {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val spark = graft.GraftSession.get("graft-explain")
    spark.sparkContext.setLogLevel("ERROR")
    args.foreach { name =>
      println(s"\n===== $name =====")
      graft.SparkEntry.queries(name)(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }
}
