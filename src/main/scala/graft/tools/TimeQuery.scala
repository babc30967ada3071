package graft.tools

import graft.GraftSession

/** Time individual judged queries outside the full Bench sweep:
  * `runMain graft.tools.TimeQuery <sfDir> <name> [name ...]`.
  * Same session as Bench (GraftSession, SPARK_GRAFT_CPUS honoured) and the
  * same warm-up + min-of-3, so numbers are comparable to BENCH_r{N}. */
object TimeQuery {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val names = args.drop(1).toSeq
    val spark = GraftSession.get("graft-time")
    names.foreach { name =>
      val q = graft.SparkEntry.queries(name)
      def once(): Double = {
        val t0 = System.nanoTime()
        q(spark, sfDir).count()
        val t = (System.nanoTime() - t0) / 1e9
        GraftSession.dropCaches(spark); System.gc(); t
      }
      once() // warm-up
      // SPARK_GRAFT_TIME_RUNS overrides the default min-of-3 (e.g. an
      // isolated min-of-5 with spread, for pinning a query's jitter band)
      val n = sys.env.get("SPARK_GRAFT_TIME_RUNS").map(_.toInt).getOrElse(3)
      val times = Seq.fill(n)(once())
      println(f"[time] $name min=${times.min}%.2f max=${times.max}%.2f " +
        s"runs=${times.map(t => f"$t%.2f").mkString(",")}")
    }
    spark.stop()
  }
}
