package graft

import graft.sources.cassandralike.CellStore
import org.apache.spark.sql.{DataFrame, Row}

/** Aggregate planning reduces per-segment run stats that every commit
  * warms. A driver that has parsed none of them (a cold driver) must
  * reach the same tier and the same answer as a warm one. */
class ColdPlanningSpec extends SparkSpec {

  /** Per DSv2 scan of the plan: answered at planning or distributed, and
    * its `AggStats:` label. */
  private def tiers(df: DataFrame): Seq[String] =
    PlannedScan.all(df).map { s =>
      val label = "AggStats: [a-z-]+".r.findFirstIn(s.description).getOrElse("no AggStats")
      s"${if (s.answered) "driver answer" else "BatchScanExec"}, $label"
    }

  /** Rows in a stable order, doubles to 12 significant digits
    * (a distributed sum's order of addition is not fixed). */
  private def rows(df: DataFrame): Seq[String] =
    df.collect().toSeq.map { r =>
      Row.fromSeq(r.toSeq.map {
        case d: Double if !d.isNaN && !d.isInfinite =>
          BigDecimal(d).round(new java.math.MathContext(12))
        case v => v
      }).toString
    }.sorted

  test("every judged conn_agg_* query plans the same tier and rows cold as warm") {
    val names = SparkEntry.registry.map(_.name).filter(_.startsWith("conn_agg_"))
    assert(names.size >= 30, s"$names")
    names.foreach { name =>
      val warm = SparkEntry.queries(name)(spark, sfDir)
      val warmTiers = tiers(warm)
      val warmRows = rows(warm)
      // the query body may seed its store, and that commit warms the
      // handles; drop them after it, so the planning below starts cold
      val cold = SparkEntry.queries(name)(spark, sfDir)
      CellStore.clearPlannerCaches()
      assert(tiers(cold) == warmTiers, s"$name: cold planning changed the tier")
      assert(rows(cold) == warmRows, s"$name: cold planning changed the rows")
      info(s"$name: ${warmTiers.mkString("; ")}")
    }
  }
}
