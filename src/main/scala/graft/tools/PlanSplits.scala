package graft.tools

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.sources.cassandralike.{CassandraLikeTable, CellStore, Options}

/** Print the planned scan-partition layout of a cassandralike store dir:
  * buckets, segments, cells, and the number of input partitions the scan
  * would plan (token-range buckets + key-range sub-splits at
  * `split.target.cells`). Used to observe that scan parallelism grows with
  * data (the reference's ≤64Ki-rows-per-split posture):
  * `runMain graft.tools.PlanSplits <storeDir>`. */
object PlanSplits {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val meta = CellStore.readMeta(dir).getOrElse(
      sys.error(s"no cassandralike table at $dir"))
    val table = new CassandraLikeTable(dir, dir,
      StructType.fromDDL(meta.schemaDdl), Some(meta.mapping), meta.properties)
    val byBucket = CellStore.allSegmentFiles(dir)
    val cells = byBucket.values.flatten.map(CellStore.meta(_).cells).sum
    val segs = byBucket.values.map(_.size).sum
    val scan = table.newScanBuilder(new CaseInsensitiveStringMap(
      java.util.Collections.emptyMap())).build()
    val parts = scan.toBatch.planInputPartitions().length
    println(s"[splits] dir=$dir buckets=${byBucket.size} segments=$segs " +
      s"cells=$cells partitions=$parts")
  }
}
