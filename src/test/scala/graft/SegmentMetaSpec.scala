package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import graft.sources.cassandralike._
import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources.{Filter, In}
import org.apache.spark.sql.types.StructType

/** Segment metadata handles ([[CellStore.SegmentMeta]]) exist for live
  * committed segments only: commits and compactions add them, and every
  * operation that deletes segments drops them. */
class SegmentMetaSpec extends SparkSpec {

  private def norm(p: Path): Path = p.toAbsolutePath.normalize

  /** Committed segments under `dir`, its index sub-stores included. */
  private def live(dir: String): Set[Path] = {
    val root = Paths.get(dir)
    if (!Files.isDirectory(root)) return Set.empty
    val s = Files.walk(root)
    try s.iterator().asScala.filter { p =>
      p.getParent.getFileName.toString == CellStore.SstDir &&
        p.getFileName.toString.matches("b\\d+-.*\\.bin")
    }.map(norm).toSet
    finally s.close()
  }

  /** Segments under `dir` that hold a handle. */
  private def held(dir: String): Set[Path] =
    CellStore.memoizedSegments.filter(_.startsWith(norm(Paths.get(dir)))).toSet

  private def deleteKeys(dir: String, ids: Seq[Long]): Unit = {
    val meta = CellStore.readMeta(dir).get
    new CassandraLikeTable(dir, dir, StructType.fromDDL(meta.schemaDdl),
      Some(meta.mapping), meta.properties)
      .deleteWhere(Array[Filter](In("id", ids.map(Long.box).toArray[Any])))
  }

  test("after each ingest batch the handles are exactly the live segments") {
    val sp = spark; import sp.implicits._
    def batch(from: Long, n: Long, ver: Int) =
      (from until from + n).map(i => (i, s"n${i % 37}", i * 10L + ver))
        .toDF("id", "name", "v").repartition(2)
    val store = Seed.table(spark, sfDir, "spec_meta_ingest", batch(0L, 400L, 0),
      props = Map(Options.IndexColumns -> "name", Options.Buckets -> "4",
        Options.CompactSegmentsMax -> "2"))
    assert(held(store) == live(store))
    (1 to 6).foreach { b =>
      // new keys plus overwrites of old ones; every third batch deletes
      Seed.append(batch(b * 300L, 400L, b), store,
        Map(Options.WriteTimestamp -> (10L * b).toString))
      if (b % 3 == 0) deleteKeys(store, (0L until 50L).map(_ + b * 300L))
      assert(live(store).exists(_.toString.contains("idx_name")))
      assert(held(store) == live(store), s"batch $b")
    }
    // reads fill handles of live segments only
    assert(Seed.read(spark, store).filter(col("name") === "n5").count() > 0L)
    assert(Seed.read(spark, store).count() > 0L)
    assert(held(store) == live(store))
  }

  test("truncate and dropTable leave no handle under the table") {
    val sp = spark; import sp.implicits._
    def seed(name: String) = Seed.table(spark, sfDir, name,
      (1L to 200L).map(i => (i, s"n${i % 7}")).toDF("id", "name").repartition(2),
      props = Map(Options.IndexColumns -> "name", Options.Buckets -> "4"))
    val t = seed("spec_meta_truncate")
    Seed.read(spark, t).count()
    assert(held(t).nonEmpty)
    CellStore.truncate(t)
    CellStore.truncate(Index.dir(t, "name"))
    assert(held(t).isEmpty)
    val d = seed("spec_meta_drop")
    Seed.read(spark, d).count()
    assert(held(d).nonEmpty)
    CellStore.dropTable(d)
    assert(held(d).isEmpty)
  }

  test("a segment rewritten in place is read again, not answered from memory") {
    val dir = Files.createTempDirectory("metarewrite").toString
    try {
      val sst = Paths.get(dir, CellStore.SstDir)
      Files.createDirectories(sst)
      val file = sst.resolve("b0-a.bin")
      def c(k: String) = Cell(k.getBytes, "c".getBytes, null, "v".getBytes, 1L,
        tombstone = false)
      val out = CellStore.newSegmentStream(file)
      CellStore.writeRun(out, Seq(c("k1"), c("k3")))
      CellStore.writeRun(out, Seq(c("k2")))
      out.close()
      assert(CellStore.meta(file).runs.size == 2)
      CellStore.compactSegment(file)
      assert(CellStore.meta(file).runs.size == 1)
      assert(CellStore.meta(file).stats.map(_.cells).toSeq == Seq(3))
    } finally CellStore.dropTable(dir)
  }

  test("main code keeps no per-file memo keyed by (path, size, mtime)") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"${root.toAbsolutePath} not found")
    val files = Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toList
    assert(files.exists(_.getFileName.toString == "CellStore.scala"))
    val statKeyed = """Map\[\s*\(\s*String\s*,\s*Long\s*,\s*Long\s*\)""".r
    val offenders = files.filter { f =>
      val text = Files.readString(f)
      statKeyed.findFirstIn(text).isDefined || text.contains("cacheKey")
    }
    assert(offenders.isEmpty, s"stat-keyed memos in: ${offenders.mkString(", ")}")
  }
}
