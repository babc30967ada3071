package graft

import graft.sources.cassandralike._
import org.apache.spark.sql.functions._

/** `range.bounds` — the RANGE-partitioned layout: bucket b covers the key
  * interval [bounds(b-1), bounds(b)), so a pushed key range prunes to the
  * covered contiguous buckets instead of touching the whole ring. Locked
  * layout property; requires an order-preserving key byte form. */
class RangeLayoutSpec extends SparkSpec {

  private def rangeProps(bounds: String, buckets: Int) = Map(
    Options.KeyEncoding -> "ordered",
    Options.RangeBounds -> bounds,
    Options.Buckets -> buckets.toString)

  test("routing: readback, lookup, delete — negatives and bound keys included") {
    val sp = spark; import sp.implicits._
    val src = Seq(-500L, -100L, -99L, -1L, 0L, 1L, 99L, 100L, 450L)
      .map(k => (k, s"v$k")).toDF("k", "v")
    val store = Seed.table(spark, sfDir, "spec_range_route", src,
      props = rangeProps("-100,0,100", 4))
    val back = Seed.read(spark, store)
    assert(back.collect().map(_.getLong(0)).toSet == src.collect().map(_.getLong(0)).toSet)
    // a bound key belongs to the bucket it OPENS (bounds(b-1) inclusive)
    assert(back.filter($"k" === -100L).count() == 1)
    assert(back.filter($"k" === 100L).count() == 1)
    // point lookup + delete route through the same map
    assert(back.filter($"k" === 0L).collect().map(_.getString(1)).toSeq == Seq("v0"))
    val meta = CellStore.readMeta(store).get
    val table = new CassandraLikeTable(store, store,
      org.apache.spark.sql.types.StructType.fromDDL(meta.schemaDdl),
      Some(meta.mapping), meta.properties)
    table.deleteWhere(Array[org.apache.spark.sql.sources.Filter](
      org.apache.spark.sql.sources.EqualTo("k", -500L)))
    assert(Seed.read(spark, store).filter($"k" === -500L).count() == 0)
    assert(Seed.read(spark, store).count() == 8)
  }

  test("a pushed key range prunes to the covered buckets at planning") {
    val sp = spark; import sp.implicits._
    import org.apache.spark.sql.sources.{EqualTo, GreaterThanOrEqual, LessThan}
    val src = (0 until 1000).map(i => (i.toLong - 500L, s"v$i")).toDF("k", "v")
    val store = Seed.table(spark, sfDir, "spec_range_prune", src,
      props = rangeProps("-100,0,100", 4))
    val meta = CellStore.readMeta(store).get
    val table = new CassandraLikeTable(store, store,
      org.apache.spark.sql.types.StructType.fromDDL(meta.schemaDdl),
      Some(meta.mapping), meta.properties)
    def partsFor(filters: Array[org.apache.spark.sql.sources.Filter])
      : Seq[CellInputPartition] = {
      val b = new CellScanBuilder(table, Map.empty)
      b.pushFilters(filters)
      PlannedScan(b.build()).partitions
        .map(_.asInstanceOf[CellInputPartition]).toSeq
    }
    assert(partsFor(Array.empty).map(_.bucket).distinct.sorted == Seq(0, 1, 2, 3))
    // a range covering only [150, 400) touches bucket 3 alone
    assert(partsFor(Array(GreaterThanOrEqual("k", 150L), LessThan("k", 400L)))
      .map(_.bucket).distinct == Seq(3))
    // a sign-crossing range touches exactly the two middle buckets
    assert(partsFor(Array(GreaterThanOrEqual("k", -50L), LessThan("k", 50L)))
      .map(_.bucket).distinct.sorted == Seq(1, 2))
    // equality routes to one bucket
    assert(partsFor(Array(EqualTo("k", -200L))).map(_.bucket).distinct == Seq(0))
    // results stay exact through the full pipeline
    val got = Seed.read(spark, store).filter($"k" >= -50L && $"k" < 50L)
    assert(got.collect().map(_.getLong(0)).sorted.toSeq == (-50L until 50L))
  }

  test("two same-bounds range stores zipper-join; mixed bounds shuffle") {
    import org.apache.spark.sql.execution.SortExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    import org.apache.spark.sql.execution.joins.SortMergeJoinExec
    spark.conf.set("spark.sql.catalog.cassandralike",
      classOf[CassandraLikeCatalog].getName)
    spark.conf.set("spark.sql.catalog.cassandralike.warehouse",
      s"${Seed.storeRoot(sfDir)}/warehouse")
    spark.sql("CREATE NAMESPACE IF NOT EXISTS cassandralike.ks")
    def mk(n: String, bounds: String): Unit = {
      spark.sql(s"DROP TABLE IF EXISTS cassandralike.ks.$n")
      spark.sql(
        s"""CREATE TABLE cassandralike.ks.$n (k BIGINT, v DOUBLE)
           |USING cassandralike
           |TBLPROPERTIES ('buckets' = '4', 'partitioning.report' = 'true',
           |  'key.encoding' = 'ordered', 'range.bounds' = '$bounds')""".stripMargin)
      spark.sql(s"INSERT INTO cassandralike.ks.$n SELECT id - 50, CAST(id AS DOUBLE) FROM range(0, 100)")
    }
    mk("range_a", "-25,0,25")
    mk("range_b", "-25,0,25")
    mk("range_c", "-30,0,30")
    def walk(p: org.apache.spark.sql.execution.SparkPlan)
      : Seq[org.apache.spark.sql.execution.SparkPlan] = {
      val self = p match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => walk(a.executedPlan)
        case q: org.apache.spark.sql.execution.adaptive.QueryStageExec => q +: walk(q.plan)
        case other => Seq(other)
      }
      self ++ p.children.flatMap(walk) ++ p.subqueries.flatMap(walk)
    }
    val joined = spark.table("cassandralike.ks.range_a").hint("MERGE")
      .join(spark.table("cassandralike.ks.range_b"), Seq("k"))
    assert(joined.count() == 100)
    val smjs = walk(joined.queryExecution.executedPlan)
      .collect { case j: SortMergeJoinExec => j }
    assert(smjs.nonEmpty, "expected a sort-merge join of the range stores")
    val under = smjs.flatMap(j => j.children.flatMap(walk))
    assert(!under.exists(_.isInstanceOf[ShuffleExchangeLike]),
      "no exchange under the same-bounds range join")
    assert(!under.exists(_.isInstanceOf[SortExec]),
      "ordered range keys must elide the SMJ sorts")
    // different bounds = different digest = never proven co-partitioned
    val mixed = spark.table("cassandralike.ks.range_a").hint("MERGE")
      .join(spark.table("cassandralike.ks.range_c"), Seq("k"))
    assert(mixed.count() == 100, "mixed-bounds join must still be correct")
    assert(walk(mixed.queryExecution.executedPlan)
      .exists(_.isInstanceOf[ShuffleExchangeLike]),
      "mixed bounds must fall back to a shuffled join, never zip buckets")
  }

  test("layout validation: count drift, disorder, unordered encodings reject") {
    val sp = spark; import sp.implicits._
    val src = Seq((1L, "a")).toDF("k", "v")
    // buckets must equal bounds + 1
    intercept[Exception](Seed.table(spark, sfDir, "spec_range_bad1", src,
      props = Map(Options.KeyEncoding -> "ordered",
        Options.RangeBounds -> "0,10", Options.Buckets -> "4")))
    // bounds must strictly ascend
    intercept[Exception](Seed.table(spark, sfDir, "spec_range_bad2", src,
      props = rangeProps("10,0", 3)))
    // big-endian two's-complement longs are not value-ordered
    intercept[Exception](Seed.table(spark, sfDir, "spec_range_bad3", src,
      props = Map(Options.RangeBounds -> "0,10", Options.Buckets -> "3")))
    // string keys qualify with no opt-in (SQL order IS byte order)
    val sstore = Seed.table(spark, sfDir, "spec_range_str",
      Seq(("a", 1L), ("m", 2L), ("z", 3L)).toDF("k", "n"),
      props = Map(Options.RangeBounds -> "g,t", Options.Buckets -> "3"))
    assert(Seed.read(spark, sstore).count() == 3)
    assert(Seed.read(spark, sstore).filter($"k" >= "u").collect()
      .map(_.getString(0)).toSeq == Seq("z"))
  }

  test("suggestBounds derives balanced bounds from the key distribution") {
    val sp = spark; import sp.implicits._
    // skewed longs: half the mass below 100, a long tail to 100k
    val src = ((0 until 5000).map(i => i.toLong % 100L) ++
      (0 until 5000).map(i => (i * 20 + 100).toLong)).toDF("k")
    val bounds = RangeLayout.suggestBounds(src, "k", 4)
    assert(bounds.size == 3, s"got $bounds")
    assert(bounds == bounds.map(_.toLong).sorted.map(_.toString),
      s"bounds must ascend: $bounds")
    // the derived property round-trips through parse + a real store
    val store = Seed.table(spark, sfDir, "spec_range_suggest",
      src.withColumn("v", $"k" * 2).dropDuplicates("k"),
      props = Map(Options.KeyEncoding -> "ordered",
        Options.RangeBounds -> bounds.mkString(","),
        Options.Buckets -> (bounds.size + 1).toString))
    assert(Seed.read(spark, store).count() ==
      src.dropDuplicates("k").count())
    // balance: the skewed low half does not all land in one bucket
    assert(bounds.head.toLong < 100L,
      s"half the mass is below 100; first bound must split it: $bounds")
    // a single hot key collapses duplicate quantiles instead of failing
    val hot = (0 until 1000).map(_ => 7L).toDF("k")
    val hb = RangeLayout.suggestBounds(hot, "k", 4)
    assert(hb == Seq("7"), s"got $hb")
    // string keys render verbatim
    val sb = RangeLayout.suggestBounds(
      ('a' to 'z').map(_.toString).toDF("k"), "k", 3)
    assert(sb.size == 2 && sb.forall(_.length == 1), s"got $sb")
  }

  test("digest sidecar: binds resolve O(1) via _range_digests; walk is the legacy fallback") {
    import org.apache.spark.sql.types.{LongType, StructType}
    import org.apache.spark.sql.connector.catalog.Identifier
    val wh = java.nio.file.Files.createTempDirectory("graftrangewh")
    val cat = new CassandraLikeCatalog
    cat.initialize("rl_sidecar", new org.apache.spark.sql.util.CaseInsensitiveStringMap(
      java.util.Map.of("warehouse", wh.toString)))
    val schema = StructType.fromDDL("k BIGINT, v STRING")
    def freshMeta(dir: String, bounds: String, buckets: Int): String = {
      CellStore.writeMeta(dir, CellStore.Meta(schema.toDDL, ColumnMapping.auto(schema),
        Map(Options.KeyEncoding -> "ordered", Options.RangeBounds -> bounds,
          Options.Buckets -> buckets.toString)))
      RangeLayout.digest(
        RangeLayout.parse(bounds, LongType, KeyCodec(LongType, ordered = true)),
        ordered = true)
    }
    // 1. SIDECAR path: a range table OUTSIDE the warehouse — the walk can
    // never find it, so a successful bind proves the sidecar resolved it
    // (the in-JVM proxy for a fresh process replaying a persisted plan)
    val ext = java.nio.file.Files.createTempDirectory("graftrangeext").toString
    val d1 = freshMeta(ext, "-777041,424987", 3)
    assert(RangeBucketFunction.lookup(d1).isEmpty,
      "precondition: digest must not be pre-registered in this JVM")
    val scDir = wh.resolve("_range_digests")
    java.nio.file.Files.createDirectories(scDir)
    java.nio.file.Files.write(scDir.resolve(d1),
      ext.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val f1 = cat.loadFunction(Identifier.of(Array("ns"),
      RangeBucketFunction.nameFor(3, d1)))
    val b1 = f1.bind(new StructType().add("k", LongType))
    assert(b1.isInstanceOf[BoundRangeBucket] && RangeBucketFunction.lookup(d1).nonEmpty)
    // 2. LEGACY fallback: a pre-sidecar table INSIDE the warehouse (no
    // sidecar) resolves via the bounded walk
    val legacyDir = wh.resolve("ks").resolve("legacy_range")
    java.nio.file.Files.createDirectories(legacyDir)
    val d2 = freshMeta(legacyDir.toString, "-31337,90001", 3)
    assert(RangeBucketFunction.lookup(d2).isEmpty)
    val f2 = cat.loadFunction(Identifier.of(Array("ks"),
      RangeBucketFunction.nameFor(3, d2)))
    f2.bind(new StructType().add("k", LongType))
    assert(RangeBucketFunction.lookup(d2).nonEmpty)
    // loadTable self-heals the sidecar for the legacy table
    cat.loadTable(Identifier.of(Array("ks"), "legacy_range"))
    assert(java.nio.file.Files.isRegularFile(scDir.resolve(d2)),
      "loadTable must write the missing sidecar")
    // 3. an unknown digest fails bind loudly (and is negative-cached so
    // repeated binds don't re-walk the warehouse); repeatably
    val bogus = "00112233aabbccdd"
    (1 to 2).foreach { _ =>
      val fb = cat.loadFunction(Identifier.of(Array("ns"),
        RangeBucketFunction.nameFor(3, bogus)))
      intercept[IllegalStateException](fb.bind(new StructType().add("k", LongType)))
    }
    CellStore.dropTable(wh.toString)
    CellStore.dropTable(ext)
  }

  test("range.bounds is a locked layout property once segments exist") {
    spark.conf.set("spark.sql.catalog.cassandralike",
      classOf[CassandraLikeCatalog].getName)
    spark.conf.set("spark.sql.catalog.cassandralike.warehouse",
      s"${Seed.storeRoot(sfDir)}/warehouse")
    spark.sql("CREATE NAMESPACE IF NOT EXISTS cassandralike.ks")
    spark.sql("DROP TABLE IF EXISTS cassandralike.ks.range_lock")
    spark.sql(
      """CREATE TABLE cassandralike.ks.range_lock (k BIGINT, v STRING)
        |USING cassandralike
        |TBLPROPERTIES ('buckets' = '3', 'key.encoding' = 'ordered',
        |  'range.bounds' = '0,100')""".stripMargin)
    spark.sql("INSERT INTO cassandralike.ks.range_lock VALUES (1, 'a')")
    intercept[Exception](spark.sql(
      "ALTER TABLE cassandralike.ks.range_lock SET TBLPROPERTIES ('range.bounds' = '0,50')"))
  }
}
