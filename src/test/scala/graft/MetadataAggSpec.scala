package graft

import graft.sources.cassandralike._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Metadata-only aggregates: an ungrouped pushed COUNT/MIN/MAX over an
  * unfiltered store answers from the run indexes' STAT tails (zero cell
  * payload IO) when the run-level conditions hold, and falls back to the
  * cell-fold scan — with identical results — when they don't. */
class MetadataAggSpec extends SparkSpec {

  private def scanOf(df: DataFrame): PlannedScan = PlannedScan.of(df)

  /** (partitionsStatsOnly total, partition count) of the planned scan:
    * a driver answer's own counters, else every partition drained. */
  private def drain(df: DataFrame): (Long, Int) = {
    val scan = scanOf(df)
    (scan.counters.getOrElse(ScanMetrics.PartitionsStatsOnly, 0L),
      scan.partitions.length)
  }

  /** One file's summary over the key window [lo, hi) (null = unbounded). */
  private def sum1(file: java.nio.file.Path, lo: Array[Byte], hi: Array[Byte],
      m: CellStore.Measure, wantSum: Boolean = false,
      wantExt: Boolean = false): Option[CellStore.Summary] =
    CellStore.summarize(Seq(file), Seq(CellStore.Window.range(0, lo, hi)), 1, m,
      wantSum, wantExt)

  /** The extremal value in [lo, hi): Some(None) = no cell, None = decline. */
  private def valueExtreme(file: java.nio.file.Path, lo: Array[Byte],
      hi: Array[Byte], wantMin: Boolean): Option[Option[Long]] =
    sum1(file, lo, hi, CellStore.Measure.Values, wantExt = true)
      .map(s => Option(s.extreme(0, wantMin)).map(_.longValue))

  /** Per key, its extremal col inside [lo, hi). */
  private def colExtremes(file: java.nio.file.Path, ks: Seq[Array[Byte]],
      lo: Array[Byte], hi: Array[Byte], wantMin: Boolean): Array[Array[Byte]] =
    CellStore.extremalAddresses(Seq(file),
      CellStore.Window.points(ks, KeyWindows.span(lo, hi)), ks.length, 1, wantMin)

  test("STAT tail: exact per-run tombstone/distinct counts round-trip") {
    val dir = java.nio.file.Files.createTempDirectory("statstail").toString
    try {
      val sst = java.nio.file.Paths.get(dir, CellStore.SstDir)
      java.nio.file.Files.createDirectories(sst)
      val out = CellStore.newSegmentStream(sst.resolve("b0-a.bin"))
      def c(k: String, col: String, ts: Long, tomb: Boolean = false) =
        Cell(k.getBytes, col.getBytes, null,
          if (tomb) Array.emptyByteArray else "v".getBytes, ts, tombstone = tomb)
      // duplicates within the run (same address twice), a tombstone, and
      // three distinct keys over five distinct addresses
      CellStore.writeRun(out, Seq(
        c("k1", "c1", 1L), c("k1", "c1", 2L), c("k1", "c2", 1L),
        c("k2", "c1", 1L), c("k2", "c9", 3L, tomb = true),
        c("k3", "c1", 1L)))
      out.close()
      val stats = CellStore.meta(sst.resolve("b0-a.bin")).stats
      assert(stats.length == 1)
      val s = stats(0)
      assert(s.cells == 6, s"cells=${s.cells}")
      assert(s.tombstones == 1, s"tombstones=${s.tombstones}")
      assert(s.distinctKeys == 3, s"distinctKeys=${s.distinctKeys}")
      assert(s.distinctAddrs == 5, s"distinctAddrs=${s.distinctAddrs}")
      assert(new String(s.firstKey) == "k1" && new String(s.lastKey) == "k3")
    } finally CellStore.dropTable(dir)
  }

  test("single-run store: COUNT/MIN/MAX answered from metadata, exact") {
    val cust = Tables.load(spark, sfDir, "customer")
      .select(col("c_name"), col("c_acctbal"))
    // repartition(1): one writer task -> one (commit-compacted) run per bucket
    val store = Seed.table(spark, sfDir, "spec_agg_meta", cust.repartition(1))
    val q = Seed.read(spark, store)
      .agg(count(lit(1)).as("n"), min("c_name").as("mn"), max("c_name").as("mx"))
    // every bucket provable at planning -> the aggregation resolves
    // COMPLETELY there: one partition, the precomputed answer row
    val desc = scanOf(q).scan.description()
    assert(desc.contains("AggStats: complete"), s"not complete: $desc")
    val (statsOnly, nParts) = drain(q)
    assert(nParts == 1 && statsOnly == 1L,
      s"complete pushdown plans one answer partition: $statsOnly of $nParts")
    val got = q.collect()(0)
    val want = cust.agg(count(lit(1)), min("c_name"), max("c_name")).collect()(0)
    assert(got.getLong(0) == want.getLong(0))
    assert(got.getString(1) == want.getString(1))
    assert(got.getString(2) == want.getString(2))
  }

  test("ordered numeric key: metadata MIN/MAX decode sign-correct extremes") {
    val sp = spark; import sp.implicits._
    val df = Seq((-5L, "a"), (3L, "b"), (-1L, "c"), (7L, "d")).toDF("k", "v")
    val store = Seed.table(spark, sfDir, "spec_agg_meta_ord", df.repartition(1),
      props = Map(Options.KeyEncoding -> "ordered"))
    val q = Seed.read(spark, store)
      .agg(min("k").as("mn"), max("k").as("mx"), count(lit(1)).as("n"))
    assert(scanOf(q).scan.description().contains("AggStats: complete"))
    val (statsOnly, _) = drain(q)
    assert(statsOnly > 0L, "ordered numeric key must take the metadata path")
    val r = q.collect()(0)
    assert(r.getLong(0) == -5L && r.getLong(1) == 7L && r.getLong(2) == 4L)
    // plain-bytes numeric key: BE two's complement byte order != numeric
    // order, so MIN/MAX must NOT claim metadata eligibility — exact anyway
    val plain = Seed.table(spark, sfDir, "spec_agg_meta_plain", df.repartition(1))
    val qp = Seed.read(spark, plain).agg(min("k").as("mn"), max("k").as("mx"))
    assert(!scanOf(qp).scan.description().contains("AggStats"),
      "plain numeric key order is not byte order; must decline")
    val rp = qp.collect()(0)
    assert(rp.getLong(0) == -5L && rp.getLong(1) == 7L)
  }

  test("tombstones force the cell-scan fallback; result stays exact") {
    val sp = spark; import sp.implicits._
    // single bucket: the tombstone provably lands in the judged bucket
    val store = Seed.table(spark, sfDir, "spec_agg_meta_tomb",
      Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "v").repartition(1),
      props = Map(Options.KeyEncoding -> "ordered", Options.Buckets -> "1"))
    // tombstone k=2 via a null-value append
    Seed.append(Seq((2L, null.asInstanceOf[String])).toDF("k", "v").repartition(1),
      store, Map(Options.NullsAsTombstones -> "true", Options.WriteTimestamp -> "2"))
    val q = Seed.read(spark, store).agg(count(lit(1)).as("n"), max("k").as("mx"))
    // still statically eligible (planning can't see tombstones)…
    assert(scanOf(q).scan.description().contains("AggStats: metadata-eligible"))
    // …but the run-level check must decline and fold cells
    val (statsOnly, _) = drain(q)
    assert(statsOnly == 0L, "tombstoned bucket must fall back to the scan")
    val r = q.collect()(0)
    assert(r.getLong(0) == 2L && r.getLong(1) == 3L, s"got $r")
  }

  test("multi-run: disjoint key ranges stay additive; overlap falls back") {
    val sp = spark; import sp.implicits._
    // single bucket: every append's keys land in the same bucket, so the
    // disjoint/overlap verdicts are deterministic
    val store = Seed.table(spark, sfDir, "spec_agg_meta_multi",
      (1L to 100L).map(i => (i, "x")).toDF("k", "v").repartition(1),
      props = Map(Options.KeyEncoding -> "ordered", Options.Buckets -> "1"))
    // second run per bucket, key range provably disjoint from the first
    Seed.append((101L to 200L).map(i => (i, "y")).toDF("k", "v").repartition(1),
      store, Map(Options.WriteTimestamp -> "2"))
    val q = Seed.read(spark, store).agg(count(lit(1)).as("n"))
    val (statsOnly, nParts) = drain(q)
    assert(statsOnly == nParts.toLong,
      s"disjoint runs must stay metadata-answerable: $statsOnly of $nParts")
    assert(q.collect()(0).getLong(0) == 200L)
    // overwrite half the keys: runs now OVERLAP, counts are not additive
    Seed.append((51L to 150L).map(i => (i, "z")).toDF("k", "v").repartition(1),
      store, Map(Options.WriteTimestamp -> "3"))
    val q2 = Seed.read(spark, store).agg(count(lit(1)).as("n"))
    val (statsOnly2, _) = drain(q2)
    assert(statsOnly2 == 0L, "overlapping runs must fall back for COUNT")
    assert(q2.collect()(0).getLong(0) == 200L, "overwrites must not double-count")
    // MIN/MAX need no disjointness: overwrites never remove an address
    val q3 = Seed.read(spark, store).agg(min("k").as("mn"), max("k").as("mx"))
    val (statsOnly3, nParts3) = drain(q3)
    assert(statsOnly3 == nParts3.toLong,
      s"MIN/MAX over overlapping runs stays metadata-answerable: $statsOnly3 of $nParts3")
    val r3 = q3.collect()(0)
    assert(r3.getLong(0) == 1L && r3.getLong(1) == 200L)
  }

  test("transposed store: metadata COUNT counts cell addresses") {
    val sp = spark; import sp.implicits._
    val store = Seed.table(spark, sfDir, "spec_agg_meta_trans",
      Seq((1L, "a", 10L), (1L, "b", 20L), (2L, "a", 30L), (2L, "a", 30L))
        .toDF("k", "c", "v").repartition(1),
      mapping = Some(":key,:column,:value"))
    val q = Seed.read(spark, store).agg(count(lit(1)).as("n"))
    val (statsOnly, _) = drain(q)
    assert(statsOnly > 0L, "transposed single-run store must answer from metadata")
    // the duplicate (2, "a") address collapses by LWW: 3 rows, not 4
    assert(q.collect()(0).getLong(0) == 3L)
  }

  test("COUNT(DISTINCT key): complete pushdown answers wide-row cardinality") {
    val sp = spark; import sp.implicits._
    // transposed store: 3 wide rows over 5 cells — count(*) counts cells,
    // count(distinct row_key) counts rows; only the COMPLETE path can
    // push the distinct (buckets partition keys disjointly at planning)
    val store = Seed.table(spark, sfDir, "spec_agg_meta_distinct",
      Seq((1L, "a", 10L), (1L, "b", 11L), (2L, "a", 20L), (2L, "b", 21L),
        (3L, "a", 30L)).toDF("k", "c", "v").repartition(1),
      mapping = Some(":key,:column,:value"),
      props = Map(Options.KeyEncoding -> "ordered"))
    val q = Seed.read(spark, store)
      .agg(count(lit(1)).as("cells"), countDistinct("k").as("rows"))
    val desc = scanOf(q).scan.description()
    assert(desc.contains("AggStats: complete") && desc.contains("CountDistinct"),
      s"distinct not completely pushed: $desc")
    val r = q.collect()(0)
    assert(r.getLong(0) == 5L && r.getLong(1) == 3L, s"got $r")
    // overlap (re-append the same keys): complete pushdown declines, the
    // distinct runs as a normal Spark plan — exact either way
    Seed.append(Seq((2L, "a", 99L)).toDF("k", "c", "v").repartition(1),
      store, Map(Options.WriteTimestamp -> "2"))
    val q2 = Seed.read(spark, store)
      .agg(count(lit(1)).as("cells"), countDistinct("k").as("rows"))
    assert(!scanOf(q2).scan.description().contains("AggStats: complete"))
    val r2 = q2.collect()(0)
    assert(r2.getLong(0) == 5L && r2.getLong(1) == 3L, s"got $r2")
  }

  test("mixed buckets: one tombstoned bucket folds, the rest stay metadata") {
    val sp = spark; import sp.implicits._
    val store = Seed.table(spark, sfDir, "spec_agg_meta_mixed",
      (1L to 200L).map(i => (i, "x")).toDF("k", "v").repartition(1),
      props = Map(Options.KeyEncoding -> "ordered"))
    // one tombstone -> exactly one bucket loses its metadata claim:
    // COMPLETE pushdown (all-bucket proof) declines, the PARTIAL path
    // splits per bucket — most partitions stats-only, one folding
    Seed.append(Seq((7L, null.asInstanceOf[String])).toDF("k", "v").repartition(1),
      store, Map(Options.NullsAsTombstones -> "true", Options.WriteTimestamp -> "2"))
    val q = Seed.read(spark, store).agg(count(lit(1)).as("n"))
    val desc = scanOf(q).scan.description()
    assert(desc.contains("AggStats: metadata-eligible") &&
      !desc.contains("AggStats: complete"), s"desc: $desc")
    val (statsOnly, nParts) = drain(q)
    assert(statsOnly > 0L && statsOnly < nParts.toLong,
      s"expected a metadata/fold mix: $statsOnly of $nParts")
    assert(q.collect()(0).getLong(0) == 199L)
  }

  test("estimateStatistics: exact rows on a clean store, estimate otherwise") {
    val sp = spark; import sp.implicits._
    // every key written twice in one run (same address, LWW collapses):
    // the cells/fan-out estimate says 100 rows, the STAT tails say 50
    val dup = ((1L to 50L).map(i => (i, "a")) ++ (1L to 50L).map(i => (i, "b")))
      .toDF("k", "v")
    val store = Seed.table(spark, sfDir, "spec_agg_meta_stats", dup.repartition(1),
      props = Map(Options.KeyEncoding -> "ordered", Options.Buckets -> "1"))
    def numRows(df: DataFrame): Long =
      scanOf(df).scan
        .asInstanceOf[org.apache.spark.sql.connector.read.SupportsReportStatistics]
        .estimateStatistics().numRows().getAsLong
    val plain = Seed.read(spark, store)
    assert(numRows(plain) == 50L, "clean store must report EXACT rows")
    assert(plain.count() == 50L)
    // an as-of view can't trust the stats: falls back to the estimate
    val asOf = Seed.read(spark, store, Map(Options.ReadAsOf -> "1"))
    assert(numRows(asOf) == 100L, "non-clean view keeps the cell estimate")
  }

  test("estimateStatistics: exact filtered rows under pinned key filters") {
    val sp = spark; import sp.implicits._
    val store = Seed.table(spark, sfDir, "spec_agg_stats_filt",
      (1L to 1000L).map(i => (i, "c", i)).toDF("k", "c", "v").repartition(1),
      mapping = Some(":key,:column,:value"),
      props = Map(Options.KeyEncoding -> "ordered"))
    def stats(df: org.apache.spark.sql.DataFrame) = scanOf(df).cellScan
      .asInstanceOf[org.apache.spark.sql.connector.read.SupportsReportStatistics]
      .estimateStatistics()
    // a two-key IN over 1000 rows: numRows is the TRUE 2 (not 1000) and
    // sizeInBytes scales with it — this is what lets a filtered store
    // side auto-broadcast in a join
    val filtered = Seed.read(spark, store).filter(col("k").isin(5L, 700L))
    val s = stats(filtered.select(col("k"), col("v")))
    assert(s.numRows().getAsLong == 2L, s"numRows=${s.numRows()}")
    val whole = stats(Seed.read(spark, store).select(col("k"), col("v")))
    assert(s.sizeInBytes().getAsLong < whole.sizeInBytes().getAsLong / 100,
      s"filtered size ${s.sizeInBytes()} vs whole ${whole.sizeInBytes()}")
    // key-point × col-window: the composite count feeds numRows too
    val win = Seed.read(spark, store)
      .filter(col("k") === 500L && col("c") >= "c")
    assert(stats(win).numRows().getAsLong == 1L)
    // an open range on a HASH layout would walk every bucket's index
    // tails at every planning: stays on the estimate (containment)
    val open = Seed.read(spark, store).filter(col("k") > 10L)
    assert(stats(open).numRows().getAsLong == 1000L,
      "hash-layout open range keeps the whole-store estimate")
    // end-to-end: with a threshold between the filtered and whole sizes,
    // the exact filtered stats flip the join to broadcast — the unfiltered
    // store side stays a shuffle join
    val thr = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "2048")
      val probe = spark.range(1, 100000).toDF("k")
      def hasBroadcast(df: org.apache.spark.sql.DataFrame): Boolean = {
        df.collect() // materialize so AQE finalizes the plan
        df.queryExecution.executedPlan.toString.contains("BroadcastHashJoin")
      }
      val small = Seed.read(spark, store).filter(col("k").isin(5L, 700L))
        .select(col("k"), col("v"))
      assert(hasBroadcast(probe.join(small, "k")),
        "exact filtered stats must let the 2-row store side broadcast")
      val all = Seed.read(spark, store).select(col("k"), col("v"))
      assert(!hasBroadcast(probe.join(all, "k")),
        "the whole store exceeds the threshold and must not broadcast")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thr)
    // LARGE pinned IN (> the 128-point exact cap): the BOUNDED estimate —
    // min(points, relevant distinct keys) × fan-out — replaces the
    // whole-store fallback; with mostly-absent points the bound stays the
    // point count, far under the store's 5000 rows
    val big = Seed.table(spark, sfDir, "spec_agg_stats_bigin",
      (1L to 5000L).map(i => (i, "c", i)).toDF("k", "c", "v").repartition(1),
      mapping = Some(":key,:column,:value"),
      props = Map(Options.KeyEncoding -> "ordered"))
    val inKeys = (1L to 200L) ++ (100000L to 100299L) // 200 present, 300 absent
    val largeIn = Seed.read(spark, big)
      .filter(col("k").isin(inKeys.map(Long.box): _*))
      .select(col("k"), col("v"))
    val sBig = stats(largeIn)
    assert(sBig.numRows().getAsLong == inKeys.size.toLong,
      s"bounded large-IN estimate: ${sBig.numRows()} want ${inKeys.size}")
    val wholeBig = stats(Seed.read(spark, big).select(col("k"), col("v")))
    assert(sBig.sizeInBytes().getAsLong < wholeBig.sizeInBytes().getAsLong,
      "large-IN size must undercut the whole store")
    // and the broadcast flip extends to the large-IN arm: bound ≈ 5001
    // rows on a tiny threshold needs a smaller store share — use a
    // threshold between the bounded and whole sizes
    val thr2 = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold",
        ((sBig.sizeInBytes().getAsLong +
          wholeBig.sizeInBytes().getAsLong) / 2).toString)
      val probe2 = spark.range(1, 100000).toDF("k")
      def bcast(df: org.apache.spark.sql.DataFrame): Boolean = {
        df.collect()
        df.queryExecution.executedPlan.toString.contains("BroadcastHashJoin")
      }
      assert(bcast(probe2.join(largeIn, "k")),
        "bounded large-IN stats must let the filtered side broadcast")
      // (the negative arm — whole store stays a shuffle — is pinned by
      // the tiny-threshold flip above; at this midpoint threshold AQE's
      // runtime re-plan may legitimately broadcast the small actual data)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thr2)
  }

  test("range-count: pushed key ranges answer COUNT from index arithmetic") {
    val sp = spark; import sp.implicits._
    // 2000 single-cell wide rows over IndexEvery=128 spans: boundary spans
    // must be scanned, interior spans counted positionally
    val store = Seed.table(spark, sfDir, "spec_agg_range",
      (1L to 2000L).map(i => (i, "c", i * 10L)).toDF("k", "c", "v").repartition(1),
      mapping = Some(":key,:column,:value"),
      props = Map(Options.KeyEncoding -> "ordered"))
    def q(f: org.apache.spark.sql.Column) =
      Seed.read(spark, store).filter(f).agg(count(lit(1)).as("n"))
    // every comparison shape, boundary-inclusive/exclusive exactness
    val cases: Seq[(org.apache.spark.sql.Column, Long)] = Seq(
      (col("k") >= 500L && col("k") <= 1499L, 1000L),
      (col("k") > 500L && col("k") < 1499L, 998L),
      (col("k") >= 2000L, 1L),
      (col("k") > 2000L, 0L),
      (col("k") <= 1L, 1L),
      (col("k") < 1L, 0L),
      (col("k") === 777L, 1L),
      (col("k") === 2001L, 0L),
      (col("k").isin(1L, 128L, 129L, 2000L, 5555L), 4L), // absent key counts 0
      (col("k").isin(7L, 9L) && col("k") >= 8L, 1L)) // IN ∩ range
    cases.foreach { case (f, want) =>
      val df = q(f)
      // every bucket provable at planning -> the filtered aggregation
      // resolves COMPLETELY there: one partition, the precomputed row
      val desc = scanOf(df).scan.description()
      assert(desc.contains("AggStats: complete"), s"not complete: $desc")
      val (statsOnly, nParts) = drain(df)
      assert(nParts == 1 && statsOnly == 1L, s"$f: $statsOnly of $nParts")
      assert(df.collect()(0).getLong(0) == want, s"$f: want $want")
    }
  }

  test("range-count: partial per-bucket path when one bucket disqualifies") {
    val sp = spark; import sp.implicits._
    val store = Seed.table(spark, sfDir, "spec_agg_range_mixed",
      (1L to 400L).map(i => (i, "c", i)).toDF("k", "c", "v").repartition(1),
      mapping = Some(":key,:column,:value"),
      props = Map(Options.KeyEncoding -> "ordered"))
    // one tombstone -> exactly one bucket loses the metadata claim:
    // COMPLETE (all-bucket proof) declines, the static flag stays, clean
    // buckets answer from index arithmetic, the dirty one folds its slice
    Seed.append(Seq((7L, "c", null.asInstanceOf[java.lang.Long]))
      .toDF("k", "c", "v").repartition(1),
      store, Map(Options.NullsAsTombstones -> "true", Options.WriteTimestamp -> "2"))
    val q = Seed.read(spark, store).filter(col("k") >= 5L && col("k") < 300L)
      .agg(count(lit(1)).as("n"))
    val desc = scanOf(q).scan.description()
    assert(desc.contains("AggStats: range-count") &&
      !desc.contains("AggStats: complete"), s"desc: $desc")
    val (statsOnly, nParts) = drain(q)
    assert(statsOnly > 0L && statsOnly < nParts.toLong,
      s"expected a metadata/fold mix: $statsOnly of $nParts")
    assert(q.collect()(0).getLong(0) == 294L) // 295 keys in [5,300) minus deleted 7
  }

  test("range-count: point IN under a PLAIN (non-ranged) key encoding") {
    val sp = spark; import sp.implicits._
    // BE two's-complement byte order != numeric order, yet equality/IN
    // points are exact under any injective encoding, and a COMPARISON is
    // exact too as byte windows (non-negative part, then negative part) —
    // both stay metadata-answerable
    val store = Seed.table(spark, sfDir, "spec_agg_range_plain",
      Seq((-5L, "a", 1L), (3L, "a", 2L), (7L, "a", 3L))
        .toDF("k", "c", "v").repartition(1),
      mapping = Some(":key,:column,:value"))
    val qin = Seed.read(spark, store).filter(col("k").isin(-5L, 7L, 99L))
      .agg(count(lit(1)).as("n"))
    assert(scanOf(qin).scan.description().contains("AggStats: complete"))
    val (statsOnly, nParts) = drain(qin)
    assert(nParts == 1 && statsOnly == 1L,
      "IN under plain encoding must resolve completely at planning")
    assert(qin.collect()(0).getLong(0) == 2L)
    val qrange = Seed.read(spark, store).filter(col("k") > 0L)
      .agg(count(lit(1)).as("n"))
    assert(scanOf(qrange).scan.description().contains("AggStats: complete"),
      "plain-encoding comparison windows are exact; must resolve at planning")
    assert(qrange.collect()(0).getLong(0) == 2L)
    val qneg = Seed.read(spark, store).filter(col("k") > -6L && col("k") < 4L)
      .agg(count(lit(1)).as("n"))
    assert(scanOf(qneg).scan.description().contains("AggStats: complete"))
    assert(qneg.collect()(0).getLong(0) == 2L, "sign-crossing windows count -5 and 3")
  }

  test("range-count: MIN/MAX of the key answer from boundary spans") {
    val sp = spark; import sp.implicits._
    val store = Seed.table(spark, sfDir, "spec_agg_range_mm",
      (1L to 2000L).map(i => (i, "c", i)).toDF("k", "c", "v").repartition(1),
      mapping = Some(":key,:column,:value"),
      props = Map(Options.KeyEncoding -> "ordered"))
    val q = Seed.read(spark, store)
      .filter(col("k") > 500L && col("k") < 1500L)
      .agg(min("k").as("mn"), max("k").as("mx"), count(lit(1)).as("n"))
    assert(scanOf(q).scan.description().contains("AggStats: complete"))
    val (statsOnly, nParts) = drain(q)
    assert(nParts == 1 && statsOnly == 1L)
    val r = q.collect()(0)
    assert(r.getLong(0) == 501L && r.getLong(1) == 1499L && r.getLong(2) == 999L,
      s"got $r")
    // IN: extremal = smallest/largest PRESENT point (absent ones skipped)
    val qin = Seed.read(spark, store).filter(col("k").isin(5L, 1999L, 5555L))
      .agg(min("k").as("mn"), max("k").as("mx"), count(lit(1)).as("n"))
    val (so2, _) = drain(qin)
    assert(so2 > 0L)
    val r2 = qin.collect()(0)
    assert(r2.getLong(0) == 5L && r2.getLong(1) == 1999L && r2.getLong(2) == 2L)
    // empty envelope: NULL extremals, zero count — same as the fold
    val qe = Seed.read(spark, store).filter(col("k") > 5000L)
      .agg(min("k").as("mn"), max("k").as("mx"), count(lit(1)).as("n"))
    val (so3, _) = drain(qe)
    assert(so3 > 0L)
    val r3 = qe.collect()(0)
    assert(r3.isNullAt(0) && r3.isNullAt(1) && r3.getLong(2) == 0L)
    // plain (non-ordered) numeric encoding: byte order != value order, so
    // a MIN under IN must decline even though the COUNT alone would not
    val plain = Seed.table(spark, sfDir, "spec_agg_range_mm_plain",
      Seq((-5L, "a", 1L), (3L, "a", 2L)).toDF("k", "c", "v").repartition(1),
      mapping = Some(":key,:column,:value"))
    val qp = Seed.read(spark, plain).filter(col("k").isin(-5L, 3L))
      .agg(min("k").as("mn"), count(lit(1)).as("n"))
    assert(!scanOf(qp).scan.description().contains("AggStats"))
    val rp = qp.collect()(0)
    assert(rp.getLong(0) == -5L && rp.getLong(1) == 2L)
  }

  test("range-count: MIN/MAX stay metadata over overlapping runs; counts don't") {
    val sp = spark; import sp.implicits._
    val store = Seed.table(spark, sfDir, "spec_agg_range_mm_ovl",
      (1L to 100L).map(i => (i, "c", i)).toDF("k", "c", "v").repartition(1),
      mapping = Some(":key,:column,:value"),
      props = Map(Options.KeyEncoding -> "ordered", Options.Buckets -> "1"))
    Seed.append((50L to 150L).map(i => (i, "c", i + 7L)).toDF("k", "c", "v")
      .repartition(1), store, Map(Options.WriteTimestamp -> "2"))
    // overwrites never remove an address: extremals stay provable
    val q = Seed.read(spark, store).filter(col("k") >= 40L && col("k") < 130L)
      .agg(min("k").as("mn"), max("k").as("mx"))
    val (so, _) = drain(q)
    assert(so > 0L, "MIN/MAX must stay metadata-answerable over overlap")
    val r = q.collect()(0)
    assert(r.getLong(0) == 40L && r.getLong(1) == 129L)
    // adding a COUNT makes the whole aggregation need additivity: fold
    val qc = Seed.read(spark, store).filter(col("k") >= 40L && col("k") < 130L)
      .agg(min("k").as("mn"), count(lit(1)).as("n"))
    val (soc, _) = drain(qc)
    assert(soc == 0L, "a COUNT over overlapping runs must fold")
    val rc = qc.collect()(0)
    assert(rc.getLong(0) == 40L && rc.getLong(1) == 90L)
  }

  test("range-count: key-point × col-window counts from composite boundaries") {
    val sp = spark; import sp.implicits._
    // one 5000-column wide row (spans ~40 index entries) + a 300-column one
    val rows = (1 to 5000).map(i => (1L, f"c$i%04d", i.toLong)) ++
      (1 to 300).map(i => (2L, f"c$i%04d", i.toLong))
    val store = Seed.table(spark, sfDir, "spec_agg_colwin",
      rows.toDF("k", "c", "v").repartition(1),
      mapping = Some(":key,:column,:value"),
      props = Map(Options.KeyEncoding -> "ordered"))
    def q(f: org.apache.spark.sql.Column) =
      Seed.read(spark, store).filter(f).agg(count(lit(1)).as("n"))
    val cases: Seq[(org.apache.spark.sql.Column, Long)] = Seq(
      (col("k") === 1L && col("c") >= "c0100" && col("c") < "c0200", 100L),
      (col("k") === 1L && col("c") > "c4000" && col("c") <= "c5000", 1000L),
      (col("k") === 2L && col("c") >= "c0100", 201L),
      (col("k") === 1L && col("c") > "c5000", 0L),
      (col("k").isin(1L, 2L) && col("c") >= "c0290" && col("c") <= "c0310", 32L))
    cases.foreach { case (f, want) =>
      val df = q(f)
      val desc = scanOf(df).scan.description()
      assert(desc.contains("AggStats: complete"), s"not complete for $f: $desc")
      assert(df.collect()(0).getLong(0) == want, s"$f: want $want")
    }
    // extremals respect the col window: key 2 has no column past c0300,
    // so MAX(present key) under the window is 1, not 2
    val qmm = Seed.read(spark, store)
      .filter(col("k").isin(1L, 2L) && col("c") > "c0300")
      .agg(min("k").as("mn"), max("k").as("mx"), count(lit(1)).as("n"))
    assert(scanOf(qmm).scan.description().contains("AggStats: complete"))
    val r = qmm.collect()(0)
    assert(r.getLong(0) == 1L && r.getLong(1) == 1L && r.getLong(2) == 4700L,
      s"got $r")
    // a key RANGE × col window is a rectangle positions cannot count:
    // declines to the ordinary seek-pruned scan, exact either way
    val qrect = Seed.read(spark, store)
      .filter(col("k") >= 1L && col("c") >= "c0100" && col("c") < "c0200")
      .agg(count(lit(1)).as("n"))
    assert(!scanOf(qrect).scan.description().contains("AggStats"))
    assert(qrect.collect()(0).getLong(0) == 200L)
  }

  test("grouped range-count: GROUP BY key over pushed points answers at planning") {
    val sp = spark; import sp.implicits._
    // key i carries (i % 7) + 1 columns: widths differ per key
    val rows = (1L to 100L).flatMap(i =>
      (0L to i % 7).map(j => (i, f"c$j%02d", i * 100 + j)))
    val store = Seed.table(spark, sfDir, "spec_agg_grouped_range",
      rows.toDF("k", "c", "v").repartition(1),
      mapping = Some(":key,:column,:value"),
      props = Map(Options.KeyEncoding -> "ordered"))
    val q = Seed.read(spark, store).filter(col("k").isin(3L, 50L, 999L))
      .groupBy("k").agg(count(lit(1)).as("n"))
    val desc = scanOf(q).scan.description()
    assert(desc.contains("AggStats: complete") && desc.contains("GroupedBy"),
      s"grouped complete not pushed: $desc")
    val (statsOnly, nParts) = drain(q)
    assert(nParts == 1 && statsOnly == 1L, s"$statsOnly of $nParts")
    val got = q.collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    // widths: key 3 -> 3 % 7 + 1 = 4 cols; key 50 -> 50 % 7 + 1 = 2;
    // absent key 999 emits NO group, exactly like the fold
    assert(got.toSeq == Seq((3L, 4L), (50L, 2L)), s"got ${got.toSeq}")
    // a col window narrows each group's width the same way
    val qw = Seed.read(spark, store)
      .filter(col("k").isin(3L, 50L) && col("c") >= "c01")
      .groupBy("k").agg(count(lit(1)).as("n"))
    assert(scanOf(qw).scan.description().contains("AggStats: complete"))
    val gotW = qw.collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    assert(gotW.toSeq == Seq((3L, 3L), (50L, 1L)), s"got ${gotW.toSeq}")
    // no pinned key set -> groups aren't enumerable from metadata:
    // declines, and the normal grouped path stays exact
    val qr = Seed.read(spark, store).filter(col("k") >= 90L)
      .groupBy("k").agg(count(lit(1)).as("n"))
    assert(!scanOf(qr).scan.description().contains("AggStats: complete"))
    assert(qr.collect().map(_.getLong(1)).sum ==
      (90L to 100L).map(i => i % 7 + 1).sum)
  }

  test("range-count: a dirty UNRELATED bucket doesn't demote a point count") {
    val sp = spark; import sp.implicits._
    // range layout: bucket membership is deterministic (bucket 0 = keys
    // < 100, bucket 1 = the rest), so the tombstone on key 7 provably
    // lands in a bucket the point query can never touch
    val store = Seed.table(spark, sfDir, "spec_agg_range_unrel",
      (1L to 200L).map(i => (i, "c", i)).toDF("k", "c", "v").repartition(1),
      mapping = Some(":key,:column,:value"),
      props = Map(Options.KeyEncoding -> "ordered",
        Options.RangeBounds -> "100", Options.Buckets -> "2"))
    Seed.append(Seq((7L, "c", null.asInstanceOf[java.lang.Long]))
      .toDF("k", "c", "v").repartition(1),
      store, Map(Options.NullsAsTombstones -> "true", Options.WriteTimestamp -> "2"))
    val q = Seed.read(spark, store).filter(col("k") === 150L)
      .agg(count(lit(1)).as("n"))
    assert(scanOf(q).scan.description().contains("AggStats: complete"),
      "the complete proof must only cover the key's own bucket")
    assert(q.collect()(0).getLong(0) == 1L)
    // the same point INSIDE the dirty bucket correctly declines complete
    val qd = Seed.read(spark, store).filter(col("k") === 50L)
      .agg(count(lit(1)).as("n"))
    assert(!scanOf(qd).scan.description().contains("AggStats: complete"))
    assert(qd.collect()(0).getLong(0) == 1L)
  }

  test("range-count: ordered numeric col encoding — sign-crossing points and windows") {
    val sp = spark; import sp.implicits._
    // LONG clustering col under column.encoding='ordered': byte order ==
    // numeric order across the sign, and the encoding is injective, so
    // both col points and col windows qualify
    val rows = (-50L to 50L).map(c => (1L, c, c * 7))
    val store = Seed.table(spark, sfDir, "spec_agg_colord",
      rows.toDF("k", "c", "v").repartition(1),
      mapping = Some(":key,:column,:value"),
      props = Map(Options.KeyEncoding -> "ordered",
        Options.ColumnEncoding -> "ordered"))
    def q(f: org.apache.spark.sql.Column) =
      Seed.read(spark, store).filter(f).agg(count(lit(1)).as("n"))
    val cases: Seq[(org.apache.spark.sql.Column, Long)] = Seq(
      (col("k") === 1L && col("c").isin(-50L, 0L, 50L, 99L), 3L),
      (col("k") === 1L && col("c") >= -10L && col("c") <= 10L, 21L),
      (col("k") === 1L && col("c") > -1L && col("c") < 1L, 1L))
    cases.foreach { case (f, want) =>
      val df = q(f)
      assert(scanOf(df).scan.description().contains("AggStats: complete"),
        s"not complete for $f")
      assert(df.collect()(0).getLong(0) == want, s"$f: want $want")
    }
    // PLAIN (big-endian two's complement) numeric col: byte order breaks
    // at the sign, so a window crossing it is two byte windows, counted
    // one by one; points stay injective and qualify
    val plain = Seed.table(spark, sfDir, "spec_agg_colplain",
      rows.toDF("k", "c", "v").repartition(1),
      mapping = Some(":key,:column,:value"),
      props = Map(Options.KeyEncoding -> "ordered"))
    val qp = Seed.read(spark, plain)
      .filter(col("k") === 1L && col("c").isin(-50L, 0L, 50L, 99L))
      .agg(count(lit(1)).as("n"))
    assert(scanOf(qp).scan.description().contains("AggStats: complete"))
    assert(qp.collect()(0).getLong(0) == 3L)
    val qw = Seed.read(spark, plain)
      .filter(col("k") === 1L && col("c") >= -10L && col("c") <= 10L)
      .agg(count(lit(1)).as("n"))
    assert(scanOf(qw).scan.description().contains("AggStats: complete"),
      "plain numeric col windows are exact byte windows")
    assert(qw.collect()(0).getLong(0) == 21L)
  }

  test("range-count: key=k, col=c sub-window counts on super mappings") {
    val sp = spark; import sp.implicits._
    val rows =
      (1 to 500).map(i => (1L, "a", f"s$i%04d", i.toLong)) ++
      (1 to 100).map(i => (1L, "b", f"s$i%04d", i.toLong)) ++
      (1 to 50).map(i => (2L, "a", f"s$i%04d", i.toLong))
    val store = Seed.table(spark, sfDir, "spec_agg_subwin",
      rows.toDF("k", "c", "s", "v").repartition(1),
      mapping = Some(":key,:column,:subcolumn,:value"),
      props = Map(Options.KeyEncoding -> "ordered"))
    def q(f: org.apache.spark.sql.Column) =
      Seed.read(spark, store).filter(f).agg(count(lit(1)).as("n"))
    val cases: Seq[(org.apache.spark.sql.Column, Long)] = Seq(
      (col("k") === 1L && col("c") === "a", 500L),
      (col("k") === 1L && col("c") === "a" &&
        col("s") >= "s0100" && col("s") < "s0200", 100L),
      (col("k") === 1L && col("c").isin("a", "b"), 600L),
      (col("k") === 1L && col("c").isin("a", "b") && col("s") >= "s0450", 51L),
      (col("k").isin(1L, 2L) && col("c") === "a" && col("s") <= "s0050", 100L))
    cases.foreach { case (f, want) =>
      val df = q(f)
      val desc = scanOf(df).scan.description()
      assert(desc.contains("AggStats: complete"), s"not complete for $f: $desc")
      assert(df.collect()(0).getLong(0) == want, s"$f: want $want")
    }
    // VALUE aggregates ride the same composite (key, col, sub) positions:
    // col 'b' holds no sub >= s0450, so only col 'a' (v = 450..500)
    // contributes — sum/extremes of exactly those 51 cells
    val qv = Seed.read(spark, store)
      .filter(col("k") === 1L && col("c").isin("a", "b") && col("s") >= "s0450")
      .agg(sum("v").as("sv"), min("v").as("vn"), max("v").as("vx"),
        count(lit(1)).as("n"))
    assert(scanOf(qv).scan.description().contains("AggStats: complete"),
      scanOf(qv).scan.description())
    val rv = qv.collect()(0)
    assert(rv.getLong(0) == (450L to 500L).sum && rv.getLong(1) == 450L &&
      rv.getLong(2) == 500L && rv.getLong(3) == 51L, s"got $rv")
    // MIN/MAX(key) respect the (col, sub) restriction: key 2 has no sub
    // past s0050 under col 'a', so the extremals collapse to key 1
    val qmm = Seed.read(spark, store)
      .filter(col("k").isin(1L, 2L) && col("c") === "a" && col("s") > "s0050")
      .agg(min("k").as("mn"), max("k").as("mx"), count(lit(1)).as("n"))
    val r = qmm.collect()(0)
    assert(r.getLong(0) == 1L && r.getLong(1) == 1L && r.getLong(2) == 450L,
      s"got $r")
    // a col WINDOW below a sub window has no pinned (key, col) intervals:
    // declines to the ordinary scan, exact either way
    val qcw = Seed.read(spark, store)
      .filter(col("k") === 1L && col("c") >= "a" && col("s") >= "s0450")
      .agg(count(lit(1)).as("n"))
    assert(!scanOf(qcw).scan.description().contains("AggStats"))
    assert(qcw.collect()(0).getLong(0) == 51L)
  }

  test("range-count: overlapping runs and dup addresses fall back, exact") {
    val sp = spark; import sp.implicits._
    val store = Seed.table(spark, sfDir, "spec_agg_range_dup",
      (1L to 100L).map(i => (i, "c", i)).toDF("k", "c", "v").repartition(1),
      mapping = Some(":key,:column,:value"),
      props = Map(Options.KeyEncoding -> "ordered", Options.Buckets -> "1"))
    // overwrite half the addresses: runs overlap, positional counts would
    // double-count the LWW-collapsed cells — must fold instead
    Seed.append((50L to 149L).map(i => (i, "c", i + 1000L)).toDF("k", "c", "v")
      .repartition(1), store, Map(Options.WriteTimestamp -> "2"))
    val df = Seed.read(spark, store).filter(col("k") >= 40L && col("k") <= 60L)
      .agg(count(lit(1)).as("n"))
    assert(scanOf(df).scan.description().contains("AggStats: range-count"),
      "statically eligible (planning can't see run overlap)")
    val (statsOnly, _) = drain(df)
    assert(statsOnly == 0L, "overlapping runs must fall back to the fold")
    assert(df.collect()(0).getLong(0) == 21L, "LWW overwrites must not double-count")
    // a regular (non-transposed) mapping now qualifies too (round 11):
    // rows = DISTINCT KEYS in the envelope, counted positionally from the
    // KPFX prefix tails — rows-per-key variance is irrelevant to a
    // distinct-key count
    val reg = Seed.table(spark, sfDir, "spec_agg_range_reg",
      Seq((1L, "a"), (2L, "b")).toDF("k", "v").repartition(1),
      props = Map(Options.KeyEncoding -> "ordered"))
    val qreg = Seed.read(spark, reg).filter(col("k") >= 1L)
      .agg(count(lit(1)).as("n"))
    assert(scanOf(qreg).scan.description().contains("AggStats: complete"),
      s"regular key-range count should resolve at planning: " +
        scanOf(qreg).scan.description())
    assert(qreg.collect()(0).getLong(0) == 2L)
  }

  test("KPFX/VSUM tails: positional distinct-key counts and value sums are boundary-exact") {
    val dir = java.nio.file.Files.createTempDirectory("pfxtail").toString
    try {
      val sst = java.nio.file.Paths.get(dir, CellStore.SstDir)
      java.nio.file.Files.createDirectories(sst)
      val file = sst.resolve("b0-a.bin")
      val out = CellStore.newSegmentStream(file)
      // 400 keys, 1-3 cells each (~800 cells, several index spans), hot key
      // k0100 with 300 extra cells so one key straddles many entries
      def v(x: Long) = java.nio.ByteBuffer.allocate(8).putLong(x).array()
      val cells = (0 until 400).flatMap { i =>
        val k = f"k$i%04d".getBytes
        (0 until (1 + i % 3)).map(j =>
          Cell(k, f"c$j%02d".getBytes, null, v(i.toLong * 7 + j), 1L, tombstone = false))
      } ++ (0 until 300).map(j =>
        Cell("k0100x".getBytes, f"d$j%04d".getBytes, null, v(j.toLong), 1L, tombstone = false))
      CellStore.writeRun(out, cells)
      out.close()
      val st = CellStore.meta(file).stats(0)
      assert(st.hasKeyPrefix && st.hasValSums, s"tails missing: $st")
      val sorted = cells.sorted(CellStore.addressOrdering)
      val allKeys = sorted.map(c => new String(c.key)).distinct.sorted
      assert(st.distinctKeys == allKeys.size)
      assert(st.valTotal == sorted.map(c => java.nio.ByteBuffer.wrap(c.value).getLong).sum)
      // boundary exactness: every (lo, hi) over a sample of boundaries,
      // including mid-key, between-key, below-min and above-max forms
      val probes: Seq[Array[Byte]] = Seq("a", "k0000", "k0050", "k0100",
        "k0100x", "k0100x ", "k0257", "k0399", "k9999", "zzz")
        .map(_.getBytes("UTF-8"))
      // crossed (lo > hi) envelopes never reach the primitives —
      // KeyLookupBounds clamps them to empty upstream
      for (lo <- probes; hi <- probes
           if Codecs.compareBytes(lo, hi) <= 0) {
        val wantN = allKeys.count(k =>
          Codecs.compareBytes(k.getBytes, lo) >= 0 &&
            Codecs.compareBytes(k.getBytes, hi) < 0)
        val gotN = sum1(file, lo, hi, CellStore.Measure.Keys).map(_.count(0))
        assert(gotN.contains(wantN.toLong),
          s"dk [${new String(lo)}, ${new String(hi)}): got $gotN want $wantN")
        val wantS = sorted.filter(c =>
          Codecs.compareBytes(c.key, lo) >= 0 &&
            Codecs.compareBytes(c.key, hi) < 0)
          .map(c => java.nio.ByteBuffer.wrap(c.value).getLong).sum
        val gotS = sum1(file, lo, hi, CellStore.Measure.Values, wantSum = true)
          .map(_.sum(0))
        assert(gotS.contains(wantS),
          s"sum [${new String(lo)}, ${new String(hi)}): got $gotS want $wantS")
        // VMMX: extremal value in the same envelope, vs brute force
        val inRange = sorted.filter(c =>
          Codecs.compareBytes(c.key, lo) >= 0 &&
            Codecs.compareBytes(c.key, hi) < 0)
          .map(c => java.nio.ByteBuffer.wrap(c.value).getLong)
        val gotMn = valueExtreme(file, lo, hi, wantMin = true)
        val gotMx = valueExtreme(file, lo, hi, wantMin = false)
        assert(gotMn.contains(inRange.minOption),
          s"vmin [${new String(lo)}, ${new String(hi)}): got $gotMn")
        assert(gotMx.contains(inRange.maxOption),
          s"vmax [${new String(lo)}, ${new String(hi)}): got $gotMx")
      }
      // per-key extremal cols under a window, vs brute force
      val ks = Seq("k0003", "k0100x", "k0999").map(_.getBytes("UTF-8"))
      val lo = "c01".getBytes; val hi = "d0100".getBytes
      val mins = colExtremes(file, ks, lo, hi, wantMin = true)
      val maxs = colExtremes(file, ks, lo, hi, wantMin = false)
      ks.indices.foreach { i =>
        val want = sorted.filter(c => java.util.Arrays.equals(c.key, ks(i)) &&
          Codecs.compareBytes(c.col, lo) >= 0 && Codecs.compareBytes(c.col, hi) < 0)
          .map(c => new String(c.col))
        assert(Option(mins(i)).map(new String(_)) == want.minOption,
          s"min col of ${new String(ks(i))}")
        assert(Option(maxs(i)).map(new String(_)) == want.maxOption,
          s"max col of ${new String(ks(i))}")
      }
      // overflow drops the VSUM tail (never a wrapped sum)
      val out2 = CellStore.newSegmentStream(sst.resolve("b0-o.bin"))
      CellStore.writeRun(out2, Seq(
        Cell("a".getBytes, "c".getBytes, null, v(Long.MaxValue), 1L, tombstone = false),
        Cell("b".getBytes, "c".getBytes, null, v(Long.MaxValue), 1L, tombstone = false)))
      out2.close()
      val so = CellStore.meta(sst.resolve("b0-o.bin")).stats(0)
      assert(!so.hasValSums, "overflowing run must not carry a VSUM tail")
      assert(so.hasKeyPrefix, "KPFX is value-independent and stays")
      assert(sum1(sst.resolve("b0-o.bin"), null, null, CellStore.Measure.Values,
        wantSum = true).isEmpty)
      // ...but VMMX survives the overflow (extremes can't overflow)
      assert(so.hasValRange && so.valMin == Long.MaxValue && so.valMax == Long.MaxValue,
        s"VMMX must survive a VSUM overflow: $so")
      assert(valueExtreme(sst.resolve("b0-o.bin"), null, null,
        wantMin = false).contains(Some(Long.MaxValue)))

      // ---- every measure × window form of the kernels against a brute-
      // force fold over the segment's runs ----
      import CellStore.{Addr, Measure, Window}
      def b(x: String): Array[Byte] = if (x == null) null else x.getBytes("UTF-8")
      val kf = sst.resolve("b0-k.bin")
      // live run: every cell carries a sub; even keys hold cols c0..c2 × two
      // subs, odd keys one cell; hot keys k050h and k120h hold 300 cells
      // each (cols d0..d3 × 75 subs), straddling index entries; column
      // "late" first appears mid-run (k150 on), after several index spans
      val live = (0 until 200).flatMap { i =>
        val k = f"k$i%03d"
        val grid = if (i % 2 == 0) for (c <- 0 to 2; sb <- 0 to 1) yield (c, sb) else Seq((1, 0))
        grid.map { case (c, sb) =>
          Cell(b(k), b(s"c$c"), b(s"s$sb"), v(i.toLong * 7 - 500 + c * 3 + sb), 1L, tombstone = false)
        } ++ (if (i >= 150) Seq(Cell(b(k), b("late"), b("s0"), v(i.toLong * 11), 1L,
          tombstone = false)) else Nil)
      } ++ Seq("k050h", "k120h").flatMap(k => (0 until 300).map(j =>
        Cell(b(k), b(s"d${j % 4}"), b(f"t$j%03d"), v(j.toLong - 150), 1L, tombstone = false)))
      // certified delete epoch: whole keys tombstoned, victims' values kept
      val doomed = live.filter(c => Set("k010", "k020", "k120h", "k155", "k190")(new String(c.key)))
      val kout = CellStore.newSegmentStream(kf)
      CellStore.writeRun(kout, live)
      CellStore.writeRun(kout, doomed.map(_.copy(ts = 2L, tombstone = true)),
        certifiedDeletes = true)
      kout.close()
      val kStats = CellStore.meta(kf).stats
      assert(kStats.length == 2 && kStats(1).certDeletes && kStats(0).colVals != null &&
        kStats(0).colEntries && kStats(0).subEntries, "test segment shape")
      val runCells: Seq[Vector[Cell]] = {
        val r = new CellStore.SegmentReader(kf)
        try r.runs().map(_.toVector) finally r.close()
      }
      def orEmpty(x: Array[Byte]) = if (x == null) Array.emptyByteArray else x
      def cmpA(c: Cell, x: Addr): Int = {
        val kc = Codecs.compareBytes(c.key, x.key)
        if (kc != 0 || x.col == null) kc
        else {
          val cc = Codecs.compareBytes(orEmpty(c.col), x.col)
          if (cc != 0 || x.sub == null) cc
          else Codecs.compareBytes(orEmpty(c.sub), x.sub)
        }
      }
      def inW(c: Cell, w: Window) =
        (w.lo == null || cmpA(c, w.lo) >= 0) && (w.hi == null || cmpA(c, w.hi) < 0)
      def valueOf(c: Cell) = java.nio.ByteBuffer.wrap(c.value).getLong
      def check(what: String, ws: Seq[Window], slots: Int, fields: Seq[Int]): Unit = {
        val measures = Seq[Measure](Measure.Cells, Measure.Values,
          Measure.Column(b("c1")), Measure.Column(b("late")), Measure.Column(b("zz"))) ++
          (if (ws.forall(w => (w.lo == null || w.lo.col == null) &&
            (w.hi == null || w.hi.col == null))) Seq(Measure.Keys) else Nil)
        for (m <- measures; netted <- Seq(false, true)) {
          val values = m == Measure.Values || m.isInstanceOf[Measure.Column]
          val got = CellStore.summarize(Seq(kf), ws, slots, m, wantSum = values,
            wantExt = values && !netted, netted = netted)
          assert(got.isDefined, s"$what $m netted=$netted declined")
          (0 until slots).foreach { slot =>
            var count = 0L
            var sum = 0L
            val vs = collection.mutable.ArrayBuffer.empty[Long]
            runCells.foreach { cells =>
              val sign = if (netted && cells.forall(_.tombstone)) -1 else 1
              val in = cells.filter(c => ws.exists(w => w.slot == slot && inW(c, w)))
              val sel = m match {
                case Measure.Column(n) => in.filter(c => java.util.Arrays.equals(c.col, n))
                case _ => in
              }
              count += sign * (if (m == Measure.Keys)
                sel.map(c => new String(c.key)).distinct.size else sel.size)
              if (values) { sum += sign * sel.map(valueOf).sum; vs ++= sel.map(valueOf) }
            }
            val at = s"$what $m netted=$netted slot $slot"
            assert(got.get.count(slot) == count, s"$at: count ${got.get.count(slot)} want $count")
            if (values) assert(got.get.sum(slot) == sum, s"$at: sum ${got.get.sum(slot)} want $sum")
            if (values && !netted) {
              assert(Option(got.get.extreme(slot, wantMin = true)).map(_.longValue) == vs.minOption, s"$at: min")
              assert(Option(got.get.extreme(slot, wantMin = false)).map(_.longValue) == vs.maxOption, s"$at: max")
            }
          }
        }
        // extremes never net
        assert(CellStore.summarize(Seq(kf), ws, slots, Measure.Values, wantExt = true,
          netted = true).isEmpty)
        // the extremal address seek: per slot, the extreme field bytes of the
        // slot's cells (tombstones included — the seek never reads them),
        // for the fields the slot's windows pin every coarser level of
        for (field <- fields; wantMin <- Seq(true, false)) {
          val got = CellStore.extremalAddresses(Seq(kf), ws, slots, field, wantMin)
          (0 until slots).foreach { slot =>
            val fs = runCells.flatten.filter(c => ws.exists(w => w.slot == slot && inW(c, w)))
              .map(c => new String(if (field == 0) c.key else if (field == 1) c.col else c.sub))
            assert(Option(got(slot)).map(new String(_)) == (if (wantMin) fs.minOption else fs.maxOption),
              s"$what field $field wantMin=$wantMin slot $slot")
          }
        }
      }
      val bounds = Seq(null, "a", "k000", "k010", "k050", "k050h", "k050h ", "k051",
        "k120h", "k150", "k155", "k199", "zzz")
      val spans = for (lo <- bounds; hi <- bounds
        if lo == null || hi == null || lo < hi) yield (lo, hi)
      check("key ranges", spans.zipWithIndex.map { case ((lo, hi), i) =>
        Window.range(i, b(lo), b(hi)) }, spans.size, Seq(0))
      check("two ranges in one slot", Seq(Window.range(0, b("k005"), b("k050h ")),
        Window.range(0, b("k120"), b("k160"))), 1, Seq(0))
      val pts = Seq("k000", "k010", "k011", "k050h", "k120h", "k154", "k155", "k199",
        "k999", "j").map(b)
      check("points", Window.points(pts), pts.size, Seq(0, 1))
      check("points × col window", Window.points(pts, KeyWindows.span(b("c1"), b("d2"))),
        pts.size, Seq(0, 1))
      check("points × open col windows", Window.points(pts,
        KeyWindows.span(null, b("c2")).intersect(KeyWindows.span(b("c0 "), null))),
        pts.size, Seq(0, 1))
      check("points × col points", Window.points(pts,
        KeyWindows.points(Seq("c0", "c2", "d1", "late").map(b))), pts.size, Seq(0, 1, 2))
      check("points × col points × sub window", Window.points(pts,
        KeyWindows.points(Seq("c1", "d2").map(b)), KeyWindows.span(b("s1"), null)),
        pts.size, Seq(0, 1, 2))
      check("points × col points × sub points", Window.points(pts,
        KeyWindows.points(Seq("c0", "c1").map(b)), KeyWindows.points(Seq(b("s0")))),
        pts.size, Seq(0, 1, 2))
      assert(Window.points(pts, KeyWindows.points(Nil)).isEmpty, "an empty col set gives no window")
      // a consulted run without the tail the measure needs declines; one
      // no window reaches does not
      val df = sst.resolve("b0-d.bin")
      val dout = CellStore.newSegmentStream(df)
      CellStore.writeRun(dout, Seq(Cell(b("m1"), b("c1"), null, b("text"), 1L, tombstone = false)))
      CellStore.writeRun(dout, Seq(Cell(b("m2"), b("c1"), null, v(5L), 1L, tombstone = false)))
      CellStore.writeRun(dout, Seq(Cell(b("m3"), b("c1"), null, v(6L), 1L, tombstone = false),
        Cell(b("m4"), b("c1"), null, v(7L), 2L, tombstone = true)))
      dout.close()
      def one(lo: String, hi: String) = Seq(Window.range(0, b(lo), b(hi)))
      assert(CellStore.summarize(Seq(df), one(null, null), 1, Measure.Values,
        wantSum = true).isEmpty, "a run with a non-long value has no VSUM tail")
      assert(CellStore.summarize(Seq(df), one("m2", "m3"), 1, Measure.Values,
        wantSum = true).map(_.sum(0)).contains(5L), "a run no window reaches is not consulted")
      assert(CellStore.summarize(Seq(df), one(null, null), 1, Measure.Cells)
        .map(_.count(0)).contains(4L))
      assert(CellStore.summarize(Seq(df), one("m3", null), 1, Measure.Cells,
        netted = true).isEmpty, "an uncertified tombstone run is unclassifiable")
      assert(CellStore.summarize(Seq(df), one(null, "m3"), 1, Measure.Cells,
        netted = true).map(_.count(0)).contains(2L))
    } finally CellStore.dropTable(dir)
  }

  test("range SUM: pushed key envelopes answer SUM(value) from VSUM tails") {
    val sp = spark; import sp.implicits._
    val store = Seed.table(spark, sfDir, "spec_agg_sum",
      (1L to 500L).map(i => (i, f"c${i % 7}%02d", i * 11L)).toDF("k", "c", "v")
        .repartition(1),
      mapping = Some(":key,:column,:value"),
      props = Map(Options.KeyEncoding -> "ordered", Options.Buckets -> "2"))
    def q(f: org.apache.spark.sql.Column) =
      Seed.read(spark, store).filter(f)
        .agg(sum("v").as("s"), count(lit(1)).as("n"))
    // range, IN (with an absent point), equality
    for ((pred, wantS, wantN) <- Seq(
      (col("k") >= 100L && col("k") < 200L, (100L until 200L).map(_ * 11L).sum, 100L),
      (col("k").isin(3L, 77L, 9999L), (3L + 77L) * 11L, 2L),
      (col("k") === 250L, 250L * 11L, 1L))) {
      val df = q(pred)
      assert(scanOf(df).scan.description().contains("AggStats: complete"),
        s"not complete for $pred: ${scanOf(df).scan.description()}")
      val r = df.collect()(0)
      assert(r.getLong(0) == wantS && r.getLong(1) == wantN, s"$pred: got $r")
    }
    // empty envelope: SUM over no rows is NULL, count 0 — exactly the fold
    val empty = q(col("k") > 10000L).collect()(0)
    assert(empty.isNullAt(0) && empty.getLong(1) == 0L)
    // UNFILTERED whole-store SUM rides the same proof set
    val all = Seed.read(spark, store).agg(sum("v").as("s"), count(lit(1)).as("n"))
    assert(scanOf(all).scan.description().contains("AggStats: complete"))
    val ra = all.collect()(0)
    assert(ra.getLong(0) == (1L to 500L).map(_ * 11L).sum && ra.getLong(1) == 500L)
    // grouped per-key SUM + MIN/MAX(col) under a col window, at planning
    val g = Seed.read(spark, store)
      .filter(col("k").isin(5L, 8L, 9999L) && col("c") >= "c01")
      .groupBy("k").agg(count(lit(1)).as("n"), sum("v").as("s"),
        min("c").as("mn"), max("c").as("mx"))
    assert(scanOf(g).scan.description().contains("AggStats: complete"),
      scanOf(g).scan.description())
    val rows = g.collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3), r.getString(4)))
      .sortBy(_._1).toSeq
    assert(rows == Seq((5L, 1L, 55L, "c05", "c05"), (8L, 1L, 88L, "c01", "c01")),
      s"got $rows")
    // overwrite -> overlapping runs: SUM must decline to the fold (LWW
    // winners only), exact either way
    Seed.append((100L to 300L).map(i => (i, f"c${i % 7}%02d", i * 1000L))
      .toDF("k", "c", "v").repartition(1), store,
      Map(Options.WriteTimestamp -> "2"))
    val dfo = q(col("k") >= 100L && col("k") < 200L)
    assert(!scanOf(dfo).scan.description().contains("AggStats: complete"))
    val (statsOnly, _) = drain(dfo)
    assert(statsOnly == 0L, "overlapping runs must fold")
    val want = (100L until 200L).map(_ * 1000L).sum
    val ro = dfo.collect()(0)
    assert(ro.getLong(0) == want && ro.getLong(1) == 100L, s"got $ro")
  }

  test("range SUM: sign-crossing key ranges on a bytes INT key count window by window") {
    // default bytes form: negatives sort after positives, so a range that
    // crosses zero is two byte windows, counted and summed one by one
    val sp = spark; import sp.implicits._
    val keys = (-250 until 250) ++ Seq(Int.MinValue, Int.MaxValue)
    val src = keys.map(i => (i, f"c${math.abs(i % 5)}%02d", i * 3L))
    val store = Seed.table(spark, sfDir, "spec_agg_bytes_int_range",
      src.toDF("k", "c", "v").repartition(1),
      mapping = Some(":key,:column,:value"), props = Map(Options.Buckets -> "2"))
    def q(f: org.apache.spark.sql.Column) =
      Seed.read(spark, store).filter(f).agg(sum("v").as("s"), count(lit(1)).as("n"))
    def fold(rows: Seq[(Int, String, Long)], keep: Int => Boolean) = {
      val in = rows.filter(r => keep(r._1))
      (if (in.isEmpty) None else Some(in.map(_._3).sum), in.size.toLong)
    }
    def got(df: DataFrame) = {
      val r = df.collect()(0)
      (if (r.isNullAt(0)) None else Some(r.getLong(0)), r.getLong(1))
    }
    val preds: Seq[(org.apache.spark.sql.Column, Int => Boolean)] = Seq(
      (col("k") >= -100 && col("k") < 100, k => k >= -100 && k < 100),
      (col("k") < 0, _ < 0),
      (col("k") > -3 && col("k") <= 0, k => k > -3 && k <= 0),
      (col("k") >= Int.MinValue && col("k") <= Int.MaxValue, _ => true),
      (col("k") > Int.MaxValue - 1, _ == Int.MaxValue),
      (col("k") > 5 && col("k") < -5, _ => false))
    // disjoint runs: answered at planning, equal to the fold
    preds.foreach { case (p, keep) =>
      val df = q(p)
      assert(scanOf(df).scan.description().contains("AggStats: complete"),
        s"not complete for $p: ${scanOf(df).scan.description()}")
      assert(got(df) == fold(src, keep), s"$p")
    }
    // overlapping segments: decline to the merge, same answer as the fold
    val over = (-120 until 80).map(i => (i, f"c${math.abs(i % 5)}%02d", i * 1000L))
    Seed.append(over.toDF("k", "c", "v").repartition(1), store,
      Map(Options.WriteTimestamp -> "2"))
    val now = (src.map(r => ((r._1, r._2), r)).toMap ++ over.map(r => ((r._1, r._2), r)))
      .values.toSeq
    // (the contradictory range keeps no window, so no bucket to fold)
    preds.dropRight(1).foreach { case (p, keep) =>
      val df = q(p)
      assert(!scanOf(df).scan.description().contains("AggStats: complete"), s"$p")
      assert(drain(df)._1 == 0L, s"overlapping runs must fold for $p")
      assert(got(df) == fold(now, keep), s"$p after overwrite")
    }
    assert(got(q(preds.last._1)) == (None, 0L))
  }

  test("range SUM declines: text marshal, non-long values, overflow") {
    val sp = spark; import sp.implicits._
    // text encoding: digits, variable length — the VSUM interpretation
    // doesn't apply, the static gate must refuse
    val text = Seed.table(spark, sfDir, "spec_agg_sum_text",
      (1L to 50L).map(i => (i, "c", i)).toDF("k", "c", "v").repartition(1),
      mapping = Some(":key,:column,:value"),
      props = Map(Options.KeyEncoding -> "ordered", Options.Encoding -> "text"))
    val qt = Seed.read(spark, text).filter(col("k") <= 10L).agg(sum("v").as("s"))
    assert(!scanOf(qt).scan.description().contains("AggStats"),
      scanOf(qt).scan.description())
    assert(qt.collect()(0).getLong(0) == 55L)
    // overflowing totals: the writer drops the tail, the readers fold —
    // and the fold reproduces Spark's own non-ANSI wrap-around
    val big = Seed.table(spark, sfDir, "spec_agg_sum_big",
      Seq((1L, "c", Long.MaxValue), (2L, "c", Long.MaxValue))
        .toDF("k", "c", "v").repartition(1),
      mapping = Some(":key,:column,:value"),
      props = Map(Options.KeyEncoding -> "ordered", Options.Buckets -> "1"))
    val qb = Seed.read(spark, big).filter(col("k") >= 1L).agg(sum("v").as("s"))
    val (so, _) = drain(qb)
    assert(so == 0L, "overflowing store must fold")
    val fold = Seed.read(spark, big, Map(Options.MetadataAgg -> "false"))
      .filter(col("k") >= 1L).agg(sum("v").as("s")).collect()(0)
    assert(qb.collect()(0) == fold, "fast path must equal the fold exactly")
  }

  test("regular range count: distinct keys in the envelope, boundary-exact") {
    val sp = spark; import sp.implicits._
    // 3 cells per key (multi-cell rows), every 5th key missing one cell
    val df = (1L to 400L).map(i =>
      (i, s"name$i", if (i % 5 == 0) null else s"seg${i % 3}", i * 1.5))
      .toDF("k", "nm", "seg", "bal")
    val store = Seed.table(spark, sfDir, "spec_agg_reg_range", df.repartition(1),
      props = Map(Options.KeyEncoding -> "ordered", Options.Buckets -> "2"))
    def q(f: org.apache.spark.sql.Column) =
      Seed.read(spark, store).filter(f)
        .agg(count(lit(1)).as("n"), min("k").as("mn"), max("k").as("mx"))
    for ((pred, wantN, wantMn, wantMx) <- Seq(
      (col("k") >= 37L && col("k") < 123L, 86L, 37L, 122L),
      (col("k") > 390L, 10L, 391L, 400L),
      (col("k").isin(7L, 300L, 12345L), 2L, 7L, 300L),
      (col("k") === 55L, 1L, 55L, 55L))) {
      val dfq = q(pred)
      assert(scanOf(dfq).scan.description().contains("AggStats: complete"),
        s"not complete for $pred: ${scanOf(dfq).scan.description()}")
      val r = dfq.collect()(0)
      assert(r.getLong(0) == wantN && r.getLong(1) == wantMn && r.getLong(2) == wantMx,
        s"$pred: got $r")
    }
    // COUNT(non-key column) counts non-missing CELLS — as of round 12 the
    // CVAL per-column tails answer it at planning (it used to decline)
    val qc = Seed.read(spark, store).filter(col("k") >= 1L && col("k") <= 10L)
      .agg(count(col("seg")).as("n"))
    assert(scanOf(qc).scan.description().contains("AggStats: complete"),
      scanOf(qc).scan.description())
    assert(qc.collect()(0).getLong(0) == 8L) // keys 5 and 10 carry no seg cell
    // a tombstone anywhere in a counted bucket folds the count
    Seed.append(Seq((17L, null.asInstanceOf[String],
      null.asInstanceOf[String], null.asInstanceOf[java.lang.Double]))
      .toDF("k", "nm", "seg", "bal").repartition(1), store,
      Map(Options.NullsAsTombstones -> "true", Options.WriteTimestamp -> "2"))
    val qt = q(col("k") >= 1L && col("k") < 50L)
    val fold = Seed.read(spark, store,
      Map(Options.MetadataAgg -> "false"))
      .filter(col("k") >= 1L && col("k") < 50L)
      .agg(count(lit(1)).as("n"), min("k").as("mn"), max("k").as("mx"))
    assert(qt.collect()(0) == fold.collect()(0),
      "post-tombstone fast path must equal the fold")
  }

  test("value aggregates: AVG/MIN/MAX/COUNT(value) resolve at planning; overwrites decline") {
    val sp = spark; import sp.implicits._
    val store = Seed.table(spark, sfDir, "spec_agg_vminmax",
      (1L to 400L).map(i => (i, f"c${i % 5}%02d", (i * 37) % 1000 - 300))
        .toDF("k", "c", "v").repartition(1),
      mapping = Some(":key,:column,:value"),
      props = Map(Options.KeyEncoding -> "ordered", Options.Buckets -> "2"))
    def q(f: org.apache.spark.sql.Column) =
      Seed.read(spark, store).filter(f)
        .agg(avg("v").as("a"), min("v").as("mn"), max("v").as("mx"),
          count("v").as("nv"))
    val vOf = (i: Long) => (i * 37) % 1000 - 300
    for ((pred, keys) <- Seq(
      (col("k") >= 50L && col("k") < 250L, (50L until 250L).toSeq),
      (col("k").isin(3L, 77L, 9999L), Seq(3L, 77L)),
      (col("k") === 111L, Seq(111L)))) {
      val df = q(pred)
      assert(scanOf(df).scan.description().contains("AggStats: complete"),
        s"not complete for $pred: ${scanOf(df).scan.description()}")
      val vs = keys.map(vOf)
      val r = df.collect()(0)
      assert(r.getDouble(0) == vs.sum.toDouble / vs.size &&
        r.getLong(1) == vs.min && r.getLong(2) == vs.max &&
        r.getLong(3) == vs.size, s"$pred: got $r want $vs")
    }
    // the whole plan is Project over the answer partition — no aggregate
    // exec node anywhere (AVG's Sum/Count rewrite resolves at planning too)
    val plan = q(col("k") >= 50L && col("k") < 250L)
      .queryExecution.executedPlan
    assert(!plan.toString.contains("HashAggregate"),
      s"value stats should plan with no aggregate exec:\n$plan")
    // grouped per-key value extremals
    val g = Seed.read(spark, store).filter(col("k").isin(5L, 8L, 9999L))
      .groupBy("k").agg(min("v").as("mn"), max("v").as("mx"),
        count(lit(1)).as("n"))
    assert(scanOf(g).scan.description().contains("AggStats: complete"),
      scanOf(g).scan.description())
    val rows = g.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .sortBy(_._1).toSeq
    assert(rows == Seq((5L, vOf(5), vOf(5)), (8L, vOf(8), vOf(8))), s"got $rows")
    // THE overwrite trap: k=111's value drops from its original to 1 at
    // ts=2 — the stale value must never surface as MAX. The overlapping
    // runs + dup addresses demote every value aggregate to the fold.
    Seed.append(Seq((111L, f"c${111 % 5}%02d", 1L)).toDF("k", "c", "v")
      .repartition(1), store, Map(Options.WriteTimestamp -> "2"))
    val dfo = q(col("k") === 111L)
    val (statsOnly, _) = drain(dfo)
    assert(statsOnly == 0L, "overwritten store must fold value aggregates")
    val ro = dfo.collect()(0)
    assert(ro.getLong(1) == 1L && ro.getLong(2) == 1L && ro.getLong(3) == 1L,
      s"stale overwritten value surfaced: $ro")
  }

  test("CVAL tail: per-column totals round-trip; over-cap runs drop it whole") {
    val dir = java.nio.file.Files.createTempDirectory("cvaltail").toString
    try {
      val sst = java.nio.file.Paths.get(dir, CellStore.SstDir)
      java.nio.file.Files.createDirectories(sst)
      def v8(x: Long) = java.nio.ByteBuffer.allocate(8).putLong(x).array()
      def c(k: String, col: String, v: Array[Byte]) =
        Cell(k.getBytes, col.getBytes, null, v, 1L, tombstone = false)
      val out = CellStore.newSegmentStream(sst.resolve("b0-a.bin"))
      // col "a": longs 5, 7 (sum 12, min 5, max 7); col "b": one non-long
      // value (counts still exact, sums/extremes invalid); col "z" absent
      CellStore.writeRun(out, Seq(
        c("k1", "a", v8(5L)), c("k1", "b", "xx".getBytes),
        c("k2", "a", v8(7L))))
      out.close()
      val s = CellStore.meta(sst.resolve("b0-a.bin")).stats(0)
      assert(s.colVals != null, "CVAL tail must be present")
      val a = s.colVals.find(cv => new String(cv.col) == "a").get
      assert(a.count == 2L && a.sumsOk && a.sum == 12L &&
        a.rangeOk && a.min == 5L && a.max == 7L, s"got $a")
      val b = s.colVals.find(cv => new String(cv.col) == "b").get
      assert(b.count == 1L && !b.sumsOk && !b.rangeOk, s"got $b")
      assert(!s.colVals.exists(cv => new String(cv.col) == "z"))
      // over-cap: more distinct columns than MaxColValCols drops the tail
      val out2 = CellStore.newSegmentStream(sst.resolve("b0-b.bin"))
      CellStore.writeRun(out2, (1 to CellStore.MaxColValCols + 5).map(i =>
        c("k1", f"col$i%03d", v8(i.toLong))))
      out2.close()
      val s2 = CellStore.meta(sst.resolve("b0-b.bin")).stats(0)
      assert(s2.colVals == null, "over-cap run must drop the CVAL tail")
      // under-cap high-col run keeps it, and a column first seen mid-run
      // backfills zero prefixes (exercised via a range read below)
      assert(sum1(sst.resolve("b0-a.bin"), null, null,
        CellStore.Measure.Column("a".getBytes)).map(_.count(0)).contains(2L))
      assert(sum1(sst.resolve("b0-b.bin"), null, null,
        CellStore.Measure.Column("a".getBytes)).isEmpty, "tail-less run must decline")
    } finally CellStore.dropTable(dir)
  }

  test("regular per-column value aggregates: SUM/AVG/MIN/MAX/COUNT(col) at planning") {
    val sp = spark; import sp.implicits._
    // every 5th key withholds its v cell (missing cell, not a stored
    // NULL); a second string column rides along so the store is genuinely
    // multi-column (VSUM can never apply — only CVAL can answer)
    val vOf = (i: Long) => (i * 37) % 1000 - 300
    val df = (1L to 400L).map(i =>
      (i, if (i % 5 == 0) null else java.lang.Long.valueOf(vOf(i)),
        s"seg${i % 3}"))
      .toDF("k", "v", "seg")
    val store = Seed.table(spark, sfDir, "spec_agg_regval", df.repartition(1),
      props = Map(Options.KeyEncoding -> "ordered", Options.Buckets -> "2"))
    def q(f: org.apache.spark.sql.Column) =
      Seed.read(spark, store).filter(f)
        .agg(sum("v").as("s"), count(col("v")).as("nv"),
          min("v").as("mn"), max("v").as("mx"), avg("v").as("a"),
          count(lit(1)).as("n"))
    for ((pred, keys) <- Seq(
      (col("k") >= 37L && col("k") < 123L, (37L until 123L).toSeq),
      (col("k") > 390L, (391L to 400L).toSeq),
      (col("k").isin(7L, 300L, 12345L), Seq(7L, 300L)), // 300's v is missing
      (col("k") === 56L, Seq(56L)))) {
      val dfq = q(pred)
      assert(scanOf(dfq).scan.description().contains("AggStats: complete"),
        s"not complete for $pred: ${scanOf(dfq).scan.description()}")
      val present = keys.filter(_ % 5 != 0).map(vOf)
      val r = dfq.collect()(0)
      assert(r.getLong(0) == present.sum && r.getLong(1) == present.size &&
        r.getLong(2) == present.min && r.getLong(3) == present.max &&
        r.getDouble(4) == present.sum.toDouble / present.size &&
        r.getLong(5) == keys.size,
        s"$pred: got $r want sum=${present.sum} n=${present.size}")
    }
    // no aggregate exec node anywhere: AVG's Sum/Count rewrite resolves
    // at planning too
    val plan = q(col("k") >= 37L && col("k") < 123L).queryExecution.executedPlan
    assert(!plan.toString.contains("HashAggregate"),
      s"per-column value stats should plan with no aggregate exec:\n$plan")
    // keys whose v cell is missing: SUM over an envelope of only-missing
    // rows is NULL with count(*) intact
    val rm = q(col("k").isin(5L, 10L, 15L)).collect()(0)
    assert(rm.isNullAt(0) && rm.getLong(1) == 0L && rm.isNullAt(2) &&
      rm.isNullAt(3) && rm.getLong(5) == 3L, s"got $rm")
    // UNFILTERED whole-store per-column aggregates ride the sidecar
    val all = Seed.read(spark, store)
      .agg(sum("v").as("s"), count(col("v")).as("nv"),
        min("v").as("mn"), max("v").as("mx"))
    assert(scanOf(all).scan.description().contains("AggStats: complete"),
      scanOf(all).scan.description())
    val presentAll = (1L to 400L).filter(_ % 5 != 0).map(vOf)
    val ra = all.collect()(0)
    assert(ra.getLong(0) == presentAll.sum && ra.getLong(1) == presentAll.size &&
      ra.getLong(2) == presentAll.min && ra.getLong(3) == presentAll.max)
    // MIN/MAX of a STRING column: statically ineligible (no byte-long
    // marshal) — must not claim completeness, stays exact via the fold
    val qs = Seed.read(spark, store).filter(col("k") >= 1L && col("k") < 50L)
      .agg(min("seg").as("mn"), count(lit(1)).as("n"))
    assert(!scanOf(qs).scan.description().contains("AggStats: complete"))
    assert(qs.collect()(0).getString(0) == "seg0")
    // COUNT of the string column IS eligible (counts cells, no decode)
    val qcs = Seed.read(spark, store).filter(col("k") >= 1L && col("k") < 50L)
      .agg(count(col("seg")).as("n"))
    assert(scanOf(qcs).scan.description().contains("AggStats: complete"),
      scanOf(qcs).scan.description())
    assert(qcs.collect()(0).getLong(0) == 49L)
    // THE overwrite trap: k=41's value drops to 1 at ts=2 — the stale
    // value must never surface as MAX; overlapping runs demote to the fold
    Seed.append(Seq((41L, java.lang.Long.valueOf(1L), "seg2")).toDF("k", "v", "seg")
      .repartition(1), store, Map(Options.WriteTimestamp -> "2"))
    val dfo = q(col("k") === 41L)
    val (statsOnly, _) = drain(dfo)
    assert(statsOnly == 0L, "overwritten store must fold per-column aggregates")
    val ro = dfo.collect()(0)
    assert(ro.getLong(0) == 1L && ro.getLong(2) == 1L && ro.getLong(3) == 1L,
      s"stale overwritten value surfaced: $ro")
  }

  test("regular per-column declines: text marshal, overflow, tombstones — exact either way") {
    val sp = spark; import sp.implicits._
    // text encoding: variable-length digit strings; the static gate must
    // refuse SUM/MIN/MAX even though COUNT stays eligible
    val text = Seed.table(spark, sfDir, "spec_agg_regval_text",
      (1L to 50L).map(i => (i, i * 3L)).toDF("k", "v").repartition(1),
      props = Map(Options.KeyEncoding -> "ordered", Options.Encoding -> "text"))
    val qt = Seed.read(spark, text).filter(col("k") <= 10L)
      .agg(sum("v").as("s"), min("v").as("mn"))
    assert(!scanOf(qt).scan.description().contains("AggStats: complete"),
      scanOf(qt).scan.description())
    val rt = qt.collect()(0)
    assert(rt.getLong(0) == (1L to 10L).map(_ * 3L).sum && rt.getLong(1) == 3L)
    val qtc = Seed.read(spark, text).filter(col("k") <= 10L)
      .agg(count(col("v")).as("n"))
    assert(scanOf(qtc).scan.description().contains("AggStats: complete"),
      scanOf(qtc).scan.description())
    assert(qtc.collect()(0).getLong(0) == 10L)
    // per-column overflow: the writer marks the column's sums invalid;
    // SUM folds (reproducing Spark's wrap-around), MIN/MAX stay metadata
    // (extremes can't overflow)
    val big = Seed.table(spark, sfDir, "spec_agg_regval_big",
      Seq((1L, Long.MaxValue, "x"), (2L, Long.MaxValue, "y"))
        .toDF("k", "v", "seg").repartition(1),
      props = Map(Options.KeyEncoding -> "ordered", Options.Buckets -> "1"))
    val qb = Seed.read(spark, big).filter(col("k") >= 1L).agg(sum("v").as("s"))
    val (so, _) = drain(qb)
    assert(so == 0L, "overflowing column must fold its SUM")
    val fold = Seed.read(spark, big, Map(Options.MetadataAgg -> "false"))
      .filter(col("k") >= 1L).agg(sum("v").as("s")).collect()(0)
    assert(qb.collect()(0) == fold, "fast path must equal the fold exactly")
    val qbm = Seed.read(spark, big).filter(col("k") >= 1L)
      .agg(min("v").as("mn"), max("v").as("mx"))
    assert(scanOf(qbm).scan.description().contains("AggStats: complete"),
      scanOf(qbm).scan.description())
    val rbm = qbm.collect()(0)
    assert(rbm.getLong(0) == Long.MaxValue && rbm.getLong(1) == Long.MaxValue)
    // a tombstone demotes everything; results match the fold
    Seed.append(Seq((1L, null.asInstanceOf[java.lang.Long], null.asInstanceOf[String]))
      .toDF("k", "v", "seg").repartition(1), big,
      Map(Options.NullsAsTombstones -> "true", Options.WriteTimestamp -> "2"))
    val qd = Seed.read(spark, big).filter(col("k") >= 1L)
      .agg(sum("v").as("s"), count(col("v")).as("nv"), max("v").as("mx"))
    val (so2, _) = drain(qd)
    assert(so2 == 0L, "tombstoned store must fold")
    val foldD = Seed.read(spark, big, Map(Options.MetadataAgg -> "false"))
      .filter(col("k") >= 1L)
      .agg(sum("v").as("s"), count(col("v")).as("nv"), max("v").as("mx"))
      .collect()(0)
    assert(qd.collect()(0) == foldD)
  }

  test("sub-level extremals: per-key MIN/MAX(sub) under pinned (key, col) groups") {
    val sp = spark; import sp.implicits._
    // 3 keys × 3 cols × 4 subs, with a deliberately sparse corner
    val rows = for {
      k <- Seq("k1", "k2", "k3")
      c <- Seq("ca", "cb", "cc")
      s <- Seq("s1", "s2", "s3", "s4")
      if !(k == "k2" && c == "cb") // k2's cb group is EMPTY
    } yield (k, c, s, 1L)
    val store = Seed.table(spark, sfDir, "spec_agg_subext",
      rows.toDF("k", "c", "s", "v").repartition(1),
      mapping = Some(":key,:column,:subcolumn,:value"),
      props = Map(Options.Buckets -> "2"))
    // grouped: per-key first/last sub of the pinned col, absent key and
    // empty group emit no row — exactly like the fold
    val g = Seed.read(spark, store)
      .filter(col("k").isin("k1", "k2", "k9") && col("c") === "cb")
      .groupBy("k").agg(count(lit(1)).as("n"),
        min("s").as("mn"), max("s").as("mx"))
    assert(scanOf(g).scan.description().contains("AggStats: complete"),
      scanOf(g).scan.description())
    val rowsG = g.collect().map(r => (r.getString(0), r.getLong(1),
      r.getString(2), r.getString(3))).sortBy(_._1).toSeq
    assert(rowsG == Seq(("k1", 4L, "s1", "s4")), s"got $rowsG")
    // ungrouped, within a half-open sub window
    val u = Seed.read(spark, store)
      .filter(col("k") === "k3" && col("c") === "ca" &&
        col("s") >= "s2" && col("s") < "s4")
      .agg(count(lit(1)).as("n"), min("s").as("mn"), max("s").as("mx"))
    assert(scanOf(u).scan.description().contains("AggStats: complete"),
      scanOf(u).scan.description())
    val ru = u.collect()(0)
    assert(ru.getLong(0) == 2L && ru.getString(1) == "s2" &&
      ru.getString(2) == "s3", s"got $ru")
    // an OVERWRITE never removes an address: sub extremals stay metadata
    // over overlapping runs (unlike counts) and stay exact
    Seed.append(Seq(("k1", "cb", "s1", 9L)).toDF("k", "c", "s", "v")
      .repartition(1), store, Map(Options.WriteTimestamp -> "2"))
    val g2 = Seed.read(spark, store)
      .filter(col("k") === "k1" && col("c") === "cb")
      .agg(min("s").as("mn"), max("s").as("mx"))
    assert(scanOf(g2).scan.description().contains("AggStats: complete"),
      scanOf(g2).scan.description())
    val rg2 = g2.collect()(0)
    assert(rg2.getString(0) == "s1" && rg2.getString(1) == "s4")
  }

  test("range-count: contradictory col and sub ranges give NULL MIN/MAX, not a row extreme") {
    val sp = spark; import sp.implicits._
    val rows = for {
      k <- Seq("k1", "k2", "k3")
      c <- Seq("ca", "cb", "cc")
      s <- Seq("s1", "s2", "s3", "s4")
    } yield (k, c, s, 1L)
    val store = Seed.table(spark, sfDir, "spec_agg_empty_windows",
      rows.toDF("k", "c", "s", "v").repartition(1),
      mapping = Some(":key,:column,:subcolumn,:value"))
    // the col range `cc < c < cb` and the sub range `s3 < s < s2` hold no value
    val emptyCol = col("c") > "cc" && col("c") < "cb"
    val emptySub = col("c") === "cb" && col("s") > "s3" && col("s") < "s2"
    Seq(("c", col("k") === "k1" && emptyCol),
        ("s", col("k") === "k1" && emptySub)).foreach { case (c, f) =>
      val u = Seed.read(spark, store).filter(f)
        .agg(min(c).as("mn"), max(c).as("mx"), count(lit(1)).as("n"))
      assert(scanOf(u).scan.description().contains("AggStats: complete"),
        scanOf(u).scan.description())
      val r = u.collect()(0)
      assert(r.isNullAt(0) && r.isNullAt(1) && r.getLong(2) == 0L, s"$c: got $r")
    }
    // grouped: no key has a cell in the empty windows, so no group
    Seq(("c", col("k").isin("k1", "k3") && emptyCol),
        ("s", col("k").isin("k1", "k3") && emptySub)).foreach { case (c, f) =>
      val g = Seed.read(spark, store).filter(f)
        .groupBy("k").agg(min(c).as("mn"), max(c).as("mx"))
      assert(scanOf(g).scan.description().contains("AggStats: complete"),
        scanOf(g).scan.description())
      assert(g.collect().isEmpty, s"$c: got ${g.collect().toSeq}")
    }
  }

  test("tombstone netting: DELETE then COUNT without compaction stays metadata") {
    val sp = spark; import sp.implicits._
    def tableOf(store: String): CassandraLikeTable = {
      val meta = CellStore.readMeta(store).get
      new CassandraLikeTable(store, store,
        org.apache.spark.sql.types.StructType.fromDDL(meta.schemaDdl),
        Some(meta.mapping), meta.properties)
    }
    def fold(store: String, f: org.apache.spark.sql.Column) =
      Seed.read(spark, store, Map(Options.MetadataAgg -> "false"))
        .filter(f).agg(count(lit(1)).as("n")).collect()(0).getLong(0)
    // TRANSPOSED: one live run per bucket, then a certified delete epoch
    val store = Seed.table(spark, sfDir, "spec_agg_net",
      (1L to 400L).map(i => (i, f"c${i % 5}%02d", i * 3L)).toDF("k", "c", "v")
        .repartition(1),
      mapping = Some(":key,:column,:value"),
      props = Map(Options.KeyEncoding -> "ordered", Options.Buckets -> "2"))
    tableOf(store).deleteWhere(Array[org.apache.spark.sql.sources.Filter](
      org.apache.spark.sql.sources.In("k",
        (1L to 400L).filter(_ % 7 == 0).map(Long.box).toArray[Any])))
    def q(f: org.apache.spark.sql.Column) =
      Seed.read(spark, store).filter(f).agg(count(lit(1)).as("n"))
    // range whose bound sits ON a deleted key (tombstone-over-boundary),
    // an IN with one deleted point, an equality on a deleted key, and the
    // unfiltered whole store — all complete at planning, all == fold
    for (pred <- Seq(
      col("k") >= 7L && col("k") < 210L, // both bounds deleted keys
      col("k") >= 50L && col("k") < 123L,
      col("k").isin(3L, 14L, 9999L), // 14 deleted, 9999 absent
      col("k") === 21L, // deleted: count 0
      col("k") === 20L)) {
      val df = q(pred)
      assert(scanOf(df).scan.description().contains("AggStats: complete"),
        s"not complete for $pred: ${scanOf(df).scan.description()}")
      assert(df.collect()(0).getLong(0) == fold(store, pred), s"$pred")
    }
    val all = Seed.read(spark, store).agg(count(lit(1)).as("n"))
    assert(scanOf(all).scan.description().contains("AggStats: complete"),
      scanOf(all).scan.description())
    assert(all.collect()(0).getLong(0) == 400L - 400L / 7L)
    // MIN/MAX over a netted store must DECLINE (a deleted key's bytes
    // would surface as a false extremal) — exact via the fold
    val mm = Seed.read(spark, store).filter(col("k") >= 7L && col("k") < 30L)
      .agg(min("k").as("mn"), max("k").as("mx"))
    assert(!scanOf(mm).scan.description().contains("AggStats: complete"))
    val rm = mm.collect()(0)
    assert(rm.getLong(0) == 8L && rm.getLong(1) == 29L, s"got $rm")
    // SUM nets too: certified tombstones carry their victims' values, so
    // the delete epoch's VSUM tails subtract exactly the deleted volume —
    // complete at planning, with AVG riding the Sum+Count rewrite
    val sq = Seed.read(spark, store).filter(col("k") >= 1L && col("k") < 50L)
      .agg(sum("v").as("s"), avg("v").as("a"))
    assert(scanOf(sq).scan.description().contains("AggStats: complete"),
      scanOf(sq).scan.description())
    val kept50 = (1L until 50L).filter(_ % 7 != 0).map(_ * 3L)
    val rs = sq.collect()(0)
    assert(rs.getLong(0) == kept50.sum &&
      rs.getDouble(1) == kept50.sum.toDouble / kept50.size, s"got $rs")
    // unfiltered netted SUM rides the sidecar's netted total
    val sAll = Seed.read(spark, store)
      .agg(count(lit(1)).as("n"), sum("v").as("s"))
    assert(scanOf(sAll).scan.description().contains("AggStats: complete"),
      scanOf(sAll).scan.description())
    val keptAll = (1L to 400L).filter(_ % 7 != 0).map(_ * 3L)
    val rAll = sAll.collect()(0)
    assert(rAll.getLong(0) == keptAll.size && rAll.getLong(1) == keptAll.sum)
    // grouped netted COUNT+SUM over pinned keys: a deleted key emits no
    // group (nets to zero), exactly like the fold; extremals would
    // demote the whole grouped answer (gate-checked)
    val gn = Seed.read(spark, store)
      .filter(col("k").isin(20L, 21L, 9999L)) // 21 deleted, 9999 absent
      .groupBy("k").agg(count(lit(1)).as("n"), sum("v").as("s"))
    assert(scanOf(gn).scan.description().contains("AggStats: complete"),
      scanOf(gn).scan.description())
    val rGn = gn.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .sortBy(_._1).toSeq
    assert(rGn == Seq((20L, 1L, 60L)), s"got $rGn")
    // RE-INSERT after delete: the new live run overlaps the old one —
    // netting must demote to the fold, and the row is back
    Seed.append(Seq((21L, f"c${21 % 5}%02d", 999L)).toDF("k", "c", "v")
      .repartition(1), store, Map(Options.WriteTimestamp -> "9"))
    val dfR = q(col("k") === 21L)
    val (soR, _) = drain(dfR)
    assert(soR == 0L, "re-insert must demote netting to the fold")
    assert(dfR.collect()(0).getLong(0) == 1L)
    // UNCERTIFIED tombstones (nulls-as-tombstones append) never net
    val store2 = Seed.table(spark, sfDir, "spec_agg_net_uncert",
      (1L to 50L).map(i => (i, "c", i)).toDF("k", "c", "v").repartition(1),
      mapping = Some(":key,:column,:value"),
      props = Map(Options.KeyEncoding -> "ordered", Options.Buckets -> "1"))
    Seed.append(Seq((5L, "c", null.asInstanceOf[java.lang.Long]))
      .toDF("k", "c", "v").repartition(1), store2,
      Map(Options.NullsAsTombstones -> "true", Options.WriteTimestamp -> "2"))
    val dfU = Seed.read(spark, store2).filter(col("k") <= 10L)
      .agg(count(lit(1)).as("n"))
    val (soU, _) = drain(dfU)
    assert(soU == 0L, "uncertified tombstones must fold")
    assert(dfU.collect()(0).getLong(0) == 9L)
    // REGULAR mapping: netted row counts AND netted per-column counts
    val store3 = Seed.table(spark, sfDir, "spec_agg_net_reg",
      (1L to 300L).map(i =>
        (i, if (i % 5 == 0) null else s"n$i", i * 2L)).toDF("k", "nm", "x")
        .repartition(1),
      props = Map(Options.KeyEncoding -> "ordered", Options.Buckets -> "2"))
    tableOf(store3).deleteWhere(Array[org.apache.spark.sql.sources.Filter](
      org.apache.spark.sql.sources.In("k",
        (1L to 300L).filter(_ % 11 == 0).map(Long.box).toArray[Any])))
    val dfReg = Seed.read(spark, store3)
      .filter(col("k") >= 10L && col("k") < 200L)
      .agg(count(lit(1)).as("n"), count(col("nm")).as("nn"),
        count(col("x")).as("nx"))
    assert(scanOf(dfReg).scan.description().contains("AggStats: complete"),
      scanOf(dfReg).scan.description())
    val kept = (10L until 200L).filter(_ % 11 != 0)
    val rReg = dfReg.collect()(0)
    assert(rReg.getLong(0) == kept.size &&
      rReg.getLong(1) == kept.count(_ % 5 != 0) &&
      rReg.getLong(2) == kept.size, s"got $rReg want ${kept.size}")
    // netted SUM of a regular column rides the per-column CVAL tails of
    // the delete epoch (victims' values recorded per column name)
    val dfRegS = Seed.read(spark, store3).filter(col("k") >= 10L && col("k") < 200L)
      .agg(sum("x").as("s"), avg("x").as("a"))
    assert(scanOf(dfRegS).scan.description().contains("AggStats: complete"),
      scanOf(dfRegS).scan.description())
    val rRegS = dfRegS.collect()(0)
    assert(rRegS.getLong(0) == kept.map(_ * 2L).sum &&
      rRegS.getDouble(1) == kept.map(_ * 2L).sum.toDouble / kept.size,
      s"got $rRegS")
    // UNFILTERED whole-store per-column aggregates over the netted
    // store: the sidecar's NETTED CVAL twins (live − certified, r13) —
    // counts see only visible cells, sums only visible values
    val dfRegAll = Seed.read(spark, store3)
      .agg(count(lit(1)).as("n"), count(col("nm")).as("nn"),
        sum("x").as("s"), avg("x").as("a"))
    assert(scanOf(dfRegAll).scan.description().contains("AggStats: complete"),
      scanOf(dfRegAll).scan.description())
    val keptAllR = (1L to 300L).filter(_ % 11 != 0)
    val rRegAll = dfRegAll.collect()(0)
    assert(rRegAll.getLong(0) == keptAllR.size &&
      rRegAll.getLong(1) == keptAllR.count(_ % 5 != 0) &&
      rRegAll.getLong(2) == keptAllR.map(_ * 2L).sum &&
      rRegAll.getDouble(3) ==
        keptAllR.map(_ * 2L).sum.toDouble / keptAllR.size,
      s"got $rRegAll")
    // netted regular extremals must still fold (a deleted extreme would
    // surface as a false MIN/MAX) — exact via the fold
    val dfRegMm = Seed.read(spark, store3).agg(min("x").as("mn"))
    val (soMm, _) = drain(dfRegMm)
    assert(soMm == 0L, "netted regular extremal must fold")
    assert(dfRegMm.collect()(0).getLong(0) == keptAllR.map(_ * 2L).min)
  }

  test("aggregate planning parses each segment's index once per process") {
    val sp = spark; import sp.implicits._
    val store = Seed.table(spark, sfDir, "spec_agg_sidecar",
      (1L to 300L).map(i => (i, f"c${i % 5}%02d", i * 3L)).toDF("k", "c", "v")
        .repartition(1),
      mapping = Some(":key,:column,:value"),
      props = Map(Options.KeyEncoding -> "ordered", Options.Buckets -> "4"))
    def liveSegments(): Int = CellStore.allSegmentFiles(store).values.map(_.size).sum
    def q() = Seed.read(spark, store)
      .agg(count(lit(1)).as("n"), sum("v").as("s"), min("k").as("mn"))
    // a cold planning reduces every bucket from freshly parsed index
    // tails, one parse per live segment, and still answers completely
    CellStore.clearPlannerCaches()
    val tails0 = CellStore.runTailReads.get()
    assert(scanOf(q()).scan.description().contains("AggStats: complete"))
    assert(CellStore.runTailReads.get() - tails0 == liveSegments(),
      s"cold planning read ${CellStore.runTailReads.get() - tails0} tails, " +
        s"${liveSegments()} live segments")
    // a second planning reduces the memoized run stats: no tail is read
    val tails1 = CellStore.runTailReads.get()
    val r0 = q().collect()(0)
    assert(r0.getLong(0) == 300L && r0.getLong(1) == (1L to 300L).map(_ * 3L).sum
      && r0.getLong(2) == 1L)
    assert(CellStore.runTailReads.get() == tails1, "warm planning must read no tail")
    // duplicate a segment so its addresses repeat: the dup addresses
    // demote the complete path, and LWW still dedups the fold to the same
    // answer
    Seed.append((1L to 300L).map(i => (i, f"c${i % 5}%02d", i * 3L))
      .toDF("k", "c", "v").repartition(1), store,
      Map(Options.WriteTimestamp -> "1"))
    import scala.jdk.CollectionConverters._
    val sst = java.nio.file.Paths.get(store, CellStore.SstDir)
    val seg = java.nio.file.Files.list(sst).iterator().asScala.toSeq.head
    java.nio.file.Files.copy(seg, seg.resolveSibling(
      seg.getFileName.toString.replaceFirst("-", "-ffff")))
    val r2 = q().collect()(0)
    assert(r2 == r0, s"duplicated-segment read must stay exact: $r2 vs $r0")
    // no commit path leaves a per-bucket stats file behind: the commit
    // above, a compaction and a deleteWhere
    (0 until 4).foreach(b => CellStore.compactBucket(store, b))
    val meta = CellStore.readMeta(store).get
    new CassandraLikeTable(store, store,
      org.apache.spark.sql.types.StructType.fromDDL(meta.schemaDdl),
      Some(meta.mapping), meta.properties)
      .deleteWhere(Array[org.apache.spark.sql.sources.Filter](
        org.apache.spark.sql.sources.In("k", Array[Any](7L, 8L))))
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(store, "_bucket_stats")))
    assert(q().collect()(0).getLong(0) == 298L)
  }

  test("a commit reads only its new files' indexes") {
    val sp = spark; import sp.implicits._
    val store = Seed.table(spark, sfDir, "spec_incr_sidecar",
      (1L to 400L).map(i => (i, s"v$i")).toDF("k", "v").repartition(1),
      props = Map(Options.KeyEncoding -> "ordered", Options.Buckets -> "4"))
    def allSegs(): Set[String] =
      CellStore.allSegmentFiles(store).values.flatten
        .map(_.getFileName.toString).toSet
    val before = allSegs()
    // COLD driver: the earlier segments' stats are not in memory, and the
    // commit must not read them
    CellStore.clearPlannerCaches()
    val reads0 = CellStore.runTailReads.get()
    Seed.append((401L to 500L).map(i => (i, s"v$i")).toDF("k", "v")
      .repartition(1), store, Map(Options.WriteTimestamp -> "2"))
    val newFiles = allSegs() -- before
    val delta = CellStore.runTailReads.get() - reads0
    assert(newFiles.nonEmpty)
    assert(delta == newFiles.size,
      s"commit must read only the ${newFiles.size} new files' tails, read $delta")
    // and the answers stay exact
    val n = Seed.read(spark, store).agg(count(lit(1)).as("n")).collect()(0)
    assert(n.getLong(0) == 500L)
  }

  test("fuzz: range aggregates match the fold across random stores/predicates") {
    val sp = spark; import sp.implicits._
    val rnd = new scala.util.Random(20260815L)
    for (iter <- 1 to 10) {
      val nKeys = 5 + rnd.nextInt(40)
      def randRows(n: Int) = (1 to n).map { _ =>
        (rnd.nextInt(nKeys).toLong - 10, f"c${rnd.nextInt(20)}%02d",
          java.lang.Long.valueOf(rnd.nextInt(1000).toLong))
      }
      val store = Seed.table(spark, sfDir, s"spec_agg_fuzz_$iter",
        randRows(60 + rnd.nextInt(300)).toDF("k", "c", "v").repartition(1),
        mapping = Some(":key,:column,:value"),
        props = Map(Options.KeyEncoding -> "ordered",
          Options.Buckets -> (1 + rnd.nextInt(4)).toString))
      // random second run: overwrites/new addresses (often overlapping)
      if (rnd.nextBoolean())
        Seed.append(randRows(30 + rnd.nextInt(100)).toDF("k", "c", "v")
          .repartition(1), store, Map(Options.WriteTimestamp -> "2"))
      // occasional tombstones (forces the fold everywhere; still exact)
      if (rnd.nextInt(4) == 0)
        Seed.append(randRows(5).map { case (k, c, _) =>
          (k, c, null.asInstanceOf[java.lang.Long]) }.toDF("k", "c", "v")
          .repartition(1), store,
          Map(Options.NullsAsTombstones -> "true", Options.WriteTimestamp -> "3"))
      // occasional CERTIFIED deletes (deleteWhere): the netting-eligible
      // shape — counts may stay metadata, everything must stay exact
      if (rnd.nextInt(3) == 0) {
        val meta = CellStore.readMeta(store).get
        new CassandraLikeTable(store, store,
          org.apache.spark.sql.types.StructType.fromDDL(meta.schemaDdl),
          Some(meta.mapping), meta.properties)
          .deleteWhere(Array[org.apache.spark.sql.sources.Filter](
            org.apache.spark.sql.sources.In("k",
              Seq.fill(1 + rnd.nextInt(6))(rnd.nextInt(nKeys).toLong - 10)
                .distinct.map(Long.box).toArray[Any])))
      }
      val a = rnd.nextInt(nKeys).toLong - 10
      val b = a + 1 + rnd.nextInt(15)
      val keyPts = Seq.fill(1 + rnd.nextInt(5))(rnd.nextInt(nKeys + 10).toLong - 12)
      val pred = rnd.nextInt(5) match {
        case 0 => col("k") >= a && col("k") < b
        case 1 => col("k").isin(keyPts: _*)
        case 2 => col("k") === a
        case 3 => col("k").isin(keyPts: _*) && col("c") >= "c05" && col("c") < "c15"
        case _ => col("k") > a && col("c") <= "c10" // rectangle: must decline
      }
      def agg(opts: Map[String, String]) =
        Seed.read(spark, store, opts).filter(pred)
          .agg(count(lit(1)).as("n"), min("k").as("mn"), max("k").as("mx"),
            sum("v").as("sv"), min("v").as("vn"), max("v").as("vx"))
          .collect()(0)
      // asof = MaxValue sees every cell but disqualifies the static gates:
      // the pure fold is the ground truth
      val fast = agg(Map.empty)
      val fold = agg(Map(Options.MetadataAgg -> "false"))
      assert(fast == fold, s"iter $iter pred $pred: $fast vs $fold")
      // random AS-OF bound (r13 per-run gating): positional == fold at
      // every bound, epochs covered, straddled or excluded alike
      val bound = rnd.nextInt(5).toString
      val fastA = agg(Map(Options.ReadAsOf -> bound))
      val foldA = agg(Map(Options.ReadAsOf -> bound,
        Options.MetadataAgg -> "false"))
      assert(fastA == foldA,
        s"iter $iter pred $pred asof $bound: $fastA vs $foldA")
      // grouped twin (pinned keys only — the others plan normally anyway):
      // per-key COUNT + SUM(value) + MIN/MAX(clustering col)
      def grouped(opts: Map[String, String]) =
        Seed.read(spark, store, opts).filter(col("k").isin(keyPts: _*))
          .groupBy("k").agg(count(lit(1)).as("n"), sum("v").as("sv"),
            min("c").as("mc"), max("c").as("xc"),
            min("v").as("vn"), max("v").as("vx"))
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
            r.getString(3), r.getString(4), r.getLong(5), r.getLong(6)))
          .sortBy(_._1).toSeq
      assert(grouped(Map.empty) ==
        grouped(Map(Options.MetadataAgg -> "false")),
        s"iter $iter grouped mismatch")
    }
    // REGULAR-mapping arm: rows = distinct keys, with random missing cells,
    // overlapping second runs and occasional tombstones
    for (iter <- 1 to 6) {
      val nKeys = 10 + rnd.nextInt(80)
      def randRows(n: Int) = (1 to n).map { _ =>
        val k = rnd.nextInt(nKeys).toLong - 10
        (k, if (rnd.nextInt(4) == 0) null else s"n$k",
          java.lang.Long.valueOf(rnd.nextInt(100).toLong))
      }
      val store = Seed.table(spark, sfDir, s"spec_agg_regfuzz_$iter",
        randRows(40 + rnd.nextInt(200)).toDF("k", "nm", "x").repartition(1),
        props = Map(Options.KeyEncoding -> "ordered",
          Options.Buckets -> (1 + rnd.nextInt(3)).toString))
      if (rnd.nextBoolean())
        Seed.append(randRows(20 + rnd.nextInt(60)).toDF("k", "nm", "x")
          .repartition(1), store, Map(Options.WriteTimestamp -> "2"))
      if (rnd.nextInt(3) == 0)
        Seed.append(randRows(5).map { case (k, _, _) =>
          (k, null.asInstanceOf[String], null.asInstanceOf[java.lang.Long]) }
          .toDF("k", "nm", "x").repartition(1), store,
          Map(Options.NullsAsTombstones -> "true", Options.WriteTimestamp -> "3"))
      // interleaved CERTIFIED deletes: netted regular counts stay exact
      if (rnd.nextInt(3) == 0) {
        val meta = CellStore.readMeta(store).get
        new CassandraLikeTable(store, store,
          org.apache.spark.sql.types.StructType.fromDDL(meta.schemaDdl),
          Some(meta.mapping), meta.properties)
          .deleteWhere(Array[org.apache.spark.sql.sources.Filter](
            org.apache.spark.sql.sources.In("k",
              Seq.fill(1 + rnd.nextInt(6))(rnd.nextInt(nKeys).toLong - 10)
                .distinct.map(Long.box).toArray[Any])))
      }
      val a = rnd.nextInt(nKeys).toLong - 10
      val b = a + 1 + rnd.nextInt(25)
      val keyPts = Seq.fill(1 + rnd.nextInt(5))(rnd.nextInt(nKeys + 10).toLong - 12)
      val pred = rnd.nextInt(3) match {
        case 0 => col("k") >= a && col("k") < b
        case 1 => col("k").isin(keyPts: _*)
        case _ => col("k") === a
      }
      def agg(opts: Map[String, String]) =
        Seed.read(spark, store, opts).filter(pred)
          .agg(count(lit(1)).as("n"), min("k").as("mn"), max("k").as("mx"),
            // per-COLUMN (CVAL) aggregates: counts see missing cells,
            // sums/extremes the LWW-visible long values
            count(col("nm")).as("nnm"), count(col("x")).as("nx"),
            sum("x").as("sx"), min("x").as("xn"), max("x").as("xx"),
            avg("x").as("ax"))
          .collect()(0)
      val fast = agg(Map.empty)
      val fold = agg(Map(Options.MetadataAgg -> "false"))
      assert(fast == fold, s"regular iter $iter pred $pred: $fast vs $fold")
      // random AS-OF bound (r13 per-run gating), regular-mapping twin
      val bound = rnd.nextInt(5).toString
      val fastA = agg(Map(Options.ReadAsOf -> bound))
      val foldA = agg(Map(Options.ReadAsOf -> bound,
        Options.MetadataAgg -> "false"))
      assert(fastA == foldA,
        s"regular iter $iter pred $pred asof $bound: $fastA vs $foldA")
    }
  }

  test("filters and slices disable the static gate") {
    val sp = spark; import sp.implicits._
    val df = Seq((1L, "a"), (2L, "b")).toDF("k", "v")
    val store = Seed.table(spark, sfDir, "spec_agg_meta_gate", df.repartition(1),
      props = Map(Options.KeyEncoding -> "ordered"))
    // a pushed filter disables the UNFILTERED stat gate; the count still
    // resolves completely — through the RANGE path (distinct keys > 1
    // positionally), not the whole-store STAT fold
    val filtered = Seed.read(spark, store).filter(col("k") > 1L)
      .agg(count(lit(1)).as("n"))
    assert(scanOf(filtered).scan.description().contains("AggStats: complete"),
      "an exact key range should route to the complete range path")
    assert(filtered.collect()(0).getLong(0) == 1L)
    // a filter the envelope can't express exactly (non-key column) must
    // disable every metadata gate
    val vFiltered = Seed.read(spark, store).filter(col("v") > "a")
      .agg(count(lit(1)).as("n"))
    assert(!scanOf(vFiltered).scan.description().contains("AggStats"),
      "a non-key filter must disable the metadata gate")
    assert(vFiltered.collect()(0).getLong(0) == 1L)
    // an as-of bound BELOW the store's newest cell hides cells the stats
    // can't see — but round 13's PER-RUN gating proves every run fully
    // NEWER than the bound, so the empty historical view still answers
    // positionally (zero covered runs → count 0 at planning)
    val asOf = Seed.read(spark, store, Map(Options.ReadAsOf -> "0"))
      .agg(count(lit(1)).as("n"))
    assert(asOf.collect()(0).getLong(0) == 0L)
    // the explicit escape hatch forces the fold even on a clean store
    val off = Seed.read(spark, store, Map(Options.MetadataAgg -> "false"))
      .agg(count(lit(1)).as("n"))
    assert(!scanOf(off).scan.description().contains("AggStats"))
    val (soO, _) = drain(off)
    assert(soO == 0L, "metadata.agg=false must fold")
    assert(off.collect()(0).getLong(0) == 2L)
  }

  test("as-of bounds: a covering bound keeps every metadata path; an uncovering one folds") {
    val sp = spark; import sp.implicits._
    // epoch 1 (ts=1): keys 1..300; epoch 2 (ts=5): keys 301..400 — runs
    // stay key-disjoint, so the current view is clean
    val store = Seed.table(spark, sfDir, "spec_agg_asof",
      (1L to 300L).map(i => (i, f"c${i % 5}%02d", i * 3L)).toDF("k", "c", "v")
        .repartition(1),
      mapping = Some(":key,:column,:value"),
      props = Map(Options.KeyEncoding -> "ordered", Options.Buckets -> "1"))
    Seed.append((301L to 400L).map(i => (i, f"c${i % 5}%02d", i * 3L))
      .toDF("k", "c", "v").repartition(1), store,
      Map(Options.WriteTimestamp -> "5"))
    def q(opts: Map[String, String], f: org.apache.spark.sql.Column) =
      Seed.read(spark, store, opts).filter(f)
        .agg(count(lit(1)).as("n"), sum("v").as("s"),
          min("v").as("mn"), max("v").as("mx"))
    // a COVERING bound (≥ every cell ts): the bounded view IS the current
    // view — counts, sums and value extremals stay complete at planning
    for (bound <- Seq("5", "100")) {
      val df = q(Map(Options.ReadAsOf -> bound),
        col("k") >= 50L && col("k") < 350L)
      assert(scanOf(df).scan.description().contains("AggStats: complete"),
        s"bound $bound: ${scanOf(df).scan.description()}")
      val r = df.collect()(0)
      val want = (50L until 350L).map(_ * 3L)
      assert(r.getLong(0) == 300L && r.getLong(1) == want.sum &&
        r.getLong(2) == want.min && r.getLong(3) == want.max, s"got $r")
      // unfiltered whole-store twin
      val all = Seed.read(spark, store, Map(Options.ReadAsOf -> bound))
        .agg(count(lit(1)).as("n"))
      assert(scanOf(all).scan.description().contains("AggStats: complete"))
      assert(all.collect()(0).getLong(0) == 400L)
    }
    // an UNCOVERING bound between epochs (hides epoch 2): round 13's
    // PER-RUN gating keeps the fast paths — epoch 1's runs are fully
    // covered, epoch 2's fully newer, so the historical audit answer
    // resolves positionally over the covered subset
    val hist = q(Map(Options.ReadAsOf -> "1"), col("k") >= 50L && col("k") < 350L)
    assert(scanOf(hist).scan.description().contains("AggStats: complete"),
      s"a clean run split must stay positional: ${scanOf(hist).scan.description()}")
    val rh = hist.collect()(0)
    val wantH = (50L to 300L).map(_ * 3L)
    assert(rh.getLong(0) == 251L && rh.getLong(1) == wantH.sum &&
      rh.getLong(2) == wantH.min && rh.getLong(3) == wantH.max, s"got $rh")
    // ground truth: the explicit fold agrees
    val histF = Seed.read(spark, store,
      Map(Options.ReadAsOf -> "1", Options.MetadataAgg -> "false"))
      .filter(col("k") >= 50L && col("k") < 350L)
      .agg(count(lit(1)).as("n"), sum("v").as("s"),
        min("v").as("mn"), max("v").as("mx"))
    assert(histF.collect()(0) == rh, "positional as-of must equal the fold")
  }

  test("per-run as-of gating: straddling runs fold; delete epochs after the bound drop out") {
    val sp = spark; import sp.implicits._
    // epoch 1 (ts=1): keys 1..200; epoch 2 (ts=5): keys 201..260; then a
    // CERTIFIED delete epoch removes keys 210..229 — the victims are
    // epoch-2 cells (ts=5), so deleteWhere stamps the tombstones ts=6,
    // strictly NEWER than both write epochs
    val store = Seed.table(spark, sfDir, "spec_agg_asof_runs",
      (1L to 200L).map(i => (i, f"c${i % 5}%02d", i * 3L)).toDF("k", "c", "v")
        .repartition(1),
      mapping = Some(":key,:column,:value"),
      props = Map(Options.KeyEncoding -> "ordered", Options.Buckets -> "1"))
    Seed.append((201L to 260L).map(i => (i, f"c${i % 5}%02d", i * 3L))
      .toDF("k", "c", "v").repartition(1), store,
      Map(Options.WriteTimestamp -> "5"))
    val meta = CellStore.readMeta(store).get
    new CassandraLikeTable(store, store,
      org.apache.spark.sql.types.StructType.fromDDL(meta.schemaDdl),
      Some(meta.mapping), meta.properties)
      .deleteWhere(Array[org.apache.spark.sql.sources.Filter](
        org.apache.spark.sql.sources.In("k",
          (210L until 230L).map(Long.box).toArray[Any])))
    def q(opts: Map[String, String]) =
      Seed.read(spark, store, opts).filter(col("k") >= 10L && col("k") < 240L)
        .agg(count(lit(1)).as("n"), sum("v").as("s"))
    // as-of BEFORE the delete epoch: the delete's runs are fully newer →
    // they drop out; the pre-delete view is tombstone-FREE over the
    // covered subset, so the full fast-path set survives a store that is
    // netted NOW ("volume in window as of last Tuesday" after a purge)
    val pre = q(Map(Options.ReadAsOf -> "5"))
    assert(scanOf(pre).scan.description().contains("AggStats: complete"),
      s"pre-delete bound must stay positional: ${scanOf(pre).scan.description()}")
    val rPre = pre.collect()(0)
    val wantPre = (10L until 240L).map(_ * 3L)
    assert(rPre.getLong(0) == 230L && rPre.getLong(1) == wantPre.sum, s"got $rPre")
    // as-of between epoch 1 and 2: only epoch 1 visible
    val e1 = q(Map(Options.ReadAsOf -> "1"))
    assert(scanOf(e1).scan.description().contains("AggStats: complete"))
    val rE1 = e1.collect()(0)
    val wantE1 = (10L to 200L).map(_ * 3L)
    assert(rE1.getLong(0) == 191L && rE1.getLong(1) == wantE1.sum, s"got $rE1")
    // current view: netted counts/sums (delete subtracted)
    val now = q(Map.empty)
    val rNow = now.collect()(0)
    val wantNow = ((10L until 210L) ++ (230L until 240L)).map(_ * 3L)
    assert(rNow.getLong(0) == 210L && rNow.getLong(1) == wantNow.sum, s"got $rNow")
    // COLD driver: the per-run gating judgments parse each segment's
    // index tails once (the covered files and the newer ones they are
    // told apart from), and a repeat reads none
    CellStore.clearPlannerCaches()
    val tails0 = CellStore.runTailReads.get()
    assert(q(Map(Options.ReadAsOf -> "5")).collect()(0) == rPre)
    val segs = CellStore.allSegmentFiles(store).values.flatten.toSeq
    assert(CellStore.runTailReads.get() - tails0 == segs.size,
      s"cold as-of planning must read each of ${segs.size} files once, " +
        s"read ${CellStore.runTailReads.get() - tails0}")
    val tails1 = CellStore.runTailReads.get()
    assert(q(Map(Options.ReadAsOf -> "5")).collect()(0) == rPre)
    assert(CellStore.runTailReads.get() == tails1,
      "a repeated as-of planning must read no tail")
    // GROUPED as-of composes: per-key counts/sums over pinned points at a
    // bound between epochs run the same per-point arithmetic over the
    // covered subset (215 is deleted at ts=6 but visible as-of 5; at
    // bound 1 the epoch-2 keys emit no group)
    def g(bound: String, ks: Long*) =
      Seed.read(spark, store, Map(Options.ReadAsOf -> bound))
        .filter(col("k").isin(ks.map(Long.box): _*))
        .groupBy("k").agg(count(lit(1)).as("n"), sum("v").as("s"))
    val g5 = g("5", 15L, 215L, 255L)
    assert(scanOf(g5).scan.description().contains("AggStats: complete"),
      s"grouped as-of must stay positional: ${scanOf(g5).scan.description()}")
    assert(g5.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .sortBy(_._1).toSeq ==
      Seq((15L, 1L, 45L), (215L, 1L, 645L), (255L, 1L, 765L)))
    val g1 = g("1", 15L, 215L, 255L)
    assert(scanOf(g1).scan.description().contains("AggStats: complete"))
    assert(g1.collect().map(_.getLong(0)).toSeq == Seq(15L))
    // a STRADDLING run folds: one run whose TSRG window crosses the
    // bound (a raw segment carrying BOTH ts=2 and ts=6 cells — the real
    // write path stamps one ts per run, so the straddle is seeded raw)
    val store2 = Seed.table(spark, sfDir, "spec_agg_asof_straddle",
      Seq(("k1", "c1", "v1"), ("k2", "c1", "v2")).toDF("k", "c", "v")
        .repartition(1),
      mapping = Some(":key,:column,:value"),
      props = Map(Options.Buckets -> "1"))
    val sst2 = java.nio.file.Paths.get(store2, CellStore.SstDir)
    val out2 = CellStore.newSegmentStream(sst2.resolve("b0-zz.bin"))
    CellStore.writeRun(out2, Seq(
      Cell("k3".getBytes, "c1".getBytes, null, "v3".getBytes, 2L,
        tombstone = false),
      Cell("k4".getBytes, "c1".getBytes, null, "v4".getBytes, 6L,
        tombstone = false)))
    out2.close()
    def cnt(opts: Map[String, String]) =
      Seed.read(spark, store2, opts)
        .filter(col("k") >= "k1" && col("k") < "k9")
        .agg(count(lit(1)).as("n"), min("k").as("mn"), max("k").as("mx"))
    val strad = cnt(Map(Options.ReadAsOf -> "4"))
    val (soS, _) = drain(strad)
    assert(soS == 0L, "a straddling run must fold")
    assert(strad.collect()(0).getLong(0) == 3L)
    // fuzz: random bounds against the explicit fold
    val rnd = new scala.util.Random(13)
    for (_ <- 1 to 8) {
      val bound = rnd.nextInt(8).toString
      assert(cnt(Map(Options.ReadAsOf -> bound)).collect()(0) ==
        cnt(Map(Options.ReadAsOf -> bound,
          Options.MetadataAgg -> "false")).collect()(0),
        s"bound $bound")
    }
  }

  test("DELETE of many keys per bucket over overwritten and tombstoned segments") {
    // deleteWhere reads each doomed key's own index window: the doomed
    // cells (and the values its certified tombstones record) must be
    // exactly the visible ones, whatever other segments the windows cross
    val sp = spark; import sp.implicits._
    val store = Seed.table(spark, sfDir, "spec_agg_delete_many",
      (1L to 2000L).map(i => (i, s"n$i", i * 2L)).toDF("k", "nm", "x").repartition(1),
      props = Map(Options.KeyEncoding -> "ordered", Options.Buckets -> "2"))
    val meta = CellStore.readMeta(store).get
    val table = new CassandraLikeTable(store, store,
      org.apache.spark.sql.types.StructType.fromDDL(meta.schemaDdl),
      Some(meta.mapping), meta.properties)
    def delete(keys: Seq[Long]): Unit =
      table.deleteWhere(Array[org.apache.spark.sql.sources.Filter](
        org.apache.spark.sql.sources.In("k", keys.map(Long.box).toArray[Any])))
    Seed.append((1L to 2000L by 3L).map(i => (i, s"o$i", i * 5L)).toDF("k", "nm", "x")
      .repartition(1), store, Map(Options.WriteTimestamp -> "2"))
    delete((1L to 2000L).filter(_ % 13 == 0))
    // ~250 keys per bucket: overwritten, already deleted and never written
    delete((1L to 2000L).filter(_ % 4 == 0) ++ (5000L until 5010L))
    def value(i: Long): (Long, String, Long) =
      if (i % 3 == 1) (i, s"o$i", i * 5L) else (i, s"n$i", i * 2L)
    var live = (1L to 2000L).filter(i => i % 13 != 0 && i % 4 != 0)
    def readAll(): Set[(Long, String, Long)] =
      Seed.read(spark, store).collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(readAll() == live.map(value).toSet)
    // one live run per bucket, then a certified delete epoch of many keys
    // per bucket: netted counts and sums answer at planning, exactly
    (0 until 2).foreach(b => CellStore.compactBucket(store, b))
    delete((1L to 2000L).filter(_ % 10 == 1))
    live = live.filter(_ % 10 != 1)
    assert(readAll() == live.map(value).toSet)
    for ((pred, keep) <- Seq[(org.apache.spark.sql.Column, Long => Boolean)](
        (col("k") >= 100L && col("k") < 1500L, i => i >= 100L && i < 1500L),
        (lit(true), _ => true))) {
      val df = Seed.read(spark, store).filter(pred)
        .agg(count(lit(1)).as("n"), sum("x").as("s"))
      assert(scanOf(df).scan.description().contains("AggStats: complete"),
        s"$pred: ${scanOf(df).scan.description()}")
      val want = live.filter(keep)
      val r = df.collect()(0)
      assert(r.getLong(0) == want.size && r.getLong(1) == want.map(value(_)._3).sum,
        s"$pred: got $r want ${want.size}")
    }
  }
}
