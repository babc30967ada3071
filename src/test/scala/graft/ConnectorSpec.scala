package graft

import graft.sources.cassandralike._
import org.apache.spark.sql.functions._

/** End-to-end DSv2 connector tests on sf0.001: write->read round trips plus
  * plan-level assertions that pushdown actually reached the source. */
class ConnectorSpec extends SparkSpec {

  private def scanOf(df: org.apache.spark.sql.DataFrame): PlannedScan = PlannedScan.of(df)

  test("regular round trip preserves every value (binary codecs)") {
    val cust = Tables.load(spark, sfDir, "customer")
    val store = Seed.table(spark, sfDir, "spec_roundtrip", cust)
    val back = Seed.read(spark, store)
    assert(back.count() == cust.count())
    assert(back.exceptAll(cust).isEmpty && cust.exceptAll(back).isEmpty)
  }

  test("aggregate pushdown: empty store, key-filtered count, transposed cells") {
    // empty store: the dummy partition still yields count(*) = 0, not NULL
    val empty = s"${Seed.storeRoot(sfDir)}/spec_agg_empty"
    CellStore.dropTable(empty)
    CellStore.writeMeta(empty, CellStore.Meta("id BIGINT,v STRING", ":key,v", Map.empty))
    val r0 = Seed.read(spark, empty)
      .agg(count(lit(1)).as("n"), min(col("v")).as("mn")).collect()(0)
    assert(r0.getLong(0) == 0L && r0.isNullAt(1), s"empty-store agg: $r0")

    // a fully-pushed key filter composes with the pushed aggregate: the
    // partial counts fold only rows the filter admits
    val store = Seed.table(spark, sfDir, "spec_agg_filtered",
      Tables.load(spark, sfDir, "customer"))
    val filtered = Seed.read(spark, store)
      .filter(col("c_custkey").isin(1L, 2L, 3L, 999999L))
      .agg(count(lit(1)).as("n"))
    val desc = scanOf(filtered).scan.description()
    assert(desc.contains("PushedAggregates") && desc.contains("In(c_custkey"),
      s"filter + aggregate must both reach the scan: $desc")
    assert(filtered.collect()(0).getLong(0) == 3L)

    // count() over an already-aggregated store read makes the optimizer
    // offer an EMPTY aggregation to the scan — it must be declined, not
    // accepted vacuously as a zero-column scan (regression: INTERNAL_ERROR
    // "unexpected number of columns" on every agg-shaped judged query)
    assert(Seed.read(spark, store)
      .agg(sum(col("c_acctbal")).as("s")).count() == 1L)

    // transposed mapping: count(*) counts CELL rows (one per column)
    val sp = spark; import sp.implicits._
    val tstore = Seed.table(spark, sfDir, "spec_agg_transposed",
      Seq((1L, "a", 10L), (1L, "b", 20L), (2L, "a", 30L)).toDF("k", "c", "v"),
      mapping = Some(":key,:column,:value"))
    val tc = Seed.read(spark, tstore).agg(count(lit(1)).as("n"))
    assert(scanOf(tc).scan.description().contains("PushedAggregates"))
    assert(tc.collect()(0).getLong(0) == 3L)
  }

  test("columnar scan: vectorized plan, identical rows, map columns fall back") {
    val cust = Tables.load(spark, sfDir, "customer")
    val store = Seed.table(spark, sfDir, "spec_columnar", cust)
    val proj = Seq(col("c_custkey"), col("c_name"), col("c_acctbal"))
    val colDf = Seed.read(spark, store).select(proj: _*)
    assert(colDf.queryExecution.executedPlan.toString.contains("ColumnarToRow"),
      "batch scan should be vectorized")
    val rowDf = Seed.read(spark, store,
      Map(Options.ReadColumnar -> "false")).select(proj: _*)
    assert(!rowDf.queryExecution.executedPlan.toString.contains("ColumnarToRow"))
    val a = colDf.collect().map(_.toString).sorted
    val b = rowDf.collect().map(_.toString).sorted
    assert(a.length == 150 && a.sameElements(b))

    // a cf: map projection now batches too (ColumnarMap over child key /
    // value vectors) — vectorized plan, identical rows to the row reader
    val sp = spark; import sp.implicits._
    val mstore = Seed.table(spark, sfDir, "spec_columnar_map",
      Seq((1L, Map("a" -> "x", "b" -> "y")), (2L, Map("c" -> "z")),
        (3L, Map.empty[String, String]))
        .toDF("k", "fam"),
      mapping = Some(":key,cf:"))
    val mdf = Seed.read(spark, mstore)
    assert(mdf.queryExecution.executedPlan.toString.contains("ColumnarToRow"),
      "map projection should be vectorized")
    val mRows = Seed.read(spark, mstore, Map(Options.ReadColumnar -> "false"))
    val gotMaps = mdf.collect().map(r =>
      r.getLong(0) -> r.getMap[String, String](1).toMap).toMap
    val wantMaps = mRows.collect().map(r =>
      r.getLong(0) -> r.getMap[String, String](1).toMap).toMap
    assert(gotMaps == wantMaps && gotMaps(1L) == Map("a" -> "x", "b" -> "y"),
      s"columnar map read diverged: $gotMaps vs $wantMaps")
  }

  test("snapshot export/restore: layout preserved, current-state image takes LWW") {
    val sp = spark; import sp.implicits._
    val cust = Tables.load(spark, sfDir, "customer")
    val store = Seed.table(spark, sfDir, "spec_snap", cust,
      props = Map(Options.Buckets -> "4", Options.IndexColumns -> "c_name"))
    Seed.append(cust.withColumn("c_acctbal", col("c_acctbal") + 5), store,
      Map(Options.WriteTimestamp -> "2"))

    // current-state export (asOf = MaxValue) captures the LWW view
    val pq = s"${Seed.storeRoot(sfDir)}/spec_snap_pq"
    val restored = s"${Seed.storeRoot(sfDir)}/spec_snap_restored"
    Snapshot.export(spark, store, Long.MaxValue, pq)
    Snapshot.restore(spark, pq, restored)
    val want = Seed.read(spark, store).collect().map(_.toString).sorted
    val got = Seed.read(spark, restored).collect().map(_.toString).sorted
    assert(got.length == cust.count() && got.sameElements(want))

    // the restored store carries the ORIGINAL layout: bucket count and
    // index columns survive the round trip (minus the snapshot stamp)
    val m0 = CellStore.readMeta(store).get
    val m1 = CellStore.readMeta(restored).get
    assert(m1.mapping == m0.mapping && m1.schemaDdl == m0.schemaDdl)
    assert(m1.properties == m0.properties)
    // and the restored index actually serves lookups (fresh postings were
    // written through the normal write path during restore)
    val hit = Seed.read(spark, restored)
      .filter(col("c_name") === "Customer#000000042").collect()
    assert(hit.length == 1)
  }

  test("topN pushdown: natural key order pushes, numeric keys decline") {
    val sp = spark; import sp.implicits._
    val cust = Tables.load(spark, sfDir, "customer")
    val byName = Seed.table(spark, sfDir, "spec_topn",
      cust.select(col("c_name"), col("c_acctbal")))
    val q = Seed.read(spark, byName).orderBy(col("c_name")).limit(7)
    assert(scanOf(q).scan.description().contains("Limit: 7"),
      s"topN not pushed: ${scanOf(q).scan.description()}")
    val got = q.collect().map(_.getString(0)).toSeq
    val want = cust.select(col("c_name")).orderBy(col("c_name"))
      .limit(7).collect().map(_.getString(0)).toSeq
    assert(got == want, s"topN rows diverged: $got vs $want")
    // ALL-DESCENDING pushes as a suffix ring buffer ("latest N"): the
    // partition's last n natural-order rows ARE its top-n descending
    val qd = Seed.read(spark, byName).orderBy(col("c_name").desc).limit(3)
    assert(scanOf(qd).scan.description().contains("LimitLast: 3"),
      s"DESC topN not pushed: ${scanOf(qd).scan.description()}")
    val gotD = qd.collect().map(_.getString(0)).toSeq
    val wantD = cust.select(col("c_name")).orderBy(col("c_name").desc)
      .limit(3).collect().map(_.getString(0)).toSeq
    assert(gotD == wantD, s"DESC topN rows diverged: $gotD vs $wantD")
    val byKey = Seed.table(spark, sfDir, "spec_topn_num",
      cust.select(col("c_custkey"), col("c_acctbal")))
    val qn = Seed.read(spark, byKey).orderBy(col("c_custkey")).limit(3)
    assert(!scanOf(qn).scan.description().contains("Limit: 3"))
    assert(qn.collect().map(_.getLong(0)).toSeq ==
      cust.select(col("c_custkey")).orderBy(col("c_custkey")).limit(3)
        .collect().map(_.getLong(0)).toSeq)
  }

  test("decimal SUM pushes with Spark-identical widened-precision partials") {
    val sp = spark; import sp.implicits._
    val src = Tables.load(spark, sfDir, "customer").select(col("c_custkey"),
      col("c_acctbal").cast("decimal(12,2)").as("bal"))
    val store = Seed.table(spark, sfDir, "spec_agg_decimal", src)
    def q() = Seed.read(spark, store)
      .agg(sum(col("bal")).as("sb"), min(col("bal")).as("mn"),
        max(col("bal")).as("mx"), count(lit(1)).as("n"))
    val exact = src.agg(sum(col("bal")), min(col("bal")), max(col("bal")),
      count(lit(1))).collect()(0)
    // non-ANSI (legacy mode): decimal SUM must NOT push — the pushed
    // partial's only overflow surface is a throw, which would diverge from
    // non-ANSI's NULL-on-overflow; min/max/count still push
    spark.conf.set("spark.sql.ansi.enabled", "false")
    try {
      val unpushed = q()
      val udesc = scanOf(unpushed).scan.description()
      assert(!udesc.contains("Sum(bal)"),
        s"decimal SUM must not push under non-ANSI: $udesc")
      assert(unpushed.collect()(0).getDecimal(0) == exact.getDecimal(0))
    } finally spark.conf.unset("spark.sql.ansi.enabled")
    // ANSI (the Spark 4 default): the unpushed query throws on overflow
    // too, so the pushed partial's throw is semantics-preserving —
    // pushdown engages
    spark.conf.set("spark.sql.ansi.enabled", "true")
    try {
      val pushed = q()
      val desc = scanOf(pushed).scan.description()
      assert(desc.contains("Sum(bal)"), s"decimal SUM not pushed: $desc")
      val got = pushed.collect()(0)
      assert(got.getDecimal(0) == exact.getDecimal(0) &&
        got.getDecimal(1) == exact.getDecimal(1) &&
        got.getDecimal(2) == exact.getDecimal(2) && got.getLong(3) == exact.getLong(3),
        s"pushed $got vs exact $exact")
      // the partial type is Spark's own widened Sum type: decimal(22,2)
      assert(pushed.schema("sb").dataType ==
        org.apache.spark.sql.types.DecimalType(22, 2))
      // dual decode: the text storage form round-trips through the same scan
      val tstore = Seed.table(spark, sfDir, "spec_agg_decimal_text", src,
        props = Map(Options.Encoding -> "text"))
      val tgot = Seed.read(spark, tstore).agg(sum(col("bal"))).collect()(0)
      assert(tgot.getDecimal(0) == exact.getDecimal(0), s"text-form decimal: $tgot")
    } finally spark.conf.unset("spark.sql.ansi.enabled")
  }

  test("aggregate pushdown: integral SUM and row-key grouping fold in the scan") {
    val sp = spark; import sp.implicits._
    // SUM over an integral column accumulates as Long — exact, so pushed
    // and unpushed answers are identical at any partitioning
    val store = Seed.table(spark, sfDir, "spec_agg_sum",
      Tables.load(spark, sfDir, "customer"))
    val s1 = Seed.read(spark, store)
      .agg(sum(col("c_nationkey")).as("sn"), count(lit(1)).as("n"))
    assert(scanOf(s1).scan.description().contains("Sum(c_nationkey)"))
    val exact = Tables.load(spark, sfDir, "customer")
      .agg(sum(col("c_nationkey")), count(lit(1))).collect()(0)
    val got = s1.collect()(0)
    assert(got.getLong(0) == exact.getLong(0) && got.getLong(1) == exact.getLong(1))

    // groupBy the ROW KEY over a transposed store: the wide-row
    // aggregation — per-key partials stream through the key-ordered merge
    val tstore = Seed.table(spark, sfDir, "spec_agg_grouped",
      Seq((1L, "a", 10L), (1L, "b", 20L), (2L, "a", 30L), (2L, "b", 5L), (3L, "z", 7L))
        .toDF("k", "c", "v"),
      mapping = Some(":key,:column,:value"))
    val g = Seed.read(spark, tstore).groupBy(col("k"))
      .agg(count(lit(1)).as("n"), sum(col("v")).as("sv"), max(col("c")).as("mc"))
      .orderBy(col("k"))
    val desc = scanOf(g).scan.description()
    assert(desc.contains("PushedAggregates") && desc.contains("GroupedBy: [k]"),
      s"grouped aggregate not pushed: $desc")
    val rows = g.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    assert(rows.toSeq == Seq((1L, 2L, 30L, "b"), (2L, 2L, 35L, "b"), (3L, 1L, 7L, "z")))

    // grouping by a NON-key column must NOT push (unbounded reader memory)
    val ng = Seed.read(spark, tstore).groupBy(col("c")).agg(count(lit(1)).as("n"))
    assert(!scanOf(ng).scan.description().contains("PushedAggregates"))
    assert(ng.collect().map(r => (r.getString(0), r.getLong(1))).toSet ==
      Set(("a", 2L), ("b", 2L), ("z", 1L)))
  }

  test("grouped pushdown by (key, clustering column) on a super store") {
    val sp = spark; import sp.implicits._
    val sstore = Seed.table(spark, sfDir, "spec_agg_grouped_pair",
      Seq((1L, "x", "s1", 10L), (1L, "x", "s2", 20L), (1L, "y", "s1", 5L),
        (2L, "x", "s1", 7L), (2L, "x", "s2", 1L))
        .toDF("k", "c", "sc", "v"),
      mapping = Some(":key,:column,:subcolumn,:value"))
    val g = Seed.read(spark, sstore).groupBy(col("k"), col("c"))
      .agg(count(lit(1)).as("n"), sum(col("v")).as("sv"))
      .orderBy(col("k"), col("c"))
    val desc = scanOf(g).scan.description()
    assert(desc.contains("GroupedBy: [k, c]"),
      s"pair grouping not pushed: $desc")
    assert(g.collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
      r.getLong(3))).toSeq ==
      Seq((1L, "x", 2L, 30L), (1L, "y", 1L, 5L), (2L, "x", 2L, 8L)))
    // (clustering, key) order and (key, subcolumn) must NOT push: the
    // scan's partial-row schema follows the query's group order, and only
    // the (key, clustering) prefix of the cell address streams adjacently
    val rev = Seed.read(spark, sstore).groupBy(col("c"), col("k"))
      .agg(count(lit(1)).as("n"))
    assert(!scanOf(rev).scan.description().contains("PushedAggregates"))
    val sub = Seed.read(spark, sstore).groupBy(col("k"), col("sc"))
      .agg(count(lit(1)).as("n"))
    assert(!scanOf(sub).scan.description().contains("PushedAggregates"))
    assert(rev.collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet ==
      Set(("x", 1L, 2L), ("y", 1L, 1L), ("x", 2L, 2L)))
  }

  test("P1: projection pushdown prunes the scan schema") {
    val store = Seed.table(spark, sfDir, "spec_prune",
      Tables.load(spark, sfDir, "customer"))
    val df = Seed.read(spark, store).select(col("c_custkey"), col("c_acctbal"))
    val scan = scanOf(df)
    assert(scan.scan.readSchema().fieldNames.toSet == Set("c_custkey", "c_acctbal"))
  }

  test("P2: key and slice predicates are pushed (visible in scan description)") {
    val store = Seed.table(spark, sfDir, "spec_pushf",
      Tables.load(spark, sfDir, "customer"))
    val df = Seed.read(spark, store).filter(col("c_custkey") === 42L)
    val scan = scanOf(df)
    assert(scan.scan.description().contains("c_custkey"),
      s"pushed filter missing from: ${scan.scan.description()}")
  }

  test("P2: IN on the clustering column pushes and matches the unpushed result") {
    import org.apache.spark.sql.functions.{concat, lit, lpad}
    val src = Tables.load(spark, sfDir, "lineitem").select(
      lpad(col("l_suppkey").cast("string"), 8, "0").as("row_key"),
      concat(lpad(col("l_orderkey").cast("string"), 10, "0"), lit("-"),
        lpad(col("l_linenumber").cast("string"), 4, "0")).as("column_name"),
      col("l_quantity").cast("string").as("value"))
    val store = Seed.table(spark, sfDir, "spec_slice_in", src)
    val wanted = Seq("0000000001-0001", "0000000001-0003", "0000000003-0002")
    val pushed = Seed.read(spark, store)
      .filter(col("column_name").isin(wanted: _*))
    val desc = scanOf(pushed).scan.description()
    assert(desc.contains("In(column_name"),
      s"IN on the clustering column must reach the scan: $desc")
    val viaScan = pushed.collect().map(_.toSeq).toSet
    // same rows as filtering AFTER a full read (exact reader-side eval)
    val viaSpark = Seed.read(spark, store).collect()
      .filter(r => wanted.contains(r.getString(1))).map(_.toSeq).toSet
    assert(viaScan == viaSpark && viaScan.nonEmpty)
  }

  test("S1: key-equality predicates prune token-range partitions") {
    val store = Seed.table(spark, sfDir, "spec_bucketprune",
      Tables.load(spark, sfDir, "customer"))
    val all = scanOf(Seed.read(spark, store)).partitions.length
    val one = scanOf(Seed.read(spark, store).filter(col("c_custkey") === 42L))
      .partitions.length
    assert(all > 1, s"expected multiple buckets, got $all")
    assert(one == 1, s"expected 1 pruned partition, got $one")
  }

  test("W3: writer flushes every batch.mutate.size cells") {
    val dir = java.nio.file.Files.createTempDirectory("w3").toString
    try {
      val mapping = ColumnMapping.parse(":key,v",
        org.apache.spark.sql.types.StructType.fromDDL("k BIGINT, v STRING"))
      val w = new CellDataWriter(dir, mapping,
        k => if (k == Options.BatchMutateSize) Some("10") else None, "ONE")
      val row = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(2)
      (1 to 95).foreach { i =>
        row.update(0, i.toLong)
        row.update(1, org.apache.spark.unsafe.types.UTF8String.fromString(s"v$i"))
        w.write(row)
      }
      assert(w.flushes == 9) // 95 cells / 10-cell threshold
      // job-commit rename makes task-attempt temp files visible
      val msg = w.commit().asInstanceOf[CellWriterCommit]
      msg.files.foreach { case (bucket, tmp) =>
        java.nio.file.Files.move(
          java.nio.file.Paths.get(dir, CellStore.SstDir, tmp),
          java.nio.file.Paths.get(dir, CellStore.SstDir, CellStore.newSegmentName(bucket)))
      }
      val total = (0 until Options.DefaultBuckets)
        .map(b => CellStore.mergedBucket(dir, b).size).sum
      assert(total == 95)
    } finally CellStore.dropTable(dir)
  }

  test("W4: invalid consistency coerces to ONE, valid passes through") {
    def consistencyOf(v: Option[String]): String = {
      val dirTmp = java.nio.file.Files.createTempDirectory("w4").toString
      try {
        CellStore.writeMeta(dirTmp, CellStore.Meta("k BIGINT,v STRING", ":key,v", Map.empty))
        val table = new CassandraLikeTable("t", dirTmp,
          org.apache.spark.sql.types.StructType.fromDDL("k BIGINT, v STRING"),
          None, Map.empty)
        val opts = new java.util.HashMap[String, String]()
        v.foreach(opts.put(Options.Consistency, _))
        val bw = new CellBatchWrite(table, opts, truncate = false)
        val factory = bw.createBatchWriterFactory(null)
          .asInstanceOf[CellWriterFactory]
        factory.consistency
      } finally CellStore.dropTable(dirTmp)
    }
    assert(consistencyOf(Some("QUORUM")) == "QUORUM")
    assert(consistencyOf(Some("bogus")) == "ONE")
    assert(consistencyOf(None) == "ONE")
  }

  test("transposed pivot emits one row per cell in comparator order") {
    val sp = spark; import sp.implicits._
    val src = Seq(("a", "c2", "v2"), ("a", "c1", "v1"), ("b", "c9", "v9"))
      .toDF("row_key", "column_name", "value")
    val store = Seed.table(spark, sfDir, "spec_trans", src)
    val got = Seed.read(spark, store).as[(String, String, String)].collect().toSet
    assert(got == Set(("a", "c1", "v1"), ("a", "c2", "v2"), ("b", "c9", "v9")))
  }

  test("a 100k-cell wide row pages through whole and in column order") {
    // a hundred pages of the default size: the row and its pages are
    // indexed, so each cell costs O(1) pager steps, not O(page)
    val n = 100000
    val store = Seed.table(spark, sfDir, "spec_wide_100k",
      spark.range(0L, n.toLong, 1L, 4).select(lit("hot").as("row_key"),
        format_string("c%06d", col("id")).as("column_name"), col("id").as("value")),
      mapping = Some(":key,:column,:value"))
    for (df <- Seq(Seed.read(spark, store), Seed.read(spark, store).filter(col("row_key") === "hot"))) {
      val got = df.collect()
      assert(got.length == n)
      assert(got.indices.forall(i => got(i).getLong(2) == i.toLong), "cells out of column order")
    }
  }

  test("slice count caps per key, not globally") {
    val sp = spark; import sp.implicits._
    val src = (1 to 20).flatMap(i => Seq(("k1", f"c$i%02d", s"$i"), ("k2", f"c$i%02d", s"$i")))
      .toDF("row_key", "column_name", "value")
    val store = Seed.table(spark, sfDir, "spec_slicecount", src)
    val got = Seed.read(spark, store, Map(Options.SliceCount -> "3"))
      .groupBy("row_key").count().as[(String, Long)].collect().toMap
    assert(got == Map("k1" -> 3L, "k2" -> 3L))
    // reversed: the LAST 3 columns per key
    val rev = Seed.read(spark, store,
      Map(Options.SliceCount -> "2", Options.SliceReversed -> "true"))
      .select("column_name").distinct().as[String].collect().toSet
    assert(rev == Set("c20", "c19"))
  }

  test("SliceTopKPushdown: per-key top-k window becomes slice count pushdown") {
    val sp = spark; import sp.implicits._
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions.{rank, row_number}
    val src = (1 to 20).flatMap(i => Seq(("k1", f"c$i%02d", s"a$i"), ("k2", f"c$i%02d", s"b$i")))
      .toDF("row_key", "column_name", "value")
    val store = Seed.table(spark, sfDir, "spec_topk", src)
    val df = Seed.read(spark, store)

    // DESC top-3: rewritten to slice.count=3 + slice.reversed
    val wd = Window.partitionBy($"row_key").orderBy($"column_name".desc)
    val topk = df.withColumn("rn", row_number().over(wd)).filter($"rn" <= 3)
    val desc1 = scanOf(topk).scan.description()
    assert(desc1.contains(s"${Options.SliceCount}=3") &&
      desc1.contains(s"${Options.SliceReversed}=true"), desc1)
    val got = topk.select($"row_key", $"column_name").as[(String, String)].collect().toSet
    assert(got == Set(("k1", "c20"), ("k1", "c19"), ("k1", "c18"),
      ("k2", "c20"), ("k2", "c19"), ("k2", "c18")))

    // ASC with strict bound: rn < 3 -> slice.count=2, not reversed
    val wa = Window.partitionBy($"row_key").orderBy($"column_name")
    val ta = df.withColumn("rn", row_number().over(wa)).filter($"rn" < 3)
    val desc2 = scanOf(ta).scan.description()
    assert(desc2.contains(s"${Options.SliceCount}=2") &&
      !desc2.contains(Options.SliceReversed), desc2)
    assert(ta.select($"column_name").distinct().as[String].collect().toSet == Set("c01", "c02"))

    // an inclusive :column bound below the window COMPOSES: the bound maps
    // onto slice.start and the count still pushes (the reader bounds the
    // slice before the cap, so filter-then-topk order is preserved)
    val tb = df.filter($"column_name" >= "c18")
      .withColumn("rn", row_number().over(wa)).filter($"rn" <= 2)
    val desc3 = scanOf(tb).scan.description()
    assert(desc3.contains(s"${Options.SliceCount}=2") &&
      desc3.contains(s"${Options.SliceStart}=c18"), desc3)
    assert(tb.select($"column_name").distinct().as[String].collect().toSet == Set("c18", "c19"))

    // a key-only filter below the window also composes (constant per window
    // partition: the group is wholly kept or wholly dropped)
    val tk = df.filter($"row_key" === "k1")
      .withColumn("rn", row_number().over(wa)).filter($"rn" <= 2)
    val desc4 = scanOf(tk).scan.description()
    assert(desc4.contains(s"${Options.SliceCount}=2"), desc4)
    assert(tk.select($"row_key", $"column_name").as[(String, String)].collect().toSet ==
      Set(("k1", "c01"), ("k1", "c02")))

    // guard: a STRICT column bound is not an inclusive slice -> no rewrite
    val ts = df.filter($"column_name" > "c18")
      .withColumn("rn", row_number().over(wa)).filter($"rn" <= 2)
    assert(!scanOf(ts).scan.description().contains(Options.SliceCount))
    assert(ts.select($"column_name").distinct().as[String].collect().toSet == Set("c19", "c20"))

    // guard: a VALUE predicate below the window blocks the rewrite
    val tv = df.filter($"value" =!= "a05")
      .withColumn("rn", row_number().over(wa)).filter($"rn" <= 2)
    assert(!scanOf(tv).scan.description().contains(Options.SliceCount))

    // guard: rank() admits ties and is not a slice
    val tr = df.withColumn("rn", rank().over(wa)).filter($"rn" <= 3)
    assert(!scanOf(tr).scan.description().contains(Options.SliceCount))
  }

  test("S1: single hot key spanning many index entries survives sub-splitting") {
    // regression for the rangeRun index-seek off-by-one: with ONE key owning
    // the whole bucket, every sparse-index entry bears that key; the [lo, hi)
    // partition starting AT the key must read the full run, not the tail
    // after the last index entry (caught by the sf0.1 widerow smoke run)
    val sp = spark; import sp.implicits._
    val n = 3000
    val src = (1 to n).map(i => ("hot", f"c$i%06d", s"$i"))
      .toDF("row_key", "column_name", "value")
    val store = Seed.table(spark, sfDir, "spec_hotkey", src,
      props = Map(Options.Buckets -> "4"))
    val df = Seed.read(spark, store, Map(Options.SplitTargetCells -> "500"))
    val parts = df.rdd.getNumPartitions
    assert(df.count() == n, s"hot-key readback lost cells (planned $parts partitions)")
    assert(df.select(sum($"value".cast("long"))).head().getLong(0) ==
      n.toLong * (n + 1) / 2)
  }

  test("S1: pushed key envelope prunes sub-splits at planning time") {
    val sp = spark; import sp.implicits._
    import org.apache.spark.sql.sources.{EqualTo, GreaterThanOrEqual}
    val n = 4000
    val src = (1 to n).map(i => (i.toLong, s"v$i")).toDF("k", "v")
    val store = Seed.table(spark, sfDir, "spec_split_prune", src,
      props = Map(Options.Buckets -> "1", Options.KeyEncoding -> "ordered"))
    val meta = CellStore.readMeta(store).get
    val table = new CassandraLikeTable(store, store,
      org.apache.spark.sql.types.StructType.fromDDL(meta.schemaDdl),
      Some(meta.mapping), meta.properties)
    def partsFor(filters: Array[org.apache.spark.sql.sources.Filter]): Int = {
      val b = new CellScanBuilder(table, Map(Options.SplitTargetCells -> "500"))
      b.pushFilters(filters)
      PlannedScan(b.build()).partitions.length
    }
    val full = partsFor(Array.empty)
    assert(full >= 4, s"expected multiple sub-splits in one bucket, got $full")
    // a point lookup schedules ONE task, not one per sub-split
    assert(partsFor(Array(EqualTo("k", 1234L))) == 1)
    // an ordered-key range keeps only intersecting sub-splits
    val tail = partsFor(Array(GreaterThanOrEqual("k", 3800L)))
    assert(tail < full, s"range kept $tail of $full sub-splits")
    // contradictory equalities prove the scan empty: zero tasks
    assert(partsFor(Array(EqualTo("k", 10L), EqualTo("k", 20L))) == 0)
    // correctness through the full pipeline is unchanged
    val df = Seed.read(spark, store, Map(Options.SplitTargetCells -> "500"))
      .filter($"k" === 1234L)
    assert(df.collect().map(_.getString(1)).toSeq == Seq("v1234"))
  }

  test("S2: locality.hosts maps buckets round-robin onto preferredLocations") {
    val sp = spark; import sp.implicits._
    val src = (1L to 200L).map(i => (i, s"v$i")).toDF("k", "v")
    val store = Seed.table(spark, sfDir, "spec_locality", src,
      props = Map(Options.Buckets -> "8"))
    val table = new DefaultSource().getTable(
      org.apache.spark.sql.types.StructType.fromDDL("k BIGINT, v STRING"),
      Array.empty, java.util.Map.of(Options.Path, store))
      .asInstanceOf[CassandraLikeTable]
    val scan = new CellScanBuilder(table,
        Map(Options.Hosts -> "hostA, hostB,hostC")).build()
      .asInstanceOf[CellScan]
    val parts = scan.planInputPartitions()
      .map(_.asInstanceOf[CellInputPartition])
    assert(parts.nonEmpty)
    parts.foreach { p =>
      assert(p.preferredLocations().toSeq ==
        Seq(Seq("hostA", "hostB", "hostC")(p.bucket % 3)),
        s"bucket ${p.bucket} got ${p.preferredLocations().mkString}")
    }
    // without the option the hook reports no placement constraint
    val bare = new CellScanBuilder(table, Map.empty).build()
      .asInstanceOf[CellScan].planInputPartitions()
      .map(_.asInstanceOf[CellInputPartition])
    assert(bare.forall(_.preferredLocations().isEmpty))
  }

  test("store-to-store join broadcasts the small store off reported statistics") {
    val df = SparkEntry.queries("conn_join_stores")(spark, sfDir)
    // the nation store is tiny; the scan's estimateStatistics must make
    // Catalyst pick a broadcast join without any hint in the query
    val explained = df.queryExecution.explainString(
      org.apache.spark.sql.execution.SimpleMode)
    assert(explained.contains("BroadcastHashJoin"),
      s"expected auto-broadcast from reported stats:\n$explained")
    assert(df.count() > 0)
  }

  test("as-of read replays each epoch's snapshot exactly") {
    val sp = spark; import sp.implicits._
    val src = Seq((1L, "a", 10.0), (2L, "b", 20.0), (3L, "c", 30.0))
      .toDF("k", "name", "bal")
    val store = Seed.table(spark, sfDir, "spec_asof", src) // epoch 1
    Seed.append(Seq((2L, "b2", 200.0)).toDF("k", "name", "bal"), store,
      Map(Options.WriteTimestamp -> "2")) // epoch 2: overwrite k=2
    Seed.append(
      Seq((3L, null.asInstanceOf[String], null.asInstanceOf[java.lang.Double]))
        .toDF("k", "name", "bal"), store,
      Map(Options.WriteTimestamp -> "3", Options.NullsAsTombstones -> "true"))
    def view(asOf: String): Set[(Long, String, Double)] =
      Seed.read(spark, store, Map(Options.ReadAsOf -> asOf))
        .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSet
    assert(view("1") == Set((1L, "a", 10.0), (2L, "b", 20.0), (3L, "c", 30.0)))
    assert(view("2") == Set((1L, "a", 10.0), (2L, "b2", 200.0), (3L, "c", 30.0)))
    assert(view("3") == Set((1L, "a", 10.0), (2L, "b2", 200.0)))
    // default read = latest
    assert(Seed.read(spark, store).count() == 2)
  }

  test("as-of snapshot composes with slice options on a transposed store") {
    val sp = spark; import sp.implicits._
    val src = (1 to 10).map(i => ("k1", f"c$i%02d", s"v$i"))
      .toDF("row_key", "column_name", "value")
    val store = Seed.table(spark, sfDir, "spec_asof_slice", src)
    // epoch 2 rewrites the even columns
    Seed.append((2 to 10 by 2).map(i => ("k1", f"c$i%02d", s"w$i"))
      .toDF("row_key", "column_name", "value"), store,
      Map(Options.WriteTimestamp -> "2"))
    // snapshot at epoch 1 + slice [c03, c07]: original values only, sliced
    val got = Seed.read(spark, store, Map(
        Options.ReadAsOf -> "1",
        Options.SliceStart -> "c03", Options.SliceFinish -> "c07"))
      .select($"column_name", $"value").as[(String, String)].collect().toSet
    assert(got == (3 to 7).map(i => (f"c$i%02d", s"v$i")).toSet, s"got $got")
    // latest read with the same slice sees the epoch-2 values
    val latest = Seed.read(spark, store, Map(
        Options.SliceStart -> "c03", Options.SliceFinish -> "c07"))
      .select($"column_name", $"value").as[(String, String)].collect().toSet
    assert(latest == (3 to 7).map(i =>
      (f"c$i%02d", if (i % 2 == 0) s"w$i" else s"v$i")).toSet)
  }

  /** Feed `keys`, in the given order, through one [[CellDataWriter]] the
    * way a write task receives its sorted input (rows `(k, s"v$k")`), and
    * commit it; the runs it staged per bucket, base store first, then per
    * index sub-store. */
  private def stagedRuns(keys: Seq[Long], opts: Map[String, String])
      : (Map[Int, Int], Map[String, Map[Int, Int]]) = {
    val dir = java.nio.file.Files.createTempDirectory("staged").toString
    try {
      val mapping = ColumnMapping.parse(":key,v",
        org.apache.spark.sql.types.StructType.fromDDL("k BIGINT, v STRING"))
      val w = new CellDataWriter(dir, mapping, opts.get, "ONE")
      val row = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(2)
      keys.foreach { k =>
        row.update(0, k)
        row.update(1, org.apache.spark.unsafe.types.UTF8String.fromString(s"v$k"))
        w.write(row)
      }
      w.commit()
      (w.stagedRuns, w.indexStagedRuns)
    } finally CellStore.dropTable(dir)
  }

  /** Every committed segment of `store` is exactly one indexed run. */
  private def assertOneRunPerSegment(store: String): Unit = {
    val segs = (0 until Options.DefaultBuckets)
      .flatMap(b => CellStore.segmentFiles(store, b))
    assert(segs.nonEmpty)
    segs.foreach { f =>
      val infos = CellStore.runInfos(f)
      assert(infos.size == 1, s"expected 1 run in $f, got ${infos.size}")
      assert(infos.head.indexByteLen > 0, s"run in $f lacks its index")
    }
  }

  test("commit-time compaction: multi-flush DSv2 write reads back intact") {
    // The test whose absence let round 4 ship corrupt: a tiny write buffer
    // makes every flush spill. The write's input arrives key-ordered, so
    // each bucket's spills extend one open run and commit has nothing to
    // compact — the full write -> spill -> read cycle must round-trip with
    // every segment already one run (the sibling test below keeps the
    // spill -> compact fallback under test).
    val sp = spark; import sp.implicits._
    val opts = Map(Options.WriteBufferCells -> "100")
    val (base, _) = stagedRuns(1L to 2000L, opts)
    assert(base.nonEmpty && base.values.forall(_ == 1),
      s"an ordered write must stage one run per bucket, got $base")
    val src = (1L to 2000L).map(i => (i, s"v$i")).toDF("k", "v")
      .repartition(1) // one task -> 2000 cells -> 4 batch-size flushes
    val store = Seed.table(spark, sfDir, "spec_compact_e2e", src,
      writeOptions = opts)
    assertOneRunPerSegment(store)
    val back = Seed.read(spark, store)
    assert(back.count() == 2000)
    assert(back.exceptAll(src).isEmpty && src.exceptAll(back).isEmpty)
  }

  test("commit-time compaction: spills that overlap the open run are compacted to one run") {
    // Under the default `bytes` key encoding negative longs sort AFTER
    // positive ones, so the key-ordered input (-1000..1000) reaches each
    // bucket as negatives then positives: the first positive spill sorts
    // before the open run and opens a second one. Index cells (value ->
    // key) arrive in no useful order at all. Both fall back to commit-time
    // compaction.
    val sp = spark; import sp.implicits._
    val opts = Map(Options.WriteBufferCells -> "100", Options.IndexColumns -> "v")
    val keys = -1000L to 1000L
    val (base, idx) = stagedRuns(keys, opts)
    assert(base.values.exists(_ > 1), s"expected multi-run base buckets, got $base")
    assert(idx("v").values.exists(_ > 1), s"expected multi-run index buckets, got $idx")
    val src = keys.map(i => (i, s"v$i")).toDF("k", "v").repartition(1)
    val store = Seed.table(spark, sfDir, "spec_compact_fallback", src,
      props = Map(Options.IndexColumns -> "v"),
      writeOptions = Map(Options.WriteBufferCells -> "100"))
    assertOneRunPerSegment(store)
    assertOneRunPerSegment(Index.dir(store, "v"))
    val back = Seed.read(spark, store)
    assert(back.count() == keys.size)
    assert(back.exceptAll(src).isEmpty && src.exceptAll(back).isEmpty)
    assert(back.filter($"v" === "v-500").as[(Long, String)].collect().toSeq ==
      Seq((-500L, "v-500")))
  }

  test("distributed bucket compaction collapses segments and drops tombstones physically") {
    val sp = spark; import sp.implicits._
    val src = (1L to 500L).map(i => (i, s"v$i")).toDF("k", "v")
    val store = Seed.table(spark, sfDir, "spec_bucket_compact", src)
    Seed.append(src.filter($"k" % 5 === 0)
      .select($"k", lit(null).cast("string").as("v")), store,
      Map(Options.WriteTimestamp -> "2", Options.NullsAsTombstones -> "true"))
    val bucketsWithMulti = (0 until Options.DefaultBuckets)
      .count(b => CellStore.segmentFiles(store, b).size > 1)
    assert(bucketsWithMulti > 0, "fixture should produce multi-segment buckets")
    // one task per bucket — the maintenance parallelism unit
    spark.sparkContext.parallelize(0 until Options.DefaultBuckets, Options.DefaultBuckets)
      .foreach(b => CellStore.compactBucket(store, b))
    (0 until Options.DefaultBuckets).foreach { b =>
      val files = CellStore.segmentFiles(store, b)
      assert(files.size <= 1, s"bucket $b still has ${files.size} segments")
      // tombstones are physically gone: every stored cell is live
      files.foreach(f => CellStore.readSegment(f).foreach(c => assert(!c.tombstone)))
    }
    val back = Seed.read(spark, store).as[(Long, String)].collect().toSet
    assert(back == (1L to 500L).filterNot(_ % 5 == 0).map(i => (i, s"v$i")).toSet)
  }

  test("C1: aborted writer attempts leave no visible data; a retry lands exactly once") {
    val dir = java.nio.file.Files.createTempDirectory("c1").toString
    try {
      val mapping = ColumnMapping.parse(":key,v",
        org.apache.spark.sql.types.StructType.fromDDL("k BIGINT, v STRING"))
      def attempt(): CellDataWriter = new CellDataWriter(dir, mapping,
        k => if (k == Options.BatchMutateSize) Some("10") else None, "ONE")
      def writeAll(w: CellDataWriter): Unit = (1 to 50).foreach { i =>
        val row = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(2)
        row.update(0, i.toLong)
        row.update(1, org.apache.spark.unsafe.types.UTF8String.fromString(s"v$i"))
        w.write(row)
      }
      // attempt 1 fails mid-task -> abort: no files, temp or visible, remain
      val w1 = attempt()
      writeAll(w1)
      w1.abort()
      val sst = java.nio.file.Paths.get(dir, CellStore.SstDir)
      assert(!java.nio.file.Files.isDirectory(sst) ||
        { val s = java.nio.file.Files.list(sst); try s.count() == 0 finally s.close() })
      // attempt 2 (Spark's task retry) commits: data visible exactly once
      val w2 = attempt()
      writeAll(w2)
      val msg = w2.commit().asInstanceOf[CellWriterCommit]
      msg.files.foreach { case (bucket, tmp) =>
        java.nio.file.Files.move(sst.resolve(tmp),
          sst.resolve(CellStore.newSegmentName(bucket)))
      }
      val total = (0 until Options.DefaultBuckets)
        .map(b => CellStore.mergedBucket(dir, b).size).sum
      assert(total == 50)
    } finally CellStore.dropTable(dir)
  }

  test("C1: a failing job aborts the batch write, leaving the store empty") {
    val sp = spark; import sp.implicits._
    val boom = udf((k: Long) => {
      if (k == 1500L) throw new RuntimeException("injected task failure")
      s"v$k"
    })
    val src = (1L to 2000L).toDF("k").withColumn("v", boom(col("k")))
    val dir = s"${Seed.storeRoot(sfDir)}/spec_abort_job"
    CellStore.dropTable(dir)
    CellStore.writeMeta(dir, CellStore.Meta("k BIGINT,v STRING", ":key,v", Map.empty))
    intercept[Exception] { Seed.append(src, dir) }
    // job abort dropped every task's temp file: nothing is visible
    val visible = (0 until Options.DefaultBuckets)
      .flatMap(b => CellStore.segmentFiles(dir, b))
    assert(visible.isEmpty, s"abort left visible segments: $visible")
    assert(Seed.read(spark, dir).count() == 0)
  }

  test("S1: big buckets sub-split into key ranges; parallelism grows with data") {
    val sp = spark; import sp.implicits._
    val src = (1L to 20000L).map(i => (i, s"v$i")).toDF("k", "v")
    val store = Seed.table(spark, sfDir, "spec_subsplit", src,
      props = Map(Options.Buckets -> "4"))
    // default target (64Ki cells) -> no splitting at this size
    val plain = Seed.read(spark, store, Map(Options.Buckets -> "4"))
    assert(scanOf(plain).partitions.length == 4)
    // low target -> every bucket splits into multiple key ranges
    val opts = Map(Options.Buckets -> "4", Options.SplitTargetCells -> "1000")
    val split = Seed.read(spark, store, opts)
    val parts = scanOf(split).partitions.length
    assert(parts > 4, s"expected sub-bucket splits beyond 4 buckets, got $parts")
    // ranges partition the keyspace exactly: no row lost or duplicated
    assert(split.count() == 20000)
    assert(split.exceptAll(src).isEmpty && src.exceptAll(split).isEmpty)
    // and each split carries ~its share: no partition reads the whole bucket
    val sizes = split.rdd.mapPartitions(it => Iterator(it.size)).collect()
    assert(sizes.count(_ > 0) == parts, s"empty splits planned: ${sizes.toSeq}")
    assert(sizes.max < 20000 / 4, s"a split read a whole bucket: ${sizes.toSeq}")
  }

  test("limit pushdown reaches the scan and caps partition output") {
    val store = Seed.table(spark, sfDir, "spec_limit",
      Tables.load(spark, sfDir, "customer"))
    val df = Seed.read(spark, store).limit(5)
    assert(df.count() == 5)
    val desc = scanOf(df).scan.description()
    assert(desc.contains("Limit: 5"), desc)
  }

  test("estimateStatistics feeds Catalyst sizing from segment metadata") {
    val cust = Tables.load(spark, sfDir, "customer")
    val store = Seed.table(spark, sfDir, "spec_stats", cust)
    val stats = Seed.read(spark, store).queryExecution.optimizedPlan.stats
    val diskBytes = (0 until Options.DefaultBuckets)
      .flatMap(b => CellStore.segmentFiles(store, b))
      .map(java.nio.file.Files.size(_)).sum
    assert(stats.sizeInBytes.toLong == diskBytes,
      s"sizeInBytes ${stats.sizeInBytes} != on-disk $diskBytes")
    assert(stats.rowCount.exists(_.toLong == cust.count()),
      s"rowCount ${stats.rowCount} != ${cust.count()}")
  }

  test("runtime key filters (DPP hook) prune buckets and rows") {
    val store = Seed.table(spark, sfDir, "spec_runtime",
      Tables.load(spark, sfDir, "customer"))
    val table = new DefaultSource().getTable(
      org.apache.spark.sql.types.StructType.fromDDL(
        Tables.load(spark, sfDir, "customer").schema.toDDL),
      Array.empty, java.util.Map.of(Options.Path, store))
      .asInstanceOf[CassandraLikeTable]
    val scan = new CellScanBuilder(table, Map.empty).build().asInstanceOf[CellScan]
    assert(scan.filterAttributes().map(_.describe()).toSeq == Seq("c_custkey"))
    val before = scan.planInputPartitions().length
    scan.filter(Array[org.apache.spark.sql.sources.Filter](
      org.apache.spark.sql.sources.In("c_custkey", Array(42L, 43L))))
    val after = scan.planInputPartitions().length
    assert(after <= 2 && after < before, s"runtime In pruned $before -> $after")
  }

  test("catalog: SQL DDL round trip incl. drop and rename") {
    val wh = java.nio.file.Files.createTempDirectory("cat").toString
    spark.conf.set("spark.sql.catalog.speccat",
      classOf[CassandraLikeCatalog].getName)
    spark.conf.set("spark.sql.catalog.speccat.warehouse", wh)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS speccat.ks1")
    spark.sql("CREATE TABLE speccat.ks1.t1 (k BIGINT, v STRING) USING cassandralike TBLPROPERTIES('buckets'='4')")
    spark.sql("INSERT INTO speccat.ks1.t1 VALUES (1, 'one'), (2, 'two')")
    val rows = spark.table("speccat.ks1.t1").collect()
    assert(rows.map(r => (r.getLong(0), r.getString(1))).toSet ==
      Set((1L, "one"), (2L, "two")))
    spark.sql("ALTER TABLE speccat.ks1.t1 RENAME TO ks1.t2")
    assert(spark.table("speccat.ks1.t2").count() == 2)
    spark.sql("DROP TABLE speccat.ks1.t2")
    assert(spark.sql("SHOW TABLES IN speccat.ks1").count() == 0)
  }

  test("ALTER TABLE ADD/DROP COLUMN: old rows surface NULL, key is protected") {
    val wh = java.nio.file.Files.createTempDirectory("alter").toString
    spark.conf.set("spark.sql.catalog.altcat",
      classOf[CassandraLikeCatalog].getName)
    spark.conf.set("spark.sql.catalog.altcat.warehouse", wh)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS altcat.ks")
    spark.sql("CREATE TABLE altcat.ks.t (k BIGINT, v STRING) USING cassandralike")
    spark.sql("INSERT INTO altcat.ks.t VALUES (1, 'one')")
    spark.sql("ALTER TABLE altcat.ks.t ADD COLUMN extra STRING")
    spark.sql("INSERT INTO altcat.ks.t VALUES (2, 'two', 'x')")
    val rows = spark.table("altcat.ks.t").collect()
      .map(r => (r.getLong(0), r.getString(1),
        if (r.isNullAt(2)) null else r.getString(2))).toSet
    // pre-evolution row surfaces NULL for the added column (missing cell)
    assert(rows == Set((1L, "one", null), (2L, "two", "x")))
    spark.sql("ALTER TABLE altcat.ks.t DROP COLUMN v")
    val after = spark.table("altcat.ks.t").collect()
      .map(r => (r.getLong(0), if (r.isNullAt(1)) null else r.getString(1))).toSet
    assert(after == Set((1L, null), (2L, "x")))
    // dropping the key is rejected by mapping validation
    assertThrows[Exception](spark.sql("ALTER TABLE altcat.ks.t DROP COLUMN k"))
    spark.sql("DROP TABLE altcat.ks.t")
  }

  test("DROP then re-ADD COLUMN does not resurrect pre-drop cells") {
    val wh = java.nio.file.Files.createTempDirectory("redd").toString
    spark.conf.set("spark.sql.catalog.reddcat",
      classOf[CassandraLikeCatalog].getName)
    spark.conf.set("spark.sql.catalog.reddcat.warehouse", wh)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS reddcat.ks")
    spark.sql("CREATE TABLE reddcat.ks.t (k BIGINT, v STRING) USING cassandralike " +
      "TBLPROPERTIES('write.timestamp'='100')")
    spark.sql("INSERT INTO reddcat.ks.t VALUES (1, 'old1'), (2, 'old2')")
    // drop v at logical ts 150: cells at ts<=150 must never surface again
    spark.sql("ALTER TABLE reddcat.ks.t SET TBLPROPERTIES('drop.timestamp'='150')")
    spark.sql("ALTER TABLE reddcat.ks.t DROP COLUMN v")
    // re-add the same name; new writes carry ts 200 (> drop time)
    spark.sql("ALTER TABLE reddcat.ks.t ADD COLUMN v STRING")
    spark.sql("ALTER TABLE reddcat.ks.t SET TBLPROPERTIES('write.timestamp'='200')")
    spark.sql("INSERT INTO reddcat.ks.t VALUES (2, 'new2')")
    val rows = spark.table("reddcat.ks.t").collect()
      .map(r => (r.getLong(0), if (r.isNullAt(1)) null else r.getString(1))).toSet
    // key 1's pre-drop cell stays hidden (row survives, value does not);
    // key 2 surfaces only the post-re-add write
    assert(rows == Set((1L, null), (2L, "new2")), s"got $rows")
    spark.sql("DROP TABLE reddcat.ks.t")
  }

  test("ALTER TABLE rejects physical-layout properties on an occupied table") {
    val wh = java.nio.file.Files.createTempDirectory("layo").toString
    spark.conf.set("spark.sql.catalog.laycat",
      classOf[CassandraLikeCatalog].getName)
    spark.conf.set("spark.sql.catalog.laycat.warehouse", wh)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS laycat.ks")
    spark.sql("CREATE TABLE laycat.ks.t (k BIGINT, v STRING) USING cassandralike " +
      "TBLPROPERTIES('buckets'='4')")
    // empty table: layout is still re-writable
    spark.sql("ALTER TABLE laycat.ks.t SET TBLPROPERTIES('buckets'='8')")
    spark.sql("INSERT INTO laycat.ks.t VALUES (1, 'one')")
    // occupied: token routing/marshal are baked into segments -> reject
    assertThrows[Exception](
      spark.sql("ALTER TABLE laycat.ks.t SET TBLPROPERTIES('buckets'='16')"))
    assertThrows[Exception](
      spark.sql("ALTER TABLE laycat.ks.t SET TBLPROPERTIES('encoding'='text')"))
    assertThrows[Exception](
      spark.sql("ALTER TABLE laycat.ks.t UNSET TBLPROPERTIES('buckets')"))
    // non-layout properties stay alterable
    spark.sql("ALTER TABLE laycat.ks.t SET TBLPROPERTIES('consistency'='QUORUM')")
    assert(spark.table("laycat.ks.t").count() == 1)
    spark.sql("DROP TABLE laycat.ks.t")
  }

  test("auto-compaction keeps segment counts bounded under repeated appends") {
    import org.apache.spark.sql.functions._
    val sp = spark; import sp.implicits._
    val base = Tables.load(spark, sfDir, "customer")
      .select($"c_custkey", $"c_acctbal")
    val store = graft.sources.cassandralike.Seed.table(spark, sfDir,
      "auto_compact_spec", base,
      props = Map(graft.sources.cassandralike.Options.CompactSegmentsMax -> "2"))
    (2 to 7).foreach { e =>
      graft.sources.cassandralike.Seed.append(
        base.withColumn("c_acctbal", $"c_acctbal" + e),
        store, Map(graft.sources.cassandralike.Options.WriteTimestamp -> e.toString))
    }
    // 7 write epochs, threshold 2: without auto-compaction every bucket
    // would hold 7 segments; with it, counts must stay <= the threshold
    // after each commit's compaction pass
    val counts = (0 until graft.sources.cassandralike.Options.DefaultBuckets)
      .map(b => graft.sources.cassandralike.CellStore.segmentFiles(store, b).size)
      .filter(_ > 0)
    assert(counts.nonEmpty && counts.forall(_ <= 2),
      s"segment counts after 7 epochs: ${counts.mkString(",")}")
    // and the merged view is the last epoch, exactly
    val got = graft.sources.cassandralike.Seed.read(spark, store)
      .agg(sum($"c_acctbal")).collect()(0).getDouble(0)
    val want = base.agg(sum($"c_acctbal" + 7)).collect()(0).getDouble(0)
    assert(math.abs(got - want) < 1e-6, s"got $got want $want")
  }

  test("namespace (keyspace) lifecycle: create, list, drop, cascade rules") {
    val wh = java.nio.file.Files.createTempDirectory("ns").toString
    spark.conf.set("spark.sql.catalog.nscat",
      classOf[CassandraLikeCatalog].getName)
    spark.conf.set("spark.sql.catalog.nscat.warehouse", wh)
    spark.sql("CREATE NAMESPACE nscat.ks1")
    spark.sql("CREATE NAMESPACE nscat.ks2")
    val listed = spark.sql("SHOW NAMESPACES IN nscat").collect()
      .map(_.getString(0)).toSet
    assert(Set("ks1", "ks2").subsetOf(listed), s"listed $listed")
    // an occupied keyspace refuses a plain drop, drops with CASCADE
    spark.sql("CREATE TABLE nscat.ks1.t (k BIGINT, v STRING) USING cassandralike")
    assertThrows[Exception](spark.sql("DROP NAMESPACE nscat.ks1"))
    spark.sql("DROP NAMESPACE nscat.ks1 CASCADE")
    spark.sql("DROP NAMESPACE nscat.ks2")
    val after = spark.sql("SHOW NAMESPACES IN nscat").collect()
      .map(_.getString(0)).toSet
    assert(!after.contains("ks1") && !after.contains("ks2"))
  }

  test("as-of read sees through a later DELETE (time-travel undelete)") {
    val sp = spark; import sp.implicits._
    val src = Seq((1L, "a"), (2L, "b")).toDF("k", "v")
    val store = Seed.table(spark, sfDir, "spec_asof_delete", src) // ts=1
    // catalog-less targeted delete: tombstone k=2 at ts=2
    Seed.append(Seq((2L, null.asInstanceOf[String])).toDF("k", "v"), store,
      Map(Options.WriteTimestamp -> "2", Options.NullsAsTombstones -> "true"))
    assert(Seed.read(spark, store).collect().map(_.getLong(0)).toSet == Set(1L))
    // the snapshot BEFORE the delete still shows the row — immutable
    // segments make deletes reversible reads, Cassandra-style
    assert(Seed.read(spark, store, Map(Options.ReadAsOf -> "1"))
      .collect().map(_.getLong(0)).toSet == Set(1L, 2L))
  }

  test("TTL expiry: live cells age out by write timestamp, tombstones never do") {
    val sp = spark; import sp.implicits._
    val src = Seq((1L, "old"), (2L, "old2")).toDF("k", "v")
    val store = Seed.table(spark, sfDir, "spec_ttl", src) // ts=1
    Seed.append(Seq((3L, "new")).toDF("k", "v"), store,
      Map(Options.WriteTimestamp -> "5"))
    // tombstone k=2 at ts=6: must shadow even when older than the horizon
    Seed.append(Seq((2L, null.asInstanceOf[String])).toDF("k", "v"), store,
      Map(Options.WriteTimestamp -> "6", Options.NullsAsTombstones -> "true"))
    def read(ttl: String, now: String): Set[Long] =
      Seed.read(spark, store, Map(Options.Ttl -> ttl, Options.ReadNow -> now))
        .collect().map(_.getLong(0)).toSet
    assert(read("10", "7") == Set(1L, 3L))   // nothing expired; k=2 tombstoned
    assert(read("3", "7") == Set(3L))        // ts=1 epoch expired (1+3<=7)
    assert(read("3", "20") == Set.empty)     // everything aged out
    // no clock stated -> no expiry
    assert(Seed.read(spark, store, Map(Options.Ttl -> "3"))
      .collect().map(_.getLong(0)).toSet == Set(1L, 3L))
  }

  test("DELETE FROM by key takes the metadata path; non-key predicates run as delta jobs") {
    val wh = java.nio.file.Files.createTempDirectory("del").toString
    spark.conf.set("spark.sql.catalog.delcat",
      classOf[CassandraLikeCatalog].getName)
    spark.conf.set("spark.sql.catalog.delcat.warehouse", wh)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS delcat.ks")
    spark.sql("CREATE TABLE delcat.ks.t (k BIGINT, v STRING) USING cassandralike")
    spark.sql("INSERT INTO delcat.ks.t SELECT id, concat('v', id) FROM range(1, 21)")
    spark.sql("DELETE FROM delcat.ks.t WHERE k = 5")
    spark.sql("DELETE FROM delcat.ks.t WHERE k IN (7, 11, 5)") // 5 already gone
    val left = spark.table("delcat.ks.t").collect().map(_.getLong(0)).toSet
    assert(left == (1L to 20L).toSet -- Set(5L, 7L, 11L))
    // tombstoned keys stay deleted through whole-bucket compaction
    val dir = s"$wh/ks/t"
    (0 until Options.DefaultBuckets).foreach(b => CellStore.compactBucket(dir, b))
    assert(spark.table("delcat.ks.t").collect().map(_.getLong(0)).toSet ==
      (1L to 20L).toSet -- Set(5L, 7L, 11L))
    // non-key predicate: no metadata fast path — runs as a distributed
    // delta delete (RowLevel.scala) instead of failing
    spark.sql("DELETE FROM delcat.ks.t WHERE v = 'v3'")
    assert(!spark.table("delcat.ks.t").collect().map(_.getLong(0)).contains(3L))
    // unconditional DELETE routes to truncate: table empties
    spark.sql("DELETE FROM delcat.ks.t")
    assert(spark.table("delcat.ks.t").count() == 0)
    spark.sql("DROP TABLE delcat.ks.t")
  }

  test("D3: session conf overrides table property (conf-over-props)") {
    val sp = spark; import sp.implicits._
    val src = (1 to 10).map(i => ("k1", f"c$i%02d", s"$i"))
      .toDF("row_key", "column_name", "value")
    val store = Seed.table(spark, sfDir, "spec_confprop", src,
      props = Map(Options.SliceCount -> "5"))
    try {
      // table property alone: 5 cells
      assert(Seed.read(spark, store).count() == 5)
      // session conf beats table property
      spark.conf.set(s"spark.cassandralike.${Options.SliceCount}", "2")
      assert(Seed.read(spark, store).count() == 2)
      // read option beats both
      assert(Seed.read(spark, store, Map(Options.SliceCount -> "7")).count() == 7)
    } finally spark.conf.unset(s"spark.cassandralike.${Options.SliceCount}")
  }
}
