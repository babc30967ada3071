package graft

import graft.sources.cassandralike._
import org.apache.spark.sql.functions._

/** `key.encoding = 'ordered'` — integral keys stored big-endian with the
  * sign bit flipped, so byte order == numeric order: numeric-keyed stores
  * gain the sorted-scan claims (zipper joins, key-order TopN) that
  * string/binary keys already have, with negatives sorting first. */
class OrderedKeySpec extends SparkSpec {

  test("ordered codec: byte order equals numeric order, roundtrip exact") {
    val vs = Seq(Long.MinValue, -1000000L, -1L, 0L, 1L, 42L, Long.MaxValue)
    val encoded = vs.map(v =>
      Codecs.encodeKeyOrdered(org.apache.spark.sql.types.LongType, v))
    encoded.sliding(2).foreach { case Seq(a, b) =>
      assert(Codecs.compareBytes(a, b) < 0, "byte order must follow numeric order")
    }
    vs.zip(encoded).foreach { case (v, e) =>
      assert(Codecs.decodeKeyOrdered(
        org.apache.spark.sql.types.LongType, e) == v)
    }
    // non-integral keys reject the property up front
    intercept[IllegalArgumentException](
      KeyCodec.of(org.apache.spark.sql.types.StringType,
        k => if (k == "key.encoding") Some("ordered") else None))
  }

  test("ordered codec: double/decimal/timestamp/date byte order and roundtrip") {
    import org.apache.spark.sql.types._
    // double: IEEE total-order map — -Inf < negatives < -0.0==+0.0 < ... < NaN
    val ds = Seq(Double.NegativeInfinity, -1.5e300, -2.0, -Double.MinPositiveValue,
      0.0, Double.MinPositiveValue, 1.0, 1.5e300, Double.PositiveInfinity, Double.NaN)
    val de = ds.map(d => Codecs.encodeKeyOrdered(DoubleType, d))
    de.sliding(2).foreach { case Seq(a, b) =>
      assert(Codecs.compareBytes(a, b) < 0, "double byte order must follow Spark order")
    }
    ds.zip(de).foreach { case (d, e) =>
      val back = Codecs.decodeKeyOrdered(DoubleType, e).asInstanceOf[Double]
      assert(back == d || (d.isNaN && back.isNaN))
    }
    // SQL-equal keys route identically: -0.0 == 0.0, every NaN is THE NaN
    assert(java.util.Arrays.equals(
      Codecs.encodeKeyOrdered(DoubleType, -0.0d),
      Codecs.encodeKeyOrdered(DoubleType, 0.0d)))
    assert(java.util.Arrays.equals(
      Codecs.encodeKeyOrdered(DoubleType,
        java.lang.Double.longBitsToDouble(0xfff8000000000001L)), // sign-bit NaN payload
      Codecs.encodeKeyOrdered(DoubleType, Double.NaN)))
    // float mirrors double
    assert(Codecs.compareBytes(
      Codecs.encodeKeyOrdered(FloatType, -1.5f),
      Codecs.encodeKeyOrdered(FloatType, 0.25f)) < 0)
    assert(Codecs.decodeKeyOrdered(FloatType,
      Codecs.encodeKeyOrdered(FloatType, -3.25f)) == -3.25f)
    // decimal: fixed 16-byte form, ordered across the sign, exact roundtrip
    val dt = DecimalType(38, 2)
    val decs = Seq("-99999999999999999999999999999999999.99", "-1.00", "-0.01",
      "0.00", "0.01", "12345.67", "99999999999999999999999999999999999.99")
      .map(s => org.apache.spark.sql.types.Decimal(new java.math.BigDecimal(s), 38, 2))
    val dece = decs.map(d => Codecs.encodeKeyOrdered(dt, d))
    dece.foreach(e => assert(e.length == 16))
    dece.sliding(2).foreach { case Seq(a, b) =>
      assert(Codecs.compareBytes(a, b) < 0, "decimal byte order must be numeric")
    }
    decs.zip(dece).foreach { case (d, e) =>
      assert(Codecs.decodeKeyOrdered(dt, e) == d)
    }
    // timestamp keeps FULL micros (the bytes form is millis); date = days
    val micros = -1234567L
    assert(Codecs.decodeKeyOrdered(TimestampType,
      Codecs.encodeKeyOrdered(TimestampType, micros)) == micros)
    assert(Codecs.compareBytes(
      Codecs.encodeKeyOrdered(TimestampType, -1L),
      Codecs.encodeKeyOrdered(TimestampType, 1L)) < 0)
    assert(Codecs.decodeKeyOrdered(DateType,
      Codecs.encodeKeyOrdered(DateType, -365)) == -365)
    // strings stay rejected — already order-identical under bytes
    intercept[IllegalArgumentException](
      KeyCodec.of(org.apache.spark.sql.types.StringType,
        k => if (k == "key.encoding") Some("ordered") else None))
  }

  test("double-keyed ordered store: readback, lookup, range, TopN, zero collapse") {
    val sp = spark; import sp.implicits._
    val src = Seq(-100.5, -2.25, -0.0, 1.5, 3.0, 777.125)
      .map(k => (k, s"v$k")).toDF("k", "v")
    val store = Seed.table(spark, sfDir, "spec_ordered_double", src,
      props = Map(Options.KeyEncoding -> "ordered", Options.Buckets -> "4"))
    val back = Seed.read(spark, store)
    // -0.0 reads back as +0.0 (normalized at the key address); all rows live
    assert(back.collect().map(_.getDouble(0)).sorted.toSeq ==
      Seq(-100.5, -2.25, 0.0, 1.5, 3.0, 777.125))
    // a -0.0 probe must find the +0.0 row (SQL equality) — same cell address
    assert(back.filter($"k" === -0.0d).collect().map(_.getString(1)).toSeq ==
      Seq("v-0.0"))
    // sign-crossing range pushes; exact results
    assert(back.filter($"k" >= -3.0d && $"k" < 2.0d).collect()
      .map(_.getDouble(0)).sorted.toSeq == Seq(-2.25, 0.0, 1.5))
    // key-order TopN returns numeric minima
    val topn = Seed.read(spark, store).orderBy($"k").limit(2)
    assert(topn.collect().map(_.getDouble(0)).toSeq == Seq(-100.5, -2.25))
    // writing 0.0 now LWW-overwrites the -0.0 cell (one SQL-equal key)
    Seed.append(Seq((0.0, "vzero")).toDF("k", "v"), store,
      Map(Options.WriteTimestamp -> "2"))
    val after = Seed.read(spark, store).filter($"k" === 0.0d).collect()
    assert(after.map(_.getString(1)).toSeq == Seq("vzero"))
  }

  test("decimal-keyed ordered store: readback, range seek") {
    val sp = spark; import sp.implicits._
    val src = sp.sql(
      """SELECT CAST(id - 500 AS DECIMAL(20, 2)) / 4 AS k,
        |  CAST(id AS STRING) AS v FROM range(0, 1000)""".stripMargin)
    val store = Seed.table(spark, sfDir, "spec_ordered_decimal", src,
      props = Map(Options.KeyEncoding -> "ordered", Options.Buckets -> "4"))
    val got = Seed.read(spark, store)
      .filter($"k" >= java.math.BigDecimal.valueOf(-5) &&
        $"k" < java.math.BigDecimal.valueOf(5))
    // -5.00, -4.75, ... 4.75 = 40 rows, exact decimal compare
    val keys = got.collect().map(_.getDecimal(0)).sortBy(_.doubleValue()).toSeq
    assert(keys.size == 40, s"got ${keys.size} rows")
    assert(keys.head == new java.math.BigDecimal("-5.000000") ||
      keys.head.compareTo(new java.math.BigDecimal("-5")) == 0)
    assert(keys.last.compareTo(new java.math.BigDecimal("4.75")) == 0)
  }

  test("ordered store: readback, key lookup, delete, TopN — negatives included") {
    val sp = spark; import sp.implicits._
    val src = Seq(-5L, -2L, -1L, 0L, 3L, 7L, 100L).map(k => (k, s"v$k"))
      .toDF("k", "v")
    val store = Seed.table(spark, sfDir, "spec_ordered", src,
      props = Map(Options.KeyEncoding -> "ordered", Options.Buckets -> "4"))
    val back = Seed.read(spark, store)
    assert(back.collect().map(r => (r.getLong(0), r.getString(1))).toSet ==
      src.collect().map(r => (r.getLong(0), r.getString(1))).toSet)
    // key equality routes through the ordered bytes (bucket prune + blooms)
    assert(back.filter($"k" === -2L).collect().map(_.getString(1)).toSeq == Seq("v-2"))
    // TopN pushes for an integral ORDERED key and returns numeric minima
    val topn = Seed.read(spark, store).orderBy($"k").limit(3)
    val scan = topn.queryExecution.executedPlan.collectFirst {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b.scan
    }.get
    assert(scan.description().contains("Limit: 3"),
      s"ordered-key TopN not pushed: ${scan.description()}")
    assert(topn.collect().map(_.getLong(0)).toSeq == Seq(-5L, -2L, -1L))
    // DELETE by key through the ordered encode
    val meta = CellStore.readMeta(store).get
    val table = new CassandraLikeTable(store, store,
      org.apache.spark.sql.types.StructType.fromDDL(meta.schemaDdl),
      Some(meta.mapping), meta.properties)
    table.deleteWhere(Array[org.apache.spark.sql.sources.Filter](
      org.apache.spark.sql.sources.EqualTo("k", -5L)))
    assert(Seed.read(spark, store).collect().map(_.getLong(0)).toSet ==
      Set(-2L, -1L, 0L, 3L, 7L, 100L))
  }

  test("ordered BIGINT stores zipper-join: no exchange AND no sort") {
    import org.apache.spark.sql.execution.SortExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    import org.apache.spark.sql.execution.joins.SortMergeJoinExec
    spark.conf.set("spark.sql.catalog.cassandralike",
      classOf[CassandraLikeCatalog].getName)
    spark.conf.set("spark.sql.catalog.cassandralike.warehouse",
      s"${Seed.storeRoot(sfDir)}/warehouse")
    spark.sql("CREATE NAMESPACE IF NOT EXISTS cassandralike.ks")
    Seq("ord_a", "ord_b").foreach { n =>
      spark.sql(s"DROP TABLE IF EXISTS cassandralike.ks.$n")
      spark.sql(
        s"""CREATE TABLE cassandralike.ks.$n (k BIGINT, v DOUBLE)
           |USING cassandralike
           |TBLPROPERTIES ('buckets' = '4', 'partitioning.report' = 'true',
           |  'key.encoding' = 'ordered')""".stripMargin)
    }
    spark.sql("INSERT INTO cassandralike.ks.ord_a SELECT id - 50, CAST(id AS DOUBLE) FROM range(0, 100)")
    spark.sql("INSERT INTO cassandralike.ks.ord_b SELECT id - 50, CAST(id * 2 AS DOUBLE) FROM range(0, 100)")
    val joined = spark.table("cassandralike.ks.ord_a").hint("MERGE")
      .join(spark.table("cassandralike.ks.ord_b"), Seq("k"))
    assert(joined.count() == 100)
    def walk(p: org.apache.spark.sql.execution.SparkPlan)
      : Seq[org.apache.spark.sql.execution.SparkPlan] = {
      val self = p match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => walk(a.executedPlan)
        case q: org.apache.spark.sql.execution.adaptive.QueryStageExec => q +: walk(q.plan)
        case other => Seq(other)
      }
      self ++ p.children.flatMap(walk) ++ p.subqueries.flatMap(walk)
    }
    val all = walk(joined.queryExecution.executedPlan)
    val smjs = all.collect { case j: SortMergeJoinExec => j }
    assert(smjs.nonEmpty, "expected a sort-merge join of the ordered stores")
    val under = smjs.flatMap(j => j.children.flatMap(walk))
    assert(!under.exists(_.isInstanceOf[ShuffleExchangeLike]),
      "no exchange under the ordered co-partitioned join")
    assert(!under.exists(_.isInstanceOf[SortExec]),
      s"ordered keys must elide the SMJ sorts: ${under.map(_.nodeName)}")

    // MIXED encodings must NOT be proven co-partitioned: distinct bucket
    // functions force the sound shuffled fallback with identical rows
    spark.sql("DROP TABLE IF EXISTS cassandralike.ks.ord_mixed")
    spark.sql(
      """CREATE TABLE cassandralike.ks.ord_mixed (k BIGINT, w DOUBLE)
        |USING cassandralike
        |TBLPROPERTIES ('buckets' = '4', 'partitioning.report' = 'true')""".stripMargin)
    spark.sql("INSERT INTO cassandralike.ks.ord_mixed SELECT id - 50, CAST(id AS DOUBLE) FROM range(0, 100)")
    val mixed = spark.table("cassandralike.ks.ord_a").hint("MERGE")
      .join(spark.table("cassandralike.ks.ord_mixed"), Seq("k"))
    assert(mixed.count() == 100, "mixed-encoding join must still be correct")
    val mixedPlan = walk(mixed.queryExecution.executedPlan)
    assert(mixedPlan.exists(_.isInstanceOf[ShuffleExchangeLike]),
      "mixed encodings must fall back to a shuffled join, never zip buckets")
  }

  test("pushed key RANGE seeks the merge on order-preserving encodings") {
    val sp = spark; import sp.implicits._
    val n = 1000
    val src = (0 until n).map(i => (i.toLong - 500L, s"v$i")).toDF("k", "v")
    def cellsMergedFor(df: org.apache.spark.sql.DataFrame): Long = {
      val scan = df.queryExecution.executedPlan.collectFirst {
        case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b.scan
      }.getOrElse(fail("no BatchScanExec"))
      val batch = scan.toBatch
      val factory = batch.createReaderFactory()
      var cells = 0L
      batch.planInputPartitions().foreach { p =>
        val r = factory.createReader(p)
        try { while (r.next()) r.get() } finally {
          r.currentMetricsValues().foreach(m =>
            if (m.name() == "cellsMerged") cells += m.value())
          r.close()
        }
      }
      cells
    }
    // ordered integral keys: a sign-crossing range merges O(range + index
    // granularity), not O(table) — the run indexes seek to the range start
    val ord = Seed.table(spark, sfDir, "spec_key_range_ord", src,
      props = Map(Options.KeyEncoding -> "ordered", Options.Buckets -> "4"))
    val q = Seed.read(spark, ord).filter($"k" >= -10L && $"k" < 10L)
    assert(q.collect().map(_.getLong(0)).sorted.toSeq == (-10L until 10L),
      "sign-crossing range must be exact under the ordered encoding")
    val cellsOrd = cellsMergedFor(q)
    assert(cellsOrd < n / 2, s"ordered key range must seek: merged $cellsOrd of $n")
    // default bytes form on integral keys: big-endian two's complement
    // sorts negatives after positives, so the sign-crossing range becomes
    // two byte windows, [0, 10) then [-10, -1], each seeked on its own
    val bytes = Seed.table(spark, sfDir, "spec_key_range_bytes", src,
      props = Map(Options.Buckets -> "4"))
    val qb = Seed.read(spark, bytes).filter($"k" >= -10L && $"k" < 10L)
    assert(qb.collect().map(_.getLong(0)).sorted.toSeq == (-10L until 10L),
      "sign-crossing range must be exact under the bytes encoding")
    val cellsBytes = cellsMergedFor(qb)
    assert(cellsBytes < n / 2,
      s"bytes-encoded integral key range must seek its two windows: merged $cellsBytes of $n")
    // string keys: SQL order IS unsigned byte order, so ranges push under
    // the default bytes form with no opt-in
    val ssrc = (0 until n).map(i => (f"k$i%04d", i.toLong)).toDF("k", "i")
    val str = Seed.table(spark, sfDir, "spec_key_range_str", ssrc,
      props = Map(Options.Buckets -> "4"))
    val qs = Seed.read(spark, str).filter($"k" >= "k0100" && $"k" < "k0120")
    assert(qs.collect().map(_.getString(0)).sorted.toSeq ==
      (100 until 120).map(i => f"k$i%04d"), "string range must be exact")
    assert(cellsMergedFor(qs) < n / 2, "string key range must seek")
    // one-sided + conjunction with equality keeps the tightest envelope
    val one = Seed.read(spark, ord).filter($"k" >= 480L)
    assert(one.collect().map(_.getLong(0)).sorted.toSeq == (480L to 499L))
    assert(cellsMergedFor(one) < n / 2, "open-ended range must seek")
  }

  test("bytes BIGINT keys seek ranges but claim no order: MIN/MAX, ORDER BY, range.bounds") {
    import org.apache.spark.sql.execution.SortExec
    val sp = spark; import sp.implicits._
    // negatives sort AFTER positives in the bytes form, and the type's
    // extremes sit at both ends of each half
    val keys = Seq(Long.MinValue, Long.MinValue + 1, -1000L, -2L, -1L, 0L, 1L,
      2L, 999L, Long.MaxValue - 1, Long.MaxValue)
    val src = keys.map(k => (k, s"v$k")).toDF("k", "v")
    val store = Seed.table(spark, sfDir, "spec_bytes_long_order", src,
      props = Map(Options.Buckets -> "4"))
    def extremes(df: org.apache.spark.sql.DataFrame): (Long, Long) = {
      val r = df.agg(min($"k"), max($"k")).collect().head
      (r.getLong(0), r.getLong(1))
    }
    val ranges: Seq[org.apache.spark.sql.Column => org.apache.spark.sql.Column] = Seq(
      _ => lit(true),
      k => k >= -1000L && k < 1000L,
      k => k > Long.MinValue && k <= Long.MaxValue,
      k => k < 0L,
      k => k >= 0L,
      k => k >= Long.MinValue && k < -1L || k === Long.MaxValue)
    ranges.foreach { r =>
      val want = extremes(src.filter(r($"k")))
      assert(extremes(Seed.read(spark, store).filter(r($"k"))) == want,
        s"MIN/MAX of a bytes BIGINT key must equal Spark's, want $want")
      assert(Seed.read(spark, store).filter(r($"k")).collect().map(_.getLong(0)).toSet ==
        src.filter(r($"k")).collect().map(_.getLong(0)).toSet)
    }
    // no ordering is reported: ORDER BY k still plans its sort
    val sorted = Seed.read(spark, store).orderBy($"k")
    assert(sorted.collect().map(_.getLong(0)).toSeq == keys.sorted)
    def walk(p: org.apache.spark.sql.execution.SparkPlan)
      : Seq[org.apache.spark.sql.execution.SparkPlan] = (p match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => walk(a.executedPlan)
        case q: org.apache.spark.sql.execution.adaptive.QueryStageExec => q +: walk(q.plan)
        case other => Seq(other)
      }) ++ p.children.flatMap(walk)
    assert(walk(sorted.queryExecution.executedPlan).exists(_.isInstanceOf[SortExec]),
      "a bytes BIGINT key must not report a scan ordering")
    // range.bounds needs a value-ordered byte form
    intercept[Exception](Seed.table(spark, sfDir, "spec_bytes_long_bounds", src,
      props = Map(Options.RangeBounds -> "-10,10", Options.Buckets -> "3")))
  }

  test("key.encoding is a locked layout property once segments exist") {
    spark.conf.set("spark.sql.catalog.cassandralike",
      classOf[CassandraLikeCatalog].getName)
    spark.conf.set("spark.sql.catalog.cassandralike.warehouse",
      s"${Seed.storeRoot(sfDir)}/warehouse")
    spark.sql("CREATE NAMESPACE IF NOT EXISTS cassandralike.ks")
    spark.sql("DROP TABLE IF EXISTS cassandralike.ks.ord_lock")
    spark.sql(
      """CREATE TABLE cassandralike.ks.ord_lock (k BIGINT, v STRING)
        |USING cassandralike TBLPROPERTIES ('key.encoding' = 'ordered')""".stripMargin)
    spark.sql("INSERT INTO cassandralike.ks.ord_lock VALUES (1, 'a')")
    intercept[Exception](spark.sql(
      "ALTER TABLE cassandralike.ks.ord_lock SET TBLPROPERTIES ('key.encoding' = 'bytes')"))
  }
}
