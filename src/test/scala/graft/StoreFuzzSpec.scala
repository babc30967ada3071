package graft

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

import graft.sources.cassandralike._

/** Model-based randomized end-to-end fuzz of the cell store: a fixed-seed
  * random interleaving of DSv2 appends, tombstone appends, key DELETEs and
  * bucket compactions runs against the REAL write → LSM → scan loop, with a
  * tiny in-memory LWW model (the store's documented reconciliation rule:
  * highest ts wins, tombstone wins ties, value bytes break the rest)
  * replayed alongside. After every op the full table read must equal the
  * model; as-of reads must equal the model's historical snapshots (until a
  * compaction collapses history, which is the documented as-of boundary).
  *
  * The targeted specs pin each mechanism in isolation; this one exercises
  * the INTERLEAVINGS — delete-then-rewrite under one epoch, compaction
  * between tombstone and shadowed cell, partial-column upserts across
  * epochs — where LSM stores traditionally break. */
class StoreFuzzSpec extends SparkSpec {

  private val Buckets = 4
  private val schema = StructType(Seq(
    StructField("k", LongType),
    StructField("a", DoubleType),
    StructField("b", StringType)))

  /** One model cell: (ts, tombstone, encoded value bytes). */
  private case class MCell(ts: Long, tomb: Boolean, bytes: Array[Byte])

  /** Key i of the regular fuzz: both sides of zero, and the type's
    * extremes at the ends (the bytes form sorts negatives after
    * positives, so key ranges there are two byte windows). */
  private def keyOf(i: Int): Long =
    if (i == 0) Long.MinValue else if (i == 49) Long.MaxValue else i - 25L

  /** A random comparison pair on `c` over `pool`: each side absent,
    * strict or inclusive, so bounds cross zero and hit MIN/MAX. Returns
    * the Spark predicate and its model twin. */
  private def randomRange[T](rnd: Random, c: String, pool: IndexedSeq[T])(
      implicit ord: Ordering[T]): (org.apache.spark.sql.Column, T => Boolean) = {
    import org.apache.spark.sql.functions.{col, lit}
    val lo = pool(rnd.nextInt(pool.size))
    val hi = pool(rnd.nextInt(pool.size))
    val (lc, lf): (org.apache.spark.sql.Column, T => Boolean) = rnd.nextInt(3) match {
      case 0 => (lit(true), _ => true)
      case 1 => (col(c) > lit(lo), ord.gt(_, lo))
      case _ => (col(c) >= lit(lo), ord.gteq(_, lo))
    }
    val (hc, hf): (org.apache.spark.sql.Column, T => Boolean) = rnd.nextInt(3) match {
      case 0 => (lit(true), _ => true)
      case 1 => (col(c) < lit(hi), ord.lt(_, hi))
      case _ => (col(c) <= lit(hi), ord.lteq(_, hi))
    }
    (lc && hc, v => lf(v) && hf(v))
  }

  private def newer(a: MCell, b: MCell): Boolean =
    if (a.ts != b.ts) a.ts > b.ts
    else if (a.tomb != b.tomb) a.tomb
    else Codecs.compareBytes(
      if (a.bytes == null) Array.emptyByteArray else a.bytes,
      if (b.bytes == null) Array.emptyByteArray else b.bytes) > 0

  /** key -> col -> all cells ever written (the model's "segments"); reads
    * reconcile lazily so as-of snapshots need no copies. */
  private type Model = mutable.Map[Long, mutable.Map[String, mutable.ArrayBuffer[MCell]]]

  private def upsert(m: Model, k: Long, col: String, c: MCell): Unit =
    m.getOrElseUpdate(k, mutable.Map.empty)
      .getOrElseUpdate(col, mutable.ArrayBuffer.empty) += c

  /** LWW winner among cells with ts <= asOf (None = no cell yet). */
  private def winner(cs: Seq[MCell], asOf: Long): Option[MCell] =
    cs.filter(_.ts <= asOf) match {
      case Seq() => None
      case live => Some(live.reduce((a, b) => if (newer(a, b)) a else b))
    }

  /** Decode a model double cell: binary on exact width, text otherwise —
    * the store's own dual-decode rule (the fuzz's text forms are <= 5
    * bytes, so the width check is unambiguous). */
  private def decodeD(c: MCell): Double =
    if (c.bytes.length == 8) java.nio.ByteBuffer.wrap(c.bytes).getDouble
    else new String(c.bytes, java.nio.charset.StandardCharsets.UTF_8).toDouble

  /** The rows the scan must produce at snapshot `asOf`. */
  private def expected(m: Model, asOf: Long): Set[(Long, Option[Double], Option[String])] =
    m.iterator.flatMap { case (k, cols) =>
      val a = winner(cols.getOrElse("a", Nil).toSeq, asOf).filter(!_.tomb)
        .map(decodeD)
      val b = winner(cols.getOrElse("b", Nil).toSeq, asOf).filter(!_.tomb)
        .map(c => new String(c.bytes, java.nio.charset.StandardCharsets.UTF_8))
      if (a.isEmpty && b.isEmpty) None else Some((k, a, b))
    }.toSet

  /** Read options of a key-set read's two paths: answered at planning
    * (defaults), and distributed (a split target of one merged cell). */
  private val bothPaths = Seq(Map.empty[String, String], Map(Options.SplitTargetCells -> "1"))

  private def readBack(dir: String, asOf: Option[Long] = None): Set[(Long, Option[Double], Option[String])] =
    Seed.read(spark, dir,
        asOf.map(t => Map(Options.ReadAsOf -> t.toString)).getOrElse(Map.empty))
      .collect().map { r =>
      (r.getLong(0),
        if (r.isNullAt(1)) None else Some(r.getDouble(1)),
        if (r.isNullAt(2)) None else Some(r.getString(2)))
    }.toSet

  test("random append/tombstone/delete/compact interleavings match the LWW model exactly") {
    val rnd = new Random(20260814)
    (1 to 3).foreach { trial =>
      // trial 3 exercises the TEXT cell encoding (T1's dual-decode read
      // path): values are ASCII forms on disk, keys stay canonical binary,
      // and LWW value-byte tie-breaks compare the text bytes — the model
      // mirrors by encoding the same way
      val textEnc = trial == 3
      val dir = s"/tmp/graft_cellstore_fuzz/t$trial"
      CellStore.dropTable(dir)
      CellStore.writeMeta(dir, CellStore.Meta(schema.toDDL,
        ColumnMapping.auto(schema), Map(Options.Buckets -> Buckets.toString) ++
          (if (textEnc) Map(Options.Encoding -> "text") else Map.empty)))
      val model: Model = mutable.Map.empty
      var ts = 0L
      // snapshots recorded since the last compaction (compaction collapses
      // history, the documented as-of boundary)
      val snapshots = mutable.ArrayBuffer.empty[Long]

      def appendRows(tombstoneNulls: Boolean): Unit = {
        ts += 1
        val rows = Seq.fill(1 + rnd.nextInt(30)) {
          val k = keyOf(rnd.nextInt(50))
          val a = if (rnd.nextInt(4) == 0) null
            else java.lang.Double.valueOf(math.round(rnd.nextDouble() * 1e4) / 100.0)
          val b = if (rnd.nextInt(4) == 0) null else s"v${rnd.nextInt(1000)}"
          Row(k, a, b)
        }
        // distinct keys per batch: two cells for one address in one epoch
        // share ts and resolve by value bytes — the writer emits both, the
        // model mirrors both, so duplicates are allowed; keep them.
        val df = spark.createDataFrame(
          spark.sparkContext.parallelize(rows, 2), schema)
        val opts = Map(Options.WriteTimestamp -> ts.toString) ++
          (if (tombstoneNulls) Map(Options.NullsAsTombstones -> "true") else Map.empty)
        Seed.append(df, dir, opts)
        rows.foreach { r =>
          val k = r.getLong(0)
          Seq("a", "b").zipWithIndex.foreach { case (col, i) =>
            val v = r.get(i + 1)
            if (v == null) {
              if (tombstoneNulls) upsert(model, k, col, MCell(ts, tomb = true, null))
            } else {
              val bytes = v match {
                case d: java.lang.Double =>
                  if (textEnc) d.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8)
                  else java.nio.ByteBuffer.allocate(8).putDouble(d).array()
                case s: String => s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
              }
              upsert(model, k, col, MCell(ts, tomb = false, bytes))
            }
          }
        }
      }

      def deleteKeys(): Unit = {
        val keys = Seq.fill(1 + rnd.nextInt(5))(keyOf(rnd.nextInt(60))).distinct
        val tbl = new CassandraLikeTable(dir, dir, schema, None,
          Map(Options.Buckets -> Buckets.toString))
        tbl.deleteWhere(Array[org.apache.spark.sql.sources.Filter](
          org.apache.spark.sql.sources.In("k", keys.map(Long.box).toArray[Any])))
        // mirror: per token bucket, doomed = the LIVE reconciled cells of
        // the matching keys; their tombstones land at max(doomed ts) + 1
        keys.groupBy(k => TokenRing.bucket(Codecs.encode(LongType, k), Buckets))
          .foreach { case (_, ks) =>
            val doomed = ks.flatMap { k =>
              model.get(k).toSeq.flatMap(_.toSeq.flatMap { case (col, cs) =>
                winner(cs.toSeq, Long.MaxValue).filter(!_.tomb).map(c => (k, col, c))
              })
            }
            if (doomed.nonEmpty) {
              val dts = doomed.map(_._3.ts).max + 1
              doomed.foreach { case (k, col, _) =>
                upsert(model, k, col, MCell(dts, tomb = true, null))
              }
              ts = math.max(ts, dts)
            }
          }
      }

      // a random IN read: live, deleted and never-written keys (the model
      // holds keyOf(0..59) at most). Its own stream, so the op sequence
      // above is the same with or without it.
      val inRnd = new Random(20260900L + trial)
      def inRead(): Unit = {
        val want = expected(model, Long.MaxValue)
        val live = want.map(_._1).toVector.sorted
        val dead = model.keys.filterNot(live.contains).toVector.sorted
        def pick(ks: Vector[Long], n: Int): Seq[Long] =
          if (ks.isEmpty) Nil else Seq.fill(n)(ks(inRnd.nextInt(ks.size)))
        val keys = (pick(live, 1 + inRnd.nextInt(6)) ++ pick(dead, inRnd.nextInt(3)) ++
          Seq.fill(1 + inRnd.nextInt(2))(60L + inRnd.nextInt(40))).distinct
        bothPaths.foreach { opts =>
          val df = Seed.read(spark, dir, opts)
            .filter(org.apache.spark.sql.functions.col("k").isin(keys: _*))
          val got = df.collect().map { r =>
            (r.getLong(0),
              if (r.isNullAt(1)) None else Some(r.getDouble(1)),
              if (r.isNullAt(2)) None else Some(r.getString(2)))
          }.toSet
          assert(got == want.filter(r => keys.contains(r._1)),
            s"trial $trial: IN ${keys.mkString(",")} $opts diverged from model after ts=$ts")
          assert(opts.nonEmpty || PlannedScan.of(df).answered, s"trial $trial: not answered")
        }
      }

      // a random key-range read and range COUNT: bounds cross zero and
      // include the type's extremes; the count may answer positionally
      // (window by window) or fold, and must equal the model either way
      val rangeRnd = new Random(20260950L + trial)
      val keyPool = Vector(Long.MinValue, Long.MinValue + 1, -30L, -25L, -10L, -1L,
        0L, 1L, 10L, 24L, 30L, Long.MaxValue - 1, Long.MaxValue)
      def rangeRead(): Unit = {
        val (p, keep) = randomRange(rangeRnd, "k", keyPool)
        val want = expected(model, Long.MaxValue).filter(r => keep(r._1))
        val got = Seed.read(spark, dir).filter(p).collect().map { r =>
          (r.getLong(0),
            if (r.isNullAt(1)) None else Some(r.getDouble(1)),
            if (r.isNullAt(2)) None else Some(r.getString(2)))
        }.toSet
        assert(got == want, s"trial $trial: key range $p diverged from model after ts=$ts")
        val n = Seed.read(spark, dir).filter(p)
          .agg(org.apache.spark.sql.functions.count(
            org.apache.spark.sql.functions.lit(1))).collect()(0).getLong(0)
        assert(n == want.size, s"trial $trial: COUNT over $p is $n, model ${want.size}")
      }

      (1 to 18).foreach { _ =>
        rnd.nextInt(10) match {
          case n if n <= 4 => appendRows(tombstoneNulls = false)
          case 5 | 6 => appendRows(tombstoneNulls = true)
          case 7 | 8 => deleteKeys()
          case 9 =>
            (0 until Buckets).foreach(b => CellStore.compactBucket(dir, b))
            snapshots.clear() // compaction collapses history (documented)
        }
        assert(readBack(dir) == expected(model, Long.MaxValue),
          s"trial $trial: live read diverged from model after ts=$ts")
        inRead()
        rangeRead()
        // metadata-vs-fold COUNT under every interleaving: buckets whose
        // runs are stats-bearing, tombstone-free and key-disjoint answer
        // from the STAT tails, the rest fold cells — the mix is random
        // here (compaction flips buckets onto the fast path), and either
        // way the count must equal the model's live row count
        locally {
          val n = Seed.read(spark, dir)
            .agg(org.apache.spark.sql.functions.count(
              org.apache.spark.sql.functions.lit(1))).collect()(0).getLong(0)
          val want = expected(model, Long.MaxValue).size.toLong
          assert(n == want,
            s"trial $trial: COUNT(*) $n != model $want after ts=$ts")
        }
        if (rnd.nextInt(3) == 0) snapshots += ts
        // as-of replay of every surviving snapshot
        snapshots.foreach { t =>
          assert(readBack(dir, asOf = Some(t)) == expected(model, t),
            s"trial $trial: as-of $t read diverged from model")
        }
        // TTL view: a live cell expires at read.now >= ts + ttl; tombstones
        // never do. Expiry is ts-monotone under a constant ttl, so the
        // expected view is simply "LWW winner, live, unexpired".
        if (rnd.nextInt(2) == 0) {
          val ttl = 1L + rnd.nextInt(ts.toInt + 2)
          val now = rnd.nextInt(ts.toInt + ttl.toInt + 2).toLong
          val ttlView = Seed.read(spark, dir, Map(
              Options.Ttl -> ttl.toString, Options.ReadNow -> now.toString))
            .collect().map { r =>
              (r.getLong(0),
                if (r.isNullAt(1)) None else Some(r.getDouble(1)),
                if (r.isNullAt(2)) None else Some(r.getString(2)))
            }.toSet
          val want = model.iterator.flatMap { case (k, cols) =>
            def live(col: String) =
              winner(cols.getOrElse(col, Nil).toSeq, Long.MaxValue)
                .filter(c => !c.tomb && now < c.ts + ttl)
            val a = live("a").map(decodeD)
            val b = live("b").map(c =>
              new String(c.bytes, java.nio.charset.StandardCharsets.UTF_8))
            if (a.isEmpty && b.isEmpty) None else Some((k, a, b))
          }.toSet
          assert(ttlView == want,
            s"trial $trial: ttl=$ttl now=$now read diverged from model after ts=$ts")
        }
      }
      CellStore.dropTable(dir)
    }
  }

  private val tSchema = StructType(Seq(
    StructField("row_key", StringType),
    StructField("column_name", StringType),
    StructField("value", StringType)))

  test("transposed mapping: random wide-row interleavings match the LWW model exactly") {
    // same machinery over the TRANSPOSED (wide-row) mapping, where the
    // pager, comparator ordering and per-(key, column) cell addressing do
    // the work: model is (row_key, column_name) -> cells
    val rnd = new Random(20260815)
    (1 to 2).foreach { trial =>
      val dir = s"/tmp/graft_cellstore_fuzz/w$trial"
      CellStore.dropTable(dir)
      CellStore.writeMeta(dir, CellStore.Meta(tSchema.toDDL,
        ":key,:column,:value", Map(Options.Buckets -> Buckets.toString)))
      val model = mutable.Map.empty[(String, String), mutable.ArrayBuffer[MCell]]
      var ts = 0L

      def expectedT(asOf: Long): Set[(String, String, String)] =
        model.iterator.flatMap { case ((k, c), cs) =>
          winner(cs.toSeq, asOf).filter(!_.tomb).map(m =>
            (k, c, new String(m.bytes, java.nio.charset.StandardCharsets.UTF_8)))
        }.toSet

      def readBackT(opts: Map[String, String] = Map.empty): Set[(String, String, String)] =
        Seed.read(spark, dir, opts)
          .collect().map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet

      // the slice contract under fuzz: [start, finish] inclusive in
      // comparator order, optionally reversed, count = per-KEY cap in that
      // order — exactly conn_slice_range's semantics
      def expectedSlice(start: Option[String], finish: Option[String],
          reversed: Boolean, count: Option[Int]): Set[(String, String, String)] = {
        val live = expectedT(Long.MaxValue).toSeq
          .filter { case (_, c, _) => start.forall(c >= _) && finish.forall(c <= _) }
        live.groupBy(_._1).valuesIterator.flatMap { rows =>
          val ordered = rows.sortBy(_._2)
          val dir0 = if (reversed) ordered.reverse else ordered
          count.fold(dir0)(n => dir0.take(n))
        }.toSet
      }

      def appendCells(tombstoneNulls: Boolean): Unit = {
        ts += 1
        val rows = Seq.fill(1 + rnd.nextInt(40)) {
          val k = s"k${rnd.nextInt(12)}"
          val c = f"c${rnd.nextInt(20)}%03d"
          val v = if (tombstoneNulls && rnd.nextInt(3) == 0) null
            else s"v${rnd.nextInt(1000)}"
          Row(k, c, v)
        }
        val df = spark.createDataFrame(
          spark.sparkContext.parallelize(rows, 2), tSchema)
        Seed.append(df, dir, Map(Options.WriteTimestamp -> ts.toString) ++
          (if (tombstoneNulls) Map(Options.NullsAsTombstones -> "true") else Map.empty))
        rows.foreach { r =>
          val addr = (r.getString(0), r.getString(1))
          val v = r.getString(2)
          val cell =
            if (v == null) MCell(ts, tomb = true, null)
            else MCell(ts, tomb = false,
              v.getBytes(java.nio.charset.StandardCharsets.UTF_8))
          if (v != null || tombstoneNulls)
            model.getOrElseUpdate(addr, mutable.ArrayBuffer.empty) += cell
        }
      }

      def deleteRowKeys(): Unit = {
        val keys = Seq.fill(1 + rnd.nextInt(3))(s"k${rnd.nextInt(14)}").distinct
        val tbl = new CassandraLikeTable(dir, dir, tSchema, Some(":key,:column,:value"),
          Map(Options.Buckets -> Buckets.toString))
        tbl.deleteWhere(Array[org.apache.spark.sql.sources.Filter](
          org.apache.spark.sql.sources.In("row_key", keys.toArray[Any])))
        keys.groupBy(k => TokenRing.bucket(Codecs.encode(StringType,
            org.apache.spark.unsafe.types.UTF8String.fromString(k)), Buckets))
          .foreach { case (_, ks) =>
            val doomed = model.keys.filter(a => ks.contains(a._1)).toSeq
              .flatMap(a => winner(model(a).toSeq, Long.MaxValue)
                .filter(!_.tomb).map(c => (a, c)))
            if (doomed.nonEmpty) {
              val dts = doomed.map(_._2.ts).max + 1
              doomed.foreach { case (a, _) =>
                model(a) += MCell(dts, tomb = true, null)
              }
              ts = math.max(ts, dts)
            }
          }
      }

      // a random IN read over row keys (live, deleted, never written: the
      // model holds k0..k13 at most), half the time with a column IN too,
      // so the column seek runs inside the key windows. Own stream, as in
      // the regular fuzz.
      val inRnd = new Random(20260910L + trial)
      def inReadT(): Unit = {
        val want = expectedT(Long.MaxValue)
        val live = want.map(_._1).toVector.sorted
        val dead = model.keys.map(_._1).filterNot(live.contains).toVector.sorted
        def pick(ks: Vector[String], n: Int): Seq[String] =
          if (ks.isEmpty) Nil else Seq.fill(n)(ks(inRnd.nextInt(ks.size)))
        val keys = (pick(live, 1 + inRnd.nextInt(4)) ++ pick(dead, inRnd.nextInt(2)) ++
          Seq(s"k${20 + inRnd.nextInt(10)}")).distinct
        val cols =
          if (inRnd.nextBoolean()) None
          else Some(Seq.fill(1 + inRnd.nextInt(4))(f"c${inRnd.nextInt(20)}%03d").distinct)
        bothPaths.foreach { opts =>
          val byKey = Seed.read(spark, dir, opts)
            .filter(org.apache.spark.sql.functions.col("row_key").isin(keys: _*))
          val df = cols.fold(byKey)(cs =>
            byKey.filter(org.apache.spark.sql.functions.col("column_name").isin(cs: _*)))
          val got = df.collect().map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet
          assert(got == want.filter(r => keys.contains(r._1) && cols.forall(_.contains(r._2))),
            s"trial $trial: IN ${keys.mkString(",")} cols=$cols $opts diverged from model after ts=$ts")
          assert(opts.nonEmpty || PlannedScan.of(df).answered, s"trial $trial: not answered")
        }
      }

      (1 to 16).foreach { _ =>
        rnd.nextInt(10) match {
          case n if n <= 4 => appendCells(tombstoneNulls = false)
          case 5 | 6 => appendCells(tombstoneNulls = true)
          case 7 | 8 => deleteRowKeys()
          case 9 => (0 until Buckets).foreach(b => CellStore.compactBucket(dir, b))
        }
        assert(readBackT() == expectedT(Long.MaxValue),
          s"trial $trial: transposed live read diverged from model after ts=$ts")
        inReadT()
        // random server-side slice over the same state
        val start = if (rnd.nextBoolean()) Some(f"c${rnd.nextInt(20)}%03d") else None
        val finish0 = if (rnd.nextBoolean()) Some(f"c${rnd.nextInt(20)}%03d") else None
        val finish = (start, finish0) match { // keep start <= finish when both set
          case (Some(a), Some(b)) if b < a => Some(a)
          case _ => finish0
        }
        val reversed = rnd.nextBoolean()
        val count = if (rnd.nextBoolean()) Some(1 + rnd.nextInt(4)) else None
        val opts = Map(Options.SliceReversed -> reversed.toString) ++
          start.map(Options.SliceStart -> _) ++
          finish.map(Options.SliceFinish -> _) ++
          count.map(n => Options.SliceCount -> n.toString)
        assert(readBackT(opts) == expectedSlice(start, finish, reversed, count),
          s"trial $trial: slice read (start=$start finish=$finish rev=$reversed " +
            s"count=$count) diverged from model after ts=$ts")
      }
      CellStore.dropTable(dir)
    }
  }

  private val iSchema = StructType(Seq(
    StructField("row_key", IntegerType),
    StructField("column_name", IntegerType),
    StructField("value", LongType)))

  test("transposed mapping, int keys and columns: random key and column ranges match the LWW model") {
    // the wide-row fuzz over INT row keys and clustering columns in the
    // default bytes form, where a value range crossing zero is two byte
    // windows (negatives sort after positives): every read is a random key
    // range, column range or both, and range COUNT/SUM may answer
    // positionally (window by window) or fold
    import org.apache.spark.sql.functions.{col, count, lit, max, min, sum}
    val rnd = new Random(20260817)
    def ikeyOf(i: Int): Int = if (i == 0) Int.MinValue else if (i == 11) Int.MaxValue else i - 6
    def icolOf(j: Int): Int = if (j == 0) Int.MinValue else if (j == 19) Int.MaxValue else j - 10
    val keyPool = Vector(Int.MinValue, Int.MinValue + 1, -7, -6, -3, -1, 0, 1, 3, 5, 7,
      Int.MaxValue - 1, Int.MaxValue)
    val colPool = Vector(Int.MinValue, -11, -10, -4, -1, 0, 1, 4, 8, 9, Int.MaxValue)
    (1 to 2).foreach { trial =>
      val dir = s"/tmp/graft_cellstore_fuzz/i$trial"
      CellStore.dropTable(dir)
      CellStore.writeMeta(dir, CellStore.Meta(iSchema.toDDL,
        ":key,:column,:value", Map(Options.Buckets -> Buckets.toString)))
      val model = mutable.Map.empty[(Int, Int), mutable.ArrayBuffer[MCell]]
      var ts = 0L
      def live: Set[(Int, Int, Long)] =
        model.iterator.flatMap { case ((k, c), cs) =>
          winner(cs.toSeq, Long.MaxValue).filter(!_.tomb).map(m =>
            (k, c, java.nio.ByteBuffer.wrap(m.bytes).getLong))
        }.toSet
      def appendCells(tombstoneNulls: Boolean): Unit = {
        ts += 1
        val rows = Seq.fill(1 + rnd.nextInt(40)) {
          val v = if (tombstoneNulls && rnd.nextInt(3) == 0) null
            else java.lang.Long.valueOf(rnd.nextInt(2000) - 1000L)
          Row(ikeyOf(rnd.nextInt(12)), icolOf(rnd.nextInt(20)), v)
        }
        Seed.append(spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), iSchema),
          dir, Map(Options.WriteTimestamp -> ts.toString) ++
            (if (tombstoneNulls) Map(Options.NullsAsTombstones -> "true") else Map.empty))
        rows.foreach { r =>
          val v = r.get(2)
          if (v != null || tombstoneNulls)
            model.getOrElseUpdate((r.getInt(0), r.getInt(1)), mutable.ArrayBuffer.empty) +=
              (if (v == null) MCell(ts, tomb = true, null)
               else MCell(ts, tomb = false,
                 java.nio.ByteBuffer.allocate(8).putLong(r.getLong(2)).array()))
        }
      }
      def deleteRowKeys(): Unit = {
        val keys = Seq.fill(1 + rnd.nextInt(3))(ikeyOf(rnd.nextInt(14))).distinct
        new CassandraLikeTable(dir, dir, iSchema, Some(":key,:column,:value"),
          Map(Options.Buckets -> Buckets.toString))
          .deleteWhere(Array[org.apache.spark.sql.sources.Filter](
            org.apache.spark.sql.sources.In("row_key", keys.map(Int.box).toArray[Any])))
        keys.groupBy(k => TokenRing.bucket(Codecs.encode(IntegerType, k), Buckets))
          .foreach { case (_, ks) =>
            val doomed = model.keys.filter(a => ks.contains(a._1)).toSeq
              .flatMap(a => winner(model(a).toSeq, Long.MaxValue).filter(!_.tomb).map(c => (a, c)))
            if (doomed.nonEmpty) {
              val dts = doomed.map(_._2.ts).max + 1
              doomed.foreach { case (a, _) => model(a) += MCell(dts, tomb = true, null) }
              ts = math.max(ts, dts)
            }
          }
      }
      val readRnd = new Random(20260970L + trial)
      def rangeReads(): Unit = {
        val (kp, kKeep) = randomRange(readRnd, "row_key", keyPool)
        val (cp, cKeep) = randomRange(readRnd, "column_name", colPool)
        val want = live.filter(r => kKeep(r._1) && cKeep(r._2))
        val got = Seed.read(spark, dir).filter(kp && cp).collect()
          .map(r => (r.getInt(0), r.getInt(1), r.getLong(2))).toSet
        assert(got == want, s"trial $trial: ranges $kp, $cp diverged from model after ts=$ts")
        // aggregates over a key range alone, and over a column range under
        // a pinned key set
        val byKey = live.filter(r => kKeep(r._1))
        val agg = Seed.read(spark, dir).filter(kp).agg(count(lit(1)), sum(col("value")))
          .collect().head
        assert(agg.getLong(0) == byKey.size &&
          Option(agg.get(1)) == byKey.headOption.map(_ => byKey.toSeq.map(_._3).sum),
          s"trial $trial: COUNT/SUM over $kp = $agg, model ${byKey.size}")
        val pinned = Seq.fill(2)(ikeyOf(readRnd.nextInt(12))).distinct
        val byCol = live.filter(r => pinned.contains(r._1) && cKeep(r._2))
        val agg2 = Seed.read(spark, dir).filter(col("row_key").isin(pinned: _*) && cp)
          .agg(count(lit(1)), sum(col("value"))).collect().head
        assert(agg2.getLong(0) == byCol.size &&
          Option(agg2.get(1)) == byCol.headOption.map(_ => byCol.toSeq.map(_._3).sum),
          s"trial $trial: COUNT/SUM over keys $pinned and $cp = $agg2, model ${byCol.size}")
        // ungrouped COUNT/SUM/MIN/MAX over the key range on both paths: the
        // answer at planning (a metadata tier or the driver fold) and the
        // distributed partial aggregate
        val vs = byKey.toSeq.map(_._3)
        val cs = byKey.toSeq.map(_._2)
        val wantAgg = Seq[Any](vs.size.toLong, vs.reduceOption(_ + _).map(Long.box).orNull,
          vs.minOption.map(Long.box).orNull, vs.maxOption.map(Long.box).orNull,
          cs.minOption.map(Int.box).orNull, cs.maxOption.map(Int.box).orNull)
        bothPaths.foreach { o =>
          val got = Seed.read(spark, dir, o).filter(kp)
            .agg(count(lit(1)), sum(col("value")), min(col("value")), max(col("value")),
              min(col("column_name")), max(col("column_name")))
            .collect().head.toSeq
          assert(got == wantAgg,
            s"trial $trial: COUNT/SUM/MIN/MAX over $kp with $o = $got, model $wantAgg")
        }
      }
      (1 to 14).foreach { _ =>
        rnd.nextInt(10) match {
          case n if n <= 4 => appendCells(tombstoneNulls = false)
          case 5 | 6 => appendCells(tombstoneNulls = true)
          case 7 | 8 => deleteRowKeys()
          case 9 => (0 until Buckets).foreach(b => CellStore.compactBucket(dir, b))
        }
        assert(Seed.read(spark, dir).collect()
          .map(r => (r.getInt(0), r.getInt(1), r.getLong(2))).toSet == live,
          s"trial $trial: int-keyed live read diverged from model after ts=$ts")
        rangeReads()
        rangeReads()
      }
      CellStore.dropTable(dir)
    }
  }

  private val sSchema = StructType(Seq(
    StructField("row_key", StringType),
    StructField("column_name", StringType),
    StructField("sub_column_name", StringType),
    StructField("value", StringType)))

  test("super-column mapping: random 4-level interleavings match the LWW model exactly") {
    // the deepest addressing level (key -> super column -> sub column ->
    // value) under the same random-op model; exercises the super-group
    // pivot and the pager's group-boundary handling under interleavings
    val rnd = new Random(20260818)
    val dir = "/tmp/graft_cellstore_fuzz/s1"
    CellStore.dropTable(dir)
    CellStore.writeMeta(dir, CellStore.Meta(sSchema.toDDL,
      ":key,:column,:subcolumn,:value", Map(Options.Buckets -> Buckets.toString)))
    val model = mutable.Map.empty[(String, String, String), mutable.ArrayBuffer[MCell]]
    var ts = 0L

    def expectedS: Set[(String, String, String, String)] =
      model.iterator.flatMap { case ((k, c, sub), cs) =>
        winner(cs.toSeq, Long.MaxValue).filter(!_.tomb).map(m =>
          (k, c, sub, new String(m.bytes, java.nio.charset.StandardCharsets.UTF_8)))
      }.toSet
    def readBackS: Set[(String, String, String, String)] =
      Seed.read(spark, dir).collect()
        .map(r => (r.getString(0), r.getString(1), r.getString(2), r.getString(3))).toSet

    (1 to 14).foreach { _ =>
      rnd.nextInt(10) match {
        case n if n <= 6 =>
          ts += 1
          val rows = Seq.fill(1 + rnd.nextInt(30)) {
            Row(s"k${rnd.nextInt(8)}", f"c${rnd.nextInt(6)}%02d",
              f"s${rnd.nextInt(5)}%02d", s"v${rnd.nextInt(1000)}")
          }
          Seed.append(spark.createDataFrame(
            spark.sparkContext.parallelize(rows, 2), sSchema), dir,
            Map(Options.WriteTimestamp -> ts.toString))
          rows.foreach { r =>
            model.getOrElseUpdate((r.getString(0), r.getString(1), r.getString(2)),
              mutable.ArrayBuffer.empty) += MCell(ts, tomb = false,
              r.getString(3).getBytes(java.nio.charset.StandardCharsets.UTF_8))
          }
        case 7 | 8 =>
          val keys = Seq.fill(1 + rnd.nextInt(2))(s"k${rnd.nextInt(10)}").distinct
          val tbl = new CassandraLikeTable(dir, dir, sSchema,
            Some(":key,:column,:subcolumn,:value"),
            Map(Options.Buckets -> Buckets.toString))
          tbl.deleteWhere(Array[org.apache.spark.sql.sources.Filter](
            org.apache.spark.sql.sources.In("row_key", keys.toArray[Any])))
          keys.groupBy(k => TokenRing.bucket(Codecs.encode(StringType,
              org.apache.spark.unsafe.types.UTF8String.fromString(k)), Buckets))
            .foreach { case (_, ks) =>
              val doomed = model.keys.filter(a => ks.contains(a._1)).toSeq
                .flatMap(a => winner(model(a).toSeq, Long.MaxValue)
                  .filter(!_.tomb).map(c => (a, c)))
              if (doomed.nonEmpty) {
                val dts = doomed.map(_._2.ts).max + 1
                doomed.foreach { case (a, _) =>
                  model(a) += MCell(dts, tomb = true, null)
                }
                ts = math.max(ts, dts)
              }
            }
        case _ => (0 until Buckets).foreach(b => CellStore.compactBucket(dir, b))
      }
      assert(readBackS == expectedS,
        s"super fuzz diverged from model after ts=$ts")
    }
    CellStore.dropTable(dir)
  }

  test("schema evolution under fuzz: random ADD/DROP COLUMN interleaved with writes and deletes") {
    // metadata-only evolution composed with everything else: the model
    // tracks the ACTIVE column set alongside the cells. Semantics under
    // test (pinned by the targeted ALTER specs, here under interleavings):
    // a row survives as long as ANY of its cells is live — even cells of a
    // dropped column — but only active columns project values; dropped
    // column data never resurfaces (fresh names only here; the re-add path
    // has its own drop.timestamp spec).
    val rnd = new Random(20260819)
    val wh = java.nio.file.Files.createTempDirectory("evofuzz").toString
    spark.conf.set("spark.sql.catalog.evofuzz",
      classOf[CassandraLikeCatalog].getName)
    spark.conf.set("spark.sql.catalog.evofuzz.warehouse", wh)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS evofuzz.ks")
    spark.sql("DROP TABLE IF EXISTS evofuzz.ks.t")
    spark.sql("CREATE TABLE evofuzz.ks.t (k BIGINT, c0 STRING) USING cassandralike " +
      "TBLPROPERTIES('buckets'='4','write.timestamp'='1')")
    val dir = s"$wh/ks/t"
    var active = Vector("c0") // data columns, in schema order
    var nextCol = 1
    var ts = 1L
    val cells = mutable.Map.empty[(Long, String), mutable.ArrayBuffer[MCell]]

    def bumpTs(): Unit = {
      ts += 1
      spark.sql(s"ALTER TABLE evofuzz.ks.t SET TBLPROPERTIES('write.timestamp'='$ts')")
    }

    (1 to 24).foreach { step =>
      // steps 2/5 force one ADD and one DROP so evolution is always
      // exercised regardless of the random mix
      (if (step == 2) 5 else if (step == 5) 6 else rnd.nextInt(10)) match {
        case n if n <= 3 => // INSERT a batch under the CURRENT schema
          bumpTs()
          val rows = Seq.fill(1 + rnd.nextInt(8))(rnd.nextInt(20).toLong)
            .distinct.map { k =>
              k -> active.map(c =>
                if (rnd.nextInt(4) == 0) null else s"$c-v${rnd.nextInt(100)}")
            }
          val values = rows.map { case (k, vs) =>
            (k.toString +: vs.map(v => if (v == null) "NULL" else s"'$v'"))
              .mkString("(", ",", ")")
          }.mkString(",")
          spark.sql(s"INSERT INTO evofuzz.ks.t VALUES $values")
          rows.foreach { case (k, vs) =>
            active.zip(vs).foreach { case (c, v) =>
              if (v != null)
                cells.getOrElseUpdate((k, c), mutable.ArrayBuffer.empty) +=
                  MCell(ts, tomb = false, v.getBytes("UTF-8"))
            }
          }
        case 4 | 5 => // ADD a fresh column
          val c = s"c$nextCol"; nextCol += 1
          spark.sql(s"ALTER TABLE evofuzz.ks.t ADD COLUMN $c STRING")
          active :+= c
        case 6 if active.size > 1 => // DROP a non-key column (keep one)
          val c = active(rnd.nextInt(active.size))
          spark.sql(s"ALTER TABLE evofuzz.ks.t DROP COLUMN $c")
          active = active.filterNot(_ == c)
        case 7 | 8 => // DELETE a few keys
          val keys = Seq.fill(1 + rnd.nextInt(3))(rnd.nextInt(25).toLong).distinct
          spark.sql(s"DELETE FROM evofuzz.ks.t WHERE k IN (${keys.mkString(",")})")
          keys.groupBy(k => TokenRing.bucket(Codecs.encode(LongType, k), 4))
            .foreach { case (_, ks) =>
              val doomed = cells.keys.filter(a => ks.contains(a._1)).toSeq
                .flatMap(a => winner(cells(a).toSeq, Long.MaxValue)
                  .filter(!_.tomb).map(c => (a, c)))
              if (doomed.nonEmpty) {
                val dts = doomed.map(_._2.ts).max + 1
                doomed.foreach { case (a, _) =>
                  cells(a) += MCell(dts, tomb = true, null)
                }
                ts = math.max(ts, dts)
              }
            }
        case _ =>
          (0 until 4).foreach(b => CellStore.compactBucket(dir, b))
      }
      // full read vs model: rows with any live cell; active columns project
      val got = spark.table("evofuzz.ks.t").collect().map { r =>
        r.getLong(0) -> active.indices.map(i =>
          if (r.isNullAt(i + 1)) null else r.getString(i + 1)).toVector
      }.toSet
      val liveKeys = cells.keys.map(_._1).filter { k =>
        cells.keys.filter(_._1 == k).exists(a =>
          winner(cells(a).toSeq, Long.MaxValue).exists(!_.tomb))
      }.toSet
      val want = liveKeys.map { k =>
        k -> active.map { c =>
          winner(cells.getOrElse((k, c), Nil).toSeq, Long.MaxValue)
            .filter(!_.tomb).map(m => new String(m.bytes, "UTF-8")).orNull
        }.toVector
      }
      assert(got == want,
        s"evolution fuzz diverged at step $step (active=$active, ts=$ts)")
    }
    spark.sql("DROP TABLE evofuzz.ks.t")
  }

  test("concurrent append jobs both land: uuid segments + atomic rename need no writer lock") {
    // two Spark write jobs appending disjoint key ranges at the same time:
    // every segment name is a fresh uuid and visibility is one atomic
    // rename, so concurrent appends (auto-compaction off) cannot clobber
    // each other — the read afterwards is the exact union
    val dir = "/tmp/graft_cellstore_fuzz/conc"
    CellStore.dropTable(dir)
    CellStore.writeMeta(dir, CellStore.Meta(schema.toDDL,
      ColumnMapping.auto(schema), Map(Options.Buckets -> Buckets.toString)))
    def half(lo: Long): Seq[Row] =
      (lo until lo + 500L).map(k => Row(k, k / 100.0, s"v$k"))
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val jobs = Seq(0L, 1000L).map { lo => Future {
      Seed.append(spark.createDataFrame(
        spark.sparkContext.parallelize(half(lo), 4), schema), dir,
        Map(Options.WriteTimestamp -> "1"))
    } }
    Await.result(Future.sequence(jobs), 120.seconds)
    val got = Seed.read(spark, dir).collect().map(_.getLong(0)).toSet
    val want = ((0L until 500L) ++ (1000L until 1500L)).toSet
    assert(got == want,
      s"concurrent appends lost rows: missing ${(want -- got).take(5)}, extra ${(got -- want).take(5)}")
    CellStore.dropTable(dir)
  }

  private val cSchema = StructType(Seq(
    StructField("k", StringType),
    StructField("cnt", LongType)))

  test("counter mapping: random increment/reset/compact interleavings match the summing model") {
    // counter reconciliation is SUM-over-live-increments with
    // tombstone-as-reset (increments at or below the newest tombstone ts
    // are discarded); compaction collapses increment history to one summed
    // cell. The model mirrors exactly that — timestamps are strictly
    // increasing, the regime the reset rule is defined for.
    val rnd = new Random(20260816)
    (1 to 2).foreach { trial =>
      val dir = s"/tmp/graft_cellstore_fuzz/c$trial"
      CellStore.dropTable(dir)
      CellStore.writeMeta(dir, CellStore.Meta(cSchema.toDDL,
        ColumnMapping.auto(cSchema),
        Map(Options.Buckets -> Buckets.toString, Options.CounterMerge -> "true")))
      val incs = mutable.Map.empty[String, mutable.ArrayBuffer[(Long, Long)]] // k -> (ts, inc)
      val tombTs = mutable.Map.empty[String, Long].withDefaultValue(Long.MinValue)
      var ts = 0L

      def liveSum(k: String): Option[Long] = {
        val live = incs.getOrElse(k, Nil).filter(_._1 > tombTs(k))
        if (live.isEmpty) None else Some(live.map(_._2).sum)
      }
      def expectedC: Set[(String, Long)] =
        incs.keysIterator.flatMap(k => liveSum(k).map(k -> _)).toSet
      def readBackC: Set[(String, Long)] =
        Seed.read(spark, dir).collect()
          .map(r => (r.getString(0), r.getLong(1))).toSet

      def increment(): Unit = {
        ts += 1
        val rows = Seq.fill(1 + rnd.nextInt(20)) {
          val k = s"ctr${rnd.nextInt(10)}"
          val inc = (rnd.nextInt(21) - 10).toLong // negative increments too
          Row(k, inc)
        }
        Seed.append(spark.createDataFrame(
          spark.sparkContext.parallelize(rows, 2), cSchema), dir,
          Map(Options.WriteTimestamp -> ts.toString))
        rows.foreach(r => incs.getOrElseUpdate(r.getString(0),
          mutable.ArrayBuffer.empty) += (ts -> r.getLong(1)))
      }

      def reset(): Unit = {
        val keys = Seq.fill(1 + rnd.nextInt(3))(s"ctr${rnd.nextInt(12)}").distinct
        val tbl = new CassandraLikeTable(dir, dir, cSchema, None,
          Map(Options.Buckets -> Buckets.toString, Options.CounterMerge -> "true"))
        tbl.deleteWhere(Array[org.apache.spark.sql.sources.Filter](
          org.apache.spark.sql.sources.In("k", keys.toArray[Any])))
        // per bucket: the merged cell's ts is the newest live increment's;
        // the reset tombstone lands at max(merged ts) + 1 for the bucket
        keys.groupBy(k => TokenRing.bucket(Codecs.encode(StringType,
            org.apache.spark.unsafe.types.UTF8String.fromString(k)), Buckets))
          .foreach { case (_, ks) =>
            val liveTs = ks.flatMap { k =>
              val live = incs.getOrElse(k, Nil).filter(_._1 > tombTs(k))
              if (live.isEmpty) None else Some(k -> live.map(_._1).max)
            }
            if (liveTs.nonEmpty) {
              val dts = liveTs.map(_._2).max + 1
              liveTs.foreach { case (k, _) => tombTs(k) = dts }
              ts = math.max(ts, dts)
            }
          }
      }

      (1 to 16).foreach { _ =>
        rnd.nextInt(10) match {
          case n if n <= 5 => increment()
          case 6 | 7 => reset()
          case _ => (0 until Buckets).foreach(b => CellStore.compactBucket(dir, b))
        }
        assert(readBackC == expectedC,
          s"trial $trial: counter read diverged from model after ts=$ts")
      }
      CellStore.dropTable(dir)
    }
  }
}
