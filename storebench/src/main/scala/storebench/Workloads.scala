package storebench

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources.{Filter, In}

import graft.sources.cassandralike.{CassandraLikeTable, CellStore, Options, Seed}

/** One benchmark op. `desc` names the op and its inputs, so two sequences
  * can be compared without running them. */
sealed trait Op { def kind: String; def desc: String }

/** A query: `build` makes the DataFrame through the connector's read path,
  * `expect` checks its collected rows, and `credit` gives the rows the op
  * adds to `rows_per_s` (negative: none). */
final case class ReadOp(kind: String, desc: String, build: () => DataFrame, expect: Array[Row] => Boolean,
    credit: Array[Row] => Long) extends Op

/** A store mutation; its effect is already applied to the model. */
final case class WriteOp(kind: String, desc: String, run: () => Unit, rows: Long, userBytes: Long,
    dir: String) extends Op

/** A workload: its stores, its model and its op sequence. Ops come in
  * rounds; the timed phase always ends on a round boundary, so every run
  * holds the same op mix. */
trait Workload {
  def name: String
  /** Op types whose p50s enter `p50_geomean_ms`. */
  def kinds: Seq[String]
  /** Seeds the stores and builds the model. */
  def setup(): Unit
  /** Rounds of ops drawn from `rng`. */
  def rounds(rng: Gen.Rng): Iterator[Vector[Op]]
  /** Rounds run untimed before the timed phase, from their own stream. */
  def warmRounds: Int
  /** Rounds the timed phase runs even when `--seconds` is up first. */
  def minRounds: Int = 1
  /** Store directory whose bytes on disk `space_amp` divides. */
  def mainDir: String
  /** Bytes of live keys and values the model holds for `mainDir`. */
  def liveBytes: Double
  /** Called after each timed op. Returns the `space_amp` reading, with
    * the batch it was taken after, when the op ends at the one point where
    * the workload reads it. Workloads that return none are read at the end. */
  def afterOp(op: Op): Option[(Int, Double)] = None
  /** Seed's dataset tag the stores live under. */
  def root: String
  /** Drops the stores. */
  def teardown(): Unit = CellStore.dropTable(Seed.storeRoot(root))
}

object Workloads {
  /** Rows of the lookup and scan line stores. */
  val LineRows = 100000L

  def apply(name: String, spark: SparkSession, seed: Long, root: String): Workload = name match {
    case "lookup" => new Lookup(spark, seed, root, LineRows)
    case "scan" => new Scan(spark, seed, root, LineRows)
    case "ingest" => new Ingest(spark, seed, root)
    case other => throw new IllegalArgumentException(s"unknown workload '$other' (lookup, scan, ingest)")
  }

  def read(spark: SparkSession, dir: String): DataFrame =
    spark.read.format("cassandralike").option(Options.Path, dir).load()

  /** Size of every regular file under `dir`, by path. */
  def files(dir: String): Map[String, Long] = {
    val root = Paths.get(dir)
    if (!Files.exists(root)) return Map.empty
    val s = Files.walk(root)
    try {
      import scala.jdk.CollectionConverters._
      s.iterator().asScala.filter(Files.isRegularFile(_)).map(p => p.toString -> Files.size(p)).toMap
    } finally s.close()
  }

  def dirBytes(dir: String): Long = files(dir).values.sum

  def maxSegmentsPerBucket(dir: String): Int = {
    val m = CellStore.allSegmentFiles(dir)
    if (m.isEmpty) 0 else m.values.map(_.size).max
  }

  def lineDf(spark: SparkSession, seed: Long, ids: Seq[(Long, Int)], partkeys: Int): DataFrame = {
    val rdd = spark.sparkContext.parallelize(ids, 4).map { case (id, ver) => Gen.line(seed, id, ver, partkeys).row }
    spark.createDataFrame(rdd, Gen.LineSchema)
  }

  def rangeLineDf(spark: SparkSession, seed: Long, n: Long, partkeys: Int, version: Long => Int,
      keep: Long => Boolean): DataFrame = {
    val rdd = spark.sparkContext.range(0L, n, 1L, 4).filter(keep)
      .map(id => Gen.line(seed, id, version(id), partkeys).row)
    spark.createDataFrame(rdd, Gen.LineSchema)
  }

  def sameRows(got: Array[Row], want: Seq[Row]): Boolean =
    got.length == want.length && got.map(_.toSeq).toSet == want.map(_.toSeq).toSet

  def deleteKeys(dir: String, ids: Seq[Long]): Unit = {
    val meta = CellStore.readMeta(dir).get
    val t = new CassandraLikeTable(dir, dir, org.apache.spark.sql.types.StructType.fromDDL(meta.schemaDdl),
      Some(meta.mapping), meta.properties)
    t.deleteWhere(Array[Filter](In("l_id", ids.map(Long.box).toArray[Any])))
  }
}

import Workloads._

/** Key-addressed interactive reads over a regular lineitem store with a
  * secondary index and a transposed wide-row store. Nothing is written
  * after setup. */
final class Lookup(spark: SparkSession, seed: Long, val root: String, n: Long) extends Workload {
  val name = "lookup"
  val kinds = Seq("get", "multiget", "slice", "index_get", "range_agg")
  private val partkeys = math.max(1L, n / 30).toInt
  private val SliceWidth = 20
  private val RangeWidth = 50
  private var lineDir, wideDir = ""
  private var byPart = Map.empty[Int, Seq[Long]]
  private var live = 0.0

  def mainDir: String = lineDir
  def liveBytes: Double = live
  val warmRounds = 5

  def setup(): Unit = {
    lineDir = Seed.table(spark, root, "lookup_line", rangeLineDf(spark, seed, n, partkeys, _ => 0, _ => true),
      props = Map(Options.IndexColumns -> "l_partkey"))
    val sd = seed
    val wide = spark.createDataFrame(
      spark.sparkContext.range(0L, Gen.Suppliers.toLong * Gen.WideCols, 1L, 4).map { i =>
        val s = 1 + (i / Gen.WideCols).toInt
        val c = (i % Gen.WideCols).toInt
        Row(s, c, Gen.wideVal(sd, s, c))
      }, Gen.WideSchema)
    wideDir = Seed.table(spark, root, "lookup_wide", wide, mapping = Some(Gen.WideMapping))
    // model: the inverted l_partkey index; row values come from Gen.line
    val lines = (0L until n).map(Gen.line(seed, _, 0, partkeys))
    live = lines.map(_.userBytes.toDouble).sum
    byPart = lines.groupMap(_.partkey)(_.id)
  }

  private def row(id: Long) = Gen.line(seed, id, 0, partkeys).row

  def rounds(rng: Gen.Rng): Iterator[Vector[Op]] = Iterator.continually {
    val deck = Seq.fill(8)("get") ++ Seq.fill(2)("multiget") ++ Seq.fill(2)("slice") ++
      Seq.fill(2)("index_get") :+ "range_agg"
    rng.shuffle(deck).map(op(_, rng))
  }

  private def op(kind: String, rng: Gen.Rng): Op = kind match {
    case "get" =>
      val k = rng.below(n)
      ReadOp(kind, s"get $k", () => read(spark, lineDir).filter(col("l_id") === k),
        got => sameRows(got, Seq(row(k))), _.length)
    case "multiget" =>
      val ks = Iterator.continually(rng.below(n)).distinct.take(8).toVector
      ReadOp(kind, s"multiget ${ks.mkString(",")}",
        () => read(spark, lineDir).filter(col("l_id").isin(ks: _*)), got => sameRows(got, ks.map(row)), _.length)
    case "slice" =>
      val s = 1 + rng.below(Gen.Suppliers).toInt
      val a = rng.below(Gen.WideCols - SliceWidth + 1).toInt
      val want = (a until a + SliceWidth).map(c => Row(s, c, Gen.wideVal(seed, s, c)))
      ReadOp(kind, s"slice $s $a", () => read(spark, wideDir)
        .filter(col("w_supp") === s && col("w_col") >= a && col("w_col") < a + SliceWidth),
        got => sameRows(got, want), _.length)
    case "index_get" =>
      val p = 1 + rng.below(partkeys).toInt
      ReadOp(kind, s"index_get $p", () => read(spark, lineDir).filter(col("l_partkey") === p),
        got => sameRows(got, byPart.getOrElse(p, Nil).map(row)), _.length)
    case "range_agg" =>
      val a = 1 + rng.below(Gen.Suppliers - RangeWidth + 1).toInt
      val want = Row(RangeWidth.toLong * Gen.WideCols,
        (a until a + RangeWidth).map(s => (0 until Gen.WideCols).map(c => Gen.wideVal(seed, s, c)).sum).sum)
      ReadOp(kind, s"range_agg $a", () => read(spark, wideDir)
        .filter(col("w_supp") >= a && col("w_supp") < a + RangeWidth)
        .agg(count(lit(1)), sum(col("w_val"))),
        got => sameRows(got, Seq(want)), _.length)
  }
}

/** Analytic full-store reads over an uncompacted store that holds a base
  * epoch, an overwrite epoch and a delete epoch. */
final class Scan(spark: SparkSession, seed: Long, val root: String, n: Long) extends Workload {
  val name = "scan"
  val kinds = Seq("proj_scan", "filter_group", "join")
  private val partkeys = math.max(1L, n / 30).toInt
  private val Thresholds = Seq(10, 20, 30, 40)
  private var lineDir, suppDir = ""
  private var live = 0.0
  private var liveRows = 0L
  // model answers: count and price sum by (flag, quantity) and (nation, quantity)
  private val byFlag = mutable.Map.empty[(String, Int), (Long, Long)].withDefaultValue((0L, 0L))
  private val byNation = mutable.Map.empty[(Int, Int), (Long, Long)].withDefaultValue((0L, 0L))
  private var idSum, priceSum = 0L

  def mainDir: String = lineDir
  def liveBytes: Double = live
  val warmRounds = 2

  private def deleted(id: Long) = Gen.scanDeleted(seed, id)
  private def version(id: Long) = if (Gen.scanOverwritten(seed, id)) 1 else 0

  def setup(): Unit = {
    val sd = seed
    lineDir = Seed.table(spark, root, "scan_line", rangeLineDf(spark, sd, n, partkeys, _ => 0, _ => true))
    Seed.append(rangeLineDf(spark, sd, n, partkeys, _ => 1, Gen.scanOverwritten(sd, _)), lineDir,
      Map(Options.WriteTimestamp -> "2"))
    deleteKeys(lineDir, (0L until n).filter(deleted))
    suppDir = Seed.table(spark, root, "scan_supp", spark.createDataFrame(
      spark.sparkContext.range(1L, Gen.Suppliers + 1L, 1L, 1).map(s => Gen.suppRow(sd, s.toInt)), Gen.SuppSchema))
    var id = 0L
    while (id < n) {
      if (!deleted(id)) {
        val l = Gen.line(seed, id, version(id), partkeys)
        live += l.userBytes; liveRows += 1; idSum += id; priceSum += l.price
        val f = byFlag((l.flag, l.quantity)); byFlag((l.flag, l.quantity)) = (f._1 + 1, f._2 + l.price)
        val nat = Gen.suppNation(seed, l.suppkey)
        val g = byNation((nat, l.quantity)); byNation((nat, l.quantity)) = (g._1 + 1, g._2 + l.price)
      }
      id += 1
    }
  }

  /** Deck order is seeded; the thresholds cycle from a seeded start, so
    * every few rounds hold each threshold once and runs stay comparable. */
  def rounds(rng: Gen.Rng): Iterator[Vector[Op]] = {
    val start = rng.below(Thresholds.size).toInt
    Iterator.from(0).map { i =>
      val q = Thresholds((start + i) % Thresholds.size)
      rng.shuffle(kinds).map(op(_, q))
    }
  }

  private def grouped[K](m: collection.Map[(K, Int), (Long, Long)], keep: Int => Boolean): Seq[Row] =
    m.toSeq.filter { case ((_, q), _) => keep(q) }.groupMapReduce(_._1._1)(_._2) { (a, b) => (a._1 + b._1, a._2 + b._2) }
      .toSeq.map { case (k, (c, s)) => Row(k, c, s) }

  private def op(kind: String, q: Int): Op = kind match {
    case "proj_scan" =>
      ReadOp(kind, "proj_scan", () => read(spark, lineDir).select("l_id", "l_price")
        .agg(count(lit(1)), sum(col("l_id")), sum(col("l_price"))),
        got => sameRows(got, Seq(Row(liveRows, idSum, priceSum))), _ => liveRows)
    case "filter_group" =>
      ReadOp(kind, s"filter_group $q", () => read(spark, lineDir).filter(col("l_quantity") <= q)
        .groupBy("l_flag").agg(count(lit(1)), sum(col("l_price"))),
        got => sameRows(got, grouped(byFlag, _ <= q)), _ => liveRows)
    case "join" =>
      ReadOp(kind, s"join $q", () => read(spark, lineDir).filter(col("l_quantity") > q)
        .join(read(spark, suppDir), col("l_suppkey") === col("s_suppkey"))
        .groupBy("s_nation").agg(count(lit(1)), sum(col("l_price"))),
        got => sameRows(got, grouped(byNation, _ > q)), _ => liveRows)
  }
}

/** Seeded upsert batches with overwrites and periodic key deletes into an
  * indexed, auto-compacting store, each batch read back by key. */
final class Ingest(spark: SparkSession, seed: Long, val root: String) extends Workload {
  val name = "ingest"
  val kinds = Seq("write", "readback")
  val Batch = 20000
  val Readbacks = 4
  val DeleteEvery = 5
  val DeleteKeys = 200
  val CompactMax = 4
  private val partkeys = 20000
  val warmRounds = 4
  /** `space_amp` is read right after this batch's write: every bucket then
    * holds CompactMax + 1 segments, so its commit compacts them all. By
    * then batches 2 to 5 overwrote keys and batch 4's delete left
    * tombstones, so the reading sees what compaction kept of both. */
  val AmpBatch: Int = CompactMax + 1
  /** The timed phase always reaches the reading, so it does not depend on
    * how many batches a run managed. */
  override val minRounds: Int = AmpBatch

  /** Model: version per id (-1 = never written), liveness, and live bytes. */
  private final class Model {
    val version = mutable.ArrayBuffer.empty[Int]
    val alive = mutable.BitSet.empty
    var bytes = 0.0
    def write(id: Long, ver: Int): Unit = {
      if (id == version.size) version += -1
      if (alive(id.toInt)) bytes -= Gen.line(seed, id, version(id.toInt), partkeys).userBytes
      version(id.toInt) = ver; alive += id.toInt
      bytes += Gen.line(seed, id, ver, partkeys).userBytes
    }
    def delete(id: Long): Unit = if (alive(id.toInt)) {
      bytes -= Gen.line(seed, id, version(id.toInt), partkeys).userBytes; alive -= id.toInt
    }
  }

  private var dir = ""
  private var model = new Model
  private var batchNo = 0
  private var timedWrites = 0

  def mainDir: String = dir
  def liveBytes: Double = model.bytes

  private def fresh(tag: String): Unit = {
    dir = Seed.table(spark, root, s"ingest_$tag", spark.createDataFrame(
      spark.sparkContext.emptyRDD[Row], Gen.LineSchema),
      props = Map(Options.IndexColumns -> "l_partkey", Options.CompactSegmentsMax -> CompactMax.toString))
    model = new Model
    batchNo = 0
  }

  def setup(): Unit = fresh("warm")

  /** The warm-up rounds wrote to their own store; the timed phase starts
    * from an empty one. */
  def startTimed(): Unit = { CellStore.dropTable(dir); fresh("timed") }

  def rounds(rng: Gen.Rng): Iterator[Vector[Op]] = Iterator.continually {
    batchNo += 1
    val ts = 10L * batchNo
    val m = model
    val d = dir
    val next = m.version.size.toLong
    val added = (0L until Batch / 2).map(next + _)
    val over = if (next == 0) Seq.empty[Long]
      else Iterator.continually(rng.below(next)).distinct.take(math.min(Batch / 2L, next).toInt).toVector
    val ids = (added ++ over).map(id => id -> (if (id < m.version.size) m.version(id.toInt) + 1 else 0))
    val userBytes = ids.map { case (id, v) => Gen.line(seed, id, v, partkeys).userBytes }.sum
    ids.foreach { case (id, v) => m.write(id, v) }
    val write = WriteOp("write", s"write $batchNo ${ids.size} ${ids.take(3).mkString(",")}",
      () => Seed.append(lineDf(spark, seed, ids, partkeys), d, Map(Options.WriteTimestamp -> ts.toString)),
      ids.size, userBytes, d)
    // deletes follow the write of batches 4, 9, 14, ...: the tombstones of
    // the first are in place before the compaction that AmpBatch reads
    val deletes = if (batchNo % DeleteEvery != AmpBatch - 1) Vector.empty else {
      val doomed = Iterator.continually(rng.below(m.version.size.toLong)).filter(id => m.alive(id.toInt))
        .distinct.take(DeleteKeys).toVector
      doomed.foreach(m.delete)
      Vector(WriteOp("delete", s"delete $batchNo ${doomed.take(3).mkString(",")}",
        () => deleteKeys(d, doomed), doomed.size, 0L, d))
    }
    val back = Iterator.continually(ids(rng.below(ids.size).toInt)._1).distinct.take(Readbacks).toVector.map { k =>
      val want = if (m.alive(k.toInt)) Seq(Gen.line(seed, k, m.version(k.toInt), partkeys).row) else Seq.empty
      ReadOp("readback", s"readback $k", () => read(spark, d).filter(col("l_id") === k),
        got => sameRows(got, want), _ => -1L)
    }
    (write +: deletes) ++ back
  }

  override def afterOp(op: Op): Option[(Int, Double)] = op match {
    case w: WriteOp if w.kind == "write" =>
      timedWrites += 1
      if (timedWrites != AmpBatch) None else {
        val segs = maxSegmentsPerBucket(dir)
        require(segs == 1, s"batch $AmpBatch left up to $segs segments in a bucket; its commit should compact all")
        Some((AmpBatch, dirBytes(dir) / model.bytes))
      }
    case _ => None
  }
}
