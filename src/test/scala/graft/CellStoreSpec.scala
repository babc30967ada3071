package graft

import graft.sources.cassandralike._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite

/** Pure (no Spark) tests: mapping DSL, dual codecs, wide-row pager.
  * Property-style checks run over seeded random vectors (the scalatestplus
  * scalacheck bridge is not in the offline cache). */
class CellStoreSpec extends AnyFunSuite {

  private def forAll[A](gen: scala.util.Random => A)(check: A => Unit): Unit = {
    val rnd = new scala.util.Random(42)
    (1 to 200).foreach(_ => check(gen(rnd)))
  }

  // ---- mapping DSL (FIXTURES.md §2; AbstractColumnSerDe.java:182-274) ----

  private val regularSchema = StructType.fromDDL(
    "userid STRING, name STRING, age INT, score DOUBLE")
  private val transSchema = StructType.fromDDL(
    "row_key STRING, column_name STRING, value STRING")
  private val superSchema = StructType.fromDDL(
    "row_key STRING, column_name STRING, sub_column_name STRING, value STRING")

  test("auto mapping: first column becomes :key, rest map by name") {
    assert(ColumnMapping.auto(regularSchema) == ":key,name,age,score")
  }

  test("auto mapping: row_key/column_name/value auto-transposes") {
    assert(ColumnMapping.auto(transSchema) == ":key,:column,:value")
    assert(ColumnMapping.auto(superSchema) == ":key,:column,:subcolumn,:value")
  }

  test("parse: regular fields get Cell roles; key identified") {
    val m = ColumnMapping.parse(":key,name,age,score", regularSchema)
    assert(!m.transposed)
    assert(m.keyField.name == "userid")
    assert(m.cellFields.map(_.name) == Seq("name", "age", "score"))
  }

  test("parse: transposed requires :value; mixing cells is rejected") {
    assertThrows[IllegalArgumentException](
      ColumnMapping.parse(":key,:column,foo", transSchema))
    val m = ColumnMapping.parse(":key,:column,:value", transSchema)
    assert(m.transposed && !m.hasSubColumn)
    assert(ColumnMapping.parse(":key,:column,:subcolumn,:value", superSchema).hasSubColumn)
  }

  test("parse: cf: trailing-colon requires a map column") {
    val mapSchema = StructType.fromDDL("userid STRING, props MAP<STRING,STRING>")
    val m = ColumnMapping.parse(":key,cf:", mapSchema)
    assert(m.familyMapField.map(_.name).contains("props"))
    assertThrows[IllegalArgumentException](
      ColumnMapping.parse(":key,cf:", regularSchema.add("p", StringType)))
  }

  test("parse: arity and single-:key enforced") {
    assertThrows[IllegalArgumentException](
      ColumnMapping.parse(":key,name", regularSchema))
    assertThrows[IllegalArgumentException](
      ColumnMapping.parse(":key,:key,age,score", regularSchema))
  }

  // ---- dual codecs (FIXTURES.md §3; CassandraLazy*.java) ----

  test("binary round-trip per type: decode(encode(v)) == v") {
    forAll(_.nextInt()) { i => assert(Codecs.decode(IntegerType, Codecs.encode(IntegerType, i)) == i) }
    forAll(_.nextLong()) { l => assert(Codecs.decode(LongType, Codecs.encode(LongType, l)) == l) }
    forAll(_.nextDouble() * 1e12 - 5e11) { d =>
      assert(Codecs.decode(DoubleType, Codecs.encode(DoubleType, d)) == d)
    }
    forAll(_.nextFloat() * 1e6f) { f =>
      assert(Codecs.decode(FloatType, Codecs.encode(FloatType, f)) == f)
    }
    forAll(_.nextBoolean()) { b => assert(Codecs.decode(BooleanType, Codecs.encode(BooleanType, b)) == b) }
    forAll(r => r.alphanumeric.take(r.nextInt(30)).mkString) { s =>
      val u = UTF8String.fromString(s)
      assert(Codecs.decode(StringType, Codecs.encode(StringType, u)) == u)
    }
    // timestamps: millis precision survives the bridge (micros truncate)
    forAll(r => math.abs(r.nextLong()) % 1000000000000L * 1000L) { micros =>
      assert(Codecs.decode(TimestampType, Codecs.encode(TimestampType, micros)) == micros)
    }
  }

  test("text fallback: ASCII digits decode when width mismatches") {
    assert(Codecs.decode(IntegerType, "12345".getBytes) == 12345)
    assert(Codecs.decode(LongType, "9876543".getBytes) == 9876543L)
    assert(Codecs.decode(DoubleType, "3.5".getBytes) == 3.5)
    assert(Codecs.decode(BooleanType, "true".getBytes) == true)
    assert(Codecs.decode(BooleanType, "False".getBytes) == false)
  }

  test("ambiguous width: binary wins (4 ASCII digits as int)") {
    val bytes = "1234".getBytes // exactly 4 bytes
    val expected = java.nio.ByteBuffer.wrap(bytes).getInt // NOT 1234
    assert(Codecs.decode(IntegerType, bytes) == expected)
    assert(expected != 1234)
    // 8 ASCII digits as bigint: binary wins too
    val b8 = "12345678".getBytes
    assert(Codecs.decode(LongType, b8) == java.nio.ByteBuffer.wrap(b8).getLong)
  }

  test("garbage decodes to null, not an exception") {
    assert(Codecs.decode(IntegerType, "xyz".getBytes) == null)
    assert(Codecs.decode(LongType, Array[Byte](1, 2, 3)) == null)
    assert(Codecs.decode(DoubleType, "not-a-number".getBytes) == null)
    assert(Codecs.decode(BooleanType, "maybe".getBytes) == null)
    assert(Codecs.decode(TimestampType, "2024-nope".getBytes) == null)
  }

  test("text round-trip: decode(encodeText(v)) == v when widths differ") {
    val u = UTF8String.fromString("hello")
    assert(Codecs.decode(StringType, Codecs.encodeText(StringType, u)) == u)
    assert(Codecs.decode(IntegerType, Codecs.encodeText(IntegerType, 42)) == 42)
    assert(Codecs.decode(DoubleType, Codecs.encodeText(DoubleType, 123.25)) == 123.25)
    assert(Codecs.decode(BooleanType, Codecs.encodeText(BooleanType, true)) == true)
  }

  test("validator rendering (T2)") {
    assert(Codecs.validatorString("Int32Type", Codecs.encode(IntegerType, 7)).toString == "7")
    assert(Codecs.validatorString("LongType", Codecs.encode(LongType, 99L)).toString == "99")
    assert(Codecs.validatorString("UTF8Type", "abc".getBytes).toString == "abc")
    assert(Codecs.validatorString("BytesType", Array[Byte](0x0a, 0x7f)).toString == "0a7f")
  }

  // ---- wide-row pager (S4; ColumnFamilyWideRowRecordReader.java:240-385) ----

  private def cell(i: Int): Cell =
    Cell("k".getBytes, f"c$i%06d".getBytes, null, s"v$i".getBytes, 1L, tombstone = false)

  private def pagedFetch(cells: IndexedSeq[Cell])(start: Array[Byte], cnt: Int): Seq[Cell] = {
    val from = if (start == null) cells
    else cells.dropWhile(c => Codecs.compareBytes(c.col, start) < 0)
    from.take(cnt)
  }

  test("pager yields every cell exactly once across page boundaries") {
    for (n <- Seq(0, 1, 99, 100, 101, 250, 2500)) {
      val cells = (0 until n).map(cell)
      val got = new WideRowIterator(pagedFetch(cells), 100).toSeq
      assert(got.size == n, s"n=$n")
      assert(got.map(c => new String(c.col)) == cells.map(c => new String(c.col)))
    }
  }

  test("pager terminates on ghost re-fetch (no-progress guard)") {
    // a fetch that always returns the same full page must not loop forever
    val one = (0 until 100).map(cell)
    val it = new WideRowIterator((_, cnt) => one.take(cnt), 100)
    assert(it.size == 100)
  }

  test("pager crosses page boundaries inside super column groups losslessly") {
    // super cells share a column name across sub-cells; with 7 subs per
    // column and page size 10 every page boundary falls mid-group — the
    // col-only paging form truncated the row at exactly one page (the sf1
    // super-pivot regression)
    def sup(c: Int, s: Int) = Cell("k".getBytes, f"c$c%03d".getBytes,
      f"s$s%02d".getBytes, Array[Byte](1), 1L, tombstone = false)
    val cells = for (c <- 0 until 40; s <- 0 until 7) yield sup(c, s)
    val got = new WideRowIterator(pagedFetch(cells.toIndexedSeq), 10).toSeq
    assert(got.size == cells.size, s"paged ${got.size} of ${cells.size} super cells")
    assert(got.map(x => (new String(x.col), new String(x.sub))) ==
      cells.map(x => (new String(x.col), new String(x.sub))))
    // one column group larger than the whole page: the re-fetch widens
    // geometrically until it clears the group instead of stalling
    val big = (0 until 35).map(s => sup(0, s)) ++ (0 until 7).map(s => sup(1, s))
    val got2 = new WideRowIterator(pagedFetch(big.toIndexedSeq), 10).toSeq
    assert(got2.size == big.size, s"paged ${got2.size} of ${big.size}")
  }

  // ---- store merge: LWW + tombstones ----

  private def seg(dir: String, name: String, runs: Seq[Cell]*): Unit = {
    val sst = java.nio.file.Paths.get(dir, CellStore.SstDir)
    java.nio.file.Files.createDirectories(sst)
    val out = CellStore.newSegmentStream(sst.resolve(name))
    runs.foreach(CellStore.writeRun(out, _))
    out.close()
  }

  test("segment merge: last-write-wins and tombstone skip") {
    val dir = java.nio.file.Files.createTempDirectory("cellstore").toString
    try {
      val k = "key1".getBytes
      seg(dir, "b0-a.bin", Seq(
        Cell(k, "c1".getBytes, null, "old".getBytes, 1L, tombstone = false),
        Cell(k, "c2".getBytes, null, "keep".getBytes, 1L, tombstone = false),
        Cell(k, "c3".getBytes, null, "dead".getBytes, 1L, tombstone = false)))
      seg(dir, "b0-b.bin", Seq(
        Cell(k, "c1".getBytes, null, "new".getBytes, 2L, tombstone = false),
        Cell(k, "c3".getBytes, null, null, 2L, tombstone = true)))
      val merged = CellStore.mergedBucket(dir, 0)
      assert(merged.map(c => new String(c.col) -> new String(c.value)).toMap ==
        Map("c1" -> "new", "c2" -> "keep"))
    } finally CellStore.dropTable(dir)
  }

  test("run format: writeRun sorts, runOffsets indexes, readSegment replays") {
    val dir = java.nio.file.Files.createTempDirectory("cellruns").toString
    try {
      val k = "k".getBytes
      def c(col: String, v: String) =
        Cell(k, col.getBytes, null, v.getBytes, 1L, tombstone = false)
      // two runs in one segment, each written UNSORTED
      seg(dir, "b0-a.bin",
        Seq(c("c3", "3"), c("c1", "1")),
        Seq(c("c2", "2"), c("c0", "0"), c("c4", "4")))
      val file = CellStore.segmentFiles(dir, 0).head
      val offs = CellStore.runOffsets(file)
      assert(offs.map(_._2) == Seq(2, 3))
      // stored order is per-run sorted
      assert(CellStore.readSegment(file).map(x => new String(x.col)).toSeq ==
        Seq("c1", "c3", "c0", "c2", "c4"))
      // the merge interleaves runs back into global address order
      assert(CellStore.mergedBucket(dir, 0).map(x => new String(x.col)) ==
        Seq("c0", "c1", "c2", "c3", "c4"))
    } finally CellStore.dropTable(dir)
  }

  test("k-way merge reconciles duplicates across and within runs") {
    val dir = java.nio.file.Files.createTempDirectory("cellkway").toString
    try {
      val k1 = "a".getBytes; val k2 = "b".getBytes
      def c(k: Array[Byte], col: String, v: String, ts: Long, dead: Boolean = false) =
        Cell(k, col.getBytes, null, if (dead) null else v.getBytes, ts, dead)
      // same address twice within one run (ts tie -> max value bytes wins)
      seg(dir, "b0-a.bin", Seq(c(k1, "x", "m", 1), c(k1, "x", "z", 1)))
      // three more segments overlapping both keys
      seg(dir, "b0-b.bin", Seq(c(k1, "x", "old", 0), c(k2, "y", "keep", 1)))
      seg(dir, "b0-c.bin", Seq(c(k2, "z", "dead", 5)), Seq(c(k1, "w", "live", 1)))
      seg(dir, "b0-d.bin", Seq(c(k2, "z", "", 6, dead = true)))
      val merged = CellStore.mergedBucket(dir, 0)
        .map(x => (new String(x.key), new String(x.col), new String(x.value)))
      assert(merged == Seq(("a", "w", "live"), ("a", "x", "z"), ("b", "y", "keep")))
    } finally CellStore.dropTable(dir)
  }

  test("compactSegment collapses runs to one, keeps tombstones, reconciles dups") {
    val dir = java.nio.file.Files.createTempDirectory("cellcompact").toString
    try {
      val k = "k".getBytes
      def c(col: String, v: String, ts: Long, dead: Boolean = false) =
        Cell(k, col.getBytes, null, if (dead) null else v.getBytes, ts, dead)
      seg(dir, "b0-a.bin",
        Seq(c("c2", "keep", 1), c("c1", "old", 1)),
        Seq(c("c1", "new", 2), c("c3", "", 2, dead = true)),
        Seq(c("c4", "x", 1)))
      val file = CellStore.segmentFiles(dir, 0).head
      CellStore.compactSegment(file)
      assert(CellStore.runOffsets(file).size == 1)
      val cells = CellStore.readSegment(file).toSeq
      assert(cells.map(x => new String(x.col)) == Seq("c1", "c2", "c3", "c4"))
      val byCol = cells.map(x => new String(x.col) -> x).toMap
      assert(new String(byCol("c1").value) == "new") // within-segment LWW
      assert(byCol("c3").tombstone) // tombstones survive compaction
      // idempotent on a single-run segment
      CellStore.compactSegment(file)
      assert(CellStore.readSegment(file).size == 4)
    } finally CellStore.dropTable(dir)
  }

  test("compactBucket merges all segments into one and drops tombstones") {
    val dir = java.nio.file.Files.createTempDirectory("bucketcompact").toString
    try {
      val k = "k".getBytes
      def c(col: String, v: String, ts: Long, dead: Boolean = false) =
        Cell(k, col.getBytes, null, if (dead) null else v.getBytes, ts, dead)
      seg(dir, "b0-a.bin", Seq(c("c1", "old", 1), c("c2", "keep", 1)))
      seg(dir, "b0-b.bin", Seq(c("c1", "new", 2), c("c2", "", 2, dead = true)))
      val before = CellStore.mergedBucket(dir, 0)
      CellStore.compactBucket(dir, 0)
      assert(CellStore.segmentFiles(dir, 0).size == 1)
      val file = CellStore.segmentFiles(dir, 0).head
      assert(CellStore.runOffsets(file).size == 1)
      // whole-bucket compaction drops tombstones entirely
      assert(CellStore.readSegment(file).forall(!_.tombstone))
      // the merged view is unchanged
      val after = CellStore.mergedBucket(dir, 0)
      assert(after.map(x => (new String(x.col), new String(x.value))) ==
        before.map(x => (new String(x.col), new String(x.value))))
      assert(after.map(x => new String(x.col)) == Seq("c1"))
    } finally CellStore.dropTable(dir)
  }

  test("counter.merge: increments sum across segments; compaction preserves sums") {
    val dir = java.nio.file.Files.createTempDirectory("countermerge").toString
    try {
      CellStore.writeMeta(dir, CellStore.Meta(
        "row_key STRING, column_name STRING, value BIGINT", ":key,:column,:value",
        Map("counter.merge" -> "true")))
      def inc(k: String, col: String, v: Long, ts: Long) =
        Cell(k.getBytes, col.getBytes, null,
          java.nio.ByteBuffer.allocate(8).putLong(v).array(), ts, tombstone = false)
      def tomb(k: String, col: String, ts: Long) =
        Cell(k.getBytes, col.getBytes, null, Array.emptyByteArray, ts, tombstone = true)
      def totals(): Map[(String, String), Long] = {
        val it = new CellStore.BucketMergeIterator(dir, 0, counterMerge = true)
        try it.map(c => ((new String(c.key), new String(c.col)),
          java.nio.ByteBuffer.wrap(c.value).getLong)).toMap
        finally it.close()
      }
      // two segments, multiple runs, duplicate addresses incl. same-ts dups
      // (two increments in one write job share the job timestamp — both count)
      seg(dir, "b0-a.bin", Seq(inc("k1", "hits", 5, 1), inc("k1", "hits", 7, 1)),
        Seq(inc("k2", "hits", 1, 1)))
      seg(dir, "b0-b.bin", Seq(inc("k1", "hits", 3, 2), inc("k2", "hits", 4, 2)))
      assert(totals() == Map(("k1", "hits") -> 15L, ("k2", "hits") -> 5L))
      // tombstone resets: increments at/below the delete ts are gone, newer sum
      seg(dir, "b0-c.bin", Seq(tomb("k1", "hits", 3), inc("k1", "hits", 10, 4)))
      assert(totals() == Map(("k1", "hits") -> 10L, ("k2", "hits") -> 5L))
      // segment-scope compaction must NOT collapse counter runs (LWW would
      // eat increments; a partial collapse can't keep the tombstone honest)
      val segA = CellStore.segmentFiles(dir, 0).find(_.getFileName.toString == "b0-a.bin").get
      CellStore.compactSegment(segA)
      assert(CellStore.runOffsets(segA).size == 2, "counter segment was collapsed")
      // full-bucket compaction collapses exactly: one segment, sums intact
      CellStore.compactBucket(dir, 0)
      assert(CellStore.segmentFiles(dir, 0).size == 1)
      assert(totals() == Map(("k1", "hits") -> 10L, ("k2", "hits") -> 5L))
      // post-compaction the store holds ONE cell per live address
      val cells = CellStore.readSegment(CellStore.segmentFiles(dir, 0).head)
      assert(cells.size == 2 && cells.forall(!_.tombstone))
      // appends after compaction keep summing
      seg(dir, "b0-d.bin", Seq(inc("k2", "hits", 100, 5)))
      assert(totals() == Map(("k1", "hits") -> 10L, ("k2", "hits") -> 105L))
    } finally CellStore.dropTable(dir)
  }

  test("compaction rewrites the indexed run format: runInfos/rangeRun/sampleKeys round-trip") {
    val dir = java.nio.file.Files.createTempDirectory("cellidx").toString
    try {
      def c(i: Int) = Cell(f"k$i%04d".getBytes, "c".getBytes, null,
        s"v$i".getBytes, 1L, tombstone = false)
      // 1000 keys across 3 runs -> compacted single run must carry a sparse
      // index in the SAME format writeRun emits (the r4 regression was a
      // second run writer lagging a format revision)
      seg(dir, "b0-a.bin",
        (0 until 400).map(c), (400 until 800).map(c), (800 until 1000).map(c))
      val file = CellStore.segmentFiles(dir, 0).head
      CellStore.compactSegment(file)
      val infos = CellStore.runInfos(file)
      assert(infos.size == 1 && infos.head.cellCount == 1000)
      assert(infos.head.indexByteLen > 0)
      val r = new CellStore.SegmentReader(file)
      try {
        val idx = r.readIndex(infos.head)
        assert(idx.cellPos.toSeq == (0 until 1000 by CellStore.IndexEvery).toSeq)
        assert(new String(idx.lastKey) == "k0999")
        // seek into the middle of the compacted run via the index
        val ranged = r.rangeRun(infos.head, KeyWindows.span("k0100".getBytes, "k0200".getBytes))
          .map(x => new String(x.key)).toSeq
        assert(ranged == (100 until 200).map(i => f"k$i%04d"))
      } finally r.close()
      assert(CellStore.meta(file).sample.nonEmpty)
    } finally CellStore.dropTable(dir)
  }

  test("rangeRun: any random tiling of key space reproduces the full run exactly") {
    // property guard for the index-seek class of bug (round 5 shipped an
    // off-by-one that dropped everything before the last index entry when
    // a partition bound EQUALED an indexed key): for random cell sets —
    // including heavy duplicate-key runs — and random tilings whose bounds
    // deliberately include EXACT cell keys, concatenating the ranges must
    // equal the whole run, cell for cell
    val rnd = new scala.util.Random(4242)
    for (trial <- 1 to 5) {
      val dir = java.nio.file.Files.createTempDirectory(s"cellprop$trial").toString
      try {
        val nKeys = 1 + rnd.nextInt(6) // few keys => many duplicates per key
        val n = 300 + rnd.nextInt(700)
        val cells = (0 until n).map { i =>
          Cell(f"k${rnd.nextInt(nKeys)}%04d".getBytes, f"c$i%06d".getBytes, null,
            s"v$i".getBytes, 1L, tombstone = false)
        }
        seg(dir, "b0-a.bin", cells)
        val file = CellStore.segmentFiles(dir, 0).head
        CellStore.compactSegment(file)
        val ri = CellStore.runInfos(file).head
        val r = new CellStore.SegmentReader(file)
        try {
          val full = r.rangeRun(ri, KeyWindows.All)
            .map(c => (new String(c.key), new String(c.col))).toVector
          // random bounds drawn FROM the present keys (worst case: equal keys)
          val keys = full.map(_._1).distinct.sorted
          val nb = rnd.nextInt(4)
          val bounds = Seq.fill(nb)(keys(rnd.nextInt(keys.length))).distinct.sorted
          val lowers = (null: String) +: bounds
          val uppers = bounds :+ (null: String)
          val tiled = lowers.zip(uppers).flatMap { case (lo, hi) =>
            r.rangeRun(ri, KeyWindows.span(
              if (lo == null) null else lo.getBytes,
              if (hi == null) null else hi.getBytes))
              .map(c => (new String(c.key), new String(c.col))).toVector
          }
          assert(tiled == full,
            s"trial $trial: tiling over bounds $bounds lost/duplicated cells " +
              s"(${tiled.size} vs ${full.size})")
        } finally r.close()
      } finally CellStore.dropTable(dir)
    }
  }

  test("corrupt, truncated, or wrong-version segments fail fast (no livelock)") {
    val dir = java.nio.file.Files.createTempDirectory("cellcorrupt").toString
    try {
      val sst = java.nio.file.Paths.get(dir, CellStore.SstDir)
      def cells = (0 until 300).map(i => Cell(f"k$i%04d".getBytes, "c".getBytes,
        null, s"v$i".getBytes, 1L, tombstone = false))
      seg(dir, "b0-good.bin", cells)
      val good = sst.resolve("b0-good.bin")

      // bad magic: arbitrary bytes are rejected up front
      java.nio.file.Files.write(sst.resolve("bad.bin"),
        Array.fill[Byte](64)(0x5a))
      val e1 = intercept[java.io.IOException](CellStore.runInfos(sst.resolve("bad.bin")))
      assert(e1.getMessage.contains("magic"))

      // stale format version: crisp error naming the version
      val vOut = new java.io.DataOutputStream(
        java.nio.file.Files.newOutputStream(sst.resolve("oldver.bin")))
      vOut.writeInt(CellStore.SegmentMagic); vOut.writeInt(CellStore.FormatVersion - 1)
      vOut.writeInt(3); vOut.writeLong(10L); vOut.close()
      val e2 = intercept[java.io.IOException](CellStore.runInfos(sst.resolve("oldver.bin")))
      assert(e2.getMessage.contains("version"))

      // truncated payload: EOFException, NOT an infinite skip loop (the r4
      // failure mode: skip() returns 0 at EOF forever)
      val full = java.nio.file.Files.readAllBytes(good)
      java.nio.file.Files.write(sst.resolve("trunc.bin"), full.take(full.length - 50))
      intercept[java.io.EOFException](CellStore.runInfos(sst.resolve("trunc.bin")))
    } finally CellStore.dropTable(dir)
  }

  test("meta.json round-trips schema, mapping, properties") {
    val dir = java.nio.file.Files.createTempDirectory("cellmeta").toString
    try {
      val meta = CellStore.Meta("a BIGINT,b STRING", ":key,b",
        Map("buckets" -> "8", "consistency" -> "QUORUM", "odd \"quote\"" -> "v\nnl"))
      CellStore.writeMeta(dir, meta)
      assert(CellStore.readMeta(dir).contains(meta))
    } finally CellStore.dropTable(dir)
  }

  // ---- KeyWindows: point-lookup segment-range pruning ----

  private def kw(fs: Array[org.apache.spark.sql.sources.Filter],
      lo: Array[Byte], hi: Array[Byte]): KeyWindows =
    KeyWindows.of("userid", KeyCodec(StringType, ordered = false), fs).within(lo, hi)
  private def kb(fs: Array[org.apache.spark.sql.sources.Filter],
      lo: Array[Byte], hi: Array[Byte]): (Array[Byte], Array[Byte]) = {
    val w = kw(fs, lo, hi)
    assert(!w.isEmpty)
    (w.spans.head._1, w.spans.last._2)
  }
  private def enc(s: String): Array[Byte] =
    Codecs.encode(StringType, UTF8String.fromString(s))
  private def cmpB(a: Array[Byte], b: Array[Byte]) = Codecs.compareBytes(a, b)

  test("KeyWindows: bytes int/long/timestamp comparisons are exact across zero and the extremes") {
    import org.apache.spark.sql.sources._
    import org.apache.spark.sql.types.{DataType, IntegerType, LongType, TimestampType}
    val ops: Seq[(String, (String, Any) => Filter, (Long, Long) => Boolean)] = Seq(
      (">", GreaterThan(_, _), _ > _), (">=", GreaterThanOrEqual(_, _), _ >= _),
      ("<", LessThan(_, _), _ < _), ("<=", LessThanOrEqual(_, _), _ <= _))
    // stored values (timestamps: whole millis, as the writer stores them)
    // and the bounds compared against them, in the field's Catalyst unit
    def check(dt: DataType, stored: Seq[Long], bounds: Seq[Long], lit: Long => Any): Unit = {
      val codec = KeyCodec(dt, ordered = false)
      def cat(v: Long): Any = if (dt == IntegerType) v.toInt else v
      for ((name, op, holds) <- ops; b <- bounds) {
        val w = KeyWindows.of("k", codec, Array(op("k", lit(b))))
        assert(w.spans.length <= 2)
        stored.foreach(v => assert(w.contains(codec.encode(cat(v))) == holds(v, b),
          s"${dt.simpleString}: $v $name $b"))
      }
    }
    val ints = Seq(Int.MinValue.toLong, Int.MinValue + 1L, -1001L, -1000L, -2L, -1L, 0L, 1L,
      2L, 1000L, Int.MaxValue - 1L, Int.MaxValue.toLong)
    check(IntegerType, ints, ints, _.toInt)
    val longs = Seq(Long.MinValue, Long.MinValue + 1, -1L << 40, -3L, -1L, 0L, 1L, 3L,
      1L << 40, Long.MaxValue - 1, Long.MaxValue)
    check(LongType, longs, longs, identity)
    check(TimestampType, Seq(-3000000L, -2000L, -1000L, 0L, 1000L, 2000L, 3000000L),
      Seq(Long.MinValue, -2500L, -2000L, -1999L, -1001L, -1L, 0L, 1L, 999L, 1000L, 1001L,
        2500L, Long.MaxValue), identity)
    // a timestamp equality with sub-milli micros matches no stored key
    val ts = KeyCodec(TimestampType, ordered = false)
    assert(KeyWindows.of("k", ts, Array(EqualTo("k", 1500L))).isEmpty)
    assert(KeyWindows.of("k", ts, Array(EqualTo("k", 2000L))).points.length == 1)
    // conjuncts intersect: a sign-crossing range is two windows, a
    // one-value range is a point
    val lc = KeyCodec(LongType, ordered = false)
    assert(KeyWindows.of("k", lc, Array(GreaterThanOrEqual("k", -5L), LessThan("k", 5L)))
      .spans.length == 2)
    val one = KeyWindows.of("k", lc, Array(GreaterThanOrEqual("k", 5L), LessThanOrEqual("k", 5L)))
    assert(one.points.toSeq.map(_.toSeq) == Seq(Codecs.encode(LongType, 5L).toSeq))
  }

  test("key bounds: EqualTo narrows to [k, k+0x00) — exactly the key") {
    import org.apache.spark.sql.sources.EqualTo
    val (lo, hi) = kb(Array(EqualTo("userid", "m")), null, null)
    assert(cmpB(lo, enc("m")) == 0)
    assert(cmpB(hi, enc("m") :+ 0.toByte) == 0)
    // admits k itself, rejects its neighbors and prefix-extensions
    assert(cmpB(enc("m"), lo) >= 0 && cmpB(enc("m"), hi) < 0)
    assert(cmpB(enc("l"), lo) < 0)
    assert(cmpB(enc("ma"), hi) >= 0)
  }

  test("key bounds: In spans [min, succ(max)); non-key filters leave range") {
    import org.apache.spark.sql.sources.{GreaterThan, In}
    val (lo, hi) = kb(Array(In("userid", Array("g", "c", "t"))), null, null)
    assert(cmpB(lo, enc("c")) == 0 && cmpB(hi, enc("t") :+ 0.toByte) == 0)
    val (l2, h2) = kb(Array(GreaterThan("age", 3)), null, null)
    assert(l2 == null && h2 == null)
  }

  test("key bounds: conjuncts intersect; contradictions collapse to empty") {
    import org.apache.spark.sql.sources.{EqualTo, In}
    // EqualTo AND In -> the shared key survives as the envelope
    val (lo, hi) = kb(Array(EqualTo("userid", "g"), In("userid", Array("a", "g"))), null, null)
    assert(cmpB(lo, enc("g")) == 0 && cmpB(hi, enc("g") :+ 0.toByte) == 0)
    // two different EqualTo -> no window at all
    assert(kw(Array(EqualTo("userid", "a"), EqualTo("userid", "b")), null, null).isEmpty)
  }

  test("key bounds: partition sub-split range only ever tightens") {
    import org.apache.spark.sql.sources.EqualTo
    // partition range sits entirely above the key -> empty after intersect
    assert(kw(Array(EqualTo("userid", "b")), enc("m"), null).isEmpty)
    // no filters -> partition range passes through untouched
    val (l2, h2) = kb(Array.empty, enc("a"), enc("z"))
    assert(cmpB(l2, enc("a")) == 0 && cmpB(h2, enc("z")) == 0)
  }

  // ---- per-run key blooms (SSTable bloom; Cassandra read-path parity) ----

  test("key bloom: zero false negatives; false-positive rate near design point") {
    val rnd = new scala.util.Random(7)
    val present = (0 until 5000).map(i => s"key-$i-${rnd.nextLong()}".getBytes)
    val b = new KeyBloom.Builder
    present.foreach(b.add)
    val bloom = b.build()
    assert(bloom.numKeys == 5000)
    present.foreach(k => assert(bloom.mightContain(k), "false negative"))
    val absent = (0 until 5000).map(i => s"other-$i-${rnd.nextLong()}".getBytes)
    val fp = absent.count(bloom.mightContain).toDouble / absent.size
    // 10 bits/key, 4 probes -> ~1.2% theoretical; allow generous slack
    assert(fp < 0.05, s"false-positive rate $fp")
  }

  test("key bloom: round-trips through writeRun and the compacted single-run format") {
    val dir = java.nio.file.Files.createTempDirectory("cellbloom").toString
    try {
      def c(i: Int) = Cell(f"k$i%04d".getBytes, "c".getBytes, null,
        s"v$i".getBytes, 1L, tombstone = false)
      seg(dir, "b0-a.bin", (0 until 300).map(c), (300 until 600).map(c))
      val file = CellStore.segmentFiles(dir, 0).head
      def checkBlooms(): Unit = {
        val blooms = CellStore.meta(file).blooms
        assert(blooms.forall(_ != null))
        blooms.zip(Seq(0 until 300, 300 until 600).take(blooms.length)).foreach {
          case (bl, range) =>
            range.foreach(i => assert(bl.mightContain(f"k$i%04d".getBytes)))
        }
        // a key outside every run is rejected by at least the run not holding it
        assert(!blooms.head.mightContain("k0450".getBytes))
      }
      checkBlooms()
      // compaction (the streaming SegmentWriter) re-emits a bloom
      CellStore.compactSegment(file)
      val blooms = CellStore.meta(file).blooms
      assert(blooms.length == 1 && blooms.head != null)
      assert(blooms.head.numKeys == 600)
      (0 until 600).foreach(i => assert(blooms.head.mightContain(f"k$i%04d".getBytes)))
      // any single absent key can be a ~1% false positive; assert the rate
      val fps = (0 until 200).count(i => blooms.head.mightContain(s"missing-$i".getBytes))
      assert(fps < 10, s"$fps/200 false positives")
    } finally CellStore.dropTable(dir)
  }

  test("key bloom: pre-bloom index blocks (no tail) parse with bloom = null and still scan") {
    // hand-rolled segment in the PRE-bloom layout: run header + payload +
    // index WITHOUT the optional bloom tail — the back-compat contract is
    // that such files keep working, just without run skipping
    val dir = java.nio.file.Files.createTempDirectory("cellprebloom").toString
    try {
      val sst = java.nio.file.Paths.get(dir, CellStore.SstDir)
      java.nio.file.Files.createDirectories(sst)
      val cells = (0 until 10).map(i => Cell(f"k$i%02d".getBytes, "c".getBytes,
        null, s"v$i".getBytes, 1L, tombstone = false))
      val payload = new java.io.ByteArrayOutputStream()
      val pout = new java.io.DataOutputStream(payload)
      cells.foreach(CellStore.writeCell(pout, _))
      val index = new java.io.ByteArrayOutputStream()
      val iout = new java.io.DataOutputStream(index)
      iout.writeInt(1)                       // one sparse entry: cell 0
      iout.writeInt(0); iout.writeLong(0L)
      iout.writeInt(3); iout.write("k00".getBytes)
      iout.writeInt(3); iout.write("k09".getBytes) // lastKey — then NO tail
      val out = CellStore.newSegmentStream(sst.resolve("b0-old.bin"))
      out.writeInt(cells.length)
      out.writeLong(payload.size().toLong)
      out.writeInt(index.size())
      payload.writeTo(out); index.writeTo(out)
      out.close()
      assert(CellStore.meta(CellStore.segmentFiles(dir, 0).head).blooms.toSeq == Seq(null))
      // point lookup over a bloom-less run falls back to the range scan
      val it = new CellStore.BucketMergeIterator(dir, 0,
        KeyWindows.points(Seq("k03".getBytes)))
      try assert(it.map(c => new String(c.value)).toSeq == Seq("v3"))
      finally it.close()
    } finally CellStore.dropTable(dir)
  }

  test("key bloom: point lookups skip runs that provably lack the key, exactly") {
    val dir = java.nio.file.Files.createTempDirectory("cellbloomskip").toString
    try {
      def c(k: String, v: String, ts: Long, dead: Boolean = false) =
        Cell(k.getBytes, "c".getBytes, null, if (dead) null else v.getBytes, ts, dead)
      // three segments; "kmid" sits INSIDE every run's [first, last] key
      // range, so the sparse index alone cannot prune — only the bloom can
      seg(dir, "b0-a.bin", Seq(c("kaaa", "a1", 1), c("kzzz", "z1", 1)))
      seg(dir, "b0-b.bin", Seq(c("kaaa", "a2", 2), c("kmid", "m1", 2), c("kzzz", "z2", 2)))
      seg(dir, "b0-c.bin", Seq(c("kmid", "", 3, dead = true), c("kzzz", "z3", 3)))
      val key = "kmid".getBytes
      val files = CellStore.segmentFiles(dir, 0)
      val holds = files.map(f => CellStore.meta(f).blooms.exists(_.mightContain(key)))
      assert(holds == Seq(false, true, true), "bloom must separate the segments")
      // bloom-pruned lookup reconciles identically: the seg-c tombstone
      // (ts 3) must still shadow seg-b's live cell (ts 2). Mirror the real
      // reader: the key set is a list of point windows [k, succ(k)).
      def lookup(keys: Seq[Array[Byte]]) = {
        val it = new CellStore.BucketMergeIterator(dir, 0, KeyWindows.points(keys))
        try it.map(x => (new String(x.key), new String(x.value))).toSeq
        finally it.close()
      }
      assert(lookup(Seq(key)).isEmpty, "tombstone must survive bloom pruning")
      assert(lookup(Seq("kaaa".getBytes)) == Seq(("kaaa", "a2")))
      // multi-key (IN) lookup: the envelope spans kmid, whose tombstone
      // must still win under pruning; the two live keys come back exact
      assert(lookup(Seq("kaaa".getBytes, "kzzz".getBytes)) ==
        Seq(("kaaa", "a2"), ("kzzz", "z3")))
      // absent key: every run rejected, nothing scanned, nothing returned
      assert(lookup(Seq("nope".getBytes)).isEmpty)
    } finally CellStore.dropTable(dir)
  }

  test("keySet: finite pushed key sets intersect; ranges yield null") {
    import org.apache.spark.sql.sources.{EqualTo, GreaterThan, In}
    def ks(fs: Array[org.apache.spark.sql.sources.Filter],
        lo: Array[Byte] = null, hi: Array[Byte] = null) =
      Option(kw(fs, lo, hi).points).map(_.toSeq.map(new String(_)).sorted)
    assert(ks(Array(EqualTo("userid", "m"))).contains(Seq("m")))
    assert(ks(Array(In("userid", Array("c", "g", "t")))).contains(Seq("c", "g", "t")))
    // conjuncts intersect (AND semantics)
    assert(ks(Array(EqualTo("userid", "g"), In("userid", Array("a", "g"))))
      .contains(Seq("g")))
    assert(ks(Array(EqualTo("userid", "a"), EqualTo("userid", "b"))).contains(Nil))
    // partition sub-range drops keys outside it
    assert(ks(Array(In("userid", Array("a", "m", "z"))), lo = enc("b"), hi = enc("n"))
      .contains(Seq("m")))
    // no finite key conjunct -> null (range scans must not bloom-prune)
    assert(ks(Array(GreaterThan("userid", "a"))).isEmpty)
    assert(ks(Array.empty).isEmpty)
  }

  test("staging files are invisible to segment listings, whatever their shape") {
    import java.nio.file.{Files, Paths}
    val dir = Files.createTempDirectory("graft-staging").toString
    val sst = Paths.get(dir, CellStore.SstDir)
    Files.createDirectories(sst)
    // committed segments plus every staging convention in the codebase and
    // the crash-leftover shapes that burned earlier rounds
    Seq("b0-aaaa.bin", "b1-cccc.bin",             // committed
        "b0-bbbb.bin.compact",                    // old compactBucket staging
        "tmp-compact-xxxx-b0.bin",                // new compactBucket staging
        "tmp-yyyy-b0.bin",                        // writer/deleteWhere staging
        "b0-dddd.bin.tmp"                         // pre-advisor deleteWhere shape
    ).foreach(n => Files.createFile(sst.resolve(n)))
    assert(CellStore.segmentFiles(dir, 0).map(_.getFileName.toString) ==
      Seq("b0-aaaa.bin"))
    assert(CellStore.allSegmentFiles(dir).view.mapValues(
      _.map(_.getFileName.toString)).toMap ==
      Map(0 -> Seq("b0-aaaa.bin"), 1 -> Seq("b1-cccc.bin")))
  }
}
