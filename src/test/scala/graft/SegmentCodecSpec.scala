package graft

import java.nio.file.{Files, Path}

import graft.sources.cassandralike._
import org.scalatest.funsuite.AnyFunSuite

/** Pure (no Spark) round-trip fuzz of the segment codec: the streaming run
  * encoder ([[CellStore.SegmentWriter]], [[CellStore.writeRun]]) against
  * the block cursor behind every read ([[CellStore.SegmentReader]]). Cells
  * carry null, empty and large fields (some larger than the cursor's block,
  * so it must grow), tombstones and extreme or negative timestamps. */
class SegmentCodecSpec extends AnyFunSuite {

  private type Norm = (Seq[Byte], Option[Seq[Byte]], Option[Seq[Byte]],
    Option[Seq[Byte]], Long, Boolean)
  private def norm(c: Cell): Norm =
    (c.key.toSeq, Option(c.col).map(_.toSeq), Option(c.sub).map(_.toSeq),
      Option(c.value).map(_.toSeq), c.ts, c.tombstone)

  /** Equality without printing both (large) sides on failure. */
  private def same(a: Seq[Norm], b: Seq[Norm], what: String): Unit = {
    val ok = a == b
    assert(ok, s"$what: ${a.size} cells read, ${b.size} expected")
  }

  private def bytes(rnd: scala.util.Random, n: Int): Array[Byte] = {
    val b = new Array[Byte](n); rnd.nextBytes(b); b
  }

  /** A field: null, empty, large (past the cursor's 32 KB block) or short. */
  private def field(rnd: scala.util.Random, nullable: Boolean): Array[Byte] =
    rnd.nextInt(40) match {
      case 0 if nullable => null
      case 1 | 2 => Array.emptyByteArray
      case 3 if rnd.nextInt(8) == 0 => bytes(rnd, 33000 + rnd.nextInt(60000))
      case _ => bytes(rnd, 1 + rnd.nextInt(6))
    }

  private val extremeTs = Array(Long.MinValue, Long.MaxValue, -1L, 0L, 1L)

  /** Address-distinct cells in address order: wide rows over a small key
    * pool (so column seeks have spans to skip) plus a few large keys. */
  private def genCells(rnd: scala.util.Random, n: Int): Vector[Cell] = {
    val keys = Vector.fill(30)(bytes(rnd, rnd.nextInt(9))) ++
      Vector.fill(2)(bytes(rnd, 34000 + rnd.nextInt(4000)))
    val cols = Vector.fill(50)(bytes(rnd, 1 + rnd.nextInt(4)))
    val cells = Vector.fill(n) {
      val key = if (rnd.nextInt(200) == 0) keys(30 + rnd.nextInt(2)) else keys(rnd.nextInt(30))
      val col = if (rnd.nextInt(10) == 0) field(rnd, nullable = false) else cols(rnd.nextInt(cols.length))
      val ts = if (rnd.nextInt(4) == 0) extremeTs(rnd.nextInt(extremeTs.length)) else rnd.nextLong()
      val tomb = rnd.nextInt(6) == 0
      Cell(key, col, field(rnd, nullable = true),
        if (tomb) null else field(rnd, nullable = true), ts, tomb)
    }
    // distinct addresses (a null sub addresses like an empty one)
    val seen = scala.collection.mutable.HashSet.empty[(Seq[Byte], Seq[Byte], Seq[Byte])]
    cells.filter(c => seen.add((c.key.toSeq, c.col.toSeq,
      Option(c.sub).getOrElse(Array.emptyByteArray).toSeq)))
      .sorted(CellStore.addressOrdering)
  }

  /** Cut `cells` into in-order spills of 1 to 300 cells. */
  private def spills(rnd: scala.util.Random, cells: Vector[Cell]): Seq[Vector[Cell]] = {
    val out = Vector.newBuilder[Vector[Cell]]
    var rest = cells
    while (rest.nonEmpty) {
      val (a, b) = rest.splitAt(1 + rnd.nextInt(300))
      out += a; rest = b
    }
    out.result()
  }

  private def withDir(body: Path => Unit): Unit = {
    val dir = Files.createTempDirectory("segcodec")
    try body(dir) finally CellStore.dropTable(dir.toString)
  }

  private def writeWith(f: Path)(body: CellStore.SegmentWriter => Unit): Int = {
    val w = new CellStore.SegmentWriter(f)
    try { body(w); w.runs } finally w.close()
  }

  test("codec round-trip: whole and spilled writes are byte-identical and read back exactly") {
    withDir { dir =>
      (0 until 6).foreach { trial =>
        val rnd = new scala.util.Random(7000 + trial)
        val cells = genCells(rnd, 800 + rnd.nextInt(3000))
        val whole = dir.resolve(s"whole-$trial.bin")
        val spilled = dir.resolve(s"spilled-$trial.bin")
        val viaRun = dir.resolve(s"run-$trial.bin")
        assert(writeWith(whole)(_.append(cells)) == 1)
        val parts = spills(rnd, cells)
        assert(writeWith(spilled)(w => parts.foreach(w.append)) == 1,
          s"trial $trial: ${parts.size} in-order spills must extend one run")
        val out = CellStore.newSegmentStream(viaRun)
        try CellStore.writeRun(out, rnd.shuffle(cells)) finally out.close()
        val wholeBytes = Files.readAllBytes(whole)
        assert(java.util.Arrays.equals(wholeBytes, Files.readAllBytes(spilled)),
          s"trial $trial: spilled write differs from the whole write")
        assert(java.util.Arrays.equals(wholeBytes, Files.readAllBytes(viaRun)),
          s"trial $trial: writeRun differs from the streaming writer")

        val expected = cells.map(norm)
        same(CellStore.readSegment(spilled).map(norm), expected, s"trial $trial: full read")
        val r = new CellStore.SegmentReader(spilled)
        try {
          // key seeks: present keys (a large one included) and absent keys
          val present = cells.map(_.key).distinctBy(_.toSeq)
          val want = CellStore.sortedDistinct(
            rnd.shuffle(present).take(5) ++ present.filter(_.length > 1000).take(1) ++
              Seq(bytes(rnd, 3), bytes(rnd, 10)))
          val byKey = r.rangeRuns(KeyWindows.points(want)).flatMap(_.toSeq).map(norm)
          same(byKey, cells.filter(c => CellStore.sortedContains(want, c.key)).map(norm),
            s"trial $trial: key seek")
          // column seeks: the seek skips spans, the exact filter stays downstream
          val colSet = CellStore.sortedDistinct(
            rnd.shuffle(cells.map(_.col).distinctBy(_.toSeq)).take(3) :+ bytes(rnd, 7))
          def inCols(c: Cell) = CellStore.sortedContains(colSet, c.col)
          val c = new ScanCounters
          val byCol = r.rangeRuns(KeyWindows.All, counters = c, cols = KeyWindows.points(colSet))
            .flatMap(_.toSeq).filter(inCols).map(norm)
          same(byCol, cells.filter(inCols).map(norm), s"trial $trial: column seek")
          // key and column seek together
          val both = r.rangeRuns(KeyWindows.points(want), cols = KeyWindows.points(colSet))
            .flatMap(_.toSeq).filter(inCols).map(norm)
          same(both, cells.filter(x => inCols(x) &&
            CellStore.sortedContains(want, x.key)).map(norm), s"trial $trial: key + column seek")
        } finally r.close()
      }
    }
  }

  test("a spill that does not sort after the open run starts a new run; compaction folds them") {
    withDir { dir =>
      val rnd = new scala.util.Random(7100)
      val cells = genCells(rnd, 2000)
      val sst = Files.createDirectories(dir.resolve(CellStore.SstDir))
      val whole = sst.resolve("whole.bin")
      writeWith(whole)(_.append(cells))
      // two interleaved halves: the second half's first spill sorts inside
      // the run the first half built, so it opens a second run, which the
      // rest of the second half extends
      val (odd, even) = cells.zipWithIndex.partition(_._2 % 2 == 1)
      val parts = spills(rnd, odd.map(_._1)) ++ spills(rnd, even.map(_._1))
      val split = sst.resolve("split.bin")
      val runs = writeWith(split)(w => parts.foreach(w.append))
      assert(runs == 2)
      assert(CellStore.runInfos(split).size == runs)
      same(CellStore.readSegment(split).sorted(CellStore.addressOrdering).map(norm),
        cells.map(norm), "split read")
      CellStore.compactSegment(split)
      assert(CellStore.runInfos(split).size == 1)
      assert(java.util.Arrays.equals(Files.readAllBytes(split), Files.readAllBytes(whole)),
        "compacting the split segment must give the whole write's bytes")
    }
  }

  test("a writer that saw no cell leaves one empty run") {
    withDir { dir =>
      val f = dir.resolve("empty.bin")
      assert(writeWith(f)(_ => ()) == 0)
      val infos = CellStore.runInfos(f)
      assert(infos.size == 1 && infos.head.cellCount == 0)
      assert(CellStore.readSegment(f).isEmpty)
    }
  }

  test("cells out of address order are rejected by the encoder") {
    withDir { dir =>
      val a = Cell("a".getBytes, "c".getBytes, null, "v".getBytes, 1L, tombstone = false)
      val b = a.copy(key = "b".getBytes)
      val w = new CellStore.SegmentWriter(dir.resolve("order.bin"))
      try {
        w.add(b)
        intercept[IllegalArgumentException](w.add(a))
      } finally w.close()
    }
  }

  test("a corrupt cell length in a committed segment makes the scan throw, naming file and offset") {
    withDir { dir =>
      val sst = dir.resolve(CellStore.SstDir)
      Files.createDirectories(sst)
      val cells = (0 until 300).map(i => Cell(f"k$i%04d".getBytes, "c".getBytes,
        null, s"v$i".getBytes, 1L, tombstone = false))
      val good = sst.resolve("b0-good.bin")
      writeWith(good)(_.append(cells))
      val clean = Files.readAllBytes(good)
      assert(CellStore.mergedBucket(dir.toString, 0).size == 300)
      // the first cell's key length sits right after the segment and run
      // headers; its col length follows the 5-byte key
      val keyLenAt = (CellStore.SegmentHeaderLen + 16).toInt
      val colLenAt = keyLenAt + 4 + 5
      def corrupt(at: Int, len: Int): Unit = {
        val b = clean.clone()
        java.nio.ByteBuffer.wrap(b).putInt(at, len)
        Files.write(good, b)
        CellStore.clearPlannerCaches()
        val e = intercept[java.io.IOException](CellStore.mergedBucket(dir.toString, 0))
        assert(e.getMessage.contains(good.getFileName.toString) &&
          e.getMessage.contains(s"offset $at"), e.getMessage)
      }
      corrupt(keyLenAt, -2) // below -1: only -1 (null) is ever written
      corrupt(keyLenAt, 0xff000005) // a flipped high byte
      corrupt(colLenAt, Int.MinValue)
      corrupt(colLenAt, clean.length) // past the end of the file
      // mid-run: the key length of the cell at the second index entry
      val reader = new CellStore.SegmentReader(good)
      try {
        val ri = CellStore.runInfos(good).head
        val idx = reader.readIndex(ri)
        assert(idx.cellPos(0) == 0 && idx.cellPos(1) == CellStore.IndexEvery)
        corrupt((ri.payloadOffset + idx.offsets(1)).toInt, -7)
      } finally reader.close()
    }
  }
}
