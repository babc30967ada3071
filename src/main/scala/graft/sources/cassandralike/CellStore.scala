package graft.sources.cassandralike

import java.io._
import java.nio.ByteBuffer
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}
import java.util.UUID

import scala.collection.mutable
import scala.util.hashing.MurmurHash3

/** One stored cell. `sub == null` for standard cells; `tombstone` marks a
  * deletion (last-write-wins with live cells by timestamp). */
final case class Cell(
    key: Array[Byte],
    col: Array[Byte],
    sub: Array[Byte],
    value: Array[Byte],
    ts: Long,
    tombstone: Boolean)

/** Token ring: 32-bit murmur of the key spread over `buckets` contiguous
  * ranges. The bucket is the unit of scan parallelism (the reference's
  * token-range input split, input/HiveCassandraStandardColumnInputFormat
  * .java:131-189) and of write fan-out. Key-equality predicates prune to a
  * single bucket — partition pruning the reference never had (SURVEY §4). */
object TokenRing {
  def token(key: Array[Byte]): Long =
    MurmurHash3.bytesHash(key, 9001).toLong & 0xffffffffL
  def bucket(key: Array[Byte], buckets: Int): Int =
    ((token(key) * buckets) >>> 32).toInt
  /** Routing with an optional RANGE layout (`range.bounds`): bucket =
    * number of bounds <= the encoded key (bounds sorted ascending in the
    * table's key byte form, so with an order-preserving encoding bucket b
    * covers the key interval [bounds(b-1), bounds(b)) — what lets a pushed
    * key range prune to O(covered buckets) instead of touching the whole
    * ring). `bounds = null` is the default hash ring. */
  def bucket(key: Array[Byte], buckets: Int, bounds: Array[Array[Byte]]): Int =
    if (bounds == null) bucket(key, buckets)
    else {
      var lo = 0
      var hi = bounds.length
      while (lo < hi) {
        val m = (lo + hi) >>> 1
        if (Codecs.compareBytes(bounds(m), key) <= 0) lo = m + 1 else hi = m
      }
      lo
    }
}

/** Per-run key bloom filter — the SSTable bloom of Cassandra's read path
  * (a point read consults the bloom before touching an SSTable at all).
  * ~10 bits / 4 probes per distinct key (~1% false positives), double
  * hashing over two murmur-derived 64-bit hashes. No false negatives: a
  * key written into the run always probes true, so skipping a run whose
  * bloom rejects every looked-up key is exact. At LSM scale most segments
  * of a bucket do NOT hold a given key — blooms make `WHERE key = ?` read
  * O(segments that match), not O(all segments). */
final class KeyBloom(val words: Array[Long], val numKeys: Int) {
  private val mBits = words.length.toLong * 64L
  private def bit(i: Long): Boolean = {
    val m = java.lang.Math.floorMod(i, mBits)
    (words((m >>> 6).toInt) & (1L << (m & 63L))) != 0L
  }
  def mightContain(key: Array[Byte]): Boolean = {
    val (h1, h2) = KeyBloom.hashes(key)
    var i = 0
    while (i < KeyBloom.Probes) {
      if (!bit(h1 + i.toLong * h2)) return false
      i += 1
    }
    true
  }
}

object KeyBloom {
  val BitsPerKey = 10
  val Probes = 4

  /** Two independent 64-bit hashes of the key, each from two 32-bit murmur
    * passes with distinct seeds; probe i addresses bit h1 + i*h2 (classic
    * Kirsch–Mitzenmacher double hashing). */
  def hashes(key: Array[Byte]): (Long, Long) = {
    val a = MurmurHash3.bytesHash(key, 0x9747b28c).toLong
    val b = MurmurHash3.bytesHash(key, 0x5bd1e995).toLong & 0xffffffffL
    val c = MurmurHash3.bytesHash(key, 0xc2b2ae35).toLong
    val d = MurmurHash3.bytesHash(key, 0x27d4eb2f).toLong & 0xffffffffL
    ((a << 32) | b, (c << 32) | d)
  }

  /** Streaming builder: buffers the two 64-bit hashes per distinct key
    * (16 bytes/key) so the bloom can be sized exactly once the run's key
    * count is known — the writers stream cells and don't know it upfront.
    * The buffer is 12.8× the final bloom (1.25 bytes/key) and bounded by
    * the run's distinct keys, the same order as the in-memory index-entry
    * buffer the writers already carry. */
  final class Builder {
    private val hs = mutable.ArrayBuffer.empty[Long]
    def add(key: Array[Byte]): Unit = {
      val (h1, h2) = hashes(key); hs += h1; hs += h2
    }
    def build(): KeyBloom = {
      val n = hs.length / 2
      val mBits = math.max(64L, n.toLong * BitsPerKey)
      val words = new Array[Long](((mBits + 63L) / 64L).toInt)
      val cap = words.length.toLong * 64L
      var j = 0
      while (j < hs.length) {
        val h1 = hs(j); val h2 = hs(j + 1)
        var i = 0
        while (i < Probes) {
          val m = java.lang.Math.floorMod(h1 + i.toLong * h2, cap)
          words((m >>> 6).toInt) |= (1L << (m & 63L))
          i += 1
        }
        j += 2
      }
      new KeyBloom(words, n)
    }
  }
}

/** On-disk layout of one cassandralike table:
  *
  * {{{
  *   <dir>/meta.json              schema DDL + mapping + options
  *   <dir>/sst/b<bucket>-<uuid>.bin   immutable cell-segment files
  * }}}
  *
  * Segments are append-created, immutable once committed (SSTable
  * discipline); a read of a bucket merges all its segments with
  * last-write-wins per (key, col, sub) — the same reconciliation Cassandra
  * performs across SSTables. Writers emit one temp file per touched bucket
  * and rename on task commit, so failed task attempts leave no visible data
  * (Spark-task-retry-based fault tolerance; replaces the reference's broken
  * client failover, SURVEY §8 / client/CassandraProxyClient.java:424-466).
  *
  * A segment is a sequence of SORTED RUNS — each `batch_mutate`-sized flush
  * is sorted by cell address and written behind a `[cellCount, byteLen]`
  * header. Reads k-way-merge every run of the bucket through a priority
  * queue ([[BucketMergeIterator]]), reconciling duplicate addresses by
  * timestamp as they surface, so scan memory is O(runs + one row's cells),
  * never O(bucket) — the property that keeps a 100-TB scan inside executor
  * memory regardless of bucket size.
  */
object CellStore {
  val MetaFile = "meta.json"
  val SstDir = "sst"

  /** Every segment file starts with `[int magic][int version]`. A reader that
    * sees anything else fails fast with a crisp IOException instead of
    * misparsing cell data — the integrity posture of the reference, where a
    * truncated read surfaces an IOException rather than spinning
    * (input/CassandraHiveRecordReader.java error paths). Bump the version on
    * any layout change so old readers reject new files and vice versa. */
  val SegmentMagic = 0x43534547 // "CSEG"
  val FormatVersion = 2
  val SegmentHeaderLen = 8L

  /** THE one way to open a segment file for appending runs — writes the
    * segment header so every writer (task flush, compaction, tests) produces
    * the same format. */
  def newSegmentStream(file: Path): DataOutputStream = {
    val out = new DataOutputStream(new BufferedOutputStream(
      Files.newOutputStream(file), 1 << 16))
    out.writeInt(SegmentMagic)
    out.writeInt(FormatVersion)
    out
  }

  /** Total order on cell addresses: (key, col, sub) in unsigned-byte
    * (Cassandra BytesType comparator) order. */
  val addressOrdering: Ordering[Cell] = new Ordering[Cell] {
    def compare(a: Cell, b: Cell): Int = {
      val k = Codecs.compareBytes(a.key, b.key)
      if (k != 0) return k
      val c = Codecs.compareBytes(a.col, b.col)
      if (c != 0) return c
      Codecs.compareBytes(
        if (a.sub == null) Array.emptyByteArray else a.sub,
        if (b.sub == null) Array.emptyByteArray else b.sub)
    }
  }

  private def addrEq(a: Cell, b: Cell): Boolean = addressOrdering.compare(a, b) == 0

  // ---- segment file format: [int cellCount][long byteLen][cells…]* runs ----

  /** Cell encoding: key, col, sub and value as `[int len][bytes]` (len -1 =
    * null), then `[long ts][byte tombstone]`. */
  def writeCell(out: DataOutputStream, c: Cell): Unit = {
    val b = new Array[Byte](cellSize(c))
    putCell(c, b, 0)
    out.write(b)
  }

  private def fieldSize(b: Array[Byte]): Int = if (b == null) 4 else 4 + b.length

  private def cellSize(c: Cell): Int =
    fieldSize(c.key) + fieldSize(c.col) + fieldSize(c.sub) + fieldSize(c.value) + 9

  private def putInt(b: Array[Byte], at: Int, v: Int): Unit = {
    b(at) = (v >>> 24).toByte; b(at + 1) = (v >>> 16).toByte
    b(at + 2) = (v >>> 8).toByte; b(at + 3) = v.toByte
  }

  private def getInt(b: Array[Byte], at: Int): Int =
    ((b(at) & 0xff) << 24) | ((b(at + 1) & 0xff) << 16) |
      ((b(at + 2) & 0xff) << 8) | (b(at + 3) & 0xff)

  private def putField(b: Array[Byte], at: Int, f: Array[Byte]): Int =
    if (f == null) { putInt(b, at, -1); at + 4 }
    else {
      putInt(b, at, f.length)
      System.arraycopy(f, 0, b, at + 4, f.length)
      at + 4 + f.length
    }

  /** Encode `c` into `b` from `at`, which must have [[cellSize]] bytes free;
    * returns the end offset. */
  private def putCell(c: Cell, b: Array[Byte], at: Int): Int = {
    var p = putField(b, at, c.key)
    p = putField(b, p, c.col)
    p = putField(b, p, c.sub)
    p = putField(b, p, c.value)
    putInt(b, p, (c.ts >>> 32).toInt)
    putInt(b, p + 4, c.ts.toInt)
    b(p + 8) = if (c.tombstone) 1 else 0
    p + 9
  }

  /** Streaming encoder of ONE sorted run: cells arrive in address order
    * (checked per cell), are encoded into a block buffer that drains to
    * `sink` in bulk, and feed every index tail on the same pass — the
    * sparse (key, col, sub) entries every [[IndexEvery]] cells, the key
    * bloom, the column and sub windows and chunked blooms, KPFX/VSUM
    * prefixes, VMMX and CVAL value tails, TSRG and STAT. `drainTo(buf, n)`
    * receives the encoded payload in blocks. [[finish]] drains the rest
    * and returns the index block; the caller writes the run
    * header `[count][payloadLen][indexLen]` in front of the payload. Memory
    * is the block buffer plus O(cells / IndexEvery + distinct keys) of
    * index state, however many cells stream through — the one run builder
    * behind [[writeRun]] and [[SegmentWriter]]. */
  private final class RunEncoder(drainTo: (Array[Byte], Int) => Unit) {
    private var buf = new Array[Byte](1 << 16)
    private var len = 0
    var count = 0
    var payloadLen = 0L
    /** The last cell added (null before the first). */
    var last: Cell = null
    private val entries = mutable.ArrayBuffer.empty[IndexEntry]
    private val bloom = new KeyBloom.Builder
    private val colBloom = new ColBloomBuilder
    private val subBloom = new ColBloomBuilder
    private var colMin: Array[Byte] = null
    private var colMax: Array[Byte] = null
    private var subMin: Array[Byte] = null
    private var subMax: Array[Byte] = null
    // exact content stats for the STAT tail: distinct = adjacency changes
    private var tombs = 0
    private var dKeys = 0
    private var dAddrs = 0
    // KPFX/VSUM positional tails: per entry, the distinct-key count and
    // value-sum of every cell BEFORE it (prefix forms — what lets a
    // boundary search answer "how many keys / how much value below x"
    // positionally), plus whether the entry's own cell starts a new key (a
    // hot key can straddle the entry boundary, and the reader must know
    // whether to count it again). The value sum tracks 8-byte big-endian
    // longs only and is dropped whole on any other value shape or on Long
    // overflow — a partial sum would be a wrong answer, an absent tail only
    // costs the fold.
    private val kPrefix = mutable.ArrayBuffer.empty[Int]
    private val kStart = mutable.ArrayBuffer.empty[Boolean]
    private val vPrefix = mutable.ArrayBuffer.empty[Long]
    private val vals = new ValueTailBuilder
    private val colVals = new ColValTailBuilder
    private var tsMin = Long.MaxValue
    private var tsMax = Long.MinValue

    def add(c: Cell): Unit = {
      val k = if (last == null) 1 else Codecs.compareBytes(c.key, last.key)
      if (k < 0 || (k == 0 && addressOrdering.compare(last, c) > 0))
        throw new IllegalArgumentException(
          s"run cells out of address order at cell $count")
      val newKey = k != 0
      if (count % IndexEvery == 0) {
        entries += IndexEntry(count, payloadLen, c.key, c.col, c.sub)
        kPrefix += dKeys
        kStart += newKey
        vPrefix += vals.sum
        vals.startSpan()
        colVals.startSpan()
      }
      if (newKey) { bloom.add(c.key); dKeys += 1 }
      if (newKey || !eqNullable(last.col, c.col) || !eqNullable(last.sub, c.sub))
        dAddrs += 1
      if (c.tombstone) tombs += 1
      if (c.ts < tsMin) tsMin = c.ts
      if (c.ts > tsMax) tsMax = c.ts
      vals.add(c)
      colVals.add(c)
      colBloom.add(count, c.col)
      subBloom.add(count, c.sub)
      if (c.col != null) {
        if (colMin == null || Codecs.compareBytes(c.col, colMin) < 0) colMin = c.col
        if (colMax == null || Codecs.compareBytes(c.col, colMax) > 0) colMax = c.col
      }
      if (c.sub != null) {
        if (subMin == null || Codecs.compareBytes(c.sub, subMin) < 0) subMin = c.sub
        if (subMax == null || Codecs.compareBytes(c.sub, subMax) > 0) subMax = c.sub
      }
      val n = cellSize(c)
      if (len + n > buf.length) {
        drain()
        if (n > buf.length) buf = new Array[Byte](n)
      }
      len = putCell(c, buf, len)
      payloadLen += n
      count += 1
      last = c
    }

    private def drain(): Unit = { drainTo(buf, len); len = 0 }

    /** Drain the payload; the run's index block. `certifiedDeletes` (see
      * [[writeRun]]) is written only when every cell is a tombstone. */
    def finish(certifiedDeletes: Boolean): Array[Byte] = {
      drain()
      serializeIndex(entries.toSeq, if (last == null) null else last.key,
        bloom.build(),
        colMin, colMax, colBloom.build(), subMin, subMax, subBloom.build(),
        tombs, dKeys, dAddrs,
        kPrefix.toArray, kStart.toArray,
        if (vals.sumOk) vPrefix.toArray else null, if (vals.sumOk) vals.sum else 0L,
        vals, colVals.result(),
        certifiedDeletes = certifiedDeletes && tombs == count,
        tsMin = tsMin, tsMax = tsMax)
    }
  }

  /** Append one sorted run (the order invariant is enforced here), with its
    * sparse key index and per-run key bloom.
    *
    * `certifiedDeletes = true` marks the run as a CERTIFIED DELETE EPOCH —
    * the caller asserts that EVERY cell is a tombstone that shadows a cell
    * VISIBLE at write time (the address existed live, the tombstone's
    * timestamp strictly exceeds that cell's), and that when a key's cells
    * are tombstoned, ALL of that key's then-visible cells are tombstoned
    * in this same run. [[graft.sources.cassandralike.CassandraLikeTable
    * .deleteWhere]] satisfies this by construction (it reads the doomed
    * visible cells and stamps max-ts+1); nothing else may set it. The
    * marker is what lets positional counts NET OUT deletions
    * ([[summarize]] under `netted`) instead of declining to the
    * fold until compaction. It is written only when the run is genuinely
    * all-tombstone. */
  def writeRun(out: DataOutputStream, cells: Seq[Cell],
      certifiedDeletes: Boolean = false): Unit = {
    if (cells.isEmpty) return
    val payload = new ByteArrayOutputStream(64 * cells.length)
    val enc = new RunEncoder(payload.write(_, 0, _))
    cells.sorted(addressOrdering).foreach(enc.add)
    val index = enc.finish(certifiedDeletes)
    out.writeInt(enc.count)
    out.writeLong(enc.payloadLen)
    out.writeInt(index.length)
    payload.writeTo(out)
    out.write(index)
  }

  /** Null-safe byte-array equality (sub is null on non-super cells). */
  private def eqNullable(a: Array[Byte], b: Array[Byte]): Boolean =
    (a eq b) || (a != null && b != null && java.util.Arrays.equals(a, b))

  private def writeBytes(out: DataOutputStream, b: Array[Byte]): Unit =
    if (b == null) out.writeInt(-1)
    else { out.writeInt(b.length); out.write(b) }

  /** A `[int len][bytes]` field; only -1 (null) is a valid negative
    * length, so any other one is corruption, never a silent null. */
  private def readBytes(in: DataInputStream): Array[Byte] = {
    val n = in.readInt()
    if (n == -1) null
    else if (n < 0) throw new IOException(s"corrupt field length $n")
    else { val b = new Array[Byte](n); in.readFully(b); b }
  }

  /** One sorted run of a segment: `[int cellCount][long payloadLen]
    * [int indexByteLen]` header, the cell payload, then a sparse key index —
    * `[int numEntries]` entries of `(int cellPos, long payloadOffset,
    * key bytes)` every [[IndexEvery]] cells (always including cell 0) plus
    * the run's last key. The index is what lets a key-range partition seek
    * into the middle of a run and lets the planner sample key quantiles
    * without touching cell data. */
  final case class RunInfo(payloadOffset: Long, cellCount: Int,
      indexOffset: Long, indexByteLen: Int)

  /** One sparse-index entry: the full (key, col, sub) address prefix of the
    * cell at `cellPos` plus its payload offset. */
  final case class IndexEntry(cellPos: Int, offset: Long,
      key: Array[Byte], col: Array[Byte], sub: Array[Byte])

  final case class RunIndex(cellPos: Array[Int], offsets: Array[Long],
      keys: Array[Array[Byte]], lastKey: Array[Byte],
      bloom: KeyBloom /* null on pre-bloom files */,
      cols: Array[Array[Byte]] = null /* (key, col)-prefixed entries; null on pre-col files */,
      colMin: Array[Byte] = null /* run-wide min/max column (Cassandra's */,
      colMax: Array[Byte] = null /* sstable min/max clustering); null = legacy */,
      colBlooms: Array[KeyBloom] = null /* per-CHUNK distinct-column blooms (one chunk = colChunkCells cells; a single-chunk run stores the legacy run-wide CBLM form); null = legacy */,
      colChunkCells: Int = 0 /* cells per bloom chunk; Int.MaxValue for a run-wide CBLM bloom */,
      subs: Array[Array[Byte]] = null /* per-entry sub bytes; null = legacy or no non-null subs */,
      subMin: Array[Byte] = null /* run-wide min/max SUB-column window */,
      subMax: Array[Byte] = null /* (super mappings); null = legacy or none */,
      subBlooms: Array[KeyBloom] = null /* per-chunk distinct-SUB blooms; null = legacy */,
      subChunkCells: Int = 0,
      statTombstones: Int = -1 /* exact per-run content stats (STAT tail); */,
      statKeys: Int = -1 /* -1 = legacy run (stats unknown) — the */,
      statAddrs: Int = -1 /* metadata-only aggregate path declines */,
      keyPrefix: Array[Int] = null /* per-entry distinct keys BEFORE the entry (KPFX); null = legacy */,
      keyStart: Array[Boolean] = null /* per-entry: does the entry's cell start a new key? */,
      valSums: Array[Long] = null /* per-entry value-sum prefix (VSUM); null = legacy or non-8-byte/overflowing values */,
      valTotal: Long = 0L /* whole-run value sum; valid iff valSums != null */,
      valMins: Array[Long] = null /* per-SPAN value min/max (VMMX); null = legacy or non-8-byte values */,
      valMaxs: Array[Long] = null,
      valMin: Long = 0L /* run-wide value min/max; valid iff valMins != null */,
      valMax: Long = 0L,
      colVals: Array[ColValIdx] = null /* per-COLUMN value stats (CVAL); null = legacy or over-cap */,
      certDeletes: Boolean = false /* certified delete-epoch run (DCRT) */,
      tsMin: Long = 0L /* run-wide cell-timestamp window (TSRG); */,
      tsMax: Long = 0L /* valid iff hasTsRange */,
      hasTsRange: Boolean = false)

  val IndexEvery = 128
  private val RunHeaderLen = 16L

  /** Run directory of a segment, found by skipping payload+index
    * header-to-header (no cell parse). Validates the segment magic/version
    * and every run header; any mismatch or truncation throws a crisp
    * IOException — a corrupt file must never be silently misparsed (the r4
    * regression) or spun on (the skip loop is progress-checked). */
  def runInfos(file: Path): IndexedSeq[RunInfo] = {
    val in = new DataInputStream(new BufferedInputStream(Files.newInputStream(file), 1 << 12))
    try {
      val magic = try in.readInt() catch {
        case _: EOFException => throw new IOException(s"truncated segment header: $file")
      }
      if (magic != SegmentMagic)
        throw new IOException(f"not a cassandralike segment (magic 0x$magic%08x): $file")
      val version = in.readInt()
      if (version != FormatVersion)
        throw new IOException(s"unsupported segment format version $version (want $FormatVersion): $file")
      val runs = mutable.ArrayBuffer.empty[RunInfo]
      var offset = SegmentHeaderLen
      var done = false
      while (!done) {
        val count = try in.readInt() catch { case _: EOFException => done = true; 0 }
        if (!done) {
          val len = in.readLong()
          val idxLen = in.readInt()
          if (count < 0 || len < 0 || idxLen < 0)
            throw new IOException(
              s"corrupt run header (count=$count payload=$len index=$idxLen) at offset $offset: $file")
          runs += RunInfo(offset + RunHeaderLen, count, offset + RunHeaderLen + len, idxLen)
          var toSkip = len + idxLen
          while (toSkip > 0) {
            val skipped = in.skip(toSkip)
            if (skipped > 0) toSkip -= skipped
            else if (in.read() == -1)
              throw new EOFException(
                s"truncated segment (run at offset $offset short by $toSkip bytes): $file")
            else toSkip -= 1
          }
          offset += RunHeaderLen + len + idxLen
        }
      }
      runs.toIndexedSeq
    } finally in.close()
  }

  /** (payload offset, cell count) view of [[runInfos]]. */
  def runOffsets(file: Path): Seq[(Long, Int)] =
    meta(file).runs.map(ri => (ri.payloadOffset, ri.cellCount))

  /** Index block layout: `[int numEntries](int pos, long off, key)* lastKey`
    * then an OPTIONAL bloom tail `[int numKeys][int numWords][long words…]`
    * then an OPTIONAL column tail `[int ColsMagic](col bytes)*` — the COL
    * of each indexed cell, making every entry a (key, col) address prefix
    * so a point slice over a very wide row can seek past whole index spans
    * (see [[SegmentReader.rangeRun]]'s column seek). The block is
    * length-prefixed in the run header, so every tail is self-describing by
    * remaining bytes: readers of older files get `bloom = null` /
    * `cols = null`, and an older reader of a new file simply stops after
    * the tails it knows — compatible both ways, no format-version bump
    * (the magic int disambiguates the col tail from any future bloom-less
    * layout). */
  private val ColsMagic = 0x434f4c53 // "COLS"
  private val ColRangeMagic = 0x43524e47 // "CRNG"
  private val ColBloomMagic = 0x43424c4d // "CBLM" (run-wide, single chunk)
  private val ColBlockBloomMagic = 0x43424242 // "CBBB" (per-chunk blooms)
  private val SubRangeMagic = 0x53524e47 // "SRNG" (run-wide [subMin, subMax])
  private val SubsMagic = 0x53554253 // "SUBS" (per-entry sub bytes)
  private val SubBloomMagic = 0x53424c4d // "SBLM" (per-chunk distinct-sub blooms)
  private val KeyPrefixMagic = 0x4b504658 // "KPFX" (per-entry distinct-key prefixes)
  private val ValSumMagic = 0x5653554d // "VSUM" (per-entry value-sum prefixes)
  private val ValRangeMagic = 0x564d4d58 // "VMMX" (run + per-span value min/max)
  private val ColValMagic = 0x4356414c // "CVAL" (per-COLUMN value stats)
  private val TsRangeMagic = 0x54535247 // "TSRG" (run-wide cell-timestamp min/max)
  private val DelCertMagic = 0x44435254 // "DCRT" (certified-delete run marker)
  private val StatsMagic = 0x53544154 // "STAT" (per-run exact content stats)

  /** Distinct-column cap of the CVAL tail: a run with more named columns
    * than this drops the tail whole (tail bytes and writer memory stay
    * bounded). Regular tables — the tail's audience — have schema-width
    * column counts, far below it; high-cardinality transposed runs (cols
    * are data there) opt out via the cap rather than writing megabytes of
    * per-column arrays. */
  val MaxColValCols = 48

  /** CHUNKED distinct-column bloom accumulator for a run's column BLOOM
    * tail. The min/max window kills DISJOINT slices; the blooms kill the
    * false-window case — a point slice whose wanted column falls INSIDE
    * [colMin, colMax] but is simply absent (interleaved-column wide rows).
    *
    * One bloom per CHUNK of [[ColBloomBuilder.ChunkCells]] consecutive
    * cells (64 index spans), distinct set reset at every chunk boundary:
    * writer memory is bounded by one chunk's cells no matter how big the
    * run is — compaction's giant merged runs get full bloom coverage
    * instead of the old all-or-nothing 1M-distinct opt-out, and the reader
    * gains SPAN-level skips (a chunk whose bloom rejects every wanted
    * column is 8192 provably-irrelevant cells, even across key
    * boundaries). The distinct set per chunk matters (cols recur per key —
    * adjacent dedup alone would inflate the bloom by the key count); a
    * chunk whose cells all carry null cols emits a zero bloom that rejects
    * everything, which is exact (no wanted byte form can be there). Chunks
    * align with index spans (ChunkCells is a multiple of IndexEvery), so a
    * span never straddles chunks. */
  final class ColBloomBuilder {
    private val chunks = mutable.ArrayBuffer.empty[KeyBloom]
    private var set = mutable.HashSet.empty[java.nio.ByteBuffer]
    private var sawAny = false
    /** Feed EVERY cell in write order (null col included) — the position
      * drives chunk boundaries. */
    def add(cellPos: Int, col: Array[Byte]): Unit = {
      val chunk = cellPos / ColBloomBuilder.ChunkCells
      while (chunks.length < chunk) flushChunk()
      if (col != null) { set += java.nio.ByteBuffer.wrap(col); sawAny = true }
    }
    private def flushChunk(): Unit = {
      val b = new KeyBloom.Builder
      set.foreach(bb => b.add(bb.array()))
      chunks += b.build()
      set = mutable.HashSet.empty
    }
    /** Per-chunk blooms (index = cellPos / ChunkCells); null when the run
      * held no non-null column at all (no tail written). */
    def build(): Array[KeyBloom] = {
      if (!sawAny) return null
      flushChunk()
      chunks.toArray
    }
  }
  object ColBloomBuilder {
    val SpansPerChunk = 64
    val ChunkCells: Int = SpansPerChunk * IndexEvery // 8192
  }

  /** Accumulates the VALUE-derived index tails on one sorted write pass:
    * the VSUM prefix sums (valid only while every value is an 8-byte long
    * AND no running prefix overflows Long) and the VMMX per-span + run-wide
    * value min/max (valid whenever every value is an 8-byte long — extremes
    * can't overflow, so a VSUM-overflowing run keeps its VMMX). Spans align
    * with index entries ([[RunEncoder]] calls [[startSpan]] at every
    * entry), so span i covers exactly the cells of index span i — what
    * lets a positional interval take interior spans' extremes from the
    * tail and scan only the two boundary spans. */
  final class ValueTailBuilder {
    var sum = 0L
    private var val8 = true
    private var sumValid = true
    private val spanMins = mutable.ArrayBuffer.empty[Long]
    private val spanMaxs = mutable.ArrayBuffer.empty[Long]
    var runMin: Long = Long.MaxValue
    var runMax: Long = Long.MinValue
    def startSpan(): Unit = { spanMins += Long.MaxValue; spanMaxs += Long.MinValue }
    def add(c: Cell): Unit = {
      if (!val8) return
      if (c.value == null || c.value.length != 8) { val8 = false; return }
      val v = ByteBuffer.wrap(c.value).getLong
      if (sumValid)
        try sum = Math.addExact(sum, v)
        catch { case _: ArithmeticException => sumValid = false }
      val s = spanMins.length - 1
      if (v < spanMins(s)) spanMins(s) = v
      if (v > spanMaxs(s)) spanMaxs(s) = v
      if (v < runMin) runMin = v
      if (v > runMax) runMax = v
    }
    def sumOk: Boolean = val8 && sumValid
    def rangeOk: Boolean = val8 && spanMins.nonEmpty
    def spanCount: Int = spanMins.length
    def mins: Array[Long] = spanMins.toArray
    def maxs: Array[Long] = spanMaxs.toArray
  }

  /** One column's CVAL tail: run totals, per-entry prefix count/sum and
    * per-span value min/max of the cells NAMED `col`. `prefixSums`/
    * `totalSum` valid iff `sumsOk` (every value of this column an 8-byte
    * long AND no prefix overflowed); span/run extremes valid iff `rangeOk`
    * (8-byte longs — extremes can't overflow, so they survive a sum
    * overflow). Empty spans carry the (Long.MaxValue, Long.MinValue)
    * sentinel. Counts are valid unconditionally — they count cells, not
    * values. */
  final case class ColValIdx(col: Array[Byte], sumsOk: Boolean,
      rangeOk: Boolean, totalCount: Int, prefixCounts: Array[Int],
      totalSum: Long, prefixSums: Array[Long],
      runMin: Long, runMax: Long,
      spanMins: Array[Long], spanMaxs: Array[Long])

  /** [[ColValIdx]] reduced to its run totals — what [[RunStats]] and
    * [[BucketStat]] carry (the per-entry arrays stay in the index). */
  final case class ColValStat(col: Array[Byte], sumsOk: Boolean,
      rangeOk: Boolean, count: Long, sum: Long, min: Long, max: Long)

  /** Accumulates the PER-COLUMN value tails (CVAL) on the same sorted
    * write pass as every other tail: for each distinct cell NAME in the
    * run — bounded by [[MaxColValCols]]; past the cap the tail is dropped
    * whole — the per-entry prefix count and value-sum of that column's
    * cells BEFORE each index entry, per-span value min/max, and run
    * totals. This is what lets `SUM/MIN/MAX/AVG/COUNT(col) WHERE key
    * BETWEEN …` on a REGULAR mapping (the most common real table shape)
    * answer positionally instead of reading the range (VERDICT r11 #1).
    * The writer validates only the byte SHAPE (8-byte values); the
    * planner's static gate must additionally prove the column TYPE is a
    * binary-marshaled LongType before trusting sums/extremes — a text
    * store's 8-character digit strings would parse as garbage longs.
    * Tail presence asserts COMPLETE per-column coverage: a column absent
    * from a written tail provably has zero cells in the run. */
  final class ColValTailBuilder {
    import java.nio.{ByteBuffer => BB}
    private final class State {
      var count = 0
      var sumsOk = true
      var sum = 0L
      var rangeOk = true
      var runMin = Long.MaxValue
      var runMax = Long.MinValue
      val prefixCounts = mutable.ArrayBuffer.empty[Int]
      val prefixSums = mutable.ArrayBuffer.empty[Long]
      val spanMins = mutable.ArrayBuffer.empty[Long]
      val spanMaxs = mutable.ArrayBuffer.empty[Long]
    }
    private val byCol = mutable.LinkedHashMap.empty[BB, State]
    private var spans = 0
    private var dropped = false
    /** Called exactly when an index entry is pushed, BEFORE the entry's
      * own cell is added — same prefix convention as KPFX/VSUM. */
    def startSpan(): Unit = {
      spans += 1
      if (dropped) return
      byCol.valuesIterator.foreach { st =>
        st.prefixCounts += st.count
        st.prefixSums += st.sum
        st.spanMins += Long.MaxValue
        st.spanMaxs += Long.MinValue
      }
    }
    def add(c: Cell): Unit = {
      if (dropped || c.col == null) return
      val k = BB.wrap(c.col)
      var st = byCol.getOrElse(k, null)
      if (st == null) {
        if (byCol.size >= MaxColValCols) {
          dropped = true; byCol.clear(); return
        }
        st = new State
        // backfill: this column existed (with zero cells) in every
        // earlier span, so its arrays stay aligned with the index entries
        var i = 0
        while (i < spans) {
          st.prefixCounts += 0; st.prefixSums += 0L
          st.spanMins += Long.MaxValue; st.spanMaxs += Long.MinValue
          i += 1
        }
        byCol.put(k, st)
      }
      st.count += 1
      if (c.value == null || c.value.length != 8) {
        st.sumsOk = false; st.rangeOk = false
      } else {
        val v = BB.wrap(c.value).getLong
        if (st.sumsOk)
          try st.sum = Math.addExact(st.sum, v)
          catch { case _: ArithmeticException => st.sumsOk = false }
        if (st.rangeOk) {
          val s = st.spanMins.length - 1
          if (s >= 0) {
            if (v < st.spanMins(s)) st.spanMins(s) = v
            if (v > st.spanMaxs(s)) st.spanMaxs(s) = v
          }
          if (v < st.runMin) st.runMin = v
          if (v > st.runMax) st.runMax = v
        }
      }
    }
    /** The serializable tail (columns byte-sorted for determinism), or
      * null when dropped (over-cap) or no span was ever started. */
    def result(): Array[ColValIdx] = {
      if (dropped || spans == 0) return null
      byCol.iterator.map { case (k, st) =>
        ColValIdx(k.array(), st.sumsOk, st.rangeOk, st.count,
          st.prefixCounts.toArray,
          if (st.sumsOk) st.sum else 0L,
          if (st.sumsOk) st.prefixSums.toArray else null,
          if (st.rangeOk) st.runMin else 0L,
          if (st.rangeOk) st.runMax else 0L,
          if (st.rangeOk) st.spanMins.toArray else null,
          if (st.rangeOk) st.spanMaxs.toArray else null)
      }.toArray.sortWith((a, b) => Codecs.compareBytes(a.col, b.col) < 0)
    }
  }

  private def serializeIndex(entries: Seq[IndexEntry],
      lastKey: Array[Byte], bloom: KeyBloom = null,
      colMin: Array[Byte] = null, colMax: Array[Byte] = null,
      colBlooms: Array[KeyBloom] = null,
      subMin: Array[Byte] = null, subMax: Array[Byte] = null,
      subBlooms: Array[KeyBloom] = null,
      statTombstones: Int = -1, statKeys: Int = -1, statAddrs: Int = -1,
      keyPrefix: Array[Int] = null, keyStart: Array[Boolean] = null,
      valSums: Array[Long] = null, valTotal: Long = 0L,
      valTail: ValueTailBuilder = null,
      colVals: Array[ColValIdx] = null,
      certifiedDeletes: Boolean = false,
      tsMin: Long = Long.MaxValue, tsMax: Long = Long.MinValue)
    : Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    out.writeInt(entries.length)
    entries.foreach { e =>
      out.writeInt(e.cellPos); out.writeLong(e.offset); writeBytes(out, e.key)
    }
    writeBytes(out, lastKey)
    if (bloom != null) {
      out.writeInt(bloom.numKeys)
      out.writeInt(bloom.words.length)
      bloom.words.foreach(out.writeLong)
    }
    out.writeInt(ColsMagic)
    entries.foreach(e => writeBytes(out, e.col))
    // run-wide min/max column — Cassandra's sstable min/max clustering:
    // a slice lookup skips the whole run when no wanted column can fall
    // inside [colMin, colMax] (null when the run held no non-null col)
    if (colMin != null && colMax != null) {
      out.writeInt(ColRangeMagic)
      writeBytes(out, colMin)
      writeBytes(out, colMax)
    }
    // distinct-column blooms — the third self-describing tail (see
    // [[ColBloomBuilder]]); only behind a CRNG tail, so parse order is
    // fixed. A single-chunk run stores the legacy run-wide CBLM form (old
    // readers keep their skip); multi-chunk runs (past ChunkCells cells —
    // compaction's merged runs) store one bloom per chunk under CBBB, which
    // bounds writer memory and adds span-level skips.
    if (colMin != null && colMax != null && colBlooms != null) {
      if (colBlooms.length == 1) {
        out.writeInt(ColBloomMagic)
        out.writeInt(colBlooms(0).numKeys)
        out.writeInt(colBlooms(0).words.length)
        colBlooms(0).words.foreach(out.writeLong)
      } else {
        out.writeInt(ColBlockBloomMagic)
        out.writeInt(ColBloomBuilder.ChunkCells)
        out.writeInt(colBlooms.length)
        colBlooms.foreach { b =>
          out.writeInt(b.numKeys)
          out.writeInt(b.words.length)
          b.words.foreach(out.writeLong)
        }
      }
    }
    // SUB-column tails (super mappings; absent when every sub was null, so
    // regular/transposed tables pay zero bytes): run-wide [subMin, subMax]
    // window, the per-entry sub bytes completing each entry's
    // (key, col, sub) address prefix, and per-chunk distinct-sub blooms —
    // the sub twins of CRNG, COLS and CBBB (one uniform chunked bloom
    // format here; no single-chunk legacy variant to preserve).
    if (subMin != null && subMax != null) {
      out.writeInt(SubRangeMagic)
      writeBytes(out, subMin)
      writeBytes(out, subMax)
      out.writeInt(SubsMagic)
      entries.foreach(e => writeBytes(out, e.sub))
      if (subBlooms != null) {
        out.writeInt(SubBloomMagic)
        out.writeInt(ColBloomBuilder.ChunkCells)
        out.writeInt(subBlooms.length)
        subBlooms.foreach { b =>
          out.writeInt(b.numKeys)
          out.writeInt(b.words.length)
          b.words.foreach(out.writeLong)
        }
      }
    }
    // positional PREFIX tails (round 11): per index entry, the number of
    // distinct keys (KPFX — regular-mapping range counts: rows in a key
    // range = distinct keys there) and the value-sum (VSUM — range SUMs:
    // "total volume in [t1, t2]" from index arithmetic) of every cell
    // BEFORE the entry, so a boundary search answers f(x) positionally and
    // scans only the ONE span containing each boundary. KPFX is ~5 bytes
    // per entry and always present; VSUM (8 bytes/entry + a run total) is
    // written only when EVERY cell value was an 8-byte long and the run
    // total never overflowed — an absent tail declines to the fold.
    if (keyPrefix != null && keyPrefix.length == entries.length) {
      out.writeInt(KeyPrefixMagic)
      var pi = 0
      while (pi < keyPrefix.length) {
        out.writeInt(keyPrefix(pi)); out.writeBoolean(keyStart(pi)); pi += 1
      }
    }
    if (valSums != null && valSums.length == entries.length) {
      out.writeInt(ValSumMagic)
      out.writeLong(valTotal)
      valSums.foreach(out.writeLong)
    }
    // VMMX: run-wide + per-span value MIN/MAX ("peak reading in the
    // window" from index arithmetic) — written whenever every value is an
    // 8-byte long (extremes can't overflow, so a VSUM-overflowing run
    // still carries its VMMX)
    if (valTail != null && valTail.rangeOk &&
        valTail.spanCount == entries.length) {
      out.writeInt(ValRangeMagic)
      out.writeLong(valTail.runMin)
      out.writeLong(valTail.runMax)
      val mins = valTail.mins
      val maxs = valTail.maxs
      var vi = 0
      while (vi < mins.length) {
        out.writeLong(mins(vi)); out.writeLong(maxs(vi)); vi += 1
      }
    }
    // CVAL: per-COLUMN prefix counts/sums and span extremes (regular-
    // mapping value aggregates under key envelopes); self-describing by
    // magic like every tail, dropped whole past MaxColValCols
    if (colVals != null &&
        colVals.forall(cv => cv.prefixCounts.length == entries.length)) {
      out.writeInt(ColValMagic)
      out.writeInt(colVals.length)
      colVals.foreach { cv =>
        writeBytes(out, cv.col)
        out.writeByte((if (cv.sumsOk) 1 else 0) | (if (cv.rangeOk) 2 else 0))
        out.writeInt(cv.totalCount)
        cv.prefixCounts.foreach(out.writeInt)
        if (cv.sumsOk) {
          out.writeLong(cv.totalSum)
          cv.prefixSums.foreach(out.writeLong)
        }
        if (cv.rangeOk) {
          out.writeLong(cv.runMin); out.writeLong(cv.runMax)
          var i = 0
          while (i < cv.spanMins.length) {
            out.writeLong(cv.spanMins(i)); out.writeLong(cv.spanMaxs(i)); i += 1
          }
        }
      }
    }
    // TSRG: run-wide cell-timestamp window — what lets an AS-OF read keep
    // the metadata fast paths when the bound provably covers every cell
    // (maxTs ≤ asOf ⇒ the bounded view IS the current view)
    if (tsMin <= tsMax) {
      out.writeInt(TsRangeMagic)
      out.writeLong(tsMin)
      out.writeLong(tsMax)
    }
    // DCRT: the certified-delete marker (see [[writeRun]]'s contract) —
    // 4 magic bytes on pure-tombstone delete-epoch runs only
    if (certifiedDeletes) out.writeInt(DelCertMagic)
    // per-run exact content STATS — the tail that lets a global
    // COUNT/MIN/MAX answer from metadata alone (see
    // [[CassandraLikeTable.MetadataAggReader]]): tombstone count,
    // distinct keys and distinct (key, col, sub) addresses, all counted
    // exactly during the single sorted write pass. Written last so every
    // older tail keeps its position; legacy readers stop before it,
    // legacy files parse with -1s (stats unknown → the metadata path
    // declines and the scan folds cells as before).
    if (statTombstones >= 0 && statKeys >= 0 && statAddrs >= 0) {
      out.writeInt(StatsMagic)
      out.writeInt(statTombstones)
      out.writeInt(statKeys)
      out.writeInt(statAddrs)
    }
    bos.toByteArray
  }

  private def parseIndex(bytes: Array[Byte]): RunIndex = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    val n = in.readInt()
    val pos = new Array[Int](n)
    val off = new Array[Long](n)
    val keys = new Array[Array[Byte]](n)
    var i = 0
    while (i < n) { pos(i) = in.readInt(); off(i) = in.readLong(); keys(i) = readBytes(in); i += 1 }
    val lastKey = readBytes(in)
    in.mark(8)
    val bloom =
      if (in.available() < 8) null
      else {
        val numKeys = in.readInt()
        val numWords = in.readInt()
        if (numKeys == ColsMagic || numWords < 0 ||
            in.available() < numWords.toLong * 8L) { in.reset(); null }
        else {
          val words = new Array[Long](numWords)
          var w = 0
          while (w < words.length) { words(w) = in.readLong(); w += 1 }
          new KeyBloom(words, numKeys)
        }
      }
    val cols =
      if (in.available() < 4) null
      else {
        in.mark(4)
        if (in.readInt() != ColsMagic) { in.reset(); null }
        else {
          val cs = new Array[Array[Byte]](n)
          var j = 0
          while (j < n) { cs(j) = readBytes(in); j += 1 }
          cs
        }
      }
    val (cMin, cMax) =
      if (in.available() < 4) (null, null)
      else {
        in.mark(4)
        if (in.readInt() != ColRangeMagic) { in.reset(); (null, null) }
        else (readBytes(in), readBytes(in))
      }
    def readBloom(): KeyBloom = {
      val numKeys = in.readInt()
      val numWords = in.readInt()
      if (numWords < 0 || in.available() < numWords.toLong * 8L) return null
      val words = new Array[Long](numWords)
      var w = 0
      while (w < words.length) { words(w) = in.readLong(); w += 1 }
      new KeyBloom(words, numKeys)
    }
    val (colBlooms, colChunkCells) =
      if (cMin == null || in.available() < 12) (null, 0)
      else {
        in.mark(12)
        in.readInt() match {
          case ColBloomMagic => // run-wide single bloom (legacy + small runs)
            readBloom() match {
              case null => in.reset(); (null, 0)
              case b => (Array(b), Int.MaxValue)
            }
          case ColBlockBloomMagic => // one bloom per chunk of chunkCells cells
            val chunkCells = in.readInt()
            val numChunks = in.readInt()
            if (chunkCells <= 0 || numChunks <= 0) { in.reset(); (null, 0) }
            else {
              val bs = new Array[KeyBloom](numChunks)
              var ci = 0
              var bad = false
              while (ci < numChunks && !bad) {
                bs(ci) = readBloom(); if (bs(ci) == null) bad = true; ci += 1
              }
              if (bad) { in.reset(); (null, 0) } else (bs, chunkCells)
            }
          case _ => in.reset(); (null, 0)
        }
      }
    val (sMin, sMax) =
      if (in.available() < 4) (null, null)
      else {
        in.mark(4)
        if (in.readInt() != SubRangeMagic) { in.reset(); (null, null) }
        else (readBytes(in), readBytes(in))
      }
    val subs =
      if (sMin == null || in.available() < 4) null
      else {
        in.mark(4)
        if (in.readInt() != SubsMagic) { in.reset(); null }
        else {
          val ss = new Array[Array[Byte]](n)
          var j = 0
          while (j < n) { ss(j) = readBytes(in); j += 1 }
          ss
        }
      }
    val (subBlooms, subChunkCells) =
      if (subs == null || in.available() < 12) (null, 0)
      else {
        in.mark(12)
        if (in.readInt() != SubBloomMagic) { in.reset(); (null, 0) }
        else {
          val chunkCells = in.readInt()
          val numChunks = in.readInt()
          if (chunkCells <= 0 || numChunks <= 0) { in.reset(); (null, 0) }
          else {
            val bs = new Array[KeyBloom](numChunks)
            var ci = 0
            var bad = false
            while (ci < numChunks && !bad) {
              bs(ci) = readBloom(); if (bs(ci) == null) bad = true; ci += 1
            }
            if (bad) { in.reset(); (null, 0) } else (bs, chunkCells)
          }
        }
      }
    val (kPrefix, kStart) =
      if (in.available() < 4 + 5 * n) (null, null)
      else {
        in.mark(4)
        if (in.readInt() != KeyPrefixMagic) { in.reset(); (null, null) }
        else {
          val kp = new Array[Int](n)
          val ks = new Array[Boolean](n)
          var j = 0
          while (j < n) { kp(j) = in.readInt(); ks(j) = in.readBoolean(); j += 1 }
          (kp, ks)
        }
      }
    val (vSums, vTotal) =
      if (in.available() < 12 + 8 * n) (null, 0L)
      else {
        in.mark(4)
        if (in.readInt() != ValSumMagic) { in.reset(); (null, 0L) }
        else {
          val total = in.readLong()
          val vs = new Array[Long](n)
          var j = 0
          while (j < n) { vs(j) = in.readLong(); j += 1 }
          (vs, total)
        }
      }
    val (vMins, vMaxs, vMin, vMax) =
      if (in.available() < 20 + 16 * n) (null, null, 0L, 0L)
      else {
        in.mark(4)
        if (in.readInt() != ValRangeMagic) { in.reset(); (null, null, 0L, 0L) }
        else {
          val mn = in.readLong()
          val mx = in.readLong()
          val mins = new Array[Long](n)
          val maxs = new Array[Long](n)
          var j = 0
          while (j < n) { mins(j) = in.readLong(); maxs(j) = in.readLong(); j += 1 }
          (mins, maxs, mn, mx)
        }
      }
    val colVals =
      if (in.available() < 8) null
      else {
        in.mark(8)
        if (in.readInt() != ColValMagic) { in.reset(); null }
        else {
          val nc = in.readInt()
          if (nc < 0 || nc > MaxColValCols) { in.reset(); null }
          else {
            val arr = new Array[ColValIdx](nc)
            var ci = 0
            while (ci < nc) {
              val col = readBytes(in)
              val flags = in.readByte()
              val sumsOk = (flags & 1) != 0
              val rangeOk = (flags & 2) != 0
              val totalCount = in.readInt()
              val pc = new Array[Int](n)
              var j = 0
              while (j < n) { pc(j) = in.readInt(); j += 1 }
              var totalSum = 0L
              var ps: Array[Long] = null
              if (sumsOk) {
                totalSum = in.readLong()
                ps = new Array[Long](n)
                j = 0
                while (j < n) { ps(j) = in.readLong(); j += 1 }
              }
              var rMin = 0L
              var rMax = 0L
              var sm: Array[Long] = null
              var sx: Array[Long] = null
              if (rangeOk) {
                rMin = in.readLong(); rMax = in.readLong()
                sm = new Array[Long](n); sx = new Array[Long](n)
                j = 0
                while (j < n) { sm(j) = in.readLong(); sx(j) = in.readLong(); j += 1 }
              }
              arr(ci) = ColValIdx(col, sumsOk, rangeOk, totalCount, pc,
                totalSum, ps, rMin, rMax, sm, sx)
              ci += 1
            }
            arr
          }
        }
      }
    val (tsMin, tsMax, hasTs) =
      if (in.available() < 20) (0L, 0L, false)
      else {
        in.mark(4)
        if (in.readInt() != TsRangeMagic) { in.reset(); (0L, 0L, false) }
        else (in.readLong(), in.readLong(), true)
      }
    val certDeletes =
      if (in.available() < 4) false
      else {
        in.mark(4)
        if (in.readInt() != DelCertMagic) { in.reset(); false }
        else true
      }
    val (sTombs, sKeys, sAddrs) =
      if (in.available() < 16) (-1, -1, -1)
      else {
        in.mark(16)
        if (in.readInt() != StatsMagic) { in.reset(); (-1, -1, -1) }
        else (in.readInt(), in.readInt(), in.readInt())
      }
    RunIndex(pos, off, keys, lastKey, bloom, cols, cMin, cMax,
      colBlooms, colChunkCells, subs, sMin, sMax, subBlooms, subChunkCells,
      sTombs, sKeys, sAddrs, kPrefix, kStart, vSums, vTotal,
      vMins, vMaxs, vMin, vMax, colVals, certDeletes, tsMin, tsMax, hasTs)
  }

  /** Everything a metadata-only aggregate needs about one run, read from
    * the run index alone (no cell payload IO): exact cell/tombstone/
    * distinct counts from the STAT tail (-1s on legacy runs — the caller
    * must decline), the first/last key and the run-wide column/sub
    * windows. */
  final case class RunStats(cells: Int,
      firstKey: Array[Byte], lastKey: Array[Byte],
      colMin: Array[Byte], colMax: Array[Byte],
      subMin: Array[Byte], subMax: Array[Byte],
      tombstones: Int, distinctKeys: Int, distinctAddrs: Int,
      /** every index entry carries non-null col bytes — the precondition
        * of composite (key, col) boundary arithmetic */
      colEntries: Boolean = false,
      /** every index entry carries non-null sub bytes — the precondition
        * of (key, col, sub) boundary arithmetic */
      subEntries: Boolean = false,
      /** the run carries the KPFX distinct-key prefix tail — the
        * precondition of positional distinct-key range counts */
      hasKeyPrefix: Boolean = false,
      /** the run carries the VSUM value-sum prefix tail (every value an
        * 8-byte long, run total long-representable) */
      hasValSums: Boolean = false,
      /** whole-run value sum; valid iff [[hasValSums]] */
      valTotal: Long = 0L,
      /** the run carries the VMMX per-span value min/max tail (every
        * value an 8-byte long; extremes never overflow, so this can hold
        * where [[hasValSums]] dropped) */
      hasValRange: Boolean = false,
      /** run-wide value min/max; valid iff [[hasValRange]] */
      valMin: Long = 0L,
      valMax: Long = 0L,
      /** per-COLUMN run totals from the CVAL tail; null = tail absent
        * (legacy run or over-cap distinct columns) — per-column
        * aggregates then decline to the fold */
      colVals: Array[ColValStat] = null,
      /** certified delete-epoch run (DCRT marker — see
        * [[writeRun]]'s contract): every cell a tombstone shadowing a
        * then-visible cell, whole keys tombstoned together */
      certDeletes: Boolean = false,
      /** run-wide cell-timestamp window (TSRG); valid iff hasTsRange —
        * what proves an AS-OF bound covers every cell */
      tsMin: Long = 0L,
      tsMax: Long = 0L,
      hasTsRange: Boolean = false)

  /** One non-empty run of a segment: where it sits in the file and what
    * its index tails say about it. */
  final case class RunMeta(info: RunInfo, stats: RunStats)

  /** What the planner and the readers know about one segment file, read
    * from its run headers and index blocks, never from cell data. Each
    * field is read on its first use and kept, so a field no caller asked
    * for is never read; a committed segment never changes (temp write plus
    * atomic rename), so a kept field stays true until the segment is
    * deleted, which drops the handle ([[forgetSegments]]). Per-run arrays
    * align with [[live]], the non-empty runs. */
  final class SegmentMeta private[CellStore] (val file: Path) {
    /** Every run, empty ones included, from the run headers. */
    lazy val runs: IndexedSeq[RunInfo] = runInfos(file)

    /** Non-empty runs, each with its [[RunStats]]. */
    lazy val live: IndexedSeq[RunMeta] =
      liveInfos.zip(stats).map { case (ri, s) => RunMeta(ri, s) }

    lazy val bytes: Long = Files.size(file)

    def cells: Long = runs.iterator.map(_.cellCount.toLong).sum

    /** Per-run [[RunStats]], from the index tails (counted in
      * [[runTailReads]]). Every commit warms it for the segments it
      * commits, so in-process planning never parses a tail it wrote. */
    lazy val stats: Array[RunStats] = {
      runTailReads.incrementAndGet()
      fromIndexes(runStatsOf)
    }

    /** Per-run key blooms (null element = pre-bloom run) — Cassandra's
      * posture, where SSTable blooms are resident and a point read that
      * misses every bloom touches no data file at all. */
    lazy val blooms: Array[KeyBloom] = fromIndexes((_, idx) => idx.bloom)

    /** Per-run DISTINCT-column bloom CHUNKS (null element = legacy
      * pre-bloom run). A point slice skips a run when EVERY chunk's bloom
      * rejects every wanted column — the false-window case min/max windows
      * can't prune (wanted column INSIDE [colMin, colMax] but absent —
      * interleaved-column wide rows). No false negatives, and the blooms
      * saw tombstone cells' columns too, so a skipped run provably holds no
      * cell (live or tombstone) of any wanted address. Single-chunk (CBLM)
      * runs surface as a 1-element array. */
    lazy val colBlooms: Array[Array[KeyBloom]] = fromIndexes((_, idx) => idx.colBlooms)

    /** Per-run distinct-SUB bloom chunks (null element = legacy run): the
      * sub twin of [[colBlooms]]. */
    lazy val subBlooms: Array[Array[KeyBloom]] = fromIndexes((_, idx) => idx.subBlooms)

    /** Sparse key sample (~1 key per [[IndexEvery]] cells, from the run
      * indexes). */
    lazy val sample: Seq[Array[Byte]] =
      fromIndexes((_, idx) => idx.keys).toSeq.flatten

    /** (min, max) key over the runs' first and last keys; (null, null) =
      * empty segment. The planning-time bucket-skip check for index range
      * probes: a bucket none of whose segments intersect `[lo, hi)` is
      * provably posting-free and is never opened. */
    def keyBounds: (Array[Byte], Array[Byte]) = {
      var lo: Array[Byte] = null
      var hi: Array[Byte] = null
      stats.foreach { s =>
        if (lo == null || Codecs.compareBytes(s.firstKey, lo) < 0) lo = s.firstKey
        if (hi == null || Codecs.compareBytes(s.lastKey, hi) > 0) hi = s.lastKey
      }
      (lo, hi)
    }

    /** Run headers of the non-empty runs, without their stats. */
    def liveInfos: IndexedSeq[RunInfo] = runs.filter(_.cellCount > 0)

    /** `f` over every non-empty run's parsed index, one file handle. */
    private def fromIndexes[T: scala.reflect.ClassTag](
        f: (RunInfo, RunIndex) => T): Array[T] = {
      val r = new SegmentReader(file)
      try liveInfos.map(ri => f(ri, r.readIndex(ri))).toArray
      finally r.close()
    }
  }

  /** Handles of committed segments, one per path. */
  private val metas = new java.util.concurrent.ConcurrentHashMap[Path, SegmentMeta]()

  /** Committed segment name, the listing contract of [[segmentFiles]]. */
  private val CommittedName = "b(\\d+)-.*\\.bin".r

  /** The metadata handle of one segment file. A committed segment (a
    * `b<bucket>-….bin` name in a table's `sst/` dir) shares one handle per
    * path; any other file — a writer's staged `tmp-` file, which commit
    * may rewrite in place — gets a fresh handle, so it is never answered
    * from memory. */
  def meta(file: Path): SegmentMeta = {
    val p = file.toAbsolutePath.normalize
    val committed = p.getParent != null &&
      p.getParent.getFileName.toString == SstDir &&
      CommittedName.matches(p.getFileName.toString)
    if (committed) metas.computeIfAbsent(p, new SegmentMeta(_))
    else new SegmentMeta(file)
  }

  /** Drop every segment handle at or under `path` (a table dir, or one
    * segment). Every operation that deletes or rewrites segments calls it,
    * so memory holds live segments only. */
  private[graft] def forgetSegments(path: Path): Unit = {
    val p = path.toAbsolutePath.normalize
    metas.keySet.removeIf(_.startsWith(p))
  }

  /** Paths that hold a segment handle right now. */
  private[graft] def memoizedSegments: Seq[Path] = {
    import scala.jdk.CollectionConverters._
    metas.keySet.asScala.toSeq
  }

  /** Test hook: drop every handle, so a spec can replay the COLD-driver
    * planning cost inside one JVM, or rewrite a committed segment in
    * place. */
  private[graft] def clearPlannerCaches(): Unit = metas.clear()

  /** Read the [[SegmentMeta.stats]] of segments a commit just made
    * visible, so planning after the commit reduces them from memory. */
  private[graft] def warmSegments(files: Seq[Path]): Unit =
    files.foreach(meta(_).stats)

  // ---- positional window aggregates: one summary kernel and one extremal
  // address seek, both over half-open composite address windows ----

  /** One end of a composite address window: the (key, col, sub) prefix a
    * cell address is compared with. A null trailing field is a coarser
    * level: `Addr(k)` sits before every cell of key k, `Addr(k, c)` before
    * every cell of (k, c). A cell's null col or sub compares as empty
    * bytes, as in [[addressOrdering]]. */
  final case class Addr(key: Array[Byte], col: Array[Byte] = null,
      sub: Array[Byte] = null)

  /** The cells with address in `[lo, hi)` (null = unbounded on that side),
    * folded into output slot `slot`. */
  final case class Window(slot: Int, lo: Addr, hi: Addr) {
    /** The one key every cell of the window carries, or null — the key a
      * run's bloom is probed with. */
    val singleKey: Array[Byte] =
      if (lo == null || hi == null) null
      else if (java.util.Arrays.equals(
          if (hi.col != null) lo.key else byteSucc(lo.key), hi.key)) lo.key
      else null

    /** Can a cell of the run lie inside, judged by its key range? */
    private[CellStore] def meets(s: RunStats): Boolean =
      (lo == null || Codecs.compareBytes(s.lastKey, lo.key) >= 0) &&
        (hi == null || {
          val c = Codecs.compareBytes(s.firstKey, hi.key)
          c < 0 || (c == 0 && hi.col != null)
        })

    /** Is every cell of key `k` at or above `lo`? */
    private[CellStore] def keyAbove(k: Array[Byte]): Boolean = lo == null || {
      val c = Codecs.compareBytes(k, lo.key)
      c > 0 || (c == 0 && lo.col == null)
    }

    /** Is every cell of key `k` below `hi`? */
    private[CellStore] def keyBelow(k: Array[Byte]): Boolean =
      hi == null || Codecs.compareBytes(k, hi.key) < 0

    private[CellStore] def holds(c: Cell): Boolean =
      (lo == null || cmpAddr(c.key, c.col, c.sub, lo) >= 0) &&
        (hi == null || cmpAddr(c.key, c.col, c.sub, hi) < 0)
  }

  object Window {
    /** `[lo, hi)` over keys (null = unbounded). */
    def range(slot: Int, lo: Array[Byte], hi: Array[Byte]): Window =
      Window(slot, if (lo == null) null else Addr(lo), if (hi == null) null else Addr(hi))

    /** One window per key span, all into slot 0. */
    def ranges(keys: KeyWindows): Seq[Window] =
      keys.spans.toSeq.map { case (lo, hi) => range(0, lo, hi) }

    /** Key `ks(i)` into slot i: the whole key, or its cells inside the
      * column windows `cols`; when `cols` are points, each column point,
      * narrowed to the sub windows `subs` (null = unrestricted). An empty
      * window set gives no window, so its slots stay empty. */
    def points(ks: Seq[Array[Byte]], cols: KeyWindows = null,
        subs: KeyWindows = null): Seq[Window] = {
      val colPts = if (cols == null) null else cols.points
      ks.indices.flatMap { i =>
        val k = ks(i)
        if (cols == null) Seq(Window(i, Addr(k), Addr(byteSucc(k))))
        else if (colPts != null) for {
          c <- colPts.toSeq
          (sLo, sHi) <- if (subs == null) Seq((null, null)) else subs.spans.toSeq
        } yield Window(i, Addr(k, c, sLo),
          if (sHi == null) Addr(k, byteSucc(c)) else Addr(k, c, sHi))
        else cols.spans.toSeq.map { case (cLo, cHi) =>
          Window(i, Addr(k, cLo), if (cHi == null) Addr(byteSucc(k)) else Addr(k, cHi))
        }
      }
    }
  }

  /** What [[summarize]] counts, sums and bounds. */
  sealed trait Measure
  object Measure {
    /** Cells, counted. */
    case object Cells extends Measure
    /** Distinct keys, from the KPFX tail; key-level windows only. */
    case object Keys extends Measure
    /** Cells and their 8-byte long values: VSUM sums, VMMX extremes. */
    case object Values extends Measure
    /** The cells named `name` and their values: the CVAL tail. */
    final case class Column(name: Array[Byte]) extends Measure
  }

  /** Per-slot count, sum, min and max; a slot's extremes hold a value iff
    * its count is positive. */
  final class Summary(slots: Int) {
    val count = new Array[Long](slots)
    val sum = new Array[Long](slots)
    val min: Array[Long] = Array.fill(slots)(Long.MaxValue)
    val max: Array[Long] = Array.fill(slots)(Long.MinValue)
    /** The slot's min or max; null = no cell. */
    def extreme(slot: Int, wantMin: Boolean): java.lang.Long =
      if (count(slot) <= 0) null else Long.box(if (wantMin) min(slot) else max(slot))
  }

  /** The `measure` over the cells of `files` inside each window, folded per
    * slot: the one positional aggregate kernel. Per run:
    *  1. a run no window meets is skipped without index IO — judged by its
    *     key range, and by its key bloom for a single-key window;
    *  2. a consulted run that is unclassifiable under `netted`
    *     ([[nettedSign]]), or lacks the tail the measure needs, declines;
    *     one that holds no cell of the measure (a column absent from its
    *     CVAL tail) contributes zero, exactly, with no IO;
    *  3. a window that holds the whole run folds the run totals from
    *     [[RunStats]] with no index IO;
    *  4. any other window reads the run index, parsed once for all its
    *     windows, and searches its entries for both ends. Ends in one span
    *     scan that span once; otherwise the two boundary spans are scanned
    *     and the spans between give their prefix-tail difference (count,
    *     sum) and their span tails (min, max).
    * Under `netted` each run adds with its sign, so a certified delete
    * epoch subtracts its victims; extremes never net, so asking for them
    * under `netted` declines.
    *
    * None = a decline (a tail-less or unclassifiable consulted run, or a
    * Long overflow): the fold then owns the query, which reproduces
    * Spark's own overflow semantics. Counts CELLS (or keys): the caller
    * must have proven every counted cell a distinct visible row (see
    * [[MetadataAggReader]]), and per-entry col (sub) bytes on every run a
    * composite window end reaches ([[RunStats.colEntries]]). */
  def summarize(files: Seq[Path], windows: Seq[Window], slots: Int,
      measure: Measure, wantSum: Boolean = false, wantExt: Boolean = false,
      netted: Boolean = false): Option[Summary] = {
    require(!(wantSum || wantExt) || measure == Measure.Values ||
      measure.isInstanceOf[Measure.Column], s"$measure has no values")
    if (netted && wantExt) return None
    val out = new Summary(slots)
    val ws = windows.toIndexedSeq
    if (ws.isEmpty) return Some(out)
    val fold = new Fold(measure, wantSum, wantExt)
    try if (files.forall(summarizeFile(_, ws, fold, netted, out))) Some(out) else None
    catch { case _: ArithmeticException => None }
  }

  /** [[summarize]] over one file; false = decline. */
  private def summarizeFile(file: Path, ws: IndexedSeq[Window], fold: Fold,
      netted: Boolean, out: Summary): Boolean = {
    val seg = meta(file)
    val runs = seg.live
    var reader: SegmentReader = null
    try {
      var r = 0
      while (r < runs.length) {
        val RunMeta(ri, s) = runs(r)
        var totals: Totals = null // null until a window consults the run
        var sign = 1
        var tails: Tails = null
        var i = 0
        while (i < ws.length) {
          val w = ws(i)
          if (consults(seg, r, w)) {
            if (totals == null) {
              if (netted) sign = nettedSign(s).getOrElse(return false)
              totals = fold.totals(ri, s)
              if (totals == null) return false
            }
            if (totals.count != 0) {
              if (w.keyAbove(s.firstKey) && w.keyBelow(s.lastKey)) fold.set(totals)
              else {
                if (tails == null) {
                  if (reader == null) reader = new SegmentReader(file)
                  tails = fold.tails(ri, s, readIndex(reader, ri, w))
                  if (tails == null) return false
                }
                fold.window(reader, tails, w)
              }
              fold.addTo(out, w.slot, sign)
            }
          }
          i += 1
        }
        r += 1
      }
      true
    } finally if (reader != null) reader.close()
  }

  /** Does window `w` reach run `r` of `seg`: its key range, and for a
    * single-key window its key bloom? */
  private def consults(seg: SegmentMeta, r: Int, w: Window): Boolean =
    w.meets(seg.live(r).stats) && (w.singleKey == null || {
      val b = seg.blooms(r)
      b == null || b.mightContain(w.singleKey)
    })

  /** The one place a window read parses a run index; a parse for a point
    * window counts in [[pointProbeIndexReads]]. */
  private def readIndex(reader: SegmentReader, ri: RunInfo, w: Window): RunIndex = {
    if (w.singleKey != null) pointProbeIndexReads.incrementAndGet()
    reader.readIndex(ri)
  }

  /** Sign of the cell address (k, c, s) against `x`, compared at `x`'s
    * level. */
  private def cmpAddr(k: Array[Byte], c: Array[Byte], s: Array[Byte], x: Addr): Int = {
    val kc = Codecs.compareBytes(k, x.key)
    if (kc != 0 || x.col == null) return kc
    val cc = Codecs.compareBytes(if (c == null) Array.emptyByteArray else c, x.col)
    if (cc != 0 || x.sub == null) return cc
    Codecs.compareBytes(if (s == null) Array.emptyByteArray else s, x.sub)
  }

  /** The last index entry whose address lies below `x`; -1 when none.
    * Entry addresses are the (key, col, sub) of the cell at each entry and
    * never decrease, and every cell of a later span is at or above the
    * next entry, so the cells below `x` are the entry's prefix plus part
    * of its one span. */
  private def lastEntryBelow(idx: RunIndex, x: Addr): Int = {
    require(x.col == null || idx.cols != null,
      "composite window end on a run without per-entry col bytes")
    var a = 0
    var b = idx.keys.length
    while (a < b) {
      val m = (a + b) >>> 1
      if (cmpAddr(idx.keys(m), if (idx.cols == null) null else idx.cols(m),
          if (idx.subs == null) null else idx.subs(m), x) < 0) a = m + 1
      else b = m
    }
    a - 1
  }

  private def spanLength(ri: RunInfo, idx: RunIndex, e: Int): Int =
    (if (e == idx.cellPos.length - 1) ri.cellCount else idx.cellPos(e + 1)) -
      idx.cellPos(e)

  private def spanCells(reader: SegmentReader, ri: RunInfo, idx: RunIndex,
      e: Int): Iterator[Cell] =
    reader.runIterator(ri.payloadOffset + idx.offsets(e), spanLength(ri, idx, e))

  /** A measure's whole-run count, sum, min and max. */
  private final case class Totals(count: Long, sum: Long, min: Long, max: Long)
  private val NoCells = Totals(0L, 0L, Long.MaxValue, Long.MinValue)

  /** One parsed run as a measure reads it: per-entry prefix counts and
    * sums (an index past the last entry is the run total) and per-span
    * extremes. */
  private final class Tails(val ri: RunInfo, val idx: RunIndex,
      counts: Array[Int], countTotal: Long,
      sums: Array[Long], sumTotal: Long,
      val mins: Array[Long], val maxs: Array[Long]) {
    def count(e: Int): Long = if (e == counts.length) countTotal else counts(e)
    def sum(e: Int): Long = if (e == sums.length) sumTotal else sums(e)
  }

  /** The count, sum, min and max of one measure over one window of one
    * run, added to its slot by [[addTo]]. */
  private final class Fold(measure: Measure, wantSum: Boolean, wantExt: Boolean) {
    private val name = measure match {
      case Measure.Column(c) => c
      case _ => null
    }
    private val keys = measure == Measure.Keys
    private val decode = wantSum || wantExt
    private var count = 0L
    private var sum = 0L
    private var min = Long.MaxValue
    private var max = Long.MinValue

    /** The run's totals from its [[RunStats]]; null = it lacks the tail. */
    def totals(ri: RunInfo, s: RunStats): Totals = measure match {
      case Measure.Cells => Totals(ri.cellCount, 0L, 0L, 0L)
      case Measure.Keys =>
        if (s.distinctKeys < 0) null else Totals(s.distinctKeys, 0L, 0L, 0L)
      case Measure.Values =>
        if ((wantSum && !s.hasValSums) || (wantExt && !s.hasValRange)) null
        else Totals(ri.cellCount, s.valTotal, s.valMin, s.valMax)
      case Measure.Column(c) =>
        if (s.colVals == null) null
        else findColValStat(s.colVals, c) match {
          case null => NoCells // tail presence proves the run holds none
          case cv =>
            if ((wantSum && !cv.sumsOk) || (wantExt && !cv.rangeOk)) null
            else Totals(cv.count, cv.sum, cv.min, cv.max)
        }
    }

    /** The measure's tails in a parsed run index; null = absent. */
    def tails(ri: RunInfo, s: RunStats, idx: RunIndex): Tails = measure match {
      case Measure.Cells =>
        new Tails(ri, idx, idx.cellPos, ri.cellCount, null, 0L, null, null)
      case Measure.Keys =>
        if (idx.keyPrefix == null) null
        else new Tails(ri, idx, idx.keyPrefix, s.distinctKeys, null, 0L, null, null)
      case Measure.Values =>
        if ((wantSum && idx.valSums == null) || (wantExt && idx.valMins == null)) null
        else new Tails(ri, idx, idx.cellPos, ri.cellCount, idx.valSums,
          idx.valTotal, idx.valMins, idx.valMaxs)
      case Measure.Column(c) =>
        val cv = findColVal(idx.colVals, c)
        if (cv == null || (wantSum && !cv.sumsOk) || (wantExt && !cv.rangeOk)) null
        else new Tails(ri, idx, cv.prefixCounts, cv.totalCount, cv.prefixSums,
          cv.totalSum, cv.spanMins, cv.spanMaxs)
    }

    def set(t: Totals): Unit = { count = t.count; sum = t.sum; min = t.min; max = t.max }

    /** The window's cells in one run, its ends located by entry search; an
      * end outside the run's keys needs none. */
    def window(reader: SegmentReader, t: Tails, w: Window): Unit = {
      set(NoCells)
      val idx = t.idx
      val n = idx.keys.length
      val a = if (w.keyAbove(idx.keys(0))) -1 else lastEntryBelow(idx, w.lo)
      val b = if (w.keyBelow(idx.lastKey)) n else lastEntryBelow(idx, w.hi)
      if (b < 0 || a > b) return // every cell at or above hi, or lo >= hi
      if (a == b) scan(reader, t, a, w.lo, w.hi)
      else {
        if (a >= 0) scan(reader, t, a, w.lo, null)
        count += t.count(b) - t.count(a + 1)
        if (wantSum) sum = Math.addExact(sum, Math.subtractExact(t.sum(b), t.sum(a + 1)))
        if (wantExt) {
          var e = a + 1
          while (e < b) {
            if (t.mins(e) < min) min = t.mins(e)
            if (t.maxs(e) > max) max = t.maxs(e)
            e += 1
          }
        }
        if (b < n) scan(reader, t, b, null, w.hi)
      }
    }

    /** Folds the cells of span `e` inside [from, to) (null = open). */
    private def scan(reader: SegmentReader, t: Tails, e: Int, from: Addr, to: Addr): Unit = {
      val idx = t.idx
      // a key start is a cell whose key differs from the cell before it
      var prev: Array[Byte] =
        if (!keys || idx.keyStart(e)) null else idx.keys(e)
      val it = spanCells(reader, t.ri, idx, e)
      while (it.hasNext) {
        val c = it.next()
        if (to != null && cmpAddr(c.key, c.col, c.sub, to) >= 0) return
        if (from == null || cmpAddr(c.key, c.col, c.sub, from) >= 0) {
          if (keys) {
            if (prev == null || !java.util.Arrays.equals(prev, c.key)) count += 1
          } else if (name == null || (c.col != null && java.util.Arrays.equals(c.col, name))) {
            count += 1
            if (decode) {
              val v = valueLong(c)
              if (wantSum) sum = Math.addExact(sum, v)
              if (v < min) min = v
              if (v > max) max = v
            }
          }
        }
        prev = c.key
      }
    }

    def addTo(out: Summary, slot: Int, sign: Int): Unit = {
      out.count(slot) = addSigned(out.count(slot), sign, count)
      if (wantSum) out.sum(slot) = addSigned(out.sum(slot), sign, sum)
      if (wantExt) {
        if (min < out.min(slot)) out.min(slot) = min
        if (max > out.max(slot)) out.max(slot) = max
      }
    }
  }

  /** Per slot, field `field` (0 key, 1 col, 2 sub) of the first (`wantMin`)
    * or last cell address inside one of the slot's windows, reduced within
    * the slot by that field's byte order; null = no such cell, or a null
    * field. The one extremal seek: the first address at or above `lo` is
    * in the span holding `lo`, else it is the next entry's own cell; the
    * last address below `hi` is in the span holding `hi`. A run whose
    * first (last) key lies wholly inside the window answers a key from
    * [[RunStats]] with no index IO; runs are pruned as in [[summarize]].
    * Needs neither run disjointness nor address dedup (an overwrite never
    * removes an address) but the zero-tombstone proof, and per-entry col
    * (and sub) bytes on every run for a col (sub) field or composite ends
    * ([[RunStats.colEntries]], [[RunStats.subEntries]]). */
  def extremalAddresses(files: Seq[Path], windows: Seq[Window], slots: Int,
      field: Int, wantMin: Boolean): Array[Array[Byte]] = {
    val out = new Array[Array[Byte]](slots)
    val ws = windows.toIndexedSeq
    if (ws.nonEmpty) files.foreach { file =>
      val seg = meta(file)
      var reader: SegmentReader = null
      try {
        var r = 0
        while (r < seg.live.length) {
          val RunMeta(ri, s) = seg.live(r)
          var idx: RunIndex = null
          ws.foreach { w =>
            if (consults(seg, r, w)) {
              require(field == 0 || (s.colEntries && (field == 1 || s.subEntries)),
                "extremal col/sub seek needs per-entry col and sub bytes")
              val edge = if (wantMin) s.firstKey else s.lastKey
              val cand =
                if (field == 0 && w.keyAbove(edge) && w.keyBelow(edge)) edge
                else {
                  if (reader == null) reader = new SegmentReader(file)
                  if (idx == null) idx = readIndex(reader, ri, w)
                  val c =
                    if (wantMin) firstAtLeast(reader, ri, idx, w.lo)
                    else lastBelow(reader, ri, idx, w.hi)
                  if (c == null || !w.holds(c)) null
                  else if (field == 0) c.key else if (field == 1) c.col else c.sub
                }
              if (cand != null && (out(w.slot) == null ||
                  (Codecs.compareBytes(cand, out(w.slot)) < 0) == wantMin))
                out(w.slot) = cand
            }
          }
          r += 1
        }
      } finally if (reader != null) reader.close()
    }
    out
  }

  /** The first cell of a run at or above `lo` (null = the run's first);
    * null when none. */
  private def firstAtLeast(reader: SegmentReader, ri: RunInfo, idx: RunIndex,
      lo: Addr): Cell = {
    def entry(e: Int) = Cell(idx.keys(e), if (idx.cols == null) null else idx.cols(e),
      if (idx.subs == null) null else idx.subs(e), null, 0L, tombstone = false)
    val a = if (lo == null) -1 else lastEntryBelow(idx, lo)
    if (a < 0) return entry(0)
    val it = spanCells(reader, ri, idx, a)
    while (it.hasNext) {
      val c = it.next()
      if (cmpAddr(c.key, c.col, c.sub, lo) >= 0) return c
    }
    if (a + 1 < idx.keys.length) entry(a + 1) else null
  }

  /** The last cell of a run below `hi` (null = the run's last); null when
    * none. */
  private def lastBelow(reader: SegmentReader, ri: RunInfo, idx: RunIndex,
      hi: Addr): Cell = {
    val b = if (hi == null) idx.keys.length - 1 else lastEntryBelow(idx, hi)
    if (b < 0) return null
    var last: Cell = null
    val it = spanCells(reader, ri, idx, b)
    while (it.hasNext) {
      val c = it.next()
      if (hi != null && cmpAddr(c.key, c.col, c.sub, hi) >= 0) return last
      last = c
    }
    last
  }

  /** Per-point VALUE BYTES of one named cell column — the round-16
    * primitive behind asymmetric-budget conjunctions: `type = rare AND
    * ts BETWEEN <wide>` resolves the needle's candidates through its
    * index, then VERIFIES the wide conjunct per candidate by reading the
    * actual base cell value here (the summaries yield counts and sums,
    * not comparable values). Returns one entry per input point: the
    * (key, col) cell's value bytes, or null when this file holds no such
    * cell. CLEAN-ONLY by contract (the caller's proof established
    * tombstone-free + all-addresses-distinct buckets): a tombstoned or
    * DUPLICATE match — either would make "the value" ambiguous — declines
    * with None instead of guessing. Runs are pruned as in [[summarize]];
    * each (hitting run, point) costs one seek to the span holding the
    * key and a scan to the key's last cell. */
  def colBytesAtPoints(file: Path, points: Seq[Array[Byte]],
      col: Array[Byte]): Option[Array[Array[Byte]]] = {
    val out = new Array[Array[Byte]](points.length)
    val ws = Window.points(points).toIndexedSeq
    val seg = meta(file)
    var reader: SegmentReader = null
    try {
      var r = 0
      while (r < seg.live.length) {
        val RunMeta(ri, s) = seg.live(r)
        var idx: RunIndex = null
        ws.foreach { w =>
          if (consults(seg, r, w)) {
            if (s.colVals == null) return None
            // absent column = no values here, exactly
            if (findColValStat(s.colVals, col) != null) {
              if (reader == null) reader = new SegmentReader(file)
              if (idx == null) idx = readIndex(reader, ri, w)
              val k = w.lo.key
              val start = math.max(0, lastEntryBelow(idx, w.lo))
              val it = reader.runIterator(ri.payloadOffset + idx.offsets(start),
                ri.cellCount - idx.cellPos(start))
              var scanning = true
              while (scanning && it.hasNext) {
                val c = it.next()
                val kc = Codecs.compareBytes(c.key, k)
                if (kc > 0) scanning = false
                else if (kc == 0 && c.col != null && java.util.Arrays.equals(c.col, col)) {
                  // the clean proof promises one live cell per address; a
                  // tombstone or a second match breaks it — decline
                  if (c.tombstone || out(w.slot) != null) return None
                  out(w.slot) = c.value
                }
              }
            }
          }
        }
        r += 1
      }
      Some(out)
    } finally if (reader != null) reader.close()
  }

  /** k ++ 0x00 — the immediate successor of `k` in unsigned-lexicographic
    * byte order: the exclusive upper bound admitting exactly the byte
    * strings equal to `k`. The ONE successor primitive of the package, so
    * every half-open window ([[KeyWindows]], [[Window]]) shares the same
    * boundary convention. */
  private[cassandralike] def byteSucc(k: Array[Byte]): Array[Byte] = {
    val out = java.util.Arrays.copyOf(k, k.length + 1)
    out(k.length) = 0
    out
  }

  /** The 8-byte big-endian long value of a cell under a VSUM- or
    * CVAL-tailed run. Tail presence proves every value an 8-byte long;
    * throws the same ArithmeticException the overflow paths use, so any
    * impossible shape surfaces as a decline, never a wrong sum. */
  private def valueLong(c: Cell): Long =
    if (c.value != null && c.value.length == 8) ByteBuffer.wrap(c.value).getLong
    else throw new ArithmeticException("non-8-byte value under a value tail")

  private def findColVal(cvs: Array[ColValIdx], col: Array[Byte]): ColValIdx =
    if (cvs == null) null
    else cvs.find(cv => java.util.Arrays.equals(cv.col, col)).orNull

  private def findColValStat(cvs: Array[ColValStat], col: Array[Byte]): ColValStat =
    if (cvs == null) null
    else cvs.find(cv => java.util.Arrays.equals(cv.col, col)).orNull

  /** Tombstone NETTING: visible rows of a store with uncompacted certified
    * delete epochs = live cells − certified tombstones, per window, because
    * the bucket-level proofs ([[BucketStat.nettedOk]]) make every live cell
    * a distinct visible row and every certified tombstone the shadow of
    * exactly one of them, at the same address — so both fall in the same
    * window. A certified epoch carries its victims' values and column
    * names, so sums and per-column counts net the same way; extremes never
    * net (removing an extreme is not a subtraction).
    *
    * +1 for a live run, −1 for a certified pure-tombstone delete epoch,
    * None for anything else (mixed or uncertified tombstones → the caller
    * must decline). */
  private def nettedSign(s: RunStats): Option[Int] =
    if (s.tombstones == 0) Some(1)
    else if (s.tombstones == s.cells && s.certDeletes) Some(-1)
    else None

  /** acc ± x with overflow → ArithmeticException (a bare `sign * x`
    * would silently wrap on x == Long.MinValue). */
  private def addSigned(acc: Long, sign: Int, x: Long): Long =
    if (sign >= 0) Math.addExact(acc, x) else Math.subtractExact(acc, x)

  /** Diagnostic: number of [[SegmentMeta.stats]] fills, one per segment
    * whose index tails were parsed. MetadataAggSpec pins a commit to
    * O(new files) parses and a warm planning to none. */
  val runTailReads = new java.util.concurrent.atomic.AtomicLong()

  /** Diagnostic: run-index parses made for point windows — by
    * [[summarize]], [[extremalAddresses]] and [[colBytesAtPoints]], all
    * through one counting `readIndex`. The batched grouped
    * indexed-aggregate path pins "G groups cost the parses of one" by
    * watching this stay flat as the IN widens (the per-group re-parse it
    * replaced is SURVEY §5's round-14 "Known residual"; the batched pass
    * is §7.4 "PROBE-SLICED GROUPING"). CtxPassProbeSpec bounds it per
    * judged query. */
  val pointProbeIndexReads = new java.util.concurrent.atomic.AtomicLong()

  /** The [[RunStats]] of one run, from its parsed index. */
  private def runStatsOf(ri: RunInfo, idx: RunIndex): RunStats =
    RunStats(ri.cellCount, idx.keys(0), idx.lastKey,
      idx.colMin, idx.colMax, idx.subMin, idx.subMax,
      idx.statTombstones, idx.statKeys, idx.statAddrs,
      colEntries = idx.cols != null && !idx.cols.exists(_ == null),
      subEntries = idx.subs != null && !idx.subs.exists(_ == null),
      hasKeyPrefix = idx.keyPrefix != null,
      hasValSums = idx.valSums != null,
      valTotal = idx.valTotal,
      hasValRange = idx.valMins != null,
      valMin = idx.valMin,
      valMax = idx.valMax,
      colVals = if (idx.colVals == null) null
        else idx.colVals.map(cv => ColValStat(cv.col, cv.sumsOk,
          cv.rangeOk, cv.totalCount.toLong, cv.totalSum,
          cv.runMin, cv.runMax)),
      certDeletes = idx.certDeletes,
      tsMin = idx.tsMin,
      tsMax = idx.tsMax,
      hasTsRange = idx.hasTsRange)

  // ---- per-bucket run-stat reduction ----

  /** Aggregated run-stat judgment of ONE bucket, or of any segment subset
    * (an as-of bound's covered files) — everything the complete-pushdown
    * planner, the metadata readers and the exact-statistics path ask of a
    * bucket, reduced by [[bucketStats]] from the segments' memoized
    * [[SegmentMeta.stats]]. Cassandra keeps its statistics per SSTable
    * (`Statistics.db`) the same way, with no cross-file summary on disk. */
  final case class BucketStat(
      runs: Int, cells: Long,
      tombstoneFree: Boolean, disjoint: Boolean, allAddrsDistinct: Boolean,
      colEntriesAll: Boolean, subEntriesAll: Boolean,
      distinctKeys: Long, distinctAddrs: Long,
      valSumsAll: Boolean, valTotalOk: Boolean, valTotal: Long,
      firstKey: Array[Byte], lastKey: Array[Byte],
      colWindowsAll: Boolean, colMin: Array[Byte], colMax: Array[Byte],
      subWindowsAll: Boolean, subMin: Array[Byte], subMax: Array[Byte],
      valRangeAll: Boolean = false, valMin: Long = 0L, valMax: Long = 0L,
      /** every run's STAT counters are present (no -1 legacy sentinels):
        * distinctKeys/distinctAddrs are trustworthy numbers, not clamped
        * unknowns — consumers beyond the tombstoneFree gate must check
        * this before reading the counts */
      statsValid: Boolean = false,
      /** every run carries the CVAL per-column tail; only then is
        * [[colVals]] the complete per-column reduction (a column absent
        * from it provably has zero cells in the bucket) */
      colValsAll: Boolean = false,
      colVals: Seq[ColValStat] = Nil,
      /** TOMBSTONE-NETTING eligibility: every run is either live
        * (zero tombstones, per-run address-deduped, live runs pairwise
        * key-disjoint) or a CERTIFIED pure-tombstone delete epoch (DCRT,
        * per-run address-deduped) — then a positional count can subtract
        * deletions instead of declining until compaction. Certified
        * epochs are address-disjoint from EACH OTHER by construction
        * (each deleteWhere reads the then-visible view, which excludes
        * earlier victims), so their counts are additive without a range
        * check. */
      nettedOk: Boolean = false,
      /** visible cell addresses under netting: Σ live distinctAddrs −
        * Σ certified tombstones; valid iff [[nettedOk]] */
      nettedAddrs: Long = 0L,
      /** visible distinct keys under netting: Σ live distinctKeys −
        * Σ certified-run distinctKeys (a certified run tombstones whole
        * keys); valid iff [[nettedOk]] */
      nettedKeys: Long = 0L,
      /** every run carries the TSRG timestamp window */
      tsAll: Boolean = false,
      /** newest cell timestamp across the bucket; valid iff [[tsAll]] —
        * an AS-OF bound ≥ this proves the bounded view IS the current
        * view, keeping every metadata fast path */
      maxTs: Long = 0L,
      /** netted whole-bucket VALUE sum (live totals − certified shadowed
        * totals — certified tombstones carry their victims' values):
        * valid iff [[nettedSumOk]] (nettedOk + VSUM tails on every run +
        * no overflow) */
      nettedSumOk: Boolean = false,
      nettedSum: Long = 0L,
      /** per-column NETTED reductions (live CVAL − certified CVAL): a
        * victim cell and its certified tombstone share a column name, and
        * the tombstone carries the victim's value bytes, so count = the
        * column's VISIBLE cells and sum = its visible value total. Valid
        * iff [[nettedColValsOk]] (nettedOk + CVAL tails on every run,
        * live and certified — then a column absent from the list provably
        * has zero visible cells). Extremes never net: entries carry
        * rangeOk = false, so no consumer can surface a deleted extreme. */
      nettedColValsOk: Boolean = false,
      nettedColVals: Seq[ColValStat] = Nil)

  /** Reduce one bucket's per-run stats to its [[BucketStat]] record. */
  private def aggregateBucketStat(stats: Seq[RunStats]): BucketStat = {
    val tombstoneFree = !stats.exists(_.tombstones != 0) // legacy -1 counts dirty
    val disjoint =
      if (stats.lengthCompare(1) <= 0) true
      else {
        val byFirst = stats.sortWith((a, b) =>
          Codecs.compareBytes(a.firstKey, b.firstKey) < 0)
        (1 until byFirst.length).forall(i =>
          Codecs.compareBytes(byFirst(i - 1).lastKey, byFirst(i).firstKey) < 0)
      }
    def reduceB(vs: Seq[Array[Byte]], wantMin: Boolean): Array[Byte] =
      if (vs.isEmpty || vs.exists(_ == null)) null
      else vs.reduce((a, b) =>
        if ((Codecs.compareBytes(a, b) < 0) == wantMin) a else b)
    var valTotal = 0L
    var valOk = stats.forall(_.hasValSums)
    if (valOk) try stats.foreach(s => valTotal = Math.addExact(valTotal, s.valTotal))
    catch { case _: ArithmeticException => valOk = false; valTotal = 0L }
    // per-column CVAL reduction: columns union across runs (a run whose
    // tail lacks a column contributes zero cells of it — exact, because
    // tail presence asserts complete coverage); sums add with overflow →
    // per-column sumsOk=false, extremes reduce
    var colValsAll = stats.forall(_.colVals != null)
    val colVals: Seq[ColValStat] =
      if (!colValsAll) Nil
      else {
        val m = mutable.LinkedHashMap.empty[java.nio.ByteBuffer, ColValStat]
        stats.foreach(_.colVals.foreach { cv =>
          val k = java.nio.ByteBuffer.wrap(cv.col)
          m.get(k) match {
            case None => m.put(k, cv)
            case Some(prev) =>
              var sumsOk = prev.sumsOk && cv.sumsOk
              var sum = 0L
              if (sumsOk)
                try sum = Math.addExact(prev.sum, cv.sum)
                catch { case _: ArithmeticException => sumsOk = false }
              val rangeOk = prev.rangeOk && cv.rangeOk
              m.put(k, ColValStat(cv.col, sumsOk, rangeOk,
                prev.count + cv.count, sum,
                if (rangeOk) math.min(prev.min, cv.min) else 0L,
                if (rangeOk) math.max(prev.max, cv.max) else 0L))
          }
        })
        // runaway union (schema churn across many runs): drop rather than
        // grow the record unboundedly — costs the fast path, never truth
        if (m.size > 4 * MaxColValCols) { colValsAll = false; Nil }
        else m.values.toSeq
      }
    // tombstone-netting judgment: live runs vs certified delete epochs
    // (see [[BucketStat.nettedOk]]); any mixed or uncertified-tombstone
    // run disqualifies the whole bucket
    val liveRuns = stats.filter(_.tombstones == 0)
    val certRuns = stats.filter(s =>
      s.tombstones > 0 && s.tombstones == s.cells && s.certDeletes)
    val statsValid0 = stats.forall(s =>
      s.tombstones >= 0 && s.distinctKeys >= 0 && s.distinctAddrs >= 0)
    val liveDisjoint =
      if (liveRuns.lengthCompare(1) <= 0) true
      else {
        val byFirst = liveRuns.sortWith((a, b) =>
          Codecs.compareBytes(a.firstKey, b.firstKey) < 0)
        (1 until byFirst.length).forall(i =>
          Codecs.compareBytes(byFirst(i - 1).lastKey, byFirst(i).firstKey) < 0)
      }
    val nettedOk = statsValid0 &&
      liveRuns.length + certRuns.length == stats.length &&
      liveDisjoint &&
      liveRuns.forall(s => s.distinctAddrs == s.cells) &&
      certRuns.forall(s => s.distinctAddrs == s.cells)
    val nettedAddrs =
      liveRuns.map(_.distinctAddrs.toLong).sum - certRuns.map(_.cells.toLong).sum
    val nettedKeys =
      liveRuns.map(_.distinctKeys.toLong).sum - certRuns.map(_.distinctKeys.toLong).sum
    var nettedSum = 0L
    var nettedSumOk = nettedOk && stats.forall(_.hasValSums)
    if (nettedSumOk)
      try {
        liveRuns.foreach(s => nettedSum = Math.addExact(nettedSum, s.valTotal))
        certRuns.foreach(s => nettedSum = Math.subtractExact(nettedSum, s.valTotal))
      } catch {
        case _: ArithmeticException => nettedSumOk = false; nettedSum = 0L
      }
    // per-column NETTED twins (live − certified; see
    // [[BucketStat.nettedColValsOk]]) — the whole-store "column totals
    // after a purge" answer. Extremes never net (rangeOk = false).
    val nettedColValsOk = nettedOk && colValsAll
    val nettedColVals: Seq[ColValStat] =
      if (!nettedColValsOk) Nil
      else {
        val m = mutable.LinkedHashMap.empty[java.nio.ByteBuffer, ColValStat]
        def fold(runs: Seq[RunStats], live: Boolean): Unit =
          runs.foreach(_.colVals.foreach { cv =>
            val k = java.nio.ByteBuffer.wrap(cv.col)
            val prev = m.getOrElse(k,
              ColValStat(cv.col, sumsOk = true, rangeOk = false, 0L, 0L, 0L, 0L))
            var sumsOk = prev.sumsOk && cv.sumsOk
            var sum = prev.sum
            if (sumsOk)
              try sum =
                if (live) Math.addExact(prev.sum, cv.sum)
                else Math.subtractExact(prev.sum, cv.sum)
              catch { case _: ArithmeticException => sumsOk = false }
            m.put(k, ColValStat(cv.col, sumsOk, rangeOk = false,
              prev.count + (if (live) cv.count else -cv.count), sum, 0L, 0L))
          })
        fold(liveRuns, live = true)
        fold(certRuns, live = false)
        m.values.toSeq
      }
    BucketStat(
      runs = stats.length,
      cells = stats.map(_.cells.toLong).sum,
      tombstoneFree = tombstoneFree,
      disjoint = disjoint,
      allAddrsDistinct = !stats.exists(s => s.distinctAddrs != s.cells),
      colEntriesAll = stats.forall(_.colEntries),
      subEntriesAll = stats.forall(_.subEntries),
      distinctKeys = stats.map(s => math.max(0, s.distinctKeys).toLong).sum,
      distinctAddrs = stats.map(s => math.max(0, s.distinctAddrs).toLong).sum,
      valSumsAll = stats.forall(_.hasValSums),
      valTotalOk = valOk,
      valTotal = valTotal,
      firstKey = reduceB(stats.map(_.firstKey), wantMin = true),
      lastKey = reduceB(stats.map(_.lastKey), wantMin = false),
      colWindowsAll = stats.nonEmpty && stats.forall(s =>
        s.colMin != null && s.colMax != null),
      colMin = reduceB(stats.map(_.colMin), wantMin = true),
      colMax = reduceB(stats.map(_.colMax), wantMin = false),
      subWindowsAll = stats.nonEmpty && stats.forall(s =>
        s.subMin != null && s.subMax != null),
      subMin = reduceB(stats.map(_.subMin), wantMin = true),
      subMax = reduceB(stats.map(_.subMax), wantMin = false),
      valRangeAll = stats.forall(_.hasValRange),
      valMin = if (stats.isEmpty) 0L else stats.map(_.valMin).min,
      valMax = if (stats.isEmpty) 0L else stats.map(_.valMax).max,
      statsValid = statsValid0,
      colValsAll = colValsAll,
      colVals = colVals,
      nettedOk = nettedOk,
      nettedAddrs = if (nettedOk) nettedAddrs else 0L,
      nettedKeys = if (nettedOk) nettedKeys else 0L,
      tsAll = stats.forall(_.hasTsRange),
      maxTs = if (stats.nonEmpty && stats.forall(_.hasTsRange))
        stats.map(_.tsMax).max else 0L,
      nettedSumOk = nettedSumOk,
      nettedSum = nettedSum,
      nettedColValsOk = nettedColValsOk,
      nettedColVals = nettedColVals)
  }

  /** PER-RUN as-of gating (SURVEY §7.4 #5, round 13): partition one
    * bucket's segment files under an AS-OF bound into the COVERED subset.
    * Some(covered) when every run of every file carries the TSRG window
    * and is either fully covered (tsMax ≤ bound — every cell is in the
    * bounded view) or fully newer (tsMin > bound — no cell is, its
    * tombstones included); None when any run straddles the bound,
    * predates TSRG, or shares a file with runs on the other side (files
    * are immutable commit units, so all runs of one file share a commit —
    * a mixed file never arises from the write path, and declining keeps
    * the proof local to what the tails state).
    *
    * Soundness: the bounded view replays exactly the cells with
    * ts ≤ bound under LWW — which is exactly the covered files' cells.
    * So every per-run judgment (disjointness, dedup, netting, CVAL/VSUM
    * tails) reduced over the covered subset describes the bounded view
    * the way the whole listing's reduction describes the current one.
    * Reads memoized index tails only — no cell payload IO. */
  def asOfCoveredFiles(files: Seq[Path], bound: Long): Option[Seq[Path]] = {
    val out = Seq.newBuilder[Path]
    var i = 0
    val arr = files.toIndexedSeq
    while (i < arr.length) {
      val rs = meta(arr(i)).stats
      if (rs.exists(!_.hasTsRange)) return None
      if (rs.forall(_.tsMax <= bound)) out += arr(i)
      else if (!rs.forall(_.tsMin > bound)) return None
      i += 1
    }
    Some(out.result())
  }

  /** The [[BucketStat]] of a segment list (a bucket's listing, or an
    * as-of bound's covered files), reduced from each file's memoized
    * [[SegmentMeta.stats]]. The aggregate-planning entry point; a segment
    * whose handle is cold costs one parse of its index tails, blooms
    * included. */
  def bucketStats(files: Seq[Path]): BucketStat =
    aggregateBucketStat(files.flatMap(meta(_).stats.toSeq))

  /** Byte strings sorted ascending, duplicates dropped. */
  def sortedDistinct(xs: Seq[Array[Byte]]): Array[Array[Byte]] = {
    val sorted = xs.toArray.sortWith((a, b) => Codecs.compareBytes(a, b) < 0)
    sorted.iterator.zipWithIndex.collect {
      case (x, i) if i == 0 || !java.util.Arrays.equals(sorted(i - 1), x) => x
    }.toArray
  }

  /** Is b (null = never) a member of the SORTED set? */
  def sortedContains(set: Array[Array[Byte]], b: Array[Byte]): Boolean =
    b != null && java.util.Arrays.binarySearch(set, b,
      (x: Array[Byte], y: Array[Byte]) => Codecs.compareBytes(x, y)) >= 0

  /** Bytes a run cursor reads per block ([[SegmentReader.runIterator]]). */
  private val CursorBlock = 1 << 15

  /** Read handle for one segment file: one FileChannel that any number of
    * run cursors read positionally, so reader fd usage is O(segments),
    * never O(runs). */
  final class SegmentReader(file: Path) extends AutoCloseable {
    private val ch = java.nio.channels.FileChannel.open(
      file, java.nio.file.StandardOpenOption.READ)
    private val fileLen = ch.size()

    /** Read exactly `len` bytes at file offset `pos` into `buf[off, off +
      * len)`; the file ending first throws an EOFException naming it.
      * Positional reads leave the channel's position alone, so any number
      * of cursors share the one channel. */
    private def readFully(pos: Long, buf: Array[Byte], off: Int, len: Int): Unit = {
      val bb = ByteBuffer.wrap(buf, off, len)
      while (bb.hasRemaining) {
        if (ch.read(bb, pos + bb.position() - off) < 0)
          throw new EOFException(
            s"truncated segment (${bb.remaining} bytes missing at offset ${
              pos + bb.position() - off}): $file")
      }
    }

    def runs(): Seq[Iterator[Cell]] =
      runOffsets(file).map { case (off, n) => runIterator(off, n) }

    /** `cellCount` cells decoded from file offset `offset`: a block cursor
      * that reads [[CursorBlock]]-byte blocks and assembles lengths, ints
      * and longs from its own array (it grows to fit a larger field). A
      * field length other than -1 (null) that is negative or runs past the
      * end of the file is corruption and throws an IOException naming the
      * file and offset. */
    def runIterator(offset: Long, cellCount: Int): Iterator[Cell] = new Iterator[Cell] {
      private var buf: Array[Byte] = null
      private var bufStart = offset // file offset of buf(0)
      private var pos = 0 // next unread byte in buf
      private var lim = 0 // bytes of buf holding file data
      private var remaining = cellCount
      def hasNext: Boolean = remaining > 0
      def next(): Cell = {
        if (remaining <= 0) throw new NoSuchElementException
        val key = field(); val col = field(); val sub = field(); val value = field()
        need(9)
        val ts = (getInt(buf, pos).toLong << 32) | (getInt(buf, pos + 4) & 0xffffffffL)
        val tombstone = buf(pos + 8) != 0
        pos += 9
        remaining -= 1
        Cell(key, col, sub, value, ts, tombstone)
      }
      private def field(): Array[Byte] = {
        need(4)
        val at = bufStart + pos
        val n = getInt(buf, pos)
        pos += 4
        if (n == -1) null
        else if (n < 0 || n > fileLen - at - 4)
          throw new IOException(s"corrupt cell field length $n at offset $at: $file")
        else {
          need(n)
          val b = java.util.Arrays.copyOfRange(buf, pos, pos + n)
          pos += n
          b
        }
      }
      /** Make `n` bytes available from `pos`: keep the unread tail, grow
        * the block when `n` exceeds it, refill up to the block's end. */
      private def need(n: Int): Unit = if (lim - pos < n) {
        val keep = lim - pos
        if (buf == null) buf = new Array[Byte](math.max(CursorBlock, n))
        else {
          val nb = if (n > buf.length) new Array[Byte](math.max(n, 2 * buf.length)) else buf
          System.arraycopy(buf, pos, nb, 0, keep)
          buf = nb
        }
        bufStart += pos
        pos = 0
        val want = math.max(n - keep,
          math.min(buf.length - keep, fileLen - bufStart - keep).toInt)
        readFully(bufStart + keep, buf, keep, want)
        lim = keep + want
      }
    }

    def readIndex(ri: RunInfo): RunIndex = {
      val buf = new Array[Byte](ri.indexByteLen)
      readFully(ri.indexOffset, buf, 0, buf.length)
      parseIndex(buf)
    }

    /** Cells of one run inside the key windows `keys`: the sparse index
      * prunes a run no window meets, and each window that meets it reads
      * only its own index entries, from the last entry strictly below its
      * lower end (a hot key spans many entries, and its cells can start
      * inside the span before the first entry bearing it) up to the first
      * entry at or above its upper end. A point window [k, succ(k)) is the
      * per-key seek: an IN list or an index candidate set costs
      * O(keys × IndexEvery) cell reads per run instead of every cell of the
      * [min, max] key envelope, and a range that crosses zero on a `bytes`
      * integral key reads its two byte intervals only. Overlapping and
      * adjacent windows share one cursor, which stops past the upper end of
      * the last window starting inside it and drops the cells of keys
      * outside every window; the spans between windows are never read
      * (cellsSeekSkipped counts them).
      *
      * `cols` (with a col-tailed index) is the slice SEEK: every index
      * entry is a (key, col) address prefix, so a span that provably lies
      * inside ONE key and whose [col, nextCol] range meets no column
      * window is never read at all — a wanted-3-columns slice of a
      * million-cell row costs O(matches × IndexEvery) cell reads instead of
      * the row width. Sound because a skipped span can hold no cell (live
      * OR tombstone) of any wanted (key, col) address, and reconciliation
      * is per-address; spans containing a key boundary are always read
      * (their cols are not monotone across keys). The exact byte filter
      * downstream (BucketMergeIterator) still applies to every cell that
      * IS read. `subs` is the same seek inside one (key, col) group. */
    def rangeRun(ri: RunInfo, keys: KeyWindows,
        cols: KeyWindows = null, subs: KeyWindows = null,
        counters: ScanCounters = null): Iterator[Cell] = {
      if (ri.cellCount == 0) return Iterator.empty
      val idx = readIndex(ri)
      val spans = keys.spans.filter { case (lo, hi) =>
        (lo == null || Codecs.compareBytes(lo, idx.lastKey) <= 0) &&
          (hi == null || Codecs.compareBytes(idx.keys(0), hi) < 0)
      }
      if (spans.isEmpty) return Iterator.empty
      val seekable = idx.cols != null &&
        (cols != null || (subs != null && idx.subs != null))
      val mustRead: Int => Boolean =
        if (!seekable) _ => true else colSpanFilter(idx, cols, subs)
      val starts = spans.map { case (lo, _) =>
        if (lo == null) 0 else math.max(0, lastEntryBelow(idx, Addr(lo)))
      }
      val windows = spans.indices.iterator.map(j => (starts(j),
        if (spans(j)._2 == null) idx.keys.length
        else lastEntryBelow(idx, Addr(spans(j)._2)) + 1))
      val groups = spanGroups(ri, idx, windows, mustRead, counters)
      var j = 0
      groups.iterator.flatMap { g =>
        // every key with cells in this cursor lies in a window starting
        // below the cursor's end, so the cursor can stop past the last one
        while (j + 1 < spans.length && starts(j + 1) < g(1)) j += 1
        val hi = spans(j)._2
        val cur = spanCursor(ri, idx, g)
        val upTo = if (hi == null) cur else cur.takeWhile(c => Codecs.compareBytes(c.key, hi) < 0)
        if (keys.isAll) upTo else upTo.filter(c => keys.contains(c.key))
      }
    }

    /** Walk ascending entry windows [from, until) of one run: the spans
      * `mustRead` keeps form contiguous [startEntry, endEntry) cursors, and
      * a span shared by overlapping windows is read once. Rejected spans
      * and the gaps between windows count as cellsSeekSkipped. */
    private def spanGroups(ri: RunInfo, idx: RunIndex,
        windows: Iterator[(Int, Int)], mustRead: Int => Boolean,
        counters: ScanCounters): mutable.ArrayBuffer[Array[Int]] = {
      val groups = mutable.ArrayBuffer.empty[Array[Int]]
      var next = -1 // first entry no window has walked yet
      windows.foreach { case (a, b) =>
        if (next >= 0 && a > next && counters != null)
          counters.cellsSeekSkipped += idx.cellPos(a) - idx.cellPos(next)
        var i = math.max(a, next)
        while (i < b) {
          if (mustRead(i)) {
            if (groups.nonEmpty && groups.last(1) == i) groups.last(1) = i + 1
            else groups += Array(i, i + 1)
          } else if (counters != null) counters.cellsSeekSkipped += spanLength(ri, idx, i)
          i += 1
        }
        next = math.max(next, b)
      }
      groups
    }

    /** The cells of index spans [g(0), g(1)) of one run. */
    private def spanCursor(ri: RunInfo, idx: RunIndex, g: Array[Int]): Iterator[Cell] = {
      val endPos = if (g(1) >= idx.cellPos.length) ri.cellCount else idx.cellPos(g(1))
      runIterator(ri.payloadOffset + idx.offsets(g(0)), endPos - idx.cellPos(g(0)))
    }

    /** The column span test of [[rangeRun]]: may index span i hold a cell
      * of a wanted (key, col[, sub]) address? */
    private def colSpanFilter(idx: RunIndex, cols: KeyWindows,
        subs: KeyWindows): Int => Boolean = {
      val n = idx.cellPos.length
      val colSet = if (cols == null) null else cols.points
      val subSet = if (subs == null) null else subs.points
      // any wanted col in the inclusive span range [a, b]? (sub-columns
      // make a span's last col potentially EQUAL its end entry's col,
      // hence b inclusive; null = unknown → must read)
      def wantedIn(a: Array[Byte], b: Array[Byte]): Boolean =
        a == null || b == null || cols == null || cols.meets(a, b)
      // the sub twin, applied only to spans that provably sit inside ONE
      // (key, col) group — sub bytes are monotone only at equal (key, col)
      def subWantedIn(a: Array[Byte], b: Array[Byte]): Boolean =
        a == null || b == null || subs == null || subs.meets(a, b)
      // chunked column blooms: span i lies entirely inside chunk
      // cellPos/chunkCells (ChunkCells is a multiple of IndexEvery), so a
      // chunk whose bloom rejects every wanted point column excludes the
      // span OUTRIGHT — even across key boundaries, because the bloom saw
      // every non-null col byte form in the chunk regardless of key. The
      // final span may straddle chunks and must check all it touches.
      def bloomChunkMightContain(i: Int, set: Array[Array[Byte]],
          blooms: Array[KeyBloom], chunkCells: Int): Boolean = {
        if (set == null || blooms == null || chunkCells <= 0) return true
        val first = math.min(blooms.length - 1, idx.cellPos(i) / chunkCells)
        val last =
          if (i < n - 1) first
          else blooms.length - 1 // final span: through the run's end
        var ci = first
        while (ci <= last) {
          if (set.exists(blooms(ci).mightContain)) return true
          ci += 1
        }
        false
      }
      def chunkMightContain(i: Int): Boolean =
        bloomChunkMightContain(i, colSet, idx.colBlooms, idx.colChunkCells) &&
          bloomChunkMightContain(i, subSet, idx.subBlooms, idx.subChunkCells)
      def mustRead(i: Int): Boolean = {
        if (!chunkMightContain(i)) return false
        if (i == n - 1) {
          // final span ends at lastKey with no col upper bound: readable
          // unless it provably sits inside one key with no wanted col at
          // or above its first col
          !java.util.Arrays.equals(idx.keys(i), idx.lastKey) ||
            idx.cols(i) == null || cols == null || cols.meets(idx.cols(i), null)
        } else if (!java.util.Arrays.equals(idx.keys(i), idx.keys(i + 1))) true
        else if (!wantedIn(idx.cols(i), idx.cols(i + 1))) false
        else if (subs != null && idx.subs != null &&
            idx.cols(i) != null && idx.cols(i + 1) != null &&
            java.util.Arrays.equals(idx.cols(i), idx.cols(i + 1)))
          // one (key, col) group: the span's subs run [subs(i), subs(i+1)]
          subWantedIn(idx.subs(i), idx.subs(i + 1))
        else true
      }
      mustRead
    }

    /** Range cursors over every run, bloom-pruned and key-seeked when the
      * scan is a point lookup: `keys` made of points only asserts the
      * caller needs ONLY cells whose key is in the set (a pushed EqualTo/In
      * or an index candidate set, already cut to the keys that route to
      * this bucket, re-checked row-exact downstream). A run whose bloom
      * rejects every key is skipped without reading its index or payload;
      * otherwise its index is read once and only the keys its bloom passes
      * seek their own windows through it (see [[rangeRun]]). Blooms have no
      * false negatives, and LWW/tombstone reconciliation is per-address, so
      * dropping runs and spans that provably hold none of the keys
      * reconciles identically for the keys that remain; every run stays
      * one address-sorted cursor. */
    def rangeRuns(keys: KeyWindows,
        counters: ScanCounters = null,
        cols: KeyWindows = null,
        subs: KeyWindows = null): Seq[Iterator[Cell]] = {
      val seg = meta(file)
      val infos = seg.liveInfos
      val blooms = if (keys.points == null) null else seg.blooms
      val colSet = if (cols == null) null else cols.points
      val subSet = if (subs == null) null else subs.points
      // run-wide column and sub windows come from the run stats, read
      // only for a sliced scan
      val stats = if (cols == null && subs == null) null else seg.stats
      val colBlooms = if (colSet == null) null else seg.colBlooms
      val subBlooms = if (subSet == null) null else seg.subBlooms
      infos.indices.map { i =>
        val ri = infos(i)
        val runKeys =
          if (blooms == null || blooms(i) == null) keys
          else keys.filterPoints(blooms(i).mightContain)
        if (runKeys.isEmpty) {
          if (counters != null && blooms != null) counters.runsBloomSkipped += 1
          Iterator.empty
        } else if (cols != null && stats(i).colMin != null &&
            stats(i).colMax != null && !cols.meets(stats(i).colMin, stats(i).colMax)) {
          // run-wide min/max clustering: no wanted column can be in this
          // run, so neither can a tombstone for one — skip it whole
          if (counters != null) counters.runsColSkipped += 1
          Iterator.empty
        } else if (colBlooms != null && colBlooms(i) != null &&
            !colSet.exists(c => colBlooms(i).exists(_.mightContain(c)))) {
          // distinct-column blooms: the wanted columns fall INSIDE the
          // run's [colMin, colMax] window (or the window check would have
          // fired) but none is present in ANY chunk — the false-window IO
          // the min/max check can't prune. No false negatives; tombstone
          // cells' columns were added too, so reconciliation is unaffected.
          if (counters != null) counters.runsColBloomSkipped += 1
          Iterator.empty
        } else if (subs != null && stats(i).subMin != null &&
            stats(i).subMax != null && !subs.meets(stats(i).subMin, stats(i).subMax)) {
          // run-wide [subMin, subMax]: no wanted SUB-column can be in this
          // run (nor a tombstone for one — tombstones carry their sub
          // bytes and fed the window too) — skip it whole
          if (counters != null) counters.runsSubSkipped += 1
          Iterator.empty
        } else if (subBlooms != null && subBlooms(i) != null &&
            !subSet.exists(s => subBlooms(i).exists(_.mightContain(s)))) {
          // distinct-SUB blooms: the wanted subs fall inside the run's
          // [subMin, subMax] window but none is present in any chunk —
          // the sub twin of the column false-window skip
          if (counters != null) counters.runsSubSkipped += 1
          Iterator.empty
        } else {
          if (counters != null) counters.runsRead += 1
          rangeRun(ri, runKeys, cols, subs, counters)
        }
      }
    }

    def close(): Unit = ch.close()
  }

  /** All cells of a segment in stored (run) order — eager test/tooling view
    * (materializes, then closes the channel deterministically). */
  def readSegment(file: Path): Seq[Cell] = {
    val r = new SegmentReader(file)
    try r.runs().flatMap(_.toSeq) finally r.close()
  }

  /** K-way streaming merge of sorted cell runs: yields cells in address
    * order, reconciling duplicate addresses by timestamp (LWW, value-byte
    * tie-break) as they surface; holds one buffered head per run.
    * `dropTombstones=true` is the scan view (the scan-level filter,
    * input/CassandraHiveRecordReader.java:205-207); `false` preserves
    * tombstones for compaction, where they must keep shadowing older cells
    * in OTHER segments.
    *
    * `counterMerge=true` switches reconciliation from LWW to SUMMING: every
    * same-address cell is an 8-byte-long increment and the merged value is
    * their total — the store-level counter semantic the reference left as a
    * TODO (serde2/CassandraPut.java:103 in /root/reference). A tombstone
    * resets the counter: increments at or below the newest tombstone
    * timestamp are discarded. As in Cassandra, deleting then re-incrementing
    * a counter is only reliable when the new increments carry timestamps
    * above the delete's; compaction collapses increment history. Memory is
    * O(one address's cells) — the same bound as one wide row. */
  final class MergeIterator(runSeq: Seq[Iterator[Cell]], dropTombstones: Boolean,
      counterMerge: Boolean = false, counters: ScanCounters = null)
    extends Iterator[Cell] {
    private val heap =
      new mutable.PriorityQueue[scala.collection.BufferedIterator[Cell]]()(
        Ordering.by[scala.collection.BufferedIterator[Cell], Cell](_.head)(
          addressOrdering.reverse))
    runSeq.foreach { r => val b = r.buffered; if (b.hasNext) heap.enqueue(b) }

    private var nextCell: Cell = advance()

    private def advance(): Cell = {
      while (heap.nonEmpty) {
        var winner: Cell = null
        val group = if (counterMerge) mutable.ArrayBuffer.empty[Cell] else null
        var addr: Cell = null // fixed representative for address comparisons
        // drain every run whose head sits at the globally-least address
        var more = true
        while (more) {
          val it = heap.dequeue()
          var c = it.next()
          if (addr == null) addr = c
          if (counterMerge) group += c
          else if (winner == null || newerThan(c, winner)) winner = c
          while (it.hasNext && addrEq(it.head, addr)) {
            c = it.next()
            if (counterMerge) group += c
            else if (newerThan(c, winner)) winner = c
          }
          if (it.hasNext) heap.enqueue(it)
          more = heap.nonEmpty && addrEq(heap.head.head, addr)
        }
        val out = if (counterMerge) reconcileCounter(group.toSeq) else winner
        if (dropTombstones && out.tombstone) {
          if (counters != null) counters.tombstonesDropped += 1
        } else {
          if (counters != null) {
            counters.cellsMerged += 1
            if (counters.cellsMerged > counters.mergeCap) throw new ScanCounters.OverCap
          }
          return out
        }
      }
      null
    }

    def hasNext: Boolean = nextCell != null
    def next(): Cell = { val c = nextCell; nextCell = advance(); c }
  }

  /** Counter reconciliation of one address group: sum the live 8-byte-long
    * increments newer than the newest tombstone; the merged cell carries the
    * newest contributing timestamp. All increments gone (or shadowed) ->
    * the tombstone survives with its own timestamp. */
  private def reconcileCounter(group: Seq[Cell]): Cell = {
    var tombTs = Long.MinValue
    group.foreach(c => if (c.tombstone) tombTs = math.max(tombTs, c.ts))
    var sum = 0L
    var maxTs = Long.MinValue
    var live = false
    group.foreach { c =>
      if (!c.tombstone && c.ts > tombTs) {
        if (c.value == null || c.value.length != 8)
          throw new IOException(
            s"counter.merge requires 8-byte long increment cells, got ${
              if (c.value == null) "null" else c.value.length.toString} bytes")
        sum += ByteBuffer.wrap(c.value).getLong
        maxTs = math.max(maxTs, c.ts)
        live = true
      }
    }
    val t = group.head
    if (!live) Cell(t.key, t.col, t.sub, Array.emptyByteArray, tombTs, tombstone = true)
    else Cell(t.key, t.col, t.sub,
      ByteBuffer.allocate(8).putLong(sum).array(), maxTs, tombstone = false)
  }

  /** Whether a table reconciles same-address cells by counter summation
    * (`counter.merge` table property) — the policy compaction must honor. */
  def counterMergeEnabled(tableDir: String): Boolean =
    readMeta(tableDir).exists(_.properties.get("counter.merge").exists(_.toBoolean))

  /** The bucket scan: merge every run of every segment, live cells only,
    * optionally restricted to key range [lower, upper) — the sub-bucket
    * split unit. Every segment participates in every range, so LWW and
    * tombstone reconciliation stay exact no matter how a bucket is split;
    * the run index makes each range read ~its share of the bytes. */
  final class BucketMergeIterator(tableDir: String, bucket: Int,
      keys: KeyWindows = KeyWindows.All,
      asOf: Long = Long.MaxValue,
      ttl: Long = 0L, now: Long = 0L,
      counterMerge: Boolean = false,
      onlyFiles: Seq[Path] = null,
      counters: ScanCounters = null,
      cols: KeyWindows = null,
      subs: KeyWindows = null)
    extends Iterator[Cell] with AutoCloseable {
    // onlyFiles: the segments to merge, null = every committed segment of
    // the bucket, listed here. A scan reader passes the listing it already
    // made; the change feed passes ONLY one micro-batch's delta, and LWW
    // and tombstone reconciliation then apply within the restricted set,
    // which is exactly the batch-local view a change feed emits.
    // keys: only cells inside these key windows are merged (a finite key
    // set seeks key by key), and when no window is left no segment is
    // opened at all
    private val segs =
      (if (keys.isEmpty) Nil
       else if (onlyFiles != null) onlyFiles
       else segmentFiles(tableDir, bucket))
        .map(new SegmentReader(_))
    if (counters != null) counters.segmentsRead += segs.size
    private val raw =
      if (keys.isAll && cols == null && subs == null) {
        val rs = segs.flatMap(_.runs())
        if (counters != null) counters.runsRead += rs.size
        rs
      } else segs.flatMap(_.rangeRuns(keys, counters, cols, subs))
    // snapshot read: cells written after the as-of bound never enter LWW
    // reconciliation, so the winner per address is the latest cell <= asOf.
    // TTL (table-level default_time_to_live): a live cell expires once
    // now >= ts + ttl; tombstones never expire (they must keep shadowing).
    // cols: the SLICE seek (pushed EqualTo/In/comparisons on the
    // clustering column, and the static slice knobs) — only cells whose
    // column bytes lie in the windows enter the merge at all, so a wide
    // row's non-matching cells are never merged, reconciled, buffered, or
    // decoded (reader memory drops from O(row width) to O(matches); the
    // cellsMerged metric counts matches, not the row width), and the
    // (key, col)-prefixed run-index entries let rangeRun skip whole index
    // spans' IO (cellsSeekSkipped counts them). Sound for
    // LWW/tombstone reconciliation because it is per-ADDRESS: every cell
    // of a matching (key, col) address is kept, every cell of a
    // non-matching one dropped — the kept addresses reconcile exactly as
    // in the full merge, and a tombstone for a matching column shares its
    // column bytes, so it is kept and keeps shadowing. subs: the
    // `:subcolumn` twin (a null sub matches no window, like SQL NULL).
    private def prune(it: Iterator[Cell]): Iterator[Cell] = {
      val a0 = if (cols == null) it else it.filter(c => cols.contains(c.col))
      val s1 = if (subs == null) a0 else a0.filter(c => subs.contains(c.sub))
      val a = if (asOf == Long.MaxValue) s1 else s1.filter(_.ts <= asOf)
      if (ttl <= 0L || now <= 0L) a
      else a.filter(c => c.tombstone || now < c.ts + ttl)
    }
    private val inner = new MergeIterator(raw.map(prune), dropTombstones = true,
      counterMerge = counterMerge, counters = counters)
    def hasNext: Boolean = inner.hasNext
    def next(): Cell = inner.next()
    def close(): Unit = segs.foreach(_.close())
  }

  /** Task-local compaction: rewrite a multi-run segment as a single sorted
    * run (streaming merge — memory stays O(runs), not O(cells)). Runs at
    * DataWriter.commit on the segments whose writer had to open more than
    * one run (a spill that did not sort after the open run — see
    * [[SegmentWriter]]), so every COMMITTED segment holds exactly one run
    * and a bucket read needs one cursor per segment. Tombstones survive (they
    * shadow cells in other segments); duplicate addresses within the segment
    * reconcile here — LWW is associative, so merging a subset first yields
    * the same winner the full merge would. */
  def compactSegment(file: Path): Unit = {
    if (runOffsets(file).size <= 1) return
    // counter tables skip segment-scope collapse: LWW would EAT increments,
    // and a partial counter collapse can't preserve a tombstone alongside
    // the newer increments it must not absorb. Full-bucket compaction (all
    // segments, whole groups visible) is the collapse point for counters.
    if (counterMergeEnabled(file.getParent.getParent.toString)) return
    val tmp = file.resolveSibling(file.getFileName.toString + ".compact")
    val reader = new SegmentReader(file)
    try {
      writeSegment(tmp, new MergeIterator(reader.runs(), dropTombstones = false))
    } finally reader.close()
    Files.move(tmp, file, java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    forgetSegments(file)
  }

  /** Make staged segments visible with a MONOTONE commit stamp: every new
    * segment's mtime is strictly above every already-visible segment's
    * (and at least the wall clock), then the atomic rename publishes it.
    * The mtime is the change feed's admission-order authority — stamping
    * makes cross-epoch commit order exact even when two commits land
    * within one clock millisecond, where raw rename times would tie and
    * fall back to (order-meaningless) name comparison. Files of ONE commit
    * share one stamp (one epoch — intra-commit order is meaningless by
    * construction). Single-maintainer discipline means no racing
    * committers per table; a reader sees only the final stamped value
    * because the stamp lands BEFORE the rename. Returns the committed
    * paths. */
  def commitSegments(tableDir: String, staged: Seq[(Path, String)]): Seq[Path] = {
    if (staged.isEmpty) return Nil
    val sst = Paths.get(tableDir, SstDir)
    val floor = allSegmentFiles(tableDir).values.flatten.foldLeft(0L) { (m, p) =>
      math.max(m, try Files.getLastModifiedTime(p).toMillis
        catch { case _: java.io.IOException => 0L })
    }
    val stamp = java.nio.file.attribute.FileTime.fromMillis(
      math.max(System.currentTimeMillis(), floor + 1))
    staged.foreach { case (tmp, _) => Files.setLastModifiedTime(tmp, stamp) }
    staged.map { case (tmp, name) =>
      Files.move(tmp, sst.resolve(name), java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    }
  }

  def segmentFiles(tableDir: String, bucket: Int): Seq[Path] = {
    val d = Paths.get(tableDir, SstDir)
    if (!Files.isDirectory(d)) return Nil
    val prefix = s"b$bucket-"
    val s = Files.list(d)
    try {
      import scala.jdk.CollectionConverters._
      // committed segments are exactly `b<bucket>-<uuid>.bin`: the suffix
      // requirement makes EVERY staging convention (tmp- prefix or any
      // extra suffix) invisible to readers, not just the ones we know about
      s.iterator().asScala.filter { p =>
        val n = p.getFileName.toString
        n.startsWith(prefix) && n.endsWith(".bin")
      }.toSeq.sortBy(_.getFileName.toString)
    } finally s.close()
  }

  /** Every segment file grouped by bucket, from ONE directory listing — the
    * planning path (stats + bucket pruning + partition planning) shares a
    * single walk instead of listing per bucket per step; at many-segment
    * scale the listing itself is the driver-side cost. */
  def allSegmentFiles(tableDir: String): Map[Int, Seq[Path]] = {
    val d = Paths.get(tableDir, SstDir)
    if (!Files.isDirectory(d)) return Map.empty
    val s = Files.list(d)
    try {
      import scala.jdk.CollectionConverters._
      s.iterator().asScala.flatMap { p =>
        p.getFileName.toString match {
          case CommittedName(b) => Some(b.toInt -> p)
          case _ => None
        }
      }.toSeq.groupMap(_._1)(_._2)
        .view.mapValues(_.sortBy(_.getFileName.toString)).toMap
    } finally s.close()
  }

  /** All live cells of one bucket after last-write-wins reconciliation, in
    * address order — materialized convenience over [[BucketMergeIterator]]
    * for tests and tooling; the scan itself streams. */
  def mergedBucket(tableDir: String, bucket: Int): Seq[Cell] = {
    val it = new BucketMergeIterator(tableDir, bucket)
    try it.toSeq finally it.close()
  }

  /** Timestamp reconciliation; ties break on value bytes then liveness,
    * deterministically (Cassandra breaks ts ties on value comparison). */
  private def newerThan(a: Cell, b: Cell): Boolean =
    if (a.ts != b.ts) a.ts > b.ts
    else if (a.tombstone != b.tombstone) a.tombstone
    else Codecs.compareBytes(
      if (a.value == null) Array.emptyByteArray else a.value,
      if (b.value == null) Array.emptyByteArray else b.value) > 0

  // ---- meta.json ----

  final case class Meta(schemaDdl: String, mapping: String, properties: Map[String, String])

  def writeMeta(tableDir: String, meta: Meta): Unit = {
    Files.createDirectories(Paths.get(tableDir, SstDir))
    def q(s: String) = "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
    val props = meta.properties.toSeq.sortBy(_._1)
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ", ", "}")
    val json = s"""{"schema": ${q(meta.schemaDdl)}, "mapping": ${q(meta.mapping)}, "properties": $props}"""
    Files.write(Paths.get(tableDir, MetaFile), json.getBytes(UTF_8))
  }

  def readMeta(tableDir: String): Option[Meta] = {
    val p = Paths.get(tableDir, MetaFile)
    if (!Files.exists(p)) return None
    val json = new String(Files.readAllBytes(p), UTF_8)
    // Minimal JSON object parser for the flat shape written above.
    def unq(s: String): String = {
      val b = new StringBuilder; var i = 0
      while (i < s.length) {
        s.charAt(i) match {
          case '\\' =>
            s.charAt(i + 1) match {
              case 'n' => b.append('\n'); i += 2
              case 'u' => b.append(Integer.parseInt(s.substring(i + 2, i + 6), 16).toChar); i += 6
              case c => b.append(c); i += 2
            }
          case c => b.append(c); i += 1
        }
      }
      b.toString
    }
    val strLit = "\"((?:[^\"\\\\]|\\\\.)*)\"".r
    def field(name: String): String = {
      val m = (s""""$name"\\s*:\\s*"((?:[^"\\\\]|\\\\.)*)"""").r
        .findFirstMatchIn(json).getOrElse(
          throw new IllegalStateException(s"meta.json missing $name"))
      unq(m.group(1))
    }
    val propsJson = json.substring(json.indexOf("\"properties\""))
    val props = strLit.findAllMatchIn(propsJson).map(m => unq(m.group(1)))
      .toSeq.drop(1).grouped(2).collect { case Seq(k, v) => k -> v }.toMap
    Some(Meta(field("schema"), field("mapping"), props))
  }

  /** Full-bucket compaction (maintenance): merge every segment of a bucket
    * into one single-run segment. Because ALL segments participate, nothing
    * older can remain shadowed, so tombstones are dropped here — the LSM
    * answer to unbounded segment growth under many append jobs (each job's
    * tasks add one segment per touched bucket). Single-maintainer discipline:
    * concurrent readers keep their already-open channels (files are deleted
    * only after the replacement is visible), but concurrent writers must be
    * quiesced, as with any compaction. */
  def compactBucket(tableDir: String, bucket: Int): Unit = {
    val files = segmentFiles(tableDir, bucket)
    if (files.size <= 1 && files.forall(runOffsets(_).size <= 1)) return
    val readers = files.map(new SegmentReader(_))
    val committed = try {
      // counter tables collapse increment history here — ALL segments
      // participate, so every address group is complete and the summed
      // cell is exact (the segment-scope path must not do this)
      val merged = new MergeIterator(readers.flatMap(_.runs()),
        dropTombstones = true, counterMerge = counterMergeEnabled(tableDir))
      val target = Paths.get(tableDir, SstDir, newSegmentName(bucket))
      // stage under the writer's `tmp-` convention: a `b<bucket>-…` name
      // (even with an extra suffix) matches segmentFiles' prefix filter, so
      // a crash between write and move would leave a truncated file every
      // later scan opens as a real segment — the same trap the advisor
      // caught in deleteWhere's old `.tmp` staging
      val tmp = target.resolveSibling(
        s"tmp-compact-${UUID.randomUUID()}-b$bucket.bin")
      writeSegment(tmp, merged)
      // provenance sidecar BEFORE the segment becomes visible: a compacted
      // segment carries no information beyond its inputs (merge only
      // shadows and drops), so a change feed that has consumed every input
      // can mark the output consumed WITHOUT re-emitting the bucket — the
      // feed-aware compaction contract (see CellChangeFeedStream). A crash
      // between the two writes leaves an orphan sidecar, which nothing
      // reads (readers key off the segment name).
      Files.write(provFile(target),
        files.map(_.getFileName.toString).sorted.mkString("\n")
          .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      commitSegments(tableDir, Seq(tmp -> target.getFileName.toString))
    } finally readers.foreach(_.close())
    files.foreach { f =>
      Files.deleteIfExists(f)
      Files.deleteIfExists(provFile(f)) // an input may itself be a compaction output
      forgetSegments(f)
    }
    warmSegments(committed)
  }

  /** Compaction-provenance sidecar of a committed segment: the input
    * segment names its merge consumed, one per line. Not a `.bin`, so
    * invisible to every segment listing. */
  def provFile(segment: Path): Path =
    segment.resolveSibling(segment.getFileName.toString + ".prov")

  /** Input names recorded for a compacted segment; None = not a compaction
    * output (or written before provenance existed — treated as fresh data,
    * the safe direction). */
  def provenance(tableDir: String, segmentName: String): Option[Set[String]] = {
    val p = Paths.get(tableDir, SstDir, segmentName + ".prov")
    if (!Files.exists(p)) None
    else Some(new String(Files.readAllBytes(p),
      java.nio.charset.StandardCharsets.UTF_8)
      .split("\n").map(_.trim).filter(_.nonEmpty).toSet)
  }

  /** Write address-ordered cells to `target` as a one-run segment. */
  private def writeSegment(target: Path, cells: Iterator[Cell]): Unit = {
    val w = new SegmentWriter(target)
    try cells.foreach(w.add) finally w.close()
  }

  /** One segment file written run by run, each run streamed through a
    * [[RunEncoder]] straight to the file: a run's header is a placeholder
    * until [[closeRun]] patches it in place, so nothing but the encoder's
    * block buffer and index state is held in memory however long a run
    * grows. Cells [[add]]ed in address order extend the open run;
    * [[append]] hands over one sorted spill and extends the open run when
    * the spill sorts wholly after it, else closes that run and opens a new
    * one — so a writer fed key-ordered spills writes ONE run and commit
    * has nothing to compact. A segment holds at least one run: closing a
    * writer that saw no cell writes an empty one (what full compaction
    * leaves when every cell was deleted). */
  final class SegmentWriter(file: Path) extends AutoCloseable {
    private val ch = java.nio.channels.FileChannel.open(file,
      java.nio.file.StandardOpenOption.CREATE,
      java.nio.file.StandardOpenOption.TRUNCATE_EXISTING,
      java.nio.file.StandardOpenOption.WRITE)
    private var end = 0L // file length written so far
    private def writeAt(bb: ByteBuffer, at: Long): Unit = {
      var p = at
      while (bb.hasRemaining) p += ch.write(bb, p)
    }
    /** Append `b[0, n)` at the end of the file. */
    private def put(b: Array[Byte], n: Int): Unit = {
      writeAt(ByteBuffer.wrap(b, 0, n), end)
      end += n
    }
    put(ByteBuffer.allocate(SegmentHeaderLen.toInt)
      .putInt(SegmentMagic).putInt(FormatVersion).array(), SegmentHeaderLen.toInt)
    private var enc: RunEncoder = null
    private var runStart = 0L
    private var closedRuns = 0

    /** Runs written so far, the open one included. */
    def runs: Int = closedRuns + (if (enc == null) 0 else 1)

    def add(c: Cell): Unit = {
      if (enc == null) openRun()
      enc.add(c)
    }

    def append(sorted: scala.collection.Seq[Cell]): Unit = {
      if (sorted.isEmpty) return
      if (enc != null && addressOrdering.compare(enc.last, sorted.head) >= 0)
        closeRun()
      sorted.foreach(add)
    }

    private def openRun(): Unit = {
      runStart = end
      end += RunHeaderLen
      enc = new RunEncoder(put)
    }

    private def closeRun(): Unit = if (enc != null) {
      val index = enc.finish(certifiedDeletes = false)
      put(index, index.length)
      val header = ByteBuffer.allocate(RunHeaderLen.toInt).putInt(enc.count)
        .putLong(enc.payloadLen).putInt(index.length)
      header.flip()
      writeAt(header, runStart)
      enc = null
      closedRuns += 1
    }

    def close(): Unit = {
      try {
        if (runs == 0) openRun()
        closeRun()
      } finally ch.close()
    }
  }

  def dropTable(tableDir: String): Unit = {
    val root = Paths.get(tableDir)
    if (!Files.exists(root)) return
    import scala.jdk.CollectionConverters._
    val walk = Files.walk(root)
    try walk.sorted(java.util.Comparator.reverseOrder[Path]())
      .iterator().asScala.foreach(Files.delete)
    finally walk.close()
    forgetSegments(root)
  }

  /** Drop every COMMITTED segment. Runs inside the overwrite job's commit,
    * AFTER tasks have staged their `tmp-*` files in the same directory —
    * those must survive (they are the overwrite's own data, renamed right
    * after this call), so only `b<bucket>-*.bin` committed names go. */
  def truncate(tableDir: String): Unit = {
    val sst = Paths.get(tableDir, SstDir)
    if (!Files.isDirectory(sst)) return
    import scala.jdk.CollectionConverters._
    val s = Files.list(sst)
    try s.iterator().asScala
      .filter(_.getFileName.toString.startsWith("b"))
      .foreach(Files.delete)
    finally s.close()
    forgetSegments(sst)
  }

  def newSegmentName(bucket: Int): String = s"b$bucket-${UUID.randomUUID()}.bin"
}

/** Chunked per-key cell iteration — the wide-row paged scan (S4). The store
  * equivalent of the reference's slice paging over Thrift
  * (input/ColumnFamilyWideRowRecordReader.java:240-385): fetch `pageSize`
  * cells from a start column, advance the slice start past the last cell
  * seen, and trim the overlap of every subsequent page (the reference drops
  * the duplicate first COLUMN at :352-356 — for a super CF that unit is the
  * whole super column); terminate when a page comes back short, with a
  * no-progress guard (:319-322).
  *
  * `fetch(startCol, count)` models the remote call: it returns up to `count`
  * cells with col >= startCol (or <= for reversed order) in comparator order.
  * `order` compares two column names in SCAN order (negated comparator when
  * reversed) so the no-progress guard works in either direction.
  *
  * Paging tracks the full cell ADDRESS (col, sub), not the column alone:
  * super-column cells share a column name across sub-cells, so a page
  * boundary can fall mid-column-group. The col-only form either replayed
  * the group's remainder or tripped the no-progress guard and silently
  * truncated the row at one page — invisible until a row outgrew a single
  * page (the sf1 super-pivot regression: every 6000-cell row read exactly
  * pageSize cells). When a single column group outgrows the page, the
  * re-fetch widens geometrically until it clears the group — the memory
  * bound is one column group, the same unit the reference materializes. */
final class WideRowIterator(
    fetch: (Array[Byte], Int) => Seq[Cell],
    pageSize: Int,
    order: (Array[Byte], Array[Byte]) => Int = Codecs.compareBytes) extends Iterator[Cell] {
  require(pageSize > 1, "pageSize must exceed 1 for paging to progress")
  private def nb(b: Array[Byte]): Array[Byte] =
    if (b == null) Array.emptyByteArray else b
  /** Scan-order comparison of a cell's address vs the last address seen. */
  private def addrCmp(c: Cell, col: Array[Byte], sub: Array[Byte]): Int = {
    val k = order(c.col, col)
    if (k != 0) k else order(nb(c.sub), nb(sub))
  }
  // pages are indexed: hasNext and next index into them once per cell
  private var page: IndexedSeq[Cell] = fetch(null, pageSize).toIndexedSeq
  // a raw (untrimmed) page shorter than requested is the row's last page
  private var finalPage = page.length < pageSize
  private var idx = 0
  private var lastCol: Array[Byte] = _
  private var lastSub: Array[Byte] = _
  private var exhausted = page.isEmpty

  def hasNext: Boolean = {
    if (exhausted) return false
    if (idx < page.length) return true
    if (finalPage) { exhausted = true; return false }
    // next page re-slices from the last column seen (inclusive start on the
    // remote side) and trims every cell at or before the last ADDRESS —
    // widening the fetch when a whole column group was already consumed
    // (its cells all trim away and a same-size re-fetch could never
    // progress past a group larger than one page)
    var cnt = pageSize
    var np = fetch(lastCol, cnt).toIndexedSeq
    var fp = np.length < cnt
    var trimmed = np.dropWhile(c => addrCmp(c, lastCol, lastSub) <= 0)
    while (trimmed.isEmpty && !fp) {
      cnt *= 2
      np = fetch(lastCol, cnt).toIndexedSeq
      fp = np.length < cnt
      trimmed = np.dropWhile(c => addrCmp(c, lastCol, lastSub) <= 0)
    }
    finalPage = fp
    // no-progress guard: the page must advance strictly past the last
    // address seen, else a misbehaving fetch would replay cells forever
    // (reference guard: ColumnFamilyWideRowRecordReader.java:319-322)
    if (trimmed.isEmpty || addrCmp(trimmed.head, lastCol, lastSub) <= 0) {
      exhausted = true; return false
    }
    page = trimmed
    idx = 0
    true
  }

  def next(): Cell = {
    if (!hasNext) throw new NoSuchElementException
    val c = page(idx); idx += 1; lastCol = c.col; lastSub = c.sub; c
  }
}
