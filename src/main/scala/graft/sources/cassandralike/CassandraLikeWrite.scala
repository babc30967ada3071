package graft.sources.cassandralike

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths, StandardCopyOption}
import java.util.UUID

import scala.collection.mutable

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.types._

/** Write path (W1–W5): rows become cell mutations buffered per token bucket
  * and flushed every `batch.mutate.size` cells (default 500 — the reference's
  * batch_mutate threshold, serde/AbstractColumnSerDe.java:75,
  * serde2/CassandraPut.java:95-141). Task attempts write temp segment files
  * and rename on job commit, so retries are clean (replacing the reference's
  * at-least-once non-transactional sink, HiveCassandraOutputFormat.java:47-51,
  * with Spark's epoch commit semantics). */
class CellWriteBuilder(table: CassandraLikeTable, info: LogicalWriteInfo)
  extends WriteBuilder with SupportsTruncate {

  private var doTruncate = false
  override def truncate(): WriteBuilder = { doTruncate = true; this }

  /** The write declares its ideal input layout instead of hand-shuffling:
    * CLUSTER by row key (all cells of a storage row land in one task → one
    * segment, and write parallelism comes from Spark's shuffle rather than
    * whatever partitioning the source happened to have — a single-partition
    * source would otherwise funnel the whole job through one writer task),
    * ORDER by the cell address (key, then clustering column for transposed
    * mappings), so per-bucket runs arrive presorted and the writer's run
    * sort is an O(n) adaptive pass. Spark inserts the exchange/sort only
    * when the child's layout doesn't already satisfy it. */
  override def build(): Write = new Write
    with RequiresDistributionAndOrdering {
    import org.apache.spark.sql.connector.distributions.{Distribution, Distributions}
    import org.apache.spark.sql.connector.expressions.{Expressions, NullOrdering, SortDirection, SortOrder}

    private def orderCols: Seq[String] = {
      val m = table.mapping
      val key = m.keyField.name
      if (m.transposed) {
        val sub = if (m.hasSubColumn) Seq(m.field(FieldRole.TransSubColumn).name) else Nil
        key +: m.field(FieldRole.TransColumn).name +: sub
      } else Seq(key)
    }

    override def requiredDistribution(): Distribution =
      Distributions.clustered(Array(Expressions.identity(table.mapping.keyField.name)))

    override def requiredOrdering(): Array[SortOrder] =
      orderCols.map(c => Expressions.sort(Expressions.identity(c),
        SortDirection.ASCENDING)).toArray

    override def toBatch: BatchWrite = {
      // session-conf overrides resolved here, on the driver (D3)
      import scala.jdk.CollectionConverters._
      val merged = table.withConfOverrides(
        info.options().asCaseSensitiveMap().asScala.toMap)
      new CellBatchWrite(table, merged.asJava, doTruncate)
    }

    /** `writeStream.format("cassandralike")` — the store as a NATIVE
      * streaming sink (the inverse of CellChangeFeedStream). Same required
      * distribution/ordering, same writer tasks, same commit machinery as
      * the batch path; per-epoch idempotence comes from commit markers
      * (see [[CellStreamingWrite]]). */
    override def toStreaming: org.apache.spark.sql.connector.write.streaming.StreamingWrite = {
      import scala.jdk.CollectionConverters._
      val merged = table.withConfOverrides(
        info.options().asCaseSensitiveMap().asScala.toMap)
      new CellStreamingWrite(table, merged, doTruncate, info.queryId())
    }
  }
}

final case class CellWriterCommit(
    files: Seq[(Int, String)],
    // secondary-index staged segments: (column, bucket, tmp name) under
    // idx_<column>/sst — renamed BEFORE the base files (see commit)
    idxFiles: Seq[(String, Int, String)] = Nil) extends WriterCommitMessage

/** Commit/abort machinery shared by the batch and streaming writes: one
  * epoch's staged temp segments (base + index sub-stores) become visible
  * through the SAME sequence whichever path produced them. */
private[graft] object CellCommit {

  /** W4: consistency validated on the driver; invalid values coerce to ONE
    * (serde2/CassandraAbstractPut.java:39-50). */
  def writerFactory(table: CassandraLikeTable,
      options: Map[String, String]): CellWriterFactory = {
    val consistency = Options.effective(options, table.tableProps, Options.Consistency)
      .map(_.toUpperCase) match {
      case Some(c) if Set("ONE", "TWO", "THREE", "QUORUM", "ALL", "ANY",
        "LOCAL_QUORUM", "EACH_QUORUM").contains(c) => c
      case _ => "ONE"
    }
    CellWriterFactory(table.dir, table.tableSchema, table.mapping.fields,
      options, table.tableProps, consistency)
  }

  def commitEpoch(table: CassandraLikeTable, options: Map[String, String],
      truncate: Boolean, messages: Array[WriterCommitMessage]): Unit = {
    if (truncate) {
      CellStore.truncate(table.dir)
      // an overwrite's index must restart with its base: stale entries are
      // sound (superset + exact re-filter) but would accumulate forever
      Index.columns(table.mapping,
        k => Options.effective(options, table.tableProps, k))
        .foreach(c => CellStore.truncate(Index.dir(table.dir, c)))
    }
    val files = messages.flatMap {
      case CellWriterCommit(fs, _) => fs
      case _ => Nil
    }
    val idxFiles = messages.flatMap {
      case CellWriterCommit(_, ifs) => ifs
      case _ => Nil
    }
    // index segments become visible BEFORE their base segments: a crash
    // between the two leaves orphan index entries (superset — sound),
    // never a committed base cell the index misses (false negative).
    // The key-format marker is stamped (or validated) first, so no visible
    // index segment ever lacks its encoding version.
    idxFiles.map(_._1).distinct.foreach(c =>
      Index.stampFormat(Index.dir(table.dir, c)))
    val committedIdx = idxFiles.groupBy(_._1).toSeq.flatMap { case (col, fs) =>
      val idxDir = Index.dir(table.dir, col)
      val sst = Paths.get(idxDir, CellStore.SstDir)
      CellStore.commitSegments(idxDir, fs.toSeq.map { case (_, bucket, tmp) =>
        sst.resolve(tmp) -> CellStore.newSegmentName(bucket)
      })
    }
    val committed = committedIdx ++
      CellStore.commitSegments(table.dir, files.toSeq.map { case (bucket, tmp) =>
        Paths.get(table.dir, CellStore.SstDir, tmp) ->
          CellStore.newSegmentName(bucket)
      })
    // size-tiered auto-compaction: any touched bucket now holding more than
    // `compact.segments.max` committed segments is full-compacted before the
    // commit returns — read amplification stays bounded under arbitrarily
    // many append jobs with zero manual maintenance. Index sub-stores bound
    // their read amplification under the same policy (duplicate
    // (value, key) entries from re-writes collapse by LWW; stale postings
    // stay — they are the superset contract). One distributed job compacts
    // every over-threshold (store dir, bucket) of the base and its index
    // sub-stores, one task each; the committing job is the single writer,
    // so compaction here is quiesced by construction.
    Options.effective(options, table.tableProps, Options.CompactSegmentsMax)
      .map(_.toInt).foreach { k =>
        val touched = files.map { case (b, _) => (table.dir, b) }.distinct ++
          idxFiles.map { case (c, b, _) => (Index.dir(table.dir, c), b) }.distinct
        val over = touched.filter { case (d, b) => CellStore.segmentFiles(d, b).size > k }
        if (over.nonEmpty)
          org.apache.spark.sql.SparkSession.getActiveSession match {
            case Some(s) =>
              s.sparkContext.parallelize(over.toSeq, over.length)
                .foreach { case (d, b) => CellStore.compactBucket(d, b) }
            case None => over.foreach { case (d, b) => CellStore.compactBucket(d, b) }
          }
      }
    // warm the run stats of the committed segments compaction left (its
    // own outputs are warmed by compactBucket), so aggregate planning after
    // the commit reduces every segment from memory
    CellStore.warmSegments(committed.filter(Files.exists(_)))
  }

  def abortEpoch(table: CassandraLikeTable,
      messages: Array[WriterCommitMessage]): Unit =
    messages.foreach {
      case CellWriterCommit(files, idxFiles) =>
        files.foreach { case (_, tmp) =>
          Files.deleteIfExists(Paths.get(table.dir, CellStore.SstDir, tmp))
        }
        idxFiles.foreach { case (col, _, tmp) =>
          Files.deleteIfExists(
            Paths.get(Index.dir(table.dir, col), CellStore.SstDir, tmp))
        }
      case _ => ()
    }
}

class CellBatchWrite(
    table: CassandraLikeTable,
    optionsJ: java.util.Map[String, String],
    truncate: Boolean) extends BatchWrite {

  import scala.jdk.CollectionConverters._
  private val options = optionsJ.asScala.toMap

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory =
    CellCommit.writerFactory(table, options)

  override def commit(messages: Array[WriterCommitMessage]): Unit =
    CellCommit.commitEpoch(table, options, truncate, messages)

  override def abort(messages: Array[WriterCommitMessage]): Unit =
    CellCommit.abortEpoch(table, messages)
}

/** The store as a native streaming sink. Each micro-batch commits through
  * the shared [[CellCommit]] path; a per-(query, epoch) marker file under
  * `_stream_commits/` makes the commit idempotent: when Spark replays an
  * epoch after a crash between sink commit and checkpoint commit, the
  * replayed attempt finds the marker, drops its staged files, and commits
  * nothing — exactly-once at the visible-segment level, not just value-LWW
  * absorption. The marker lands AFTER the segments rename: a crash between
  * the two re-commits identical cells (same pinned timestamps, same
  * values), which LWW collapses — duplicate segments, never divergent
  * state. In complete output mode each epoch truncates first, so the store
  * always holds exactly the latest result set. */
class CellStreamingWrite(
    table: CassandraLikeTable,
    options: Map[String, String],
    truncate: Boolean,
    queryId: String)
  extends org.apache.spark.sql.connector.write.streaming.StreamingWrite {
  import org.apache.spark.sql.connector.write.streaming.StreamingDataWriterFactory

  private def marker(epochId: Long) =
    Paths.get(table.dir, CellStreamingWrite.CommitsDir, s"$queryId-$epochId")

  override def createStreamingWriterFactory(
      info: PhysicalWriteInfo): StreamingDataWriterFactory =
    CellStreamingWriterFactory(CellCommit.writerFactory(table, options))

  override def commit(epochId: Long, messages: Array[WriterCommitMessage]): Unit =
    if (Files.exists(marker(epochId))) {
      // replayed epoch: this attempt's staged files are redundant — drop
      // them; the original commit's segments are already visible
      CellCommit.abortEpoch(table, messages)
    } else {
      CellCommit.commitEpoch(table, options, truncate, messages)
      Files.createDirectories(marker(epochId).getParent)
      Files.createFile(marker(epochId))
    }

  override def abort(epochId: Long, messages: Array[WriterCommitMessage]): Unit =
    CellCommit.abortEpoch(table, messages)
}

object CellStreamingWrite {
  /** Epoch-commit markers live beside (not inside) `sst/`, so truncate and
    * compaction never touch them; dropTable removes them with the table. */
  val CommitsDir = "_stream_commits"
}

final case class CellStreamingWriterFactory(factory: CellWriterFactory)
  extends org.apache.spark.sql.connector.write.streaming.StreamingDataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long,
      epochId: Long): DataWriter[InternalRow] =
    factory.createWriter(partitionId, taskId)
}

final case class CellWriterFactory(
    dir: String,
    schema: StructType,
    mappedFields: Seq[MappedField],
    options: Map[String, String],
    tableProps: Map[String, String],
    consistency: String) extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new CellDataWriter(dir, ColumnMapping(mappedFields),
      (k: String) => Options.effective(options, tableProps, k), consistency)
}

class CellDataWriter(
    dir: String,
    mapping: ColumnMapping,
    opt: String => Option[String],
    val consistency: String) extends DataWriter[InternalRow] {

  private val buckets = opt(Options.Buckets).map(_.toInt).getOrElse(Options.DefaultBuckets)
  private val batchSize = opt(Options.BatchMutateSize).map(_.toInt)
    .getOrElse(Options.DefaultBatchMutate)
  private val textEncoding = opt(Options.Encoding).contains("text")
  private val nullsAsTombstones = opt(Options.NullsAsTombstones).exists(_.toBoolean)
  // One logical write timestamp per job (last-write-wins across jobs; the
  // reference stamps serialize time, serde/RegularTableMapping.java:84,94).
  // The `write.timestamp` option pins it for deterministic tests. Equal-ts
  // collisions resolve by deterministic value comparison (CellStore merge).
  private[cassandralike] val baseTs = opt(Options.WriteTimestamp).map(_.toLong)
    .getOrElse(System.currentTimeMillis())

  private val buffer = mutable.ArrayBuffer.empty[Cell]
  private val streams = mutable.HashMap.empty[Int, (String, CellStore.SegmentWriter)]
  // Memtable discipline between batch and disk: flushed batches accumulate
  // in per-bucket pending buffers and spill to disk as one sorted batch per
  // bucket only under memory pressure (largest bucket first) or at commit.
  // A 500-cell batch fanned over 32 buckets would otherwise write ~15-cell
  // runs — header-dominated IO. Each bucket's segment keeps ONE open run: a
  // spill that sorts wholly after it extends it (the write's
  // requiredOrdering makes that the rule), so a key-ordered task writes
  // every cell exactly once however often it spills, and only a segment
  // whose spills overlapped is left with several runs for commit to
  // compact. Memory is bounded by TOTAL pending cells (not per bucket), so
  // a high bucket count cannot multiply the footprint; an open run holds
  // only its index state, O(cells / IndexEvery + distinct keys).
  private val writeBufferCells = opt(Options.WriteBufferCells).map(_.toInt)
    .getOrElse(Options.DefaultWriteBufferCells)
  private val pending = mutable.HashMap.empty[Int, mutable.ArrayBuffer[Cell]]
  private var totalPending = 0
  /** Number of threshold flushes performed (observable for W3 tests). */
  var flushes = 0
  /** Runs staged per bucket so far; a bucket above 1 is compacted at
    * commit (observable for tests). */
  def stagedRuns: Map[Int, Int] = streams.map { case (b, (_, w)) => b -> w.runs }.toMap
  /** [[stagedRuns]] of each indexed column's index sub-store. */
  def indexStagedRuns: Map[String, Map[Int, Int]] =
    idxWriters.map { case (c, w) => c -> w.stagedRuns }

  private val keyIdx = mapping.fields.indexWhere(_.role == FieldRole.Key)
  private val keyType = mapping.keyField.dataType
  private val keyCodec = KeyCodec.of(keyType, opt)
  // range layout (null = hash ring): cells route to the bucket covering
  // their encoded key, the same map every read-side site uses
  private val rangeBounds: Array[Array[Byte]] =
    opt(Options.RangeBounds).map(RangeLayout.parse(_, keyType, keyCodec)).orNull
  // clustering-column codec (column.encoding; transposed mappings only)
  private val colCodec: KeyCodec =
    if (!mapping.transposed) null
    else KeyCodec.ofColumn(
      mapping.field(FieldRole.TransColumn).dataType, opt)
  // sub-column codec (sub.encoding; super mappings only)
  private val subCodec: KeyCodec =
    if (!mapping.hasSubColumn) null
    else KeyCodec.ofSub(
      mapping.field(FieldRole.TransSubColumn).dataType, opt)

  /** Secondary indexes (Index.scala): per indexed column, a parallel run
    * writer into `idx_<col>/sst` whose cells are (value bytes → base key).
    * Same memtable discipline (spill largest bucket past the write buffer),
    * same staging convention; its temp files ride the task's commit message
    * so the job commit renames them index-first and an abort removes them. */
  private val idxCols: Set[String] = Index.columns(mapping, opt)
  private final class IndexWriter(colName: String) {
    private val idxSst = Paths.get(Index.dir(dir, colName), CellStore.SstDir)
    private val pending = mutable.HashMap.empty[Int, mutable.ArrayBuffer[Cell]]
    private var total = 0
    private val streams = mutable.HashMap.empty[Int, (String, CellStore.SegmentWriter)]
    def stagedRuns: Map[Int, Int] = streams.map { case (b, (_, w)) => b -> w.runs }.toMap
    def add(c: Cell): Unit = {
      pending.getOrElseUpdate(TokenRing.bucket(c.key, buckets),
        mutable.ArrayBuffer.empty[Cell]) += c
      total += 1
      while (total > writeBufferCells) {
        val (b, cells) = pending.maxBy(_._2.length)
        spill(b, cells); total -= cells.length; pending.remove(b)
      }
    }
    private def spill(b: Int, cells: mutable.ArrayBuffer[Cell]): Unit = {
      val (_, w) = streams.getOrElseUpdate(b, {
        val tmp = s"tmp-${UUID.randomUUID()}-b$b.bin"
        Files.createDirectories(idxSst)
        (tmp, new CellStore.SegmentWriter(idxSst.resolve(tmp)))
      })
      w.append(cells.sorted(CellStore.addressOrdering))
    }
    def commitFiles(): Seq[(String, Int, String)] = {
      pending.foreach { case (b, cells) => spill(b, cells) }
      pending.clear(); total = 0
      streams.values.foreach(_._2.close())
      streams.values.foreach { case (tmp, w) =>
        if (w.runs > 1) CellStore.compactSegment(idxSst.resolve(tmp))
      }
      streams.map { case (b, (tmp, _)) => (colName, b, tmp) }.toSeq
    }
    def abort(): Unit = {
      streams.values.foreach(_._2.close())
      streams.values.foreach { case (tmp, _) =>
        Files.deleteIfExists(idxSst.resolve(tmp))
      }
    }
  }
  private val idxWriters: Map[String, IndexWriter] =
    idxCols.iterator.map(c => c -> new IndexWriter(c)).toMap

  private def encodeValue(dt: DataType, v: Any): Array[Byte] =
    if (textEncoding) Codecs.encodeText(dt, v) else Codecs.encode(dt, v)

  override def write(row: InternalRow): Unit = writeAt(row, baseTs)

  /** One row's cells at an explicit timestamp — the delta write path lands
    * its insert leg one tick above its delete leg (see [[CellDeltaWriter]]);
    * the normal path always stamps [[baseTs]]. */
  private[cassandralike] def writeAt(row: InternalRow, ts: Long): Unit = {
    val keyRaw = row.get(keyIdx, keyType)
    require(keyRaw != null, "null row key")
    val key = keyCodec.encode(keyRaw)

    if (mapping.transposed) {
      // W2: one cell per row (serde/TransposedMapping.java:34-72)
      val colF = mapping.field(FieldRole.TransColumn)
      val valF = mapping.field(FieldRole.TransValue)
      val col = colCodec.encode(
        row.get(mapping.fields.indexWhere(_.role == FieldRole.TransColumn), colF.dataType))
      val sub = if (mapping.hasSubColumn) {
        val sf = mapping.field(FieldRole.TransSubColumn)
        subCodec.encode(
          row.get(mapping.fields.indexWhere(_.role == FieldRole.TransSubColumn), sf.dataType))
      } else null
      val vIdx = mapping.fields.indexWhere(_.role == FieldRole.TransValue)
      val v = row.get(vIdx, valF.dataType)
      if (v == null) {
        if (nullsAsTombstones) add(Cell(key, col, sub, null, ts, tombstone = true))
      } else add(Cell(key, col, sub, encodeValue(valF.dataType, v), ts, tombstone = false))
    } else {
      // W1: one cell per non-key column (serde/RegularTableMapping.java:25-104)
      mapping.fields.zipWithIndex.foreach { case (f, i) =>
        f.role match {
          case FieldRole.Cell(cellName) =>
            val v = row.get(i, f.dataType)
            val col = cellName.getBytes(UTF_8)
            if (v == null) {
              if (nullsAsTombstones) add(Cell(key, col, null, null, ts, tombstone = true))
            } else {
              add(Cell(key, col, null, encodeValue(f.dataType, v), ts, tombstone = false))
              // index entry: value bytes -> base key (append-only superset;
              // overwrites leave stale entries the read path re-filters);
              // Index.encodeKey normalizes -0.0/NaN so lookups can't miss
              if (idxCols(f.name))
                idxWriters(f.name).add(
                  Cell(Index.encodeKey(f.dataType, v, textEncoding), key,
                    null, Array.emptyByteArray, ts, tombstone = false))
            }
          case FieldRole.FamilyMap =>
            // cf: map expansion — one cell per entry
            // (serde/RegularTableMapping.java:54-91)
            val mt = f.dataType.asInstanceOf[MapType]
            val map = row.getMap(i)
            if (map != null) {
              var j = 0
              while (j < map.numElements()) {
                val mk = map.keyArray().get(j, mt.keyType)
                val mv = map.valueArray().get(j, mt.valueType)
                if (mv != null)
                  add(Cell(key, Codecs.encode(mt.keyType, mk), null,
                    encodeValue(mt.valueType, mv), ts, tombstone = false))
                j += 1
              }
            }
          case _ => ()
        }
      }
    }
    if (buffer.length >= batchSize) { flush(); flushes += 1 } // W3
  }

  /** Delta DELETE leg: tombstone every declared cell of one row id at
    * [[baseTs]]. Declared cells are the row's whole writable surface on
    * the mappings the delta path supports (no `cf:` family map), so no
    * read is needed to know what to shadow. */
  private[cassandralike] def writeDeleteAll(keyRaw: Any): Unit = {
    require(keyRaw != null, "null row key")
    val key = keyCodec.encode(keyRaw)
    mapping.fields.foreach {
      case MappedField(_, _, FieldRole.Cell(cellName)) =>
        add(Cell(key, cellName.getBytes(UTF_8), null, null, baseTs, tombstone = true))
      case _ => ()
    }
    if (buffer.length >= batchSize) { flush(); flushes += 1 }
  }

  /** Delta DELETE leg, transposed form: tombstone exactly ONE cell address
    * (key, column[, sub]) at [[baseTs]] — a SQL row of a transposed table
    * IS one cell, so its delete shadows nothing else. */
  private[cassandralike] def writeDeleteCell(
      keyRaw: Any, colRaw: Any, subRaw: Any): Unit = {
    require(keyRaw != null && colRaw != null, "null cell address")
    val sub = if (subRaw == null) null else subCodec.encode(subRaw)
    add(Cell(keyCodec.encode(keyRaw),
      colCodec.encode(colRaw), sub, null, baseTs, tombstone = true))
    if (buffer.length >= batchSize) { flush(); flushes += 1 }
  }

  private def add(c: Cell): Unit = buffer += c

  /** Each flush hands the batch to the per-bucket pending buffers, then
    * spills the LARGEST buckets as sorted runs until total pending fits the
    * write buffer. Sort cost is O(run log run) at spill time — noise next to
    * the IO it organizes. */
  private def flush(): Unit = {
    buffer.foreach { c =>
      pending.getOrElseUpdate(TokenRing.bucket(c.key, buckets, rangeBounds),
        mutable.ArrayBuffer.empty[Cell]) += c
    }
    totalPending += buffer.length
    buffer.clear()
    while (totalPending > writeBufferCells) {
      val (b, cells) = pending.maxBy(_._2.length)
      spillRun(b, cells)
      totalPending -= cells.length
      pending.remove(b)
    }
  }

  private def spillRun(b: Int, cells: mutable.ArrayBuffer[Cell]): Unit = {
    val (_, w) = streams.getOrElseUpdate(b, {
      val tmp = s"tmp-${UUID.randomUUID()}-b$b.bin"
      Files.createDirectories(Paths.get(dir, CellStore.SstDir))
      (tmp, new CellStore.SegmentWriter(Paths.get(dir, CellStore.SstDir, tmp)))
    })
    w.append(cells.sorted(CellStore.addressOrdering))
  }

  override def commit(): WriterCommitMessage = {
    flush()
    pending.foreach { case (b, cells) => spillRun(b, cells) }
    pending.clear()
    totalPending = 0
    streams.values.foreach(_._2.close())
    // task-local compaction: every committed segment is ONE sorted run, so a
    // bucket read costs one cursor per segment (per writing task), never one
    // per spill — the bound that keeps reader fd/memory use flat as tasks
    // stream arbitrarily many batches. Only segments whose spills did not
    // extend one open run need it: a key-ordered task (the write's
    // requiredOrdering) has already written each cell once, as one run.
    streams.values.foreach { case (tmp, w) =>
      if (w.runs > 1) CellStore.compactSegment(Paths.get(dir, CellStore.SstDir, tmp))
    }
    CellWriterCommit(streams.map { case (b, (tmp, _)) => (b, tmp) }.toSeq,
      idxWriters.values.flatMap(_.commitFiles()).toSeq)
  }

  override def abort(): Unit = {
    streams.values.foreach(_._2.close())
    streams.values.foreach { case (tmp, _) =>
      Files.deleteIfExists(Paths.get(dir, CellStore.SstDir, tmp))
    }
    idxWriters.values.foreach(_.abort())
  }

  override def close(): Unit = ()
}
