package graft.sources.cassandralike

import java.util

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.ArrayBasedMapData
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.expressions.{Expressions, NamedReference, Transform}
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, WriteBuilder}
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** Option keys understood by the cassandralike source — the table-property
  * plumbing (D3). Effective value resolution is read/write option over
  * `spark.cassandralike.*` session conf over table property, mirroring the
  * reference's conf-over-table-props resolution
  * (CassandraStorageHandler.java:31-190 in /root/reference). */
object Options {
  val Path = "path"
  val Mapping = "mapping" // cassandra.columns.mapping DSL
  val Buckets = "buckets" // token-ring ranges = scan/write parallelism (S1)
  val Encoding = "encoding" // binary | text cell-value marshal (T1 fixture knob)
  val BatchMutateSize = "batch.mutate.size" // W3 flush threshold
  val Consistency = "consistency" // W4; coerced to ONE when invalid
  val WriteTimestamp = "write.timestamp" // fixed logical ts (deterministic tests)
  val NullsAsTombstones = "write.nulls.as.tombstones"
  val WideRowPageSize = "widerow.page.size" // S4 page size
  val SliceStart = "slice.start" // P2 static slice knobs (reference parity)
  val SliceFinish = "slice.finish"
  val SliceReversed = "slice.reversed"
  val SliceCount = "slice.count"
  /** Static SUB-slice knobs (super mappings): an inclusive byte-comparator
    * window over `:subcolumn` bytes — the sub twins of
    * slice.start/slice.finish, applied INSIDE the merge (cells outside the
    * window never reach reconciliation) and driving the run-level
    * [subMin, subMax] and span-level sub seeks. On an ordered sub encoding
    * the text parses as a TYPED literal (the RangeLayout grammar); on
    * string subs the verbatim UTF-8 form (the two coincide). */
  val SliceSubStart = "slice.sub.start"
  val SliceSubFinish = "slice.sub.finish"
  val Hosts = "locality.hosts" // S2: comma list mapped bucket->host round-robin

  /** Opt-in: report the store's token-bucket layout to Catalyst as a
    * KeyGroupedPartitioning so same-bucketed stores join WITHOUT shuffling
    * either side (storage-partitioned join; needs
    * spark.sql.sources.v2.bucketing.enabled and a catalog-resolved read so
    * the `bucket` transform can bind through FunctionCatalog). Opt-in
    * because a reported grouping makes Spark coalesce a bucket's key-range
    * sub-splits into ONE task — the right trade for a co-located join, the
    * wrong default for plain scans of a large store. */
  val ReportPartitioning = "partitioning.report"
  val SplitTargetCells = "split.target.cells" // S1: cells per scan split
  /** Snapshot read: only cells (incl. tombstones) with ts <= this logical
    * timestamp participate in LWW reconciliation — the historical-read
    * counterpart of Cassandra's per-cell write timestamps. Immutable
    * segments make the snapshot exact as long as compaction hasn't dropped
    * shadowed cells (whole-bucket compaction collapses history; task-commit
    * compaction preserves it per segment because LWW reconciliation inside
    * one write epoch is ts-stable). */
  val ReadAsOf = "read.asof"
  /** `metadata.agg=false` disables every metadata-only aggregate fast
    * path (complete and per-bucket partial alike) — the scan folds cells
    * as if no index statistics existed. An escape hatch for debugging and
    * the specs' ground-truth baseline; results are identical either way
    * by the decline contract. */
  val MetadataAgg = "metadata.agg"
  /** Columnar batch reads for the batch scan (default on): rows batch into
    * on-heap column vectors so whole-stage codegen consumes the scan
    * vectorized. `false` restores the row-wise reader; results are
    * identical either way. */
  val ReadColumnar = "read.columnar"
  /** Table-level TTL (Cassandra's default_time_to_live): a live cell
    * expires once `read.now >= ts + ttl` — evaluated at read time from the
    * cell's write timestamp, no storage change. `read.now` defaults to
    * Long.MaxValue-safe "no expiry" when unset so TTL only bites when the
    * reader states its clock (deterministic tests use logical clocks; a
    * production reader passes wall-clock micros). Tombstones never expire
    * here — they must keep shadowing older live cells. */
  val Ttl = "ttl"
  val ReadNow = "read.now"

  /** Size-tiered auto-compaction trigger: when a write job's commit leaves
    * a touched bucket with MORE than this many committed segments, the
    * bucket is full-compacted as part of the commit (distributed over
    * buckets when a SparkSession is active). Bounds read amplification
    * under unbounded append jobs without any manual maintenance; unset =
    * manual compaction only. Runs under the store's single-maintainer
    * discipline — the committing job is the writer, so compaction inside
    * its commit is quiesced by construction. */
  val CompactSegmentsMax = "compact.segments.max"

  /** Change-feed admission control: max committed segments admitted per
    * micro-batch (the feed's maxFilesPerTrigger analogue — see
    * [[CellChangeFeedStream]]). Unset = drain all available per trigger. */
  val StreamMaxSegmentsPerBatch = "stream.max.segments.per.batch"

  /** Counter tables (`counter.merge=true`): same-address cells are 8-byte
    * long INCREMENTS that reconcile by summation instead of last-write-wins
    * — at read time, and at full-bucket compaction (which collapses the
    * increment history into one cell, exactly). The write path is unchanged:
    * an increment is just a cell write, so counter throughput scales like
    * any append. Goes beyond the reference, whose counter write path was a
    * TODO (serde2/CassandraPut.java:103 in /root/reference). */
  val CounterMerge = "counter.merge"

  /** Dropped-column history (Cassandra's system_schema.dropped_columns):
    * `dropped.<cellName> = <ts>` table properties, written by ALTER TABLE
    * DROP COLUMN. The reader hides cells with ts <= the drop timestamp, so
    * re-ADDing a dropped name never resurrects pre-drop data. */
  val DroppedPrefix = "dropped."
  /** Pins the drop timestamp recorded by the next DROP COLUMN (for jobs on
    * a logical clock via `write.timestamp`); wall-clock when unset. */
  val DropTimestamp = "drop.timestamp"

  /** Secondary indexes: comma list of schema cell columns to index
    * (value → row key sub-stores; see [[Index]]). A layout property — the
    * index is only complete if every write was indexed, so it must be
    * declared before the first segment. */
  val IndexColumns = "index.columns"

  /** Driver-side cap on the candidate-key list an index lookup may
    * materialize at planning (equality and range paths alike). A lookup
    * that exceeds it abandons the index for that predicate — the scan
    * falls back to the full distributed read, which returns the same rows.
    * Read-time only, NOT a layout property. */
  val IndexMaxCandidates = "index.max.candidates"

  /** COST model for the index-SHRUNK scan (the max.candidates knob above
    * is a driver MEMORY budget; this one decides whether the shrunk scan
    * is worth running at all): one candidate point read costs about this
    * many sequentially scanned cells — a seek through the run index plus
    * bloom checks and a span walk per overlapping run, against the full
    * scan's streaming decode. The planner abandons the index when
    * candidates × this factor exceeds the store's total cells: past that
    * crossover the shrunk job's point reads cost MORE than the scan they
    * avoid (measured on an sf1 orders store — SURVEY §7.4 "Cost-based
    * index-shrink cap"). 0 disables the gate (memory budget still
    * applies). Read-time only, NOT a layout property. */
  val IndexPointCostCells = "index.point.cost.cells"

  /** Wall-clock bound on one planning-time index WALK (the all-bucket
    * postings range seek): expiry abandons the index for that predicate —
    * the scan fallback returns the same rows — so a stalled filesystem
    * read can delay planning by at most this long instead of hanging it
    * (the walk used to block indefinitely on the global pool). A
    * non-positive value disables planning-time walks outright (every
    * range/prefix/histogram lookup declines immediately). Read-time
    * only, NOT a layout property. */
  val IndexWalkTimeoutMs = "index.walk.timeout.ms"

  /** Row-key byte form: 'bytes' (default — the canonical BytesType
    * marshal) or 'ordered' (integral keys big-endian with the sign bit
    * flipped, so byte order == numeric order). Ordered keys extend the
    * sorted-scan claims (zipper joins, key-order TopN) to numeric-keyed
    * stores. A LAYOUT property: it decides where every key's bytes route,
    * so it is fixed before the first segment. */
  val KeyEncoding = "key.encoding"

  /** RANGE layout: comma list of key literals splitting the key space into
    * buckets = bounds + 1 contiguous intervals (Codecs.RangeLayout). A
    * LAYOUT property like buckets/key.encoding: it decides where every
    * key's bytes route, fixed before the first segment. Requires an
    * order-preserving key byte form, and the `buckets` property must be
    * set to bounds + 1 explicitly (no silent count drift). */
  val RangeBounds = "range.bounds"

  /** Clustering-column byte form: 'bytes' (default) or 'ordered' — the
    * column.encoding twin of key.encoding, for TRANSPOSED mappings only.
    * Ordered column bytes extend the sorted-scan claims (per-key column
    * ordering, slice TopN) and the slice-window run/span seeks to
    * numeric/timestamp clustering columns. A LAYOUT property: it decides
    * every cell's column bytes, fixed before the first segment. */
  val ColumnEncoding = "column.encoding"

  /** SUB-column byte form: 'bytes' (default) or 'ordered' — the
    * `:subcolumn` twin of column.encoding, for transposed SUPER mappings
    * only. Ordered sub bytes extend the per-key (column, sub) ordering
    * claim to numeric/timestamp sub-columns, so a super-mapping
    * time-series gets sub-level ordered reads (TopN over
    * (key, col, sub)). A LAYOUT property: it decides every cell's sub
    * bytes, fixed before the first segment. */
  val SubEncoding = "sub.encoding"

  /** Properties baked into committed segment bytes — token routing
    * (buckets), cell naming/shape (mapping), value marshal (encoding),
    * key byte form (key.encoding), index completeness (index.columns).
    * ALTER TABLE SET/UNSET rejects these once segments exist: existing
    * data was laid out under the old value, so a change silently
    * misroutes deletes, unmaps high buckets, or leaves an index that
    * misses pre-existing rows, instead of failing loudly. */
  val LayoutProperties: Set[String] =
    Set("buckets", "mapping", "encoding", KeyEncoding, ColumnEncoding,
      SubEncoding, RangeBounds, IndexColumns)

  val DefaultBuckets = 32
  val DefaultIndexMaxCandidates = 64 * 1024
  /** Measured by the sf1 shrunk-vs-full sweep (SURVEY §7.4 "Cost-based
    * index-shrink cap"): the shrunk job already loses 1.26× at 288
    * cells/candidate and degrades monotonically past it (147 → 1.74×,
    * 73 → 2.28×), so the crossover sits at ≈300 — past candidates >
    * cells/300 the index-shrunk scan costs more than the scan it avoids. */
  val DefaultIndexPointCostCells = 300L
  /** Generous by design: a healthy walk finishes in milliseconds, so this
    * only ever bites on a genuinely stalled read, where declining to the
    * distributed scan beats hanging the planner forever. */
  val DefaultIndexWalkTimeoutMs = 300000L
  /** Sub-bucket split sizing: a bucket bigger than this plans multiple
    * key-range partitions, so scan parallelism grows with data instead of
    * being capped by the write-time bucket knob (the reference scales splits
    * with data the same way — ≤64Ki rows per split,
    * input/HiveCassandraStandardColumnInputFormat.java:131-189). */
  val DefaultSplitTargetCells = 64L * 1024
  val WriteBufferCells = "write.buffer.cells" // writer memtable bound (cells)

  val DefaultBatchMutate = 500 // serde/AbstractColumnSerDe.java:75
  /** Total pending cells a writer task holds in memory before spilling its
    * largest bucket as a sorted run (~10 MB at 100-byte cells) — bounds the
    * task footprint regardless of bucket count while keeping on-disk runs
    * large enough that run headers and compaction stay negligible. */
  val DefaultWriteBufferCells = 64 * 1024
  val DefaultPageSize = 1000 // serde/AbstractColumnSerDe.java:71

  /** Resolution order: per-read/write option > session conf (merged into the
    * option map driver-side, see [[CassandraLikeTable.withConfOverrides]]) >
    * table property. */
  def effective(
      options: Map[String, String],
      tableProps: Map[String, String],
      key: String): Option[String] =
    options.get(key).orElse(tableProps.get(key))

  /** `spark.cassandralike.<key>` session confs, captured ON THE DRIVER at
    * scan/write build time (executors have no active session). */
  def confOverrides(): Map[String, String] =
    org.apache.spark.sql.SparkSession.getActiveSession
      .map(_.conf.getAll.collect {
        case (k, v) if k.startsWith("spark.cassandralike.") =>
          k.stripPrefix("spark.cassandralike.") -> v
      }.toMap).getOrElse(Map.empty)
}

object CassandraLikeTable {
  /** The store view is the plain current-time one — no slice knobs, no
    * as-of bound, no TTL, no dropped-column history. Only then do the run
    * indexes' content stats describe exactly what a scan would emit
    * (pushed-filter emptiness is checked separately by each caller). */
  private[cassandralike] def plainView(
      opt: String => Option[String], props: Map[String, String],
      allowBoundedAsOf: Boolean = false): Boolean =
    Seq(Options.SliceStart, Options.SliceFinish, Options.SliceReversed,
      Options.SliceCount, Options.SliceSubStart, Options.SliceSubFinish,
      Options.Ttl).forall(k => opt(k).isEmpty) &&
      // an AS-OF bound is tolerated only by callers that run the dynamic
      // per-bucket proof (every consulted run's newest cell ≤ the bound ⇒
      // the bounded view IS the current view); everyone else treats it as
      // a view change
      (allowBoundedAsOf || opt(Options.ReadAsOf).isEmpty) &&
      // explicit escape hatch: metadata.agg=false forces the cell fold
      // everywhere this gate guards (production debugging + the specs'
      // ground-truth baseline); only the literal "false" disables — any
      // other value keeps the default rather than throwing at planning
      !opt(Options.MetadataAgg).exists(_.equalsIgnoreCase("false")) &&
      !props.keys.exists(_.startsWith(Options.DroppedPrefix))

  /** The store's bucket transform for Catalyst. Ordered-key tables report
    * a DIFFERENT function ([[OrderedBucketFunction]]): the key→bucket map
    * hashes the ENCODED bytes, so the same logical key routes to different
    * buckets under the two encodings — sharing one transform name would
    * let Catalyst "prove" an ordered store co-partitioned with a bytes
    * store and zip mismatched buckets. Distinct names make mixed-encoding
    * joins fall back to an ordinary shuffle instead. */
  def bucketTransform(buckets: Int, keyName: String, ordered: Boolean,
      rangeDigest: String = null): Transform =
    if (rangeDigest != null)
      Expressions.apply(RangeBucketFunction.nameFor(buckets, rangeDigest),
        Expressions.column(keyName))
    else if (!ordered) Expressions.bucket(buckets, keyName)
    else Expressions.apply(OrderedBucketFunction.nameFor(buckets),
      Expressions.column(keyName))
}

/** Path-based entry point: `spark.read.format("cassandralike").load(dir)` /
  * `df.write.format("cassandralike")...save(dir)`. The catalog
  * (CassandraLikeCatalog) is the DDL-capable entry point. */
class DefaultSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "cassandralike"
  override def supportsExternalMetadata(): Boolean = true

  private def dir(options: CaseInsensitiveStringMap): String =
    Option(options.get(Options.Path)).getOrElse(
      throw new IllegalArgumentException("cassandralike requires a path"))

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    CellStore.readMeta(dir(options)) match {
      case Some(m) => StructType.fromDDL(m.schemaDdl)
      case None => throw new IllegalArgumentException(
        s"no cassandralike table at ${dir(options)} (missing meta.json)")
    }

  override def getTable(
      schema: StructType,
      partitioning: Array[Transform],
      properties: util.Map[String, String]): Table = {
    val d = properties.get(Options.Path)
    require(d != null, "cassandralike requires a path")
    val meta = CellStore.readMeta(d)
    val metaProps = meta.map(_.properties).getOrElse(Map.empty)
    val given = properties.asScala.toMap
    // layout properties pinned by the store's meta win over reader/writer
    // options: existing segments were laid out under the pinned value, so
    // an override would misdecode keys / misroute writes (equal values
    // pass — re-stating the layout on append is legitimate)
    Options.LayoutProperties.foreach { k =>
      for (pinned <- metaProps.get(k); g <- given.get(k) if g != pinned)
        throw new IllegalArgumentException(
          s"'$k' is a layout property pinned to '$pinned' by the table at " +
            s"$d; option override '$g' would misinterpret existing segments")
    }
    val props = metaProps ++ given.filterNot { case (k, _) =>
      Options.LayoutProperties(k) && metaProps.contains(k)
    }
    val mapping = Options.effective(props, Map.empty, Options.Mapping)
      .orElse(meta.map(_.mapping))
    new CassandraLikeTable(d, d, schema, mapping, props)
  }
}

/** One cassandralike table over a CellStore directory. */
class CassandraLikeTable(
    tableName: String,
    val dir: String,
    val tableSchema: StructType,
    mappingStr: Option[String],
    val tableProps: Map[String, String])
  extends Table with SupportsRead with SupportsWrite with SupportsDelete
  with SupportsRowLevelOperations {

  val mapping: ColumnMapping = ColumnMapping.forTable(tableSchema, mappingStr)

  /** Table-level key codec (key.encoding is a layout property, so options
    * can't change it per read) — also validates the property up front. */
  val keyCodec: KeyCodec =
    KeyCodec.of(mapping.keyField.dataType, k => tableProps.get(k))

  /** Parsed + registered range layout (null = hash ring). Validated up
    * front: bounds parse against the key type, must ascend strictly, and
    * the buckets property must equal bounds + 1 so every routing site and
    * the split planner agree on the ring size. */
  val rangeBounds: Array[Array[Byte]] =
    tableProps.get(Options.RangeBounds).map { prop =>
      val b = RangeLayout.parse(prop, mapping.keyField.dataType, keyCodec)
      require(tableProps.get(Options.Buckets).exists(_.toInt == b.length + 1),
        s"range.bounds defines ${b.length + 1} buckets; set buckets=${b.length + 1}")
      RangeBucketFunction.register(b, keyCodec.ordered)
      b
    }.orNull
  /** The SPJ identity of the range layout (content digest), if any. */
  val rangeDigest: String =
    if (rangeBounds == null) null
    else RangeLayout.digest(rangeBounds, keyCodec.ordered)

  /** Clustering-column codec (transposed mappings; null otherwise).
    * column.encoding is a layout property, validated up front. */
  val colCodec: KeyCodec =
    if (mapping.transposed)
      KeyCodec.ofColumn(mapping.field(FieldRole.TransColumn).dataType,
        k => tableProps.get(k))
    else {
      require(!tableProps.contains(Options.ColumnEncoding),
        "column.encoding requires a transposed (:key,:column,:value) mapping")
      null
    }

  /** Sub-column codec (super mappings; null otherwise). sub.encoding is a
    * layout property, validated up front. */
  val subCodec: KeyCodec =
    if (mapping.hasSubColumn)
      KeyCodec.ofSub(mapping.field(FieldRole.TransSubColumn).dataType,
        k => tableProps.get(k))
    else {
      require(!tableProps.contains(Options.SubEncoding),
        "sub.encoding requires a super (:key,:column,:subcolumn,:value) mapping")
      null
    }

  /** Is `c` a cell-ADDRESS field (key / clustering column / sub-column)?
    * Address fields are never NULL in emitted rows and their byte forms
    * are what the run indexes describe. */
  private[cassandralike] def isAddressField(c: String): Boolean =
    c == mapping.keyField.name ||
      (mapping.transposed && c == mapping.field(FieldRole.TransColumn).name) ||
      (mapping.hasSubColumn && c == mapping.field(FieldRole.TransSubColumn).name)

  /** Does `c`'s decoded order equal its stored byte order? The property
    * that lets run-index min/max bytes answer SQL MIN/MAX. */
  private[cassandralike] def isOrderPreservingAddress(c: String): Boolean =
    if (c == mapping.keyField.name) keyCodec.rangeOrdered
    else if (mapping.transposed &&
        c == mapping.field(FieldRole.TransColumn).name) colCodec.rangeOrdered
    else if (mapping.hasSubColumn &&
        c == mapping.field(FieldRole.TransSubColumn).name) subCodec.rangeOrdered
    else false

  /** Decode an address field's byte form to its Catalyst value. */
  private[cassandralike] def decodeAddress(c: String, b: Array[Byte]): Any =
    if (c == mapping.keyField.name) keyCodec.decode(b)
    else if (mapping.transposed &&
      c == mapping.field(FieldRole.TransColumn).name) colCodec.decode(b)
    else subCodec.decode(b)

  override def name(): String = tableName
  /** Cell-address columns are never null in the store (every cell carries
    * a key and, on transposed mappings, a column/sub-column name; the
    * writer rejects null addresses) — declared non-nullable so Spark
    * plans on the honest metadata: writes get the null check up front,
    * and row-level operations can use the address as the row id (Spark
    * rejects nullable row id attributes). */
  override def schema(): StructType = {
    val addressRoles: Set[FieldRole] = Set(FieldRole.Key,
      FieldRole.TransColumn, FieldRole.TransSubColumn)
    val addressNames = mapping.fields
      .filter(f => addressRoles.contains(f.role)).map(_.name).toSet
    StructType(tableSchema.fields.map(f =>
      if (addressNames.contains(f.name)) f.copy(nullable = false) else f))
  }

  /** The store's layout, declared: every row lands in
    * `bucket(buckets, key)` (TokenRing). Informational here; the scan
    * reports the matching KeyGroupedPartitioning when
    * [[Options.ReportPartitioning]] asks for storage-partitioned joins. */
  override def partitioning(): Array[Transform] = {
    val buckets = tableProps.get(Options.Buckets).map(_.toInt)
      .getOrElse(Options.DefaultBuckets)
    Array(CassandraLikeTable.bucketTransform(buckets,
      mapping.keyField.name, keyCodec.ordered, rangeDigest))
  }
  /** AUTOMATIC_SCHEMA_EVOLUTION enables `MERGE WITH SCHEMA EVOLUTION`:
    * the analyzer diffs source vs target schema, issues the AddColumn
    * TableChanges through the catalog (the same ALTER TABLE ADD COLUMN
    * path users take by hand — new cells store under the column's own
    * name, pre-existing rows surface NULL), and re-resolves the MERGE
    * against the evolved table. Only MERGE consults the capability
    * (MergeIntoTable.schemaEvolutionEnabled); batch appends still
    * validate against the declared schema. */
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.BATCH_WRITE,
      TableCapability.TRUNCATE, TableCapability.MICRO_BATCH_READ,
      TableCapability.STREAMING_WRITE,
      TableCapability.AUTOMATIC_SCHEMA_EVOLUTION)

  /** SQL UPDATE / MERGE INTO / predicate DELETE as DELTA row-level
    * operations (see [[CellRowLevelOperation]]): new cells and tombstones,
    * never a rewrite. The row id is the mapping's full cell address —
    * the key on regular mappings, (key, column[, sub]) on transposed
    * ones, where a SQL row IS one cell and its delete leg tombstones
    * exactly that cell. Gated off `cf:` family maps and counter tables,
    * whose writable surface can't be known without a read. Key-predicate
    * DELETE still takes the metadata fast path below
    * (OptimizeMetadataOnlyDeleteFromTable). */
  override def newRowLevelOperationBuilder(
      info: org.apache.spark.sql.connector.write.RowLevelOperationInfo)
    : org.apache.spark.sql.connector.write.RowLevelOperationBuilder = {
    require(mapping.familyMapField.isEmpty,
      s"${info.command()} is not supported with a cf: family map column")
    require(!tableProps.get(Options.CounterMerge).exists(_.toBoolean),
      s"${info.command()} is not supported on counter tables " +
        "(counters reconcile by summation; write increments instead)")
    () => new CellRowLevelOperation(this, info)
  }

  /** SQL `DELETE FROM t WHERE <key predicate>` — Cassandra-style targeted
    * deletes: tombstone every live cell of the matching keys, written as a
    * normal segment (one logical timestamp past the current maximum, so
    * the tombstones win LWW deterministically). Only key equality / IN is
    * accepted — that is the delete shape the store serves point-wise;
    * broader predicates would be a full scan-and-delete job, which callers
    * express explicitly via write.nulls.as.tombstones instead. */
  override def canDeleteWhere(filters: Array[Filter]): Boolean = {
    val k = mapping.keyField.name
    filters.nonEmpty && filters.forall {
      case EqualTo(c, _) => c == k
      case In(c, _) => c == k
      case org.apache.spark.sql.sources.AlwaysTrue() => true // DELETE w/o WHERE
      case _ => false
    }
  }

  /** Unconditional `DELETE FROM t` = truncate: drop every committed
    * segment (same path as INSERT OVERWRITE's truncate). */
  override def truncateTable(): Boolean = { CellStore.truncate(dir); true }

  override def deleteWhere(filters: Array[Filter]): Unit = {
    require(canDeleteWhere(filters), s"DELETE supports only key predicates, got ${filters.mkString(", ")}")
    if (filters.forall(_.isInstanceOf[org.apache.spark.sql.sources.AlwaysTrue])) {
      CellStore.truncate(dir) // unconditional DELETE = truncate
      return
    }
    val keys: Seq[Array[Byte]] = filters.flatMap {
      case EqualTo(_, v) => Seq(v)
      case In(_, vs) => vs.toSeq
      case _ => Nil
    }.map(v => keyCodec.encode(
      CatalystTypeConverters.convertToCatalyst(v))).toSeq
    val buckets = tableProps.get(Options.Buckets).map(_.toInt)
      .getOrElse(Options.DefaultBuckets)
    keys.groupBy(TokenRing.bucket(_, buckets, rangeBounds)).foreach { case (bucket, ks) =>
      // counter tables read the collapsed view: one tombstone per merged
      // cell (at max ts + 1) then shadows every underlying increment.
      // The doomed-key set doubles as the lookup set: runs whose blooms
      // reject every doomed key never enter the merge, and the rest are
      // read only inside each doomed key's own index window.
      val counterTable = tableProps.get(Options.CounterMerge).exists(_.toBoolean)
      val merge = new CellStore.BucketMergeIterator(dir, bucket,
        KeyWindows.points(ks), counterMerge = counterTable)
      val doomed = try {
        merge.map { c =>
          // a CERTIFIED tombstone carries its victim's value bytes: the
          // doomed cell was just read from the visible view, so recording
          // its value lets positional SUMs net deletions too (visible sum
          // = live sums − certified shadowed sums). No reader surfaces a
          // tombstone's value (the merge drops the row; the change feed
          // emits nothing for delete segments) — the bytes exist only for
          // the VSUM/CVAL tails the delete run's own index accumulates.
          Cell(c.key, c.col, c.sub,
            if (counterTable) Array.emptyByteArray else c.value,
            c.ts, tombstone = true)
        }.toVector
      } finally merge.close()
      if (doomed.nonEmpty) {
        val ts = doomed.map(_.ts).max + 1
        val sst = java.nio.file.Paths.get(dir, CellStore.SstDir)
        // the writer's `tmp-` staging convention: invisible to segmentFiles'
        // `b<bucket>-` prefix (a crash mid-write must never leave a file a
        // scan would open as a committed segment) and spared by truncate
        val tmp = sst.resolve(s"tmp-${java.util.UUID.randomUUID()}-b$bucket.bin")
        val out = CellStore.newSegmentStream(tmp)
        // CERTIFIED delete epoch (CellStore.writeRun's DCRT contract):
        // every tombstone here shadows a cell read from the then-visible
        // view at a strictly newer timestamp, and a doomed key's visible
        // cells are ALL doomed together (the lookup merge admits every cell
        // of the key) — what lets positional counts NET these deletions out
        // before compaction. Counter stores read the COLLAPSED view (one
        // tombstone per merged cell, many underlying increments), which
        // breaks the one-tombstone-one-cell accounting: not certified.
        try CellStore.writeRun(out, doomed.map(_.copy(ts = ts)),
          certifiedDeletes = !counterTable)
        finally out.close()
        CellStore.warmSegments(CellStore.commitSegments(dir,
          Seq(tmp -> CellStore.newSegmentName(bucket))))
      }
    }
  }

  /** Session-conf overrides merge UNDER explicit options (option > conf >
    * table property — the reference's conf-over-table-props resolution, D3).
    *
    * LAYOUT properties pinned by table metadata are excluded from the
    * chain entirely: existing segments were laid out under the pinned
    * value, so a per-scan/per-write override would silently misdecode
    * every key or misroute writes/deletes to wrong buckets. An EXPLICIT
    * option that conflicts is rejected loudly (the caller asked for an
    * impossible read); an ambient `spark.cassandralike.*` session conf is
    * ignored for pinned keys (it is a cross-table default, legitimate for
    * CREATE, and must not corrupt reads of tables pinned differently). */
  def withConfOverrides(options: Map[String, String]): Map[String, String] = {
    Options.LayoutProperties.foreach { k =>
      for (pinned <- tableProps.get(k); given <- options.get(k) if given != pinned)
        throw new IllegalArgumentException(
          s"'$k' is a layout property pinned to '$pinned' by table ${name()}; " +
            s"per-operation override '$given' would misinterpret existing segments")
    }
    (Options.confOverrides() ++ options).filterNot { case (k, _) =>
      Options.LayoutProperties(k) && tableProps.contains(k)
    }
  }

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new CellScanBuilder(this,
      withConfOverrides(options.asCaseSensitiveMap().asScala.toMap))

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new CellWriteBuilder(this, info)

  def opt(options: Map[String, String], key: String): Option[String] =
    Options.effective(options, tableProps, key)

  /** The buckets key windows can touch: a finite key set routes to its
    * own buckets, and on the RANGE layout windows cover CONTIGUOUS buckets
    * — bucket b spans [bounds(b-1), bounds(b)), so a key range at 100 TB
    * touches O(covered buckets) of the ring, not all of it; a hash-layout
    * range keeps every bucket (its keys scatter across all of them). */
  private[cassandralike] def bucketsMeeting(keys: KeyWindows,
      options: Map[String, String]): Int => Boolean = {
    val buckets = opt(options, Options.Buckets)
      .map(_.toInt).getOrElse(Options.DefaultBuckets)
    if (keys.points != null)
      keys.points.map(TokenRing.bucket(_, buckets, rangeBounds)).toSet
    else if (rangeBounds == null) _ => !keys.isEmpty
    else b => keys.meets(if (b == 0) null else rangeBounds(b - 1),
      if (b == rangeBounds.length) null else rangeBounds(b), bInclusive = false)
  }
}

/** Scan construction with projection pushdown (P1,
  * SupportsPushDownRequiredColumns — the reference reads Hive's needed-column
  * IDs and fetches only those cells, input/HiveCassandraStandardColumnInput
  * Format.java:55-59,95-98) and predicate pushdown (P2 — improving on the
  * reference, whose slice range was static configuration only: here real
  * Catalyst predicates on the key and on the transposed clustering column are
  * accepted and evaluated inside the scan; key-equality predicates also prune
  * token-range partitions). */
class CellScanBuilder(table: CassandraLikeTable, options: Map[String, String])
  extends ScanBuilder with SupportsPushDownRequiredColumns with SupportsPushDownFilters
  with SupportsPushDownLimit
  with org.apache.spark.sql.connector.read.SupportsPushDownTopN
  with org.apache.spark.sql.connector.read.SupportsPushDownAggregates {

  private var required: StructType = table.tableSchema
  private var pushed: Array[Filter] = Array.empty
  private var limit: Option[Int] = None
  private var limitLast: Boolean = false // DESC TopN: keep the LAST n rows
  private var aggs: Seq[PushedAgg] = Nil
  private var groupKeys: Seq[String] = Nil

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  /** Partial limit pushdown: each partition stops emitting after `limit`
    * rows (correct because pushed filters are evaluated exactly in the
    * reader, so every emitted row is a real result row). Returning false
    * keeps Spark's global Limit on top. */
  override def pushLimit(n: Int): Boolean = { limit = Some(n); false }

  /** Partial TOP-N pushdown: `ORDER BY key [, clustering] LIMIT n` where
    * the requested order IS the scan's natural emit order (the bucket
    * merge streams key-sorted, byte order == decoded order for
    * String/Binary). Each partition then stops after its first n rows — a
    * sorted prefix is exactly that partition's minimal n — and Spark's
    * global TopN merges the per-partition prefixes. At 100 TB this turns
    * "first n rows by key" from a full scan into n-row reads per split.
    *
    * The ALL-DESCENDING twin pushes too ("latest N" — the time-series
    * tail query): the full reversal of a lexicographic order is the
    * reverse permutation, so each partition's top-n under
    * (key DESC[, col DESC[, sub DESC]]) is exactly the LAST n rows of its
    * natural ascending emission — kept in an n-slot ring buffer (O(n)
    * memory, stream once). The scan IO is not suffix-seeked (the merge
    * still streams the partition), but the decode/filter volume leaving
    * the scan drops to n rows per split and Spark's global TopN merges
    * ring buffers instead of sorting the world. Mixed ASC/DESC, non-
    * byte-ordered types, and reversed slices are declined and planned as
    * a normal sort. Address fields are non-nullable, so null ordering
    * cannot affect either form. */
  override def pushTopN(
      orders: Array[org.apache.spark.sql.connector.expressions.SortOrder],
      n: Int): Boolean = {
    import org.apache.spark.sql.connector.expressions.SortDirection
    if (aggs.nonEmpty) return false
    def dirOn(o: org.apache.spark.sql.connector.expressions.SortOrder,
        name: String, dir: SortDirection): Boolean = o.expression match {
      case nr: NamedReference =>
        nr.fieldNames.length == 1 && nr.fieldNames.head == name &&
          o.direction == dir
      case _ => false
    }
    val keyF = table.mapping.keyField
    if (!table.keyCodec.rangeOrdered) return false
    val reversed = optF(Options.SliceReversed).exists(_.toBoolean)
    // natural(dir): every order key follows `dir` on the mapping's
    // address-column sequence, each level byte-ordered
    def natural(dir: SortDirection): Boolean = {
      def colNatural(c: org.apache.spark.sql.connector.expressions.SortOrder): Boolean = {
        val colF = table.mapping.field(FieldRole.TransColumn)
        table.colCodec.rangeOrdered && dirOn(c, colF.name, dir)
      }
      orders.toSeq match {
        case Seq(k) => dirOn(k, keyF.name, dir)
        case Seq(k, c) if table.mapping.transposed && !reversed =>
          dirOn(k, keyF.name, dir) && colNatural(c)
        case Seq(k, c, s) if table.mapping.hasSubColumn && !reversed =>
          // super mapping: cells stream (key, col, sub)-sorted, so the
          // three-key prefix is natural when every level is byte-ordered
          val subF = table.mapping.field(FieldRole.TransSubColumn)
          dirOn(k, keyF.name, dir) && colNatural(c) &&
            table.subCodec.rangeOrdered && dirOn(s, subF.name, dir)
        case _ => false
      }
    }
    if (natural(SortDirection.ASCENDING)) { limit = Some(n); true }
    else if (natural(SortDirection.DESCENDING)) {
      limit = Some(n); limitLast = true; true
    } else false
  }

  /** Partition prefixes, not the global answer: Spark keeps its TopN. */
  override def isPartiallyPushed(): Boolean = true

  /** Aggregate pushdown. Spark offers the aggregation here first, and the
    * paths are tried in this order:
    *  1. METADATA-COMPLETE ([[computeMetadataAnswer]]): every aggregate is
    *     answerable from run-index stats or postings, and the
    *     driver proves every bucket's conditions (stats-bearing, tombstone-
    *     free or certified-netted, run-disjoint, tails present) — outside
    *     the indexed and grouped shapes, every planned bucket answers
    *     ([[MetadataAggReader.BucketAnswer]]) and the bucket rows combine —
    *     so the final rows are computed at planning with zero cell IO. This tier
    *     alone answers COUNT(DISTINCT key), which no partial form can (Spark
    *     would have to trust the partitions' key-disjointness), grouped
    *     answers, and an empty ungrouped aggregate list (one zero-column
    *     row).
    *  2. DRIVER FOLD ([[foldOnDriver]]): an ungrouped aggregate the partial
    *     path would push, over key windows whose cells memoized segment
    *     metadata bounds within one task's worth of work
    *     (`split.target.cells`), is folded at planning by draining the
    *     partial scan's partitions through the executors' own readers and
    *     combining their partial rows.
    *  3. PARTIAL ([[pushAggregation]] after this returns false): each
    *     partition's reader folds exactly the rows the normal scan would
    *     emit (same LWW/tombstone reconciliation, same pushed-filter
    *     evaluation) into one partial row — or emits the row its bucket
    *     answered from metadata at planning ([[CellScan.metadataRows]]) —
    *     and Spark's final aggregate combines the partials.
    * Either complete answer plans as a [[DriverAnswerScan]], whose collect
    * starts no job; it is read at planning, the same single-maintainer
    * discipline as every pinned-file scan. Spark offers aggregates only
    * when no residual filter sits above the scan, so the speculative index
    * predicates (which must be re-applied) never meet a pushed aggregate. */
  override def supportCompletePushDown(
      aggregation: org.apache.spark.sql.connector.expressions.aggregate.Aggregation)
    : Boolean = {
    completeAnswer = computeMetadataAnswer(aggregation)
      .orElse(foldOnDriver(aggregation))
    completeAnswer.isDefined
  }

  /** (pushed aggregates, group keys, final answer rows) — one row for the
    * ungrouped forms, one row per PRESENT group key for the grouped form. */
  private var completeAnswer: Option[(Seq[PushedAgg], Seq[String], Seq[InternalRow])] = None

  /** The complete answer's rows once [[pushAggregation]] accepted it (a
    * support probe without the follow-up push must not turn a plain scan
    * into answer rows). */
  private var completeRows: Option[Seq[InternalRow]] = None

  /** The driver fold's answer, wrapping the partial scan it drained. */
  private var driverFold: Option[DriverAnswerScan] = None

  /** Tier 2 of [[supportCompletePushDown]]: the ungrouped partial
    * aggregation folded at planning. The partial scan's cells are bounded
    * first from memoized segment metadata ([[CellScan.cellBound]]); only a
    * bound within `split.target.cells` drains its partitions through the
    * executors' reader factory ([[drainOnDriver]]), so LWW, tombstones,
    * as-of and FilterEval stay one implementation (a bucket answered from
    * metadata counts no cells and emits its row), and the partial rows
    * combine into the final one
    * ([[AggregatePartitionReader.combine]]). The bound keeps every
    * partition within the cap, so they drain concurrently on the driver's
    * cores, one partition per drain, as the distributed scan's tasks would
    * run them. A Long overflow, a decimal sum past its type, or a drain
    * past the cap declines to the distributed partial path, which then
    * fails or wraps exactly as it does today. */
  private def foldOnDriver(
      aggregation: org.apache.spark.sql.connector.expressions.aggregate.Aggregation)
    : Option[(Seq[PushedAgg], Seq[String], Seq[InternalRow])] =
    partialAggs(aggregation).collect { case (want, Nil) => want }.flatMap { want =>
      import scala.collection.parallel.CollectionConverters._
      val scan = judgedScan(want)
      val cap = splitTargetCells
      if (scan.cellBound > cap) None
      else {
        val factory = scan.createReaderFactory()
        val answer =
          try {
            val drained = scan.planInputPartitions().toSeq.par
              .map(p => drainOnDriver(Seq(p), factory, cap)).seq
            val total = new ScanCounters
            drained.flatten.foreach(d => total.add(d._2))
            if (drained.exists(_.isEmpty) || total.cellsMerged > cap) None
            else AggregatePartitionReader.combine(scan.readSchema(), want,
                drained.flatten.flatMap(_._1))
              .map(row => new DriverAnswerScan(scan, Array(row), total))
          } catch { case _: ArithmeticException => None } // a partition's decimal sum
        driverFold = answer
        answer.map(a => (want, Nil, a.rows().toSeq))
      }
    }

  private def computeMetadataAnswer(
      aggregation: org.apache.spark.sql.connector.expressions.aggregate.Aggregation)
    : Option[(Seq[PushedAgg], Seq[String], Seq[InternalRow])] = {
    // an EMPTY aggregate list (what Dataset.count() leaves of an
    // aggregate query): ungrouped, one zero-column row whatever the store
    // holds; grouped, the present group keys, which the group tiers below
    // answer as an empty measure list
    if (aggregation.aggregateExpressions().isEmpty &&
        aggregation.groupByExpressions().isEmpty)
      return Some((Nil, Nil, Seq(InternalRow.empty)))
    if (limit.isDefined) return None
    if (!CassandraLikeTable.plainView(optF, table.tableProps,
        allowBoundedAsOf = true)) return None
    // GROUP BY the row key over pushed key points (or the INDEXED column
    // over an absorbed IN): per-group presence counts from the same
    // positional arithmetic
    if (aggregation.groupByExpressions().nonEmpty)
      return computeIndexedGroupAnswer(aggregation)
        .orElse(computeGroupedRangeAnswer(aggregation))
    // an absorbed INDEXED equality/IN tries the zero-base-IO postings-count
    // path first, then the candidate-point value-aggregate path; every
    // other shape is answered bucket by bucket
    val indexed =
      if (pushed.isEmpty) None
      else computeIndexedCountAnswer(aggregation)
        .orElse(computeIndexedStatsAnswer(aggregation))
    indexed.orElse(translateAggs(aggregation).flatMap { want =>
      judgedScan(want).metadataAnswer.map(row => (want, Nil, Seq(row)))
    })
  }

  /** The scan that judged `want` bucket by bucket on its listing
    * ([[CellScan.metadataRows]]), made once per builder: the complete
    * tier, the driver fold and the partial scan [[build]] returns share
    * its listing and answers. */
  private var judged: (Seq[PushedAgg], CellScan) = (Nil, null)
  private def judgedScan(want: Seq[PushedAgg]): CellScan = {
    if (judged._1 != want)
      judged = (want, new CellScan(table, required, pushed, options, limit, want))
    judged._2
  }

  /** The aggregation as pushed aggregates over plain columns, or None for
    * any other function or argument; each tier gates the shapes it
    * answers. */
  private def translateAggs(
      aggregation: org.apache.spark.sql.connector.expressions.aggregate.Aggregation)
    : Option[Seq[PushedAgg]] = {
    import org.apache.spark.sql.connector.expressions.aggregate.{Count, CountStar, Max, Min, Sum}
    val translated: Seq[Option[PushedAgg]] =
      aggregation.aggregateExpressions().toSeq.map {
        case _: CountStar => Some(PushedAgg.CountStar)
        case c: Count if c.isDistinct => aggCol(c.column).map(PushedAgg.CountDistinct.apply)
        case c: Count => aggCol(c.column).map(PushedAgg.Count.apply)
        case m: Min => aggCol(m.column).map(PushedAgg.Min.apply)
        case m: Max => aggCol(m.column).map(PushedAgg.Max.apply)
        case s: Sum if !s.isDistinct => aggCol(s.column).map(PushedAgg.Sum.apply)
        case _ => None
      }
    if (translated.exists(_.isEmpty)) None else Some(translated.flatten)
  }

  /** One indexed column of [[IndexedCtx]]: its index-store segment map,
    * pinned (possibly an as-of covered subset) by the proof walk. */
  private case class IdxCol(col: String,
      idxByBucket: Map[Int, Seq[java.nio.file.Path]],
      /** the column's VISIBLE base cells (clean buckets: the CVAL count;
        * netted: the netted-CVAL count — live minus certified victims) —
        * the histogram path compares this against the store's visible row
        * count to prove no NULL group exists (round 15). Distinct from
        * the proof's ever-written totals: on a netted store postings
        * outnumber visible cells by exactly the victims. */
      visColCells: Long,
      /** NO pushed conjunct constrains this column — it was proven as an
        * extra (histogram group column) or as a disjunction leaf column,
        * so an "open" walk covers its whole postings. */
      open: Boolean)

  /** The proven context every indexed-aggregate path shares: the absorbed
    * indexed conjuncts (leaves on any number of columns, and at most one
    * disjunction — `type = 'click' AND ts BETWEEN a AND b AND (p OR q)`),
    * resolved by [[Index.resolve]], and the pinned base listing — produced
    * only after the full composed proof (clean base, tombstone-free
    * postings, totals equality PER INDEX) has held, so callers may treat
    * each column's postings as a BIJECTION onto the base's current cells
    * of that column. */
  private case class IndexedCtx(filters: Seq[Filter],
      cols: Seq[IdxCol],
      /** some base bucket carries certified delete epochs: candidates are
        * a superset of the visible rows (deleted keys net to zero), the
        * per-point arithmetic must use the netted twins, and value
        * extremals decline (removing an extreme is not a subtraction) */
      netted: Boolean,
      /** the BASE listing the proof walk judged, pinned like idxByBucket:
        * every candidate probe below routes against exactly these files,
        * so a segment committed between the proof and the probes (an
        * unproven run — uncompacted tombstones, overlapping live runs)
        * can never feed a planning-time 'complete' answer */
      baseByBucket: Map[Int, Seq[java.nio.file.Path]],
      /** VISIBLE distinct row keys across the proven base (clean buckets:
        * Σ distinctKeys over disjoint runs; netted: Σ nettedKeys) — what
        * the histogram path compares against a column's colCells to prove
        * every visible row carries the cell (round 15) */
      baseRows: Long) {
    def hasOr: Boolean = filters.exists(_.isInstanceOf[Or])
    def col(c: String): Option[IdxCol] = cols.find(_.col == c)
  }

  /** Option lookup under this read's options, then the table's. */
  private val optF: String => Option[String] =
    k => Options.effective(options, table.tableProps, k)

  private def dtOf(c: String): DataType = table.tableSchema(c).dataType

  /** The table's index settings under this read's options. */
  private lazy val idx: Index.Lookup = Index.Lookup.of(table, options)

  /** Resolution pinned to the context's proven index listings, with the
    * complete tiers' budget: `index.max.candidates`, capped at
    * [[CellScanBuilder.MaxCompletePoints]] — past it the planner declines
    * and the index-shrunk distributed scan owns the query. */
  private def ctxLookup(ctx: IndexedCtx): Index.Lookup = {
    val byCol = ctx.cols.map(p => p.col -> p.idxByBucket).toMap
    idx.copy(idxCols = byCol.keySet,
      budget = math.min(idx.budget, CellScanBuilder.MaxCompletePoints),
      pinned = c => byCol.getOrElse(c, null))
  }

  /** Memoized per builder — the scalar count, scalar stats and grouped
    * paths all consult it during ONE planning pass, and `pushed` (its
    * only mutable input) is final before Spark offers aggregates. The
    * histogram's extra-column form memoizes per extraCols alongside
    * (VERDICT r15 #4): a grouped+scalar offer used to re-walk the
    * base+index bucket records on every grouped offer. */
  private lazy val indexedAggCtx: Option[IndexedCtx] = indexedAggContext()

  private val indexedAggCtxExtra =
    collection.mutable.Map.empty[Set[String], Option[IndexedCtx]]
  private def indexedAggContextMemo(extraCols: Set[String])
    : Option[IndexedCtx] =
    if (extraCols.isEmpty) indexedAggCtx
    else indexedAggCtxExtra.getOrElseUpdate(extraCols,
      indexedAggContext(extraCols))

  /** `extraCols` (round 15, the HISTOGRAM shape): indexed columns to prove
    * and pin WITHOUT any pushed predicate on them — the unfiltered
    * `GROUP BY indexedCol` walks that column's whole postings under the
    * same bijection proof, so it needs the column's totals equality and
    * pinned listing even though no filter references it. */
  private def indexedAggContext(extraCols: Set[String] = Set.empty)
    : Option[IndexedCtx] = {
    if (table.mapping.transposed) return None
    CellScanBuilder.contextPasses.incrementAndGet()
    // AS-OF composes (round 14): postings carry the SAME logical cell
    // timestamps as their base cells (the write path stamps both sides of
    // a posting/cell pair with one ts), so gating BOTH stores per run by
    // the same bound preserves the bijection — covered postings ↔ covered
    // base cells — re-proven below by the totals equality over the two
    // COVERED subsets: a crash between a pair's commits (index lands
    // first) strands covered postings with no covered cells and fails the
    // equality; runs straddling the bound (a compacted file mixing
    // epochs) decline to the fold, exactly like the plain metadata paths.
    // Every candidate probe then runs against the pinned covered maps.
    val asOf = optF(Options.ReadAsOf).map(_.toLong)
    // the pushed set must be ENTIRELY absorbed indexed predicates —
    // leaves on any columns (several on one column intersect in the
    // resolver) and at most one disjunction — as does anything else
    // pushed; the IsNotNull conjuncts Catalyst pairs with the absorbed
    // shapes are subsumed by them
    val idxCols = idx.idxCols
    if (extraCols.exists(c => !idxCols(c))) return None
    val filters = pushed.toSeq.filterNot(_.isInstanceOf[IsNotNull])
    val leaves = filters.filterNot(_.isInstanceOf[Or])
      .map(Index.leaf(_, idxCols, dtOf).getOrElse(return None))
    // the histogram's extra-col form declines an Or (no per-group
    // candidate slicing under a disjunction)
    val ors = filters.filter(_.isInstanceOf[Or])
    if (ors.size > 1 || (ors.nonEmpty && extraCols.nonEmpty)) return None
    // every column a disjunction leaf references joins the proof set —
    // absorption guaranteed the leaves are indexed predicates, but verify
    // against THIS reader's index view (options can differ)
    val orCols = ors.flatMap(_.references).distinct.sorted
    if (orCols.exists(c => !idxCols(c))) return None
    val cols = (leaves.map(_.col) ++ orCols ++ extraCols).distinct
    if (cols.isEmpty) return None
    val nonNull = filters.flatMap(Index.nonNullCols).toSet
    if (pushed.exists {
      case IsNotNull(c) => !nonNull(c)
      case _ => false
    }) return None
    val colBytesByCol: Map[String, Array[Byte]] = cols.map { c =>
      if (!Index.formatOk(Index.dir(table.dir, c))) return None
      val cb = MetadataAggReader.regularCellBytes(table.mapping, c)
      if (cb == null) return None
      c -> cb
    }.toMap
    // base proof + the base's per-column LIVE totals (CVAL): every bucket
    // must be CLEAN (no overwrite/delete ever) or NETTING-ELIGIBLE
    // (disjoint live runs + certified delete epochs). The totals equality
    // below compares each index's postings against cells EVER WRITTEN of
    // its column — on a netted bucket that is the LIVE-run count,
    // recovered from the two committed reductions: colVals = live +
    // certified victims, nettedColVals = live − certified ⇒ live = sum/2.
    val baseColCells =
      collection.mutable.Map.empty[String, Long].withDefaultValue(0L)
    val visColCells =
      collection.mutable.Map.empty[String, Long].withDefaultValue(0L)
    var anyNetted = false
    var baseRows = 0L
    val baseB = Map.newBuilder[Int, Seq[java.nio.file.Path]]
    CellStore.allSegmentFiles(table.dir).foreach { case (b, files0) =>
      val rec0 = CellStore.bucketStats(files0)
      if (!rec0.statsValid) return None
      // an as-of bound keeps only the covered files, stats recomputed over
      // the subset from memoized tails; straddling runs decline
      val (files, rec) = MetadataAggReader.asOfView(files0,
        rec0, asOf).getOrElse(return None)
      if (!rec.statsValid) return None
      def colCount(cvs: Seq[CellStore.ColValStat], cb: Array[Byte]): Long =
        cvs.find(cv => java.util.Arrays.equals(cv.col, cb))
          .map(_.count).getOrElse(0L)
      if (rec.tombstoneFree && rec.disjoint && rec.allAddrsDistinct &&
          rec.colValsAll) {
        cols.foreach { c =>
          val n = colCount(rec.colVals, colBytesByCol(c))
          baseColCells(c) += n
          visColCells(c) += n // clean: no deletes ever, so all visible
        }
        baseRows += rec.distinctKeys // additive: disjoint runs
      } else if (rec.nettedOk && rec.nettedColValsOk) {
        anyNetted = true
        cols.foreach { c =>
          val both = colCount(rec.colVals, colBytesByCol(c)) +
            colCount(rec.nettedColVals, colBytesByCol(c))
          if (both < 0 || both % 2 != 0) return None
          baseColCells(c) += both / 2
          // the netted CVAL IS the visible count (live − certified victims)
          visColCells(c) += colCount(rec.nettedColVals, colBytesByCol(c))
        }
        baseRows += rec.nettedKeys // visible keys under certified netting
      } else return None
      baseB += b -> files
    }
    val baseByBucket = baseB.result()
    val idxColsProven = cols.map { c =>
      // index-side totals (tombstone-free postings, raw cell count) over
      // the same bound's covered subset, one equality per index store
      var idxCells = 0L
      val idxB = Map.newBuilder[Int, Seq[java.nio.file.Path]]
      CellStore.allSegmentFiles(Index.dir(table.dir, c)).foreach { case (b, files0) =>
        val rec0 = CellStore.bucketStats(files0)
        if (!rec0.statsValid) return None
        val (files, rec) = MetadataAggReader.asOfView(files0,
          rec0, asOf).getOrElse(return None)
        if (!(rec.statsValid && rec.tombstoneFree)) return None
        idxCells += rec.cells
        idxB += b -> files
      }
      if (idxCells != baseColCells(c)) return None // orphan/dup postings
      IdxCol(c, idxB.result(), visColCells(c), open = !leaves.exists(_.col == c))
    }
    Some(IndexedCtx(filters, idxColsProven, anyNetted, baseByBucket, baseRows))
  }

  /** COMPLETE pushdown of `count(*) WHERE indexed_col = v` (or IN): the
    * answer is the POSTINGS count — zero base IO (round 13, VERDICT r12
    * #5). The index is a stale SUPERSET by design, so counting it raw
    * would be wrong; the count is exact only under a composed proof:
    *
    *   1. CLEAN BASE: every base bucket is tombstone-free with disjoint,
    *      per-run-deduped runs — no cell was ever overwritten or deleted,
    *      so every posting's (value, key) is still the row's CURRENT
    *      value and every visible cell produced exactly one posting
    *      write (the append-only corpus shape: "how many docs have
    *      lang = 'en'").
    *   2. NO ORPHANS: index segments commit BEFORE base segments, so a
    *      crashed or retried write can leave postings with no base cell
    *      (or duplicated postings). Those are invisible to per-bucket
    *      cleanliness — they are caught by an exact TOTALS equality:
    *      Σ index cells == Σ base CVAL count(indexed column). Postings
    *      always ⊇ base cells of the column, so equality forces
    *      one-posting-per-visible-cell everywhere; any surplus declines.
    *   3. Per-value counts then come from key-point arithmetic on the
    *      routed index bucket ([[CellStore.summarize]] over point windows — run
    *      index + blooms, no posting payload reads), globally dup-free
    *      by (2) even across overlapping index runs.
    *
    * Anything outside the shape — other filters, non-COUNT aggregates,
    * transposed mappings, a bound some run straddles — returns None and
    * the candidate tiers own the query. This is the one tier that counts
    * past [[CellScanBuilder.MaxCompletePoints]] without reading keys. AS-OF
    * bounds compose when every run is cleanly covered or newer (see the
    * pairing note in [[indexedAggContext]]). */
  private def computeIndexedCountAnswer(
      aggregation: org.apache.spark.sql.connector.expressions.aggregate.Aggregation)
    : Option[(Seq[PushedAgg], Seq[String], Seq[InternalRow])] = {
    if (aggregation.groupByExpressions().nonEmpty) return None
    val ctx = indexedAggCtx.getOrElse(return None)
    // postings count deleted rows too: the zero-IO count is clean-only
    // (the candidate stats path below answers netted stores); the RANGE
    // and multi-predicate forms have no single point set to route, and a
    // DISJUNCTION could double-count a row matching several branches —
    // their counts ride the candidate stats path (still O(matching))
    if (ctx.netted) return None
    val pred = ctx.filters match {
      case Seq(f) => Index.leaf(f, idx.idxCols, dtOf) match {
        case Some(p: Index.Points) => p
        case _ => return None
      }
      case _ => return None
    }
    val keyN = table.mapping.keyField.name
    // every aggregate must be row-count-equivalent: COUNT(*), COUNT(key)
    // (the key is never missing), or COUNT(indexed col) — every matching
    // row carries the indexed cell by definition of matching
    val want = translateAggs(aggregation).filter(_.forall {
      case PushedAgg.CountStar => true
      case PushedAgg.Count(c) => c == keyN || c == pred.col
      case _ => false
    }).getOrElse(return None)
    val idxByBucket = ctx.col(pred.col).get.idxByBucket
    // count the value points on their routed index buckets
    var total = 0L
    Index.encodedPoints(pred, dtOf(pred.col), idx.textEnc).map(_._1)
      .groupBy(ek => TokenRing.bucket(ek, idx.buckets))
      .foreach { case (b, ps) =>
        idxByBucket.get(b).foreach { files =>
          total += CellStore.summarize(files,
            CellStore.Window.points(ps).map(_.copy(slot = 0)), 1,
            CellStore.Measure.Cells).getOrElse(return None).count(0)
        }
      }
    Some((want, Nil, Seq(InternalRow.fromSeq(want.map(_ => total: Any)))))
  }

  /** COMPLETE pushdown of VALUE aggregates under absorbed indexed
    * predicates — `SELECT sum(c2), min(c2), count(c2) WHERE c1 = v` —
    * the "statistics of one source/segment/language" polling shape
    * (round 13, extending the postings-count path above). Under the
    * bijection proof ([[indexedAggContext]]) the resolved candidates
    * ([[matchingKeys]]) are EXACTLY the matching rows' keys, and they
    * feed the per-point positional arithmetic ([[foldSlices]] as one
    * ungrouped slice). Planning IO is O(matching postings + candidates ·
    * log), independent of table size — never a base scan. */
  private def computeIndexedStatsAnswer(
      aggregation: org.apache.spark.sql.connector.expressions.aggregate.Aggregation)
    : Option[(Seq[PushedAgg], Seq[String], Seq[InternalRow])] = {
    if (aggregation.groupByExpressions().nonEmpty) return None
    val ctx = indexedAggCtx.getOrElse(return None)
    val want = indexedAggs(aggregation, ctx.netted).getOrElse(return None)
    val cands = matchingKeys(ctx).getOrElse(return None)
    foldSlices(want, cands, Seq((Nil, cands.ks.indices.toArray)), ctx)
      .map(rows => (want, Nil, rows))
  }

  /** Per-point probe results for ONE candidate list, shared by every
    * aggregate and every group that consults it. Candidates route ONCE to
    * the base bucket they belong to — paired with that bucket's PROVEN
    * files (`ctx.baseByBucket`, the listing the proof walk judged — a
    * segment committed after the proof can never feed these probes), the
    * planner-side analogue of the scan's partition routing: a candidate's
    * cells can only live in its own bucket, so every probe touches exactly
    * the files that could hold it (hash buckets span the whole key domain,
    * so key-window pruning alone cannot reject foreign candidates —
    * routing can). Presence, per-column accumulators and cell values then
    * run as ONE batched pass per (bucket, column, file) over ALL points,
    * results input-aligned so the grouped paths slice them per group — G
    * groups cost the same segment opens and index parses as one. */
  private final class IndexedPointAggs(val ks: IndexedSeq[Array[Byte]],
      ctx: IndexedCtx) {
    /** (bucket-sorted points, their input indices, proven files). */
    private val routed
      : Seq[(Seq[Array[Byte]], Array[Int], Seq[java.nio.file.Path])] = {
      val rb = table.rangeBounds
      ks.zipWithIndex.groupBy { case (k, _) =>
        TokenRing.bucket(k, idx.buckets, rb)
      }.toSeq.flatMap { case (b, pws) =>
        ctx.baseByBucket.get(b).map { files =>
          val sorted = pws.sortWith((a, c) =>
            Codecs.compareBytes(a._1, c._1) < 0)
          (sorted.map(_._1), sorted.map(_._2).toArray, files)
        }
      }
    }

    /** Visible-point mask (positive netted presence = live − certified
      * cells at the point), input-aligned; None when any consulted run is
      * unclassifiable under netting. */
    lazy val presentMask: Option[Array[Boolean]] = computePresentMask()

    private def computePresentMask(): Option[Array[Boolean]] = {
      val mask = new Array[Boolean](ks.size)
      routed.foreach { case (pts, idxs, files) =>
        val per = CellStore.summarize(files, CellStore.Window.points(pts),
          pts.length, CellStore.Measure.Cells, netted = true).getOrElse(return None)
        var i = 0
        while (i < idxs.length) {
          if (per.count(i) > 0) mask(idxs(i)) = true
          i += 1
        }
      }
      Some(mask)
    }

    private val aggCache = collection.mutable.Map
      .empty[(String, Boolean), Option[(Array[Long], Array[Long])]]

    /** Input-aligned per-point (counts, sums-or-null) of one cell column —
      * memoized, so the grouped path's G folds share one batched pass.
      * None = the pass declined (unknown column, sum overflow, or an
      * unclassifiable netted run). */
    def colPointAggs(c: String, wantSums: Boolean)
      : Option[(Array[Long], Array[Long])] =
      aggCache.getOrElseUpdate((c, wantSums), computeColPointAggs(c, wantSums))

    private def computeColPointAggs(c: String, wantSums: Boolean)
      : Option[(Array[Long], Array[Long])] = {
      val cb = MetadataAggReader.regularCellBytes(table.mapping, c)
      if (cb == null) return None
      val counts = new Array[Long](ks.size)
      val sums = if (wantSums) new Array[Long](ks.size) else null
      routed.foreach { case (pts, idxs, files) =>
        val per = CellStore.summarize(files, CellStore.Window.points(pts),
          pts.length, CellStore.Measure.Column(cb), wantSum = wantSums,
          netted = ctx.netted).getOrElse(return None)
        var i = 0
        while (i < idxs.length) {
          counts(idxs(i)) = per.count(i)
          if (sums != null) sums(idxs(i)) = per.sum(i)
          i += 1
        }
      }
      Some((counts, sums))
    }

    private val valueCache =
      collection.mutable.Map.empty[String, Option[Array[Array[Byte]]]]

    /** Input-aligned VALUE BYTES of one cell column (null = no such cell
      * for that candidate), memoized: each (bucket, file) runs ONE batched
      * [[CellStore.colBytesAtPoints]] pass, and a value found in TWO files
      * (impossible under the clean proof's all-addresses-distinct — means
      * the proof is stale) declines instead of picking one. */
    def colValues(c: String): Option[Array[Array[Byte]]] =
      valueCache.getOrElseUpdate(c, computeColValues(c))

    private def computeColValues(c: String): Option[Array[Array[Byte]]] = {
      val cb = MetadataAggReader.regularCellBytes(table.mapping, c)
      if (cb == null) return None
      val out = new Array[Array[Byte]](ks.size)
      routed.foreach { case (pts, idxs, files) =>
        files.foreach { f =>
          val per = CellStore.colBytesAtPoints(f, pts, cb).getOrElse(return None)
          var i = 0
          while (i < per.length) {
            if (per(i) != null) {
              if (out(idxs(i)) != null) return None // dup across files
              out(idxs(i)) = per(i)
            }
            i += 1
          }
        }
      }
      Some(out)
    }
  }

  /** The EXACT keys of the rows the context's predicates admit: the
    * conjuncts and the disjunction resolve through [[Index.resolve]],
    * pinned to the proof's listings, and the residual it leaves — a side
    * that BLEW its budget (ASYMMETRIC BUDGETS, SURVEY §7.4 #1: `type =
    * rare AND ts BETWEEN <wide>`) or the over-budget Or — is checked per
    * candidate by ONE [[FilterEval.compile]] over the candidates' base
    * cell values ([[IndexedPointAggs.colValues]]): cost O(candidates ·
    * log), never O(postings on the wide side). Exact: the probes read the
    * same pinned files the proof judged, and a NULL/absent cell fails a
    * conjunct and an Or leaf alike (SQL three-valued logic — absorption
    * admitted only exactly-evaluable leaf types). At least one side must
    * have resolved (probes verify candidates, they cannot produce them),
    * and a netted store with a residual declines: a netted bucket's
    * per-point value needs tombstone reconciliation the probe refuses. */
  private def matchingKeys(ctx: IndexedCtx): Option[IndexedPointAggs] = {
    val r = Index.resolve(ctx.filters, ctxLookup(ctx)).getOrElse(return None)
    val all = new IndexedPointAggs(r.keys.iterator.map(_.toArray).toIndexedSeq, ctx)
    if (r.residual.isEmpty) Some(all)
    else if (ctx.netted) None
    else {
      val check = FilterEval.compile(r.residual.reduce[Filter](And(_, _)))
      val vals = r.residual.flatMap(_.references).distinct
        .map(c => c -> all.colValues(c).getOrElse(return None))
      val kept = all.ks.indices.filter(i => check(vals.iterator.map { case (c, vs) =>
        c -> (if (vs(i) == null) null else Codecs.decode(dtOf(c), vs(i)))
      }.toMap))
      Some(if (kept.size == all.ks.size) all
        else new IndexedPointAggs(kept.map(all.ks), ctx))
    }
  }

  /** MIN/MAX-able column types — one list shared by the partial-pushdown
    * gate and the indexed key-extremal gate, so the two can never drift. */
  private def orderableType(dt: org.apache.spark.sql.types.DataType): Boolean =
    dt match {
      case _: org.apache.spark.sql.types.NumericType |
        org.apache.spark.sql.types.StringType |
        org.apache.spark.sql.types.DateType |
        org.apache.spark.sql.types.TimestampType |
        org.apache.spark.sql.types.BooleanType |
        org.apache.spark.sql.types.BinaryType => true
      case _ => false
    }

  /** The one slice-and-fold of the indexed tiers: one answer row per
    * slice of `cands` — (group key values, candidate indices) — its key
    * values followed by [[foldIndexedVals]] over the slice. On a netted
    * store a slice keeps only its VISIBLE candidates (a deleted key nets
    * to zero presence), and a group left with none emits no row, exactly
    * like the fold; an ungrouped slice (no key values) emits its row even
    * when empty. */
  private def foldSlices(want: Seq[PushedAgg], cands: IndexedPointAggs,
      slices: Seq[(Seq[Any], Array[Int])], ctx: IndexedCtx)
    : Option[Seq[InternalRow]] = {
    val mask = if (ctx.netted) cands.presentMask.getOrElse(return None) else null
    Some(slices.flatMap { case (key, idxs) =>
      val present = if (mask == null) idxs else idxs.filter(mask(_))
      if (present.isEmpty && key.nonEmpty) None
      else foldIndexedVals(want, present, cands, ctx) match {
        case Some(vals) => Some(InternalRow.fromSeq(key ++ vals))
        case None => return None
      }
    })
  }

  /** One answer row folded from the batched per-point results, restricted
    * to `present` (one slice's VISIBLE candidate indices). Everything
    * leans on the bijection proof: the visible candidate set IS the
    * matching row set, so
    *   - row counts (COUNT(*), COUNT(key), COUNT of a column the
    *     predicates prove non-null) are the candidate COUNT — zero base IO;
    *   - MIN/MAX of the KEY decode the candidates and compare under the
    *     type's own ordering — exact under ANY key codec, zero base IO;
    *   - per-column COUNT/SUM/MIN/MAX slice the shared batched pass
    *     ([[IndexedPointAggs.colPointAggs]] — one pass per segment file
    *     over ALL candidates, bloom/window-pruned per run), never a
    *     per-candidate envelope call (the per-envelope form is
    *     O(files × candidates × aggs) separate span seeks — measured 150×
    *     slower than the scan it was meant to beat at 1.5k candidates). */
  private def foldIndexedVals(want: Seq[PushedAgg],
      present: Array[Int],
      cands: IndexedPointAggs,
      ctx: IndexedCtx): Option[Seq[Any]] = {
    val keyN = table.mapping.keyField.name
    lazy val ord = org.apache.spark.sql.catalyst.util.TypeUtils
      .getInterpretedOrdering(dtOf(keyN))
    lazy val decoded: Seq[Any] =
      present.toSeq.map(i => table.keyCodec.decode(cands.ks(i)))
    // which cell columns need VALUES alongside counts (SUM/MIN/MAX share
    // one per-point pass with COUNT; under the dedup proofs a point's
    // count for a named cell is 0/1, so its per-point sum IS the value)
    val needSums: Set[String] = want.collect {
      case PushedAgg.Sum(c) => c
      case PushedAgg.Min(c) if c != keyN => c
      case PushedAgg.Max(c) if c != keyN => c
    }.toSet
    /** Fold of one column's shared per-point accumulators over `present`. */
    case class ColAgg(count: Long, sum: Long,
        min: java.lang.Long, max: java.lang.Long)
    val folded = collection.mutable.Map.empty[String, ColAgg]
    def colAgg(c: String): Option[ColAgg] =
      folded.get(c).map(Some(_)).getOrElse {
        val (counts, sums) = cands.colPointAggs(c, needSums(c))
          .getOrElse(return None)
        var count = 0L
        var sum = 0L
        var mn: java.lang.Long = null
        var mx: java.lang.Long = null
        try {
          var j = 0
          while (j < present.length) {
            val i = present(j)
            count += counts(i)
            if (sums != null) {
              sum = Math.addExact(sum, sums(i))
              if (counts(i) == 1L) {
                val v = sums(i)
                if (mn == null || v < mn) mn = v
                if (mx == null || v > mx) mx = v
              } else if (counts(i) != 0L) {
                // dup address: a per-point "value" is undefined — the
                // dedup proofs exclude this; decline defensively
                return None
              }
            }
            j += 1
          }
        } catch { case _: ArithmeticException => return None }
        val r = ColAgg(count, sum, mn, mx)
        folded(c) = r
        Some(r)
      }
    // ONLY the key and the columns the predicates prove non-null are
    // never-missing on matching rows — another indexed-but-unfiltered
    // column can hold nulls, and so can a column only SOME disjunction
    // branches constrain (a row can match through the OTHER branch with
    // this cell NULL) or a histogram group column (no predicate
    // constrains it — round 15, caught by the prefix/disjunction fuzz
    // arm), so their COUNTs go through the per-point cell arithmetic
    val nonNull = ctx.filters.flatMap(Index.nonNullCols).toSet + keyN
    val out = want.map {
      case PushedAgg.CountStar => present.length.toLong
      case PushedAgg.Count(c) if nonNull(c) => present.length.toLong
      case PushedAgg.Count(c) => colAgg(c).getOrElse(return None).count
      case PushedAgg.Sum(c) =>
        val a = colAgg(c).getOrElse(return None)
        if (a.count == 0L) null else Long.box(a.sum)
      case PushedAgg.Min(c) if c == keyN =>
        if (present.isEmpty) null else decoded.min(ord)
      case PushedAgg.Max(c) if c == keyN =>
        if (present.isEmpty) null else decoded.max(ord)
      case PushedAgg.Min(c) => colAgg(c).getOrElse(return None).min
      case PushedAgg.Max(c) => colAgg(c).getOrElse(return None).max
      case _ => return None // CountDistinct never passes the shape gate
    }
    Some(out)
  }

  /** GROUP BY the INDEXED column over an absorbed IN — `SELECT c1,
    * count(*), sum(c2) WHERE c1 IN (...) GROUP BY c1` ("per-source row
    * and byte totals") — or over an absorbed RANGE (`WHERE c1 BETWEEN a
    * AND b GROUP BY c1`, the histogram-slice shape): one group per value
    * with matching rows, each answered from its own candidate key set
    * exactly like the scalar form; a value with no postings (or whose
    * rows all netted away) emits NO group, exactly like the fold. */
  private def computeIndexedGroupAnswer(
      aggregation: org.apache.spark.sql.connector.expressions.aggregate.Aggregation)
    : Option[(Seq[PushedAgg], Seq[String], Seq[InternalRow])] = {
    // cheap shape gate FIRST — the ctx proof reduces every bucket's
    // run stats, pure waste for a group key this path can never serve
    val groupCol = aggregation.groupByExpressions().toSeq.map(aggCol) match {
      case Seq(Some(g)) => g
      case _ => return None
    }
    // ctx acquisition (rounds 15/16): the memoized context serves when it
    // carries a pred on the group column; otherwise PROBE-SLICED grouping
    // (round 16) resolves the filters' candidates and slices groups by
    // each candidate's actual group-cell VALUE — serving ANY named cell
    // group column (indexed or not) and the disjunction shape, with the
    // extra-column postings-walk proof (which also serves netted stores)
    // as the fallback. The unfiltered HISTOGRAM keeps the extra-column
    // walk (no filters = no candidates to slice). A pushed-but-unabsorbed
    // filter set (memoized None with pushed nonEmpty) declines: no proof.
    val ctx: IndexedCtx = indexedAggCtx match {
      case Some(c) if !c.hasOr && c.col(groupCol).isDefined =>
        // group pred's own per-group postings first (cheapest); an
        // asymmetric-budget decline there (another conjunct over budget)
        // falls to probe-sliced grouping, which verifies the wide side
        // per candidate instead of declining outright
        return groupAnswerWithCtx(aggregation, groupCol, c)
          .orElse(probeSlicedGroupAnswer(aggregation, groupCol, c))
      case Some(c) =>
        return probeSlicedGroupAnswer(aggregation, groupCol, c).orElse {
          if (!c.hasOr)
            indexedAggContextMemo(Set(groupCol))
              .flatMap(groupAnswerWithCtx(aggregation, groupCol, _))
          else None
        }
      case None if pushed.isEmpty =>
        indexedAggContextMemo(Set(groupCol)).getOrElse(return None)
      case None => return None
    }
    groupAnswerWithCtx(aggregation, groupCol, ctx)
  }

  /** GROUP BY over a column the context carries (a pred on it, or the
    * histogram's extra-column proof) — per-group candidates from the
    * group column's own index. */
  private def groupAnswerWithCtx(
      aggregation: org.apache.spark.sql.connector.expressions.aggregate.Aggregation,
      groupCol: String, ctx: IndexedCtx)
    : Option[(Seq[PushedAgg], Seq[String], Seq[InternalRow])] = {
    val gp = ctx.col(groupCol).getOrElse(return None)
    // HISTOGRAM null-group guard: the open walk enumerates rows CARRYING
    // the group cell; rows without it form SQL's NULL group, whose
    // aggregates no index can supply — answer only when the totals prove
    // every visible row carries the cell (visible rows == the column's
    // visible cells; at most one cell per row holds by the address
    // uniqueness the proof already established)
    if (gp.open && ctx.baseRows != gp.visColCells) return None
    val want = indexedAggs(aggregation, ctx.netted).getOrElse(return None)
    val lookup = ctxLookup(ctx)
    val (own, others) = ctx.filters.partition(f =>
      Index.leaf(f, lookup.idxCols, dtOf).exists(_.col == groupCol))
    // per-group candidates: one point lookup per IN value, or — the RANGE
    // form (round 14, "histogram per source over a value window"), and
    // the HISTOGRAM's unbounded walk (round 15, no bounds) — one postings
    // walk that keeps the VALUE bytes, yielding the distinct group values
    // and their base keys together; group keys decode from the value
    // bytes (exact: absorbed types round-trip every STORED value)
    val dt = dtOf(groupCol)
    val groups: Seq[(Any, Seq[Array[Byte]])] = own.flatMap(Index.leaf(_, lookup.idxCols, dtOf)) match {
      case Seq(p: Index.Points) => lookup.pointKeys(p).getOrElse(return None)
      case bs if bs.forall(_.isInstanceOf[Index.Bound]) =>
        Index.rangeLookupGrouped(Index.dir(table.dir, groupCol), dt, idx.textEnc,
            groupCol, own, idx.buckets, lookup.budget, gp.idxByBucket, idx.timeoutMs)
          .getOrElse(return None)
          .map { case (ek, ks) => (Index.decodeKey(dt, ek, idx.textEnc), ks) }
      case _ => return None
    }
    // conjunction: the OTHER predicates' candidates intersect every
    // group's candidates (GROUP BY src WHERE src IN (...) AND ts BETWEEN)
    val otherKeys: Option[Set[Seq[Byte]]] =
      if (others.isEmpty) None
      else Index.resolve(others, lookup) match {
        case Some(r) if r.residual.isEmpty => Some(r.keys)
        case _ => return None
      }
    // ALL groups' candidates batch into ONE point list (each group keeps
    // its index range): the presence and per-column passes then open each
    // consulted segment once TOTAL instead of once per (group, column),
    // and the per-group folds slice the shared input-aligned arrays — G
    // groups cost the index parses of one
    val allKs = Vector.newBuilder[Array[Byte]]
    var off = 0
    val slices = groups.map { case (cat, g0) =>
      val g = otherKeys.fold(g0)(ok => g0.filter(k => ok(k.toSeq)))
      allKs ++= g
      off += g.size
      (Seq(cat), (off - g.size until off).toArray)
    }
    val cands = new IndexedPointAggs(allKs.result(), ctx)
    foldSlices(want, cands, slices, ctx).map(rows => (want, Seq(groupCol), rows))
  }

  /** PROBE-SLICED grouping (round 16): `SELECT g, agg(...) WHERE <indexed
    * predicates — conjuncts and/or a disjunction> GROUP BY g` for ANY
    * named cell column g — indexed or not. The filters' candidate keys
    * resolve exactly as the scalar path's ([[matchingKeys]]), then ONE
    * batched value probe fetches g's cell per candidate and the groups
    * are sliced by the decoded values — a candidate with NO g cell lands
    * in SQL's NULL group (which the postings-walk forms can never emit;
    * the fold does, and so does this). Group keys normalize floating
    * zeros/NaN the way Spark's grouping does. Clean stores only (the
    * value probe refuses netted reconciliation) — the extra-column
    * postings-walk fallback still owns netted histograms. Cost:
    * O(candidates · log) — G groups share one [[IndexedPointAggs]]
    * exactly like the postings form. */
  private def probeSlicedGroupAnswer(
      aggregation: org.apache.spark.sql.connector.expressions.aggregate.Aggregation,
      groupCol: String, ctx: IndexedCtx)
    : Option[(Seq[PushedAgg], Seq[String], Seq[InternalRow])] = {
    if (ctx.netted) return None
    if (MetadataAggReader.regularCellBytes(table.mapping, groupCol) == null)
      return None
    val want = indexedAggs(aggregation, netted = false).getOrElse(return None)
    val cands = matchingKeys(ctx).getOrElse(return None)
    val gvals = cands.colValues(groupCol).getOrElse(return None)
    val dt = dtOf(groupCol)
    // grouping identity: Spark normalizes -0.0 to +0.0 and all NaNs to
    // one NaN in group keys; binary wraps for value equality
    def mapKey(v: Any): Any = v match {
      case null => null
      case d: java.lang.Double =>
        if (d.isNaN) java.lang.Double.valueOf(Double.NaN)
        else if (d == 0.0d) java.lang.Double.valueOf(0.0d) else d
      case f: java.lang.Float =>
        if (f.isNaN) java.lang.Float.valueOf(Float.NaN)
        else if (f == 0.0f) java.lang.Float.valueOf(0.0f) else f
      case b: Array[Byte] => java.nio.ByteBuffer.wrap(b)
      case x => x
    }
    def rowKeyVal(k: Any): Any = k match {
      case bb: java.nio.ByteBuffer => bb.array()
      case x => x
    }
    val groups =
      collection.mutable.LinkedHashMap.empty[Any, collection.mutable.ArrayBuffer[Int]]
    cands.ks.indices.foreach { i =>
      val v = if (gvals(i) == null) null else Codecs.decode(dt, gvals(i))
      groups.getOrElseUpdate(mapKey(v), collection.mutable.ArrayBuffer.empty) += i
    }
    val slices = groups.iterator.map { case (gk, is) => (Seq(rowKeyVal(gk)), is.toArray) }
    foldSlices(want, cands, slices.toSeq, ctx).map(rows => (want, Seq(groupCol), rows))
  }

  /** The aggregates the indexed candidate tiers answer: row counts,
    * per-column counts of any named cell, SUM/MIN/MAX of binary-long
    * cells, MIN/MAX of an orderable key. SUMs net (certified tombstones
    * carry their victims' values); value EXTREMALS never net (removing
    * an extreme is not a subtraction; a deleted cell's bytes must not
    * surface), so netted stores decline MIN/MAX(value). */
  private def indexedAggs(
      aggregation: org.apache.spark.sql.connector.expressions.aggregate.Aggregation,
      netted: Boolean)
    : Option[Seq[PushedAgg]] = {
    val keyN = table.mapping.keyField.name
    def sumOk(c: String): Boolean =
      MetadataAggReader.regularValueEligible(table.mapping, c, optF)
    // key extremals decode the candidate list and use the type's own
    // ordering (see foldIndexedVals) — any orderable key type qualifies,
    // order-preserving codec NOT required
    def minMaxOk(c: String): Boolean = (!netted && sumOk(c)) ||
      (c == keyN && orderableType(dtOf(c)))
    translateAggs(aggregation).filter(_.forall {
      case PushedAgg.CountStar => true
      case PushedAgg.Count(c) => c == keyN ||
        MetadataAggReader.regularCountEligible(table.mapping, c, optF)
      case PushedAgg.Sum(c) => sumOk(c)
      case PushedAgg.Min(c) => minMaxOk(c)
      case PushedAgg.Max(c) => minMaxOk(c)
      case PushedAgg.CountDistinct(_) => false
    })
  }

  /** GROUPED complete pushdown: `GROUP BY key` over pushed key POINTS —
    * the batch width/presence check (`SELECT key, count(*) ... WHERE key
    * IN (...) GROUP BY key`) resolves at planning into one row per
    * PRESENT key from the same per-point presence arithmetic; absent
    * keys emit no group, exactly like the fold. Besides COUNTs (a
    * MIN/MAX of the group key is the key itself — Catalyst folds that
    * away before it reaches the source), per-key SUM(value) rides the
    * VSUM positional sums ("volume per user in the window") and per-key
    * MIN/MAX of the CLUSTERING COLUMN ride the composite extremal seeks
    * ("first/last reading per row"). The key set must be pinned
    * (enumerable groups). */
  private def computeGroupedRangeAnswer(
      aggregation: org.apache.spark.sql.connector.expressions.aggregate.Aggregation)
    : Option[(Seq[PushedAgg], Seq[String], Seq[InternalRow])] = {
    if (!table.mapping.transposed) return None
    val keyN = table.mapping.keyField.name
    val colN = table.mapping.field(FieldRole.TransColumn).name
    val valN = table.mapping.field(FieldRole.TransValue).name
    val subN =
      if (table.mapping.hasSubColumn)
        table.mapping.field(FieldRole.TransSubColumn).name
      else null
    aggregation.groupByExpressions().toSeq.map(aggCol) match {
      case Seq(Some(g)) if g == keyN => ()
      case _ => return None
    }
    def extremalCol(c: String): Boolean = c == colN || c == valN || (subN != null && c == subN)
    val want = translateAggs(aggregation).filter(_.forall {
      case PushedAgg.CountStar | PushedAgg.Sum(_) => true
      case PushedAgg.Count(c) => table.isAddressField(c) || c == valN
      case PushedAgg.Min(c) => extremalCol(c)
      case PushedAgg.Max(c) => extremalCol(c)
      case PushedAgg.CountDistinct(_) => false
    }).getOrElse(return None)
    // the per-bucket proofs of the ungrouped answer, over the buckets the
    // pinned key set routes to (a tombstone in an UNRELATED bucket must
    // not demote the answer); enumerable groups need pinned keys. An
    // empty list (the present keys alone) takes COUNT(*)'s proof
    val judge = new MetadataAggReader.BucketAnswer(table, optF, pushed,
      if (want.isEmpty) Seq(PushedAgg.CountStar) else want)
    val sortedKs = judge.keys.points
    if (!judge.eligible || sortedKs == null) return None
    val relevant = table.bucketsMeeting(judge.keys, options)
    val proven = CellStore.allSegmentFiles(table.dir).toSeq.collect {
      case (b, files) if relevant(b) => judge.proof(files).getOrElse(return None)
    }
    val files = proven.flatMap(_._1)
    val netted = proven.exists(!_._2.tombstoneFree)
    import CellStore.{Measure, Window}
    val windows = Window.points(sortedKs, judge.cols, judge.subs)
    val n = sortedKs.length
    val wantSum = want.exists {
      case PushedAgg.Sum(_) => true
      case _ => false
    }
    val wantExt = want.exists {
      case PushedAgg.Min(c) => c == valN
      case PushedAgg.Max(c) => c == valN
      case _ => false
    }
    // per-key count, value sum and value extremes ("per-user peak in the
    // window") in one pass. Netted stores serve grouped COUNTs and SUMs
    // too (the per-bucket netted shape gate already rejected
    // extremals): a fully-deleted key nets to zero and
    // emits no group, exactly like the fold. A decline (missing tail,
    // overflow, unclassifiable run) demotes the WHOLE grouped answer to
    // the fold
    val per = CellStore.summarize(files, windows, n,
      if (wantSum || wantExt) Measure.Values else Measure.Cells,
      wantSum, wantExt, netted).getOrElse(return None)
    // per-key extremal col within the col windows, and extremal SUB of
    // the pinned (key, col) groups ("first/last sub-entry of each row's
    // pinned column")
    def extremals(field: Int, wantMin: Boolean): Array[Array[Byte]] =
      CellStore.extremalAddresses(files, windows, n, field, wantMin)
    lazy val colMins = extremals(1, wantMin = true)
    lazy val colMaxs = extremals(1, wantMin = false)
    lazy val subMins = extremals(2, wantMin = true)
    lazy val subMaxs = extremals(2, wantMin = false)
    val rows = sortedKs.indices.collect {
      case i if per.count(i) > 0 =>
        InternalRow.fromSeq(
          table.keyCodec.decode(sortedKs(i)) +: want.map {
            case PushedAgg.CountStar | PushedAgg.Count(_) => per.count(i)
            case PushedAgg.Sum(_) => per.sum(i)
            case PushedAgg.Min(c) if c == valN => per.extreme(i, wantMin = true)
            case PushedAgg.Max(c) if c == valN => per.extreme(i, wantMin = false)
            case PushedAgg.Min(c) if subN != null && c == subN =>
              if (subMins(i) == null) null else table.subCodec.decode(subMins(i))
            case PushedAgg.Max(c) if subN != null && c == subN =>
              if (subMaxs(i) == null) null else table.subCodec.decode(subMaxs(i))
            case PushedAgg.Min(_) => table.colCodec.decode(colMins(i))
            case PushedAgg.Max(_) => table.colCodec.decode(colMaxs(i))
            case other => throw new IllegalStateException(
              s"unanswerable grouped aggregate $other")
          })
    }
    Some((want, Seq(keyN), rows.toSeq))
  }

  private def aggCol(
      e: org.apache.spark.sql.connector.expressions.Expression): Option[String] =
    e match {
      case nr: org.apache.spark.sql.connector.expressions.NamedReference
        if nr.fieldNames.length == 1 &&
          table.tableSchema.fieldNames.contains(nr.fieldNames.head) =>
        Some(nr.fieldNames.head)
      case _ => None
    }

  override def pushAggregation(
      aggregation: org.apache.spark.sql.connector.expressions.aggregate.Aggregation)
    : Boolean = {
    // COMPLETE answer already proven by supportCompletePushDown (Spark
    // calls it first, with the same aggregation): accept as-is
    completeAnswer match {
      case Some((want, gk, rows)) =>
        aggs = want; groupKeys = gk; completeRows = Some(rows)
        true
      case None =>
        partialAggs(aggregation) match {
          case Some((want, gk)) => aggs = want; groupKeys = gk; true
          case None => false
        }
    }
  }

  /** The PARTIAL pushdown of `aggregation`, as (aggregates, group keys)
    * whose per-partition rows Spark's final aggregate combines, or None
    * when some function or grouping is not pushable. */
  private def partialAggs(
      aggregation: org.apache.spark.sql.connector.expressions.aggregate.Aggregation)
    : Option[(Seq[PushedAgg], Seq[String])] = {
    // an EMPTY aggregate list (a count() over an already-aggregated
    // subquery) has no partial form: ungrouped, supportCompletePushDown
    // answers it as one zero-column row; grouped, it would promise a
    // zero-column scan per group, so the normal row scan serves it
    if (aggregation.aggregateExpressions().isEmpty) return None
    if (limit.isDefined) return None
    def orderable(c: String): Boolean =
      orderableType(table.tableSchema(c).dataType)
    // SUM only over types whose partial accumulation matches Spark's own
    // partial-agg semantics exactly: integrals accumulate as Long (same
    // wrap-around), float/double as Double (Spark sums float as double),
    // and decimal as the widened DecimalType(min(38, p+10), s) — the fold
    // sums exactly (JVM BigDecimal) and THROWS if a partition's sum can't
    // fit the widened type. A NULL partial would be indistinguishable from
    // an all-null partition and Spark's final Sum would silently drop the
    // overflowed contribution (wrong non-null total); failing the scan is
    // the only sound surface a partial-row producer has — which matches
    // the unpushed query ONLY under ANSI mode. Non-ANSI Spark returns NULL
    // on decimal SUM overflow, so a pushed throw would make pushdown
    // observable as a query failure: decimal SUM pushes only when ANSI is
    // on (pushdown stays transparent either way).
    def summable(c: String): Boolean = table.tableSchema(c).dataType match {
      case org.apache.spark.sql.types.LongType | org.apache.spark.sql.types.IntegerType |
        org.apache.spark.sql.types.ShortType | org.apache.spark.sql.types.ByteType |
        org.apache.spark.sql.types.DoubleType | org.apache.spark.sql.types.FloatType => true
      case _: org.apache.spark.sql.types.DecimalType =>
        org.apache.spark.sql.internal.SQLConf.get.ansiEnabled
      case _ => false
    }
    // Grouping: the ROW KEY, or — on a transposed table — the (row key,
    // clustering column) pair. The merge scan emits cells in (key, col,
    // sub) order and key-range split boundaries are whole keys, so both
    // group shapes stream with O(1) memory and never straddle partitions
    // (equal (key, col) cells are adjacent within a key's run) — any other
    // grouping column would need an unbounded reader-side hash map.
    // When the table reports its token-bucket layout
    // (partitioning.report), DECLINE grouped pushdown: the reported
    // KeyGroupedPartitioning already satisfies the aggregation's
    // clustering (a key subset clusters the pair too), so the un-pushed
    // plan aggregates in place with ZERO exchange — strictly better than
    // shuffling per-key partials to a combine (plan-asserted by the
    // key-grouped-aggregation spec).
    val reportsLayout = optF(Options.ReportPartitioning).exists(_.toBoolean)
    val keyName = table.mapping.keyField.name
    val clusterName =
      if (table.mapping.transposed)
        Some(table.mapping.field(FieldRole.TransColumn).name)
      else None
    val grouping: Option[Seq[String]] =
      aggregation.groupByExpressions().toSeq.map(aggCol) match {
        case Nil => Some(Nil)
        case Seq(Some(c)) if c == keyName && !reportsLayout => Some(Seq(c))
        case Seq(Some(k), Some(c))
          if k == keyName && clusterName.contains(c) && !reportsLayout =>
          Some(Seq(k, c))
        case _ => None
      }
    if (grouping.isEmpty) return None
    translateAggs(aggregation).filter(_.forall {
      case PushedAgg.CountStar | PushedAgg.Count(_) => true
      case PushedAgg.CountDistinct(_) => false
      case PushedAgg.Min(c) => orderable(c)
      case PushedAgg.Max(c) => orderable(c)
      case PushedAgg.Sum(c) => summable(c)
    }).map((_, grouping.get))
  }

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val m = table.mapping
    val keyName = m.keyField.name
    val sliceName =
      if (m.transposed) Some(m.field(FieldRole.TransColumn).name) else None
    // SUB-slice pushdown (super mappings): predicates on the :subcolumn
    // field evaluate exactly in the reader (FilterEval, same machinery as
    // the clustering column), and additionally drive the merge-level sub
    // byte filters plus the run/span [subMin, subMax] seeks when the sub
    // byte form is order-preserving/injective (gated in the reader).
    val subName =
      if (m.hasSubColumn) Some(m.field(FieldRole.TransSubColumn).name) else None
    def sliceable(c: String): Boolean =
      sliceName.contains(c) || subName.contains(c)
    def pushable(f: Filter): Boolean = f match {
      case EqualTo(c, _) => c == keyName || sliceable(c)
      // IN on the clustering/sub column: a multi-point slice — FilterEval
      // applies it exactly in the reader (hash-set probe per cell), so
      // non-matching cells of a wide row are dropped before they become
      // rows and Spark plants no re-filter above the scan
      case In(c, _) => c == keyName || sliceable(c)
      // Key RANGE pushdown: a pushed </>= on the ROW KEY becomes byte
      // windows (KeyWindows: one interval under an order-preserving form,
      // at most two for a `bytes` int/long/timestamp key) that tighten the
      // merge and let the run indexes SEEK past everything outside them,
      // instead of scanning the whole bucket and re-filtering post-decode
      case _: GreaterThan | _: GreaterThanOrEqual | _: LessThan | _: LessThanOrEqual =>
        val c = f.references.head
        (c == keyName && KeyWindows.ranges(table.keyCodec, f)) || sliceable(c)
      // LIKE-prefix on a STRING row key (round 15): `key LIKE 'p%'` IS the
      // key range [p, prefixSucc(p)) — string keys marshal to their UTF-8
      // bytes (identity), whose unsigned byte order is SQL string order
      // and under which value-prefix containment is byte-prefix
      // containment — so the merge bounds tighten and the run indexes
      // seek past everything outside the prefix window
      // (KeyWindows), exactly like pushed </>= on the key.
      // FilterEval re-applies the predicate per row (exact).
      // Round 16 extends the same fold to STRING CLUSTERING and SUB
      // columns (the reference's own P2 slice operator over the
      // comparator bytes): `col LIKE 'sensor#%'` on a wide row becomes
      // the inclusive slice byte window [p, prefixSucc(p)] — disjoint
      // runs skipped, spans seeked — instead of scanning the row width.
      case StringStartsWith(c, p) =>
        p != null && ((c == keyName && m.keyField.dataType == StringType) ||
          (sliceable(c) &&
            m.fields.find(_.name == c).exists(_.dataType == StringType)))
      case _ => false
    }
    val (accepted, rejected0) = filters.partition(pushable)
    // Secondary index: every indexed leaf ([[Index.leaf]] — =/IN, >/>=/</<=,
    // LIKE-prefix) and every disjunction of them ALSO reaches the scan, and
    // one resolver ([[Index.resolve]]) turns them into key candidates at
    // planning: for the scan shrink (Index.keyFilters) and for the indexed
    // aggregate tiers. On a column whose type the reader compares
    // EXACTLY like Spark (integrals, default-collation strings, boolean,
    // date/timestamp, and — round 14 — float/double: FilterEval's
    // comparators normalize -0.0 to +0.0 and use Double.compare, which
    // reproduces Spark's NaN-greatest / NaN-self-equal / signed-zero-equal
    // ordering bit for bit) the predicate is fully ABSORBED: the reader
    // re-applies it per row (stale index candidates still re-filter, so
    // index staleness can only ever cost IO), and absorption is what lets
    // AGGREGATE pushdown compose with index lookups — Spark only pushes
    // aggregates below a plan with no residual filters
    // (`count(*) WHERE lang = 'en'`, `sum(v) WHERE ts BETWEEN a AND b` —
    // the postings count, or the resolved candidates' slice-and-fold,
    // [[foldSlices]]).
    // Comparisons on DECIMAL stay residual (precision/scale cast
    // semantics diverge from the raw comparators).
    def exactEvalType(c: String): Boolean =
      table.tableSchema(c).dataType match {
        case org.apache.spark.sql.types.ByteType |
             org.apache.spark.sql.types.ShortType |
             org.apache.spark.sql.types.IntegerType |
             org.apache.spark.sql.types.LongType |
             org.apache.spark.sql.types.BooleanType |
             org.apache.spark.sql.types.DateType |
             org.apache.spark.sql.types.TimestampType |
             org.apache.spark.sql.types.FloatType |
             org.apache.spark.sql.types.DoubleType => true
        case s: org.apache.spark.sql.types.StringType =>
          s == org.apache.spark.sql.types.StringType // default collation only
        case _ => false
      }
    def indexed(f: Filter): Option[Index.Leaf] = Index.leaf(f, idx.idxCols, dtOf)
    // one absorbable LEAF: an indexed leaf whose column type the reader
    // compares exactly like Spark (a LIKE-prefix is a UTF8String
    // byte-prefix test on both sides) — the unit the conjunctive
    // absorption and the DISJUNCTION absorption (round 15) are both built
    // from. A disjunction absorbs when every leaf under it (through nested
    // Or/And) is absorbable: the reader re-applies the whole tree exactly
    // (FilterEval.compile composes OR/AND over exact leaves), and the
    // index resolves it to the union of the branches' candidate sets. One
    // inabsorbable leaf poisons the tree — its branch admits rows no index
    // can enumerate.
    def absorbableLeaf(f: Filter): Boolean = indexed(f).exists(l => exactEvalType(l.col))
    val (absorbedEq, rejected1) =
      rejected0.partition(f => Index.everyLeaf(f)(absorbableLeaf))
    // the IsNotNull(c) conjunct Catalyst pairs with an equality or
    // comparison is SUBSUMED by an absorbed predicate on the same column
    // (null never compares true; FilterEval rejects null rows), so it
    // absorbs alongside — left residual it would block aggregate pushdown
    // for no reason
    val absorbedCols = absorbedEq.flatMap(Index.nonNullCols).toSet
    val (absorbedNn, rejected) = rejected1.partition {
      case IsNotNull(c) => absorbedCols(c)
      case _ => false
    }
    val absorbed = absorbedEq ++ absorbedNn
    // a rejected indexed predicate — or a disjunction whose every leaf is
    // one, even if a leaf's type comparison isn't reader-exact — still
    // shrinks the scan (Spark re-filters)
    val speculative = rejected.filter(f => Index.everyLeaf(f)(indexed(_).isDefined))
    pushed = accepted ++ absorbed ++ speculative
    rejected
  }

  override def pushedFilters(): Array[Filter] = pushed

  override def build(): Scan = {
    // a driver fold already holds its answer and the partial scan it read
    driverFold match {
      case Some(answer) if completeRows.isDefined => return answer
      case _ => ()
    }
    val scan = new CellScan(table, required, pushed, options, limit, aggs,
      groupKeys, limitLast, completeRows,
      judged = if (groupKeys.isEmpty && judged._1 == aggs) judged._2 else null)
    val points = scan.keyWindows.points
    val answerable = points != null &&
      points.length <= CellScanBuilder.MaxStatPoints &&
      aggs.isEmpty &&
      !table.opt(options, Options.ReportPartitioning).exists(_.toBoolean)
    scan.completeRows match {
      // a complete metadata aggregate: its rows are already on the driver
      case Some(rows) =>
        val counters = new ScanCounters
        counters.partitionsStatsOnly = 1L
        new DriverAnswerScan(scan, rows.toArray, counters)
      case None if answerable => answerOnDriver(scan).getOrElse(scan)
      case None => scan
    }
  }

  /** Key-addressed read answered at planning: every planned partition is
    * read serially through the executors' own reader (so LWW, tombstones,
    * TTL, as-of, slices, FilterEval and blooms stay one implementation) and
    * the rows go to a [[DriverAnswerScan]], which Spark plans as a
    * `LocalTableScanExec`: collecting it starts no job. Over one task's
    * worth of work the scan runs distributed ([[drainOnDriver]]). Rows are
    * read when the query is planned. */
  private def answerOnDriver(scan: CellScan): Option[Scan] =
    drainOnDriver(scan.planInputPartitions().toSeq, scan.createReaderFactory(),
        splitTargetCells).map { case (rows, counters) =>
      new DriverAnswerScan(scan, rows, counters)
    }

  /** One task's worth of merged cells: `split.target.cells`. */
  private def splitTargetCells: Long =
    table.opt(options, Options.SplitTargetCells).map(_.toLong)
      .getOrElse(Options.DefaultSplitTargetCells)

  /** `parts`, drained serially on the driver through the scan's reader
    * factory: the rows (one partial row per partition for a pushed
    * aggregate) and the summed store IO, or None past `cap` merged cells.
    * The merge itself stops at the first cell past the cap, so a row wider
    * than the cap is not merged whole before the read gives up. */
  private def drainOnDriver(parts: Seq[InputPartition],
      factory: PartitionReaderFactory, cap: Long)
    : Option[(Array[InternalRow], ScanCounters)] = {
    val total = new ScanCounters
    val rows = mutable.ArrayBuffer.empty[InternalRow]
    var i = 0
    try {
      while (i < parts.length && total.cellsMerged <= cap) {
        val r = factory.createReader(parts(i))
        val c = r.asInstanceOf[CountedReader].counters
        c.mergeCap = cap - total.cellsMerged
        try {
          while (total.cellsMerged + c.cellsMerged <= cap && r.next())
            rows += r.get().copy()
        } finally { r.close(); total.add(c) }
        i += 1
      }
    } catch { case _: ScanCounters.OverCap => }
    CellScanBuilder.driverCellsMerged.addAndGet(total.cellsMerged)
    if (total.cellsMerged > cap) None else Some((rows.toArray, total))
  }
}

object CellScanBuilder {
  /** Largest finite key set that planning reads point by point: the exact
    * filtered row count of [[CellScan.estimateStatistics]] and the driver
    * answer of [[CellScanBuilder.build]]. */
  val MaxStatPoints = 128

  /** Diagnostic: cells merged by driver reads ([[CellScanBuilder.build]]),
    * answered or given up. */
  val driverCellsMerged = new java.util.concurrent.atomic.AtomicLong()

  /** Pushed-IN size past which COMPLETE range aggregation declines and
    * the distributed partial path owns the point probes. */
  val MaxCompletePoints = 8192

  /** Test instrumentation: proof-context walks (base+index bucket-record
    * passes) — pins the per-extraCols memoization (a grouped+scalar
    * planning pass must not re-walk per offer). */
  private[graft] val contextPasses =
    new java.util.concurrent.atomic.AtomicInteger(0)
}

/** A pushed aggregate, in the serializable form the readers fold. */
sealed trait PushedAgg extends Serializable
object PushedAgg {
  case object CountStar extends PushedAgg
  final case class Count(col: String) extends PushedAgg
  /** COUNT(DISTINCT key) — COMPLETE-pushdown only (planning answers it
    * from per-run distinctKeys stats; no partial form exists, because
    * per-partition distinct counts would need Spark to know the
    * partitions are key-disjoint). Never reaches the fold readers. */
  final case class CountDistinct(col: String) extends PushedAgg
  final case class Min(col: String) extends PushedAgg
  final case class Max(col: String) extends PushedAgg
  final case class Sum(col: String) extends PushedAgg
  /** Partial-sum accumulation type, matching Spark's own partial agg:
    * integrals sum as Long (same wrap-around), float/double as Double,
    * decimal as Sum's widened result type (DecimalType.bounded(p+10, s)). */
  def sumType(dt: org.apache.spark.sql.types.DataType)
    : org.apache.spark.sql.types.DataType = dt match {
    case org.apache.spark.sql.types.DoubleType | org.apache.spark.sql.types.FloatType =>
      org.apache.spark.sql.types.DoubleType
    case d: org.apache.spark.sql.types.DecimalType =>
      org.apache.spark.sql.types.DecimalType(
        math.min(38, d.precision + 10), d.scale)
    case _ => org.apache.spark.sql.types.LongType
  }
  def references(a: PushedAgg): Seq[String] = a match {
    case CountStar => Nil
    case Count(c) => Seq(c)
    case CountDistinct(c) => Seq(c)
    case Min(c) => Seq(c)
    case Max(c) => Seq(c)
    case Sum(c) => Seq(c)
  }
}

/** Per-bucket split planning shared by the batch scan and the change feed:
  * a bucket (or a change-feed batch's delta segments within it) bigger than
  * `targetCells` plans multiple key-range partitions, boundaries drawn from
  * the run indexes' sparse key samples. `restrictFiles = true` pins the
  * partitions to exactly `files` (the feed's batch determinism contract);
  * false leaves readers on the open-time committed set (the batch scan's
  * existing behavior). */
private[cassandralike] object SplitPlanner {
  def forBucket(
      dir: String,
      bucket: Int,
      files: Seq[java.nio.file.Path],
      hosts: Array[String],
      targetCells: Long,
      restrictFiles: Boolean): Seq[CellInputPartition] = {
    val names = if (restrictFiles) files.map(_.getFileName.toString) else null
    val cells = files.iterator.map(CellStore.meta(_).cells).sum
    val nSplits = math.max(1L, (cells + targetCells - 1) / targetCells).toInt
    if (nSplits <= 1) Seq(CellInputPartition(dir, bucket, hosts, files = names))
    else {
      // merged sparse key sample (~1 key per IndexEvery cells, index-only
      // reads, memoized per immutable file) -> cell-count quantiles
      val sample = files.flatMap(CellStore.meta(_).sample)
        .sortWith((a, c) => Codecs.compareBytes(a, c) < 0)
      val raw = (1 until nSplits)
        .map(i => sample(((i.toLong * sample.size) / nSplits).toInt))
      // adjacent-equal boundaries collapse (single hot key can't split)
      val bounds = raw.foldLeft(Vector.empty[Array[Byte]]) { (acc, k) =>
        if (acc.nonEmpty && java.util.Arrays.equals(acc.last, k)) acc else acc :+ k
      }
      if (bounds.isEmpty) Seq(CellInputPartition(dir, bucket, hosts, files = names))
      else {
        val lowers = (null: Array[Byte]) +: bounds
        val uppers = bounds :+ (null: Array[Byte])
        lowers.lazyZip(uppers).map { (lo, hi) =>
          CellInputPartition(dir, bucket, hosts, lo, hi, files = names)
        }
      }
    }
  }
}

/** One scan split: a token-range bucket, optionally restricted to the key
  * range `[lower, upper)` (null = unbounded) when the bucket is big enough
  * to sub-split — the run index seeks each range near its share of the
  * bytes, so N splits of a bucket cost ~1× the bucket, not N×. */
final case class CellInputPartition(
    tableDir: String,
    bucket: Int,
    hosts: Array[String],
    lower: Array[Byte] = null,
    upper: Array[Byte] = null,
    // change-feed batches restrict the merge to the micro-batch's NEW
    // committed segment names (relative to the sst dir); null = the batch
    // scan's view, every committed segment at reader-open time
    files: Seq[String] = null,
    // a whole bucket answered from metadata at planning
    // ([[CellScan.metadataRows]]): the partial row its reader emits, with
    // no segment IO; null = the reader merges cells
    answer: InternalRow = null) extends InputPartition
  with org.apache.spark.sql.connector.read.HasPartitionKey {
  /** S2: replica-aware placement hook (the reference's split locations,
    * input/HiveCassandraStandardSplit.java:69-71). Empty in local mode. */
  override def preferredLocations(): Array[String] = hosts

  /** Storage-partitioned joins: the split's bucket is its partition-key
    * value under the scan's reported `bucket(n, key)` clustering; Spark
    * groups same-bucket sub-splits into one task when a join wants the
    * co-partitioning. */
  override def partitionKey(): org.apache.spark.sql.catalyst.InternalRow =
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](bucket))

  /** The segments a reader of this split merges: the pinned `files`, else
    * every committed segment of the bucket, listed now. */
  def segments(): Seq[java.nio.file.Path] =
    if (files != null) files.map(n => java.nio.file.Paths.get(tableDir, CellStore.SstDir, n))
    else CellStore.segmentFiles(tableDir, bucket)
}

class CellScan(
    table: CassandraLikeTable,
    required: StructType,
    filters: Array[Filter],
    options: Map[String, String],
    limit: Option[Int] = None,
    aggs: Seq[PushedAgg] = Nil,
    aggGroupKeys: Seq[String] = Nil,
    limitLast: Boolean = false,
    // COMPLETE aggregate pushdown: the final answer rows, precomputed at
    // planning from run-index stats (see CellScanBuilder
    // .supportCompletePushDown) — one row for ungrouped forms, one per
    // PRESENT group key for the grouped form; the scan plans ONE
    // partition emitting them
    private[cassandralike] val completeRows: Option[Seq[InternalRow]] = None,
    // a scan of the same builder that already listed the buckets and
    // judged these aggregates on them ([[metadataRows]]); null = list and
    // judge here
    judged: CellScan = null)
  extends Scan with Batch with SupportsReportStatistics with SupportsRuntimeFiltering
  with org.apache.spark.sql.connector.read.SupportsReportPartitioning
  with org.apache.spark.sql.connector.read.SupportsReportOrdering {

  /** With aggregates pushed, the readers fold over this BASE projection
    * (the group key and aggregated columns, or just the key for a bare
    * COUNT(*)) and the scan's output is partial rows in [[aggSchema]] —
    * one per partition ungrouped, one per (partition, key) grouped. */
  private lazy val aggBaseSchema: StructType = {
    val cols = (aggGroupKeys ++ aggs.flatMap(PushedAgg.references)).distinct
    val names = if (cols.isEmpty) Seq(table.mapping.keyField.name) else cols
    StructType(names.map(n => table.tableSchema(n)))
  }

  private lazy val aggSchema: StructType = StructType(
    aggGroupKeys.map(k => table.tableSchema(k)) ++
      aggs.zipWithIndex.map {
        case (PushedAgg.CountStar, i) =>
          org.apache.spark.sql.types.StructField(s"agg_${i}_count_star",
            org.apache.spark.sql.types.LongType, nullable = false)
        case (PushedAgg.Count(c), i) =>
          org.apache.spark.sql.types.StructField(s"agg_${i}_count_$c",
            org.apache.spark.sql.types.LongType, nullable = false)
        case (PushedAgg.CountDistinct(c), i) =>
          org.apache.spark.sql.types.StructField(s"agg_${i}_count_distinct_$c",
            org.apache.spark.sql.types.LongType, nullable = false)
        case (PushedAgg.Min(c), i) =>
          org.apache.spark.sql.types.StructField(s"agg_${i}_min_$c",
            table.tableSchema(c).dataType, nullable = true)
        case (PushedAgg.Max(c), i) =>
          org.apache.spark.sql.types.StructField(s"agg_${i}_max_$c",
            table.tableSchema(c).dataType, nullable = true)
        case (PushedAgg.Sum(c), i) =>
          org.apache.spark.sql.types.StructField(s"agg_${i}_sum_$c",
            PushedAgg.sumType(table.tableSchema(c).dataType), nullable = true)
      })

  /** The per-bucket metadata judgment of the pushed ungrouped aggregates
    * ([[MetadataAggReader.BucketAnswer]]). */
  private lazy val bucketAnswer =
    new MetadataAggReader.BucketAnswer(table, k => table.opt(options, k), filters, aggs)

  private def metadataEligible: Boolean = aggGroupKeys.isEmpty && bucketAnswer.eligible

  /** Each planned bucket's metadata answer (None = it folds its cells),
    * judged on the driver from this scan's listing, in bucket order and
    * each bucket once: a complete answer stops at the first decline. */
  private lazy val judgments: LazyList[(Int, Option[InternalRow])] =
    if (judged != null) judged.judgments
    else if (!metadataEligible) LazyList.empty
    else LazyList.from(plannedBuckets).map(b => b -> bucketAnswer(segmentsByBucket(b)))

  /** The planned buckets answered from metadata, each with its partial
    * row: each plans as one partition that carries its row
    * ([[planInputPartitions]]), and the other buckets fold their cells. */
  private[cassandralike] lazy val metadataRows: Map[Int, InternalRow] =
    judgments.collect { case (b, Some(row)) => b -> row }.toMap

  /** The whole aggregate from metadata: every planned bucket answered and
    * their rows combined (None on an overflow). */
  private[cassandralike] def metadataAnswer: Option[InternalRow] =
    if (!metadataEligible || !judgments.forall(_._2.isDefined)) None
    else AggregatePartitionReader.combine(readSchema(), aggs, judgments.flatMap(_._2))

  /** Storage-partitioned join hook: report the token-bucket layout as a
    * KeyGroupedPartitioning over `bucket(buckets, key)` when the table
    * opts in ([[Options.ReportPartitioning]]) and the projection kept the
    * key column (the clustering expression must resolve against the scan
    * output). Catalyst then proves two same-bucketed stores co-partitioned
    * — their equi-join on row keys plans with NO exchange on either side —
    * by binding the transform through the catalog's [[BucketFunction]] and
    * matching `canonicalName` + bucket count across the sides. */
  override def outputPartitioning()
      : org.apache.spark.sql.connector.read.partitioning.Partitioning = {
    val keyName = table.mapping.keyField.name
    val optedIn = table.opt(options, Options.ReportPartitioning)
      .exists(_.toBoolean)
    if (optedIn && aggs.isEmpty && required.fieldNames.contains(keyName)) {
      val buckets = table.opt(options, Options.Buckets)
        .map(_.toInt).getOrElse(Options.DefaultBuckets)
      new org.apache.spark.sql.connector.read.partitioning.KeyGroupedPartitioning(
        Array(CassandraLikeTable.bucketTransform(buckets, keyName,
          table.keyCodec.ordered, table.rangeDigest)), plannedBuckets.size)
    } else {
      new org.apache.spark.sql.connector.read.partitioning.UnknownPartitioning(0)
    }
  }

  /** SORTED SCAN: every partition emits rows in (key[, clustering column])
    * order — the bucket merge is globally (key, col, sub)-sorted and the
    * row assembly preserves it — so the scan REPORTS that ordering and
    * Spark elides the local sorts it would otherwise plant: a
    * storage-partitioned join becomes a pure zipper merge (no exchange, no
    * sort on either side), and a per-key window (`PARTITION BY key ORDER BY
    * col`) runs directly on the scan output. Reported only when the
    * DECODED order provably equals the stored BYTE order — String/Binary
    * (UTF8/unsigned-lexicographic, byte-identical); numeric keys are
    * stored big-endian two's-complement, where negatives sort after
    * positives, so they must not claim an ordering. The clustering
    * component drops under `slice.reversed` (per-key cell order flips).
    * Spark itself discards the claim when it coalesces a bucket's
    * key-range sub-splits into one task (grouped-partition guard in
    * DataSourceV2ScanExecBase.outputOrdering), so sub-split concatenation
    * order is never trusted implicitly. */
  override def outputOrdering()
      : Array[org.apache.spark.sql.connector.expressions.SortOrder] = {
    import org.apache.spark.sql.connector.expressions.{Expressions => E,
      NullOrdering, SortDirection}
    if (aggs.nonEmpty) return Array.empty
    val keyF = table.mapping.keyField
    // ordered key encoding makes integral byte order == numeric order, so
    // numeric-keyed stores claim the same ordering string/binary keys do
    if (!table.keyCodec.rangeOrdered || !required.fieldNames.contains(keyF.name))
      return Array.empty
    val keyOrder = E.sort(E.column(keyF.name), SortDirection.ASCENDING,
      NullOrdering.NULLS_FIRST)
    val colOrder =
      if (!table.mapping.transposed) None
      else {
        val colF = table.mapping.field(FieldRole.TransColumn)
        val reversed = table.opt(options, Options.SliceReversed)
          .exists(_.toBoolean)
        if (table.colCodec.rangeOrdered && !reversed &&
            required.fieldNames.contains(colF.name))
          Some(E.sort(E.column(colF.name), SortDirection.ASCENDING,
            NullOrdering.NULLS_FIRST))
        else None
      }
    // sub-level ordering claim: only meaningful (and only sound) under a
    // claimed column ordering — cells stream (key, col, sub)-sorted
    val subOrder =
      if (colOrder.isEmpty || !table.mapping.hasSubColumn) None
      else {
        val subF = table.mapping.field(FieldRole.TransSubColumn)
        if (table.subCodec.rangeOrdered && required.fieldNames.contains(subF.name))
          Some(E.sort(E.column(subF.name), SortDirection.ASCENDING,
            NullOrdering.NULLS_FIRST))
        else None
      }
    Array(keyOrder) ++ colOrder ++ subOrder
  }

  /** Runtime (join-produced) key filters — the DSv2 dynamic-partition-pruning
    * hook. Spark calls `filter` after executing the build side of a selective
    * join, then re-plans partitions; key values prune token-range buckets
    * exactly like planning-time predicates, and the reader also applies them
    * row-level so less data reaches the probe side. */
  private var runtimeFilters: Array[Filter] = Array.empty

  /** Only advertise the key when the projection kept it: Spark's
    * PartitionPruning resolves these refs against the scan OUTPUT, and a
    * key-pruned projection would make every join over this scan fail
    * analysis (surfaced by the store-to-store join spec). */
  override def filterAttributes(): Array[NamedReference] =
    // with aggregates pushed the scan output is partial-agg rows, so a
    // runtime key filter could not resolve against it — don't advertise
    if (aggs.isEmpty && required.fieldNames.contains(table.mapping.keyField.name))
      Array(Expressions.column(table.mapping.keyField.name))
    else Array.empty

  override def filter(fs: Array[Filter]): Unit = {
    val keyName = table.mapping.keyField.name
    runtimeFilters = fs.filter {
      case EqualTo(c, _) => c == keyName
      case In(c, _) => c == keyName
      case _ => false
    }
  }

  /** Secondary-index candidates, resolved ONCE per scan at planning: pushed
    * equality predicates on indexed columns become point lookups, pushed
    * comparisons become run-index range seeks over the postings
    * ([[Index.keyFilters]]), and both produce an In(key, candidates) filter
    * that then drives bucket pruning, run-index seeks and per-run blooms
    * exactly like a user-written key lookup. */
  private lazy val indexKeyFilters: Array[Filter] =
    Index.keyFilters(table, options, filters,
      // total cells of the scan's own committed listing (memoized segment
      // stats — no extra IO): the cost gate's full-scan side
      () => segmentsByBucket.values.flatten
        .map(f => CellStore.meta(f).cells).sum)

  private def effectiveFilters: Array[Filter] =
    filters ++ runtimeFilters ++ indexKeyFilters

  /** ONE directory listing per scan, shared by stats, bucket pruning and
    * partition planning — at O(100k segments) the repeated listing itself is
    * a driver-side planning bottleneck (VERDICT r4 #4). Segments are
    * immutable once visible, so caching per scan instance is exact. */
  private lazy val segmentsByBucket: Map[Int, Seq[java.nio.file.Path]] =
    if (judged != null) judged.segmentsByBucket else CellStore.allSegmentFiles(table.dir)

  override def readSchema(): StructType =
    if (aggs.nonEmpty || completeRows.isDefined) aggSchema else required
  override def toBatch: Batch = this

  /** Scan observability (Spark UI, per scan node): segment/run IO, bloom
    * pruning wins, post-LWW cell volume and tombstone suppression — the
    * numbers that explain a slow 100-TB scan without re-running it. */
  override def supportedCustomMetrics()
      : Array[org.apache.spark.sql.connector.metric.CustomMetric] =
    ScanMetrics.supported

  /** Change feed: `spark.readStream.format("cassandralike")` — each
    * micro-batch is the set of segments committed since the last offset
    * (see [[CellChangeFeedStream]]). */
  override def toMicroBatchStream(
      checkpointLocation: String): streaming.MicroBatchStream =
    new CellChangeFeedStream(table, required, filters, options,
      checkpointLocation)
  override def description(): String = {
    val f = filters.map(_.toString).mkString(", ")
    val slice = Seq(Options.SliceStart, Options.SliceFinish,
      Options.SliceReversed, Options.SliceCount)
      .flatMap(k => table.opt(options, k).map(v => s"$k=$v")).mkString(", ")
    s"cassandralike ${table.dir} ReadSchema: ${required.catalogString} " +
      s"PushedFilters: [$f] Slice: [$slice]" +
      limit.map(n =>
        if (limitLast) s" LimitLast: $n" else s" Limit: $n").getOrElse("") +
      (if (aggs.nonEmpty || completeRows.isDefined)
        s" PushedAggregates: [${aggs.mkString(", ")}]" +
          (if (aggGroupKeys.nonEmpty)
            s" GroupedBy: [${aggGroupKeys.mkString(", ")}]" else "") +
          (if (completeRows.isDefined) " AggStats: complete"
          else if (metadataEligible)
            s" AggStats: ${if (filters.isEmpty) "metadata-eligible" else "range-count"}" +
              s" answered=${metadataRows.size}/${plannedBuckets.size}"
          else "")
      else "")
  }

  /** Store statistics from the pruned buckets' segment files: byte size plus
    * a row estimate from the run headers (cells before LWW reconciliation;
    * regular mappings divide by the cell-per-row fan-out). Feeds Catalyst's
    * join sizing so small cassandralike tables auto-broadcast — the
    * reference's Hive stack needed a manual MAPJOIN hint for this. */
  override def estimateStatistics(): Statistics = {
    val files = plannedBuckets.flatMap(segmentsByBucket.getOrElse(_, Nil))
    val segs = files.map(CellStore.meta)
    val bytes = segs.map(_.bytes).sum
    val cells = segs.map(_.cells).sum
    val rowFanout =
      if (table.mapping.transposed) 1L
      else math.max(1, table.mapping.cellFields.size).toLong
    // EXACT numRows on a plain view, from the planned buckets' metadata
    // COUNT(*) ([[MetadataAggReader.BucketAnswer]]; run stats every commit
    // warms), which proves the multi-run-disjoint and the netted cases
    // too. Feeds Catalyst's broadcast threshold with the truth instead of
    // the cells/fan-out estimate, which over-counts every overwritten
    // address. Under pushed KEY filters a point/IN lookup also reports a
    // proportional sizeInBytes — so `store WHERE key IN (...)` joined to
    // anything auto-broadcasts instead of carrying the whole store's
    // size. Containment: this runs at EVERY planning of a plain filtered
    // scan, so it engages ONLY for a small finite key set on a transposed
    // mapping — bucket routing then prunes the point probes to the keys'
    // own buckets. A key RANGE stays on the estimate: its positional count
    // would probe every covered bucket's indexes. Range COUNTS remain
    // metadata-answerable through the pushed-aggregate paths, which run
    // only for aggregate queries.
    lazy val count = new MetadataAggReader.BucketAnswer(table,
      k => table.opt(options, k), filters, Seq(PushedAgg.CountStar))
    def metadataCount: Option[Long] = plannedBuckets.foldLeft(Option(0L)) { (acc, b) =>
      acc.flatMap(n => count(segmentsByBucket(b)).map(n + _.getLong(0)))
    }
    val plain = CassandraLikeTable.plainView(k => table.opt(options, k), table.tableProps)
    val exact: Option[Long] = if (plain && filters.isEmpty) metadataCount else None
    val exactFiltered: Option[Long] =
      if (!plain || filters.isEmpty || aggs.nonEmpty || !table.mapping.transposed) None
      else count.keys.points match {
        case ks if ks == null || ks.length > CellScanBuilder.MaxStatPoints => None
        case _ => metadataCount
      }
    // BOUNDED estimate for LARGE pinned INs (> MaxStatPoints, where the
    // exact per-point probes would stall planning): present keys ≤
    // min(points, Σ relevant buckets' distinct keys), scaled by the
    // store's cells-per-key fan-out. An UPPER bound — so a broadcast
    // decision made with it is safe (overestimating never broadcasts
    // something too big) while a thousand-key IN stops inheriting the
    // WHOLE store's size — from the relevant buckets' run-stat reductions
    // (a bucket without valid STAT counters keeps the whole-store
    // estimate). A per-bucket membership sketch was
    // evaluated and rejected: a fixed-size mergeable filter saturates at
    // realistic bucket cardinalities, and the broadcast decision only
    // needs this bound (SURVEY §7.4).
    val boundedFiltered: Option[Long] =
      if (!plain || exactFiltered.isDefined || filters.isEmpty || aggs.nonEmpty) None
      else {
        val ks = KeyWindows.of(table.mapping.keyField.name, table.keyCodec, filters).points
        if (ks == null || ks.length <= CellScanBuilder.MaxStatPoints) None
        else plannedBuckets.foldLeft(Option((0L, 0L))) { (acc, b) =>
          acc.flatMap { case (dk, cls) =>
            val rec = CellStore.bucketStats(segmentsByBucket.getOrElse(b, Nil))
            if (rec.statsValid) Some((dk + rec.distinctKeys, cls + rec.cells))
            else None
          }
        }.map { case (dk, cls) =>
          val present = math.min(ks.size.toLong, dk)
          if (table.mapping.transposed)
            present * math.max(1L, cls / math.max(1L, dk)) // rows = cells
          else present // regular: one row per key
        }
      }
    new Statistics {
      override def sizeInBytes(): java.util.OptionalLong =
        java.util.OptionalLong.of(exactFiltered.orElse(boundedFiltered) match {
          // scale by the store's average cell size; floor at 1 byte
          case Some(n) => math.max(1L, n * (bytes / math.max(1L, cells)))
          case None => bytes
        })
      override def numRows(): java.util.OptionalLong =
        java.util.OptionalLong.of(
          exact.orElse(exactFiltered).orElse(boundedFiltered)
            .getOrElse(cells / rowFanout))
    }
  }

  /** The pushed key windows of the scan (planning-time + runtime). */
  private[cassandralike] def keyWindows: KeyWindows =
    KeyWindows.of(table.mapping.keyField.name, table.keyCodec, effectiveFilters)

  /** An upper bound on the cells the scan's planned buckets hold inside
    * its key windows, from memoized [[CellStore.SegmentMeta]] alone: each
    * sparse-sample key inside the windows opens at most one index span,
    * and each run meets each window in at most one more span starting
    * before it, every span holding at most [[CellStore.IndexEvery]] cells;
    * never more than the segment's cells. A bucket answered from metadata
    * ([[metadataRows]]) reads no cells. */
  private[cassandralike] def cellBound: Long = {
    val keys = keyWindows
    plannedBuckets.iterator.filterNot(metadataRows.contains)
      .flatMap(segmentsByBucket(_)).map { f =>
      val m = CellStore.meta(f)
      val spans = m.sample.count(keys.contains) +
        m.live.iterator.map(r => keys.meeting(r.stats.firstKey, r.stats.lastKey)).sum
      math.min(m.cells, spans.toLong * CellStore.IndexEvery)
    }.sum
  }

  private def plannedBuckets: Seq[Int] = {
    val buckets = table.opt(options, Options.Buckets)
      .map(_.toInt).getOrElse(Options.DefaultBuckets)
    (0 until buckets).filter(table.bucketsMeeting(keyWindows, options))
      .filter(b => segmentsByBucket.get(b).exists(_.nonEmpty))
  }

  /** S1: one partition per token-range bucket, and — when a bucket holds more
    * than `split.target.cells` cells — multiple key-range partitions per
    * bucket, with boundaries drawn from the run indexes' sparse key samples.
    * Scan parallelism therefore grows with data instead of being capped by
    * the write-time bucket knob (the reference scales splits with data the
    * same way, ≤64Ki rows per split,
    * input/HiveCassandraStandardColumnInputFormat.java:131-189). Boundaries
    * are whole keys, so a wide row never straddles two splits and LWW /
    * tombstone reconciliation stays exact within each range. */
  override def planInputPartitions(): Array[InputPartition] = {
    // complete metadata answer (read on the driver, see build(); planned
    // only for plan inspection): one partition, zero segment IO
    if (completeRows.isDefined)
      return Array[InputPartition](
        CellInputPartition(table.dir, 0, Array.empty, files = Nil))
    val hosts = table.opt(options, Options.Hosts)
      .map(_.split(",").map(_.trim).filter(_.nonEmpty)).getOrElse(Array.empty[String])
    def hostsFor(b: Int): Array[String] =
      if (hosts.isEmpty) Array.empty[String] else Array(hosts(b % hosts.length))
    val target = table.opt(options, Options.SplitTargetCells).map(_.toLong)
      .getOrElse(Options.DefaultSplitTargetCells)
    // a bucket answered from metadata plans whole, carrying its row; the
    // others fold the cells their readers list when their tasks run
    val planned = plannedBuckets.flatMap { b =>
      metadataRows.get(b) match {
        case Some(row) => Seq(CellInputPartition(table.dir, b, hostsFor(b), answer = row))
        case None => SplitPlanner.forBucket(table.dir, b,
          segmentsByBucket.getOrElse(b, Nil), hostsFor(b), target,
          restrictFiles = false)
      }
    }
    // Planning-time SUB-SPLIT pruning from the pushed key windows: a
    // partition whose [lower, upper) misses every window is dropped here —
    // bucket pruning catches whole buckets, but a big bucket planned as N
    // key-range sub-splits would otherwise still schedule N-1 empty tasks
    // for a point lookup. Purely an optimization: the readers' own window
    // intersection already makes the dropped scans empty.
    val keys = keyWindows
    val parts = planned.filter(p => keys.meets(p.lower, p.upper, bInclusive = false))
    // With aggregates pushed ungrouped, Spark's final combine is
    // SUM/MIN/MAX over the partial rows — over an EMPTY table that must
    // still see one partial (count = 0), or sum() of nothing would turn
    // COUNT(*) = 0 into NULL. One partition pinned to zero segments
    // provides it. (Grouped aggregation over an empty table is correctly
    // empty — no dummy needed.)
    if (aggs.nonEmpty && aggGroupKeys.isEmpty && parts.isEmpty)
      Array[InputPartition](CellInputPartition(table.dir, 0, Array.empty, files = Nil))
    else parts.toArray[InputPartition]
  }

  override def createReaderFactory(): PartitionReaderFactory =
    CellReaderFactory(table.tableSchema, table.mapping.fields,
      if (aggs.nonEmpty) aggBaseSchema else required,
      effectiveFilters, options, table.tableProps, limit, aggs,
      aggGroupKeys, columnar = true, limitLast = limitLast)
}

/** A key-addressed read, a complete metadata aggregate or a driver-folded
  * aggregate, answered at planning (see [[CellScanBuilder.build]]): Spark
  * plans a `LocalScan` as a `LocalTableScanExec`, whose collect launches no
  * job. `counters` are the read's store IO, summed over its partitions;
  * `toBatch` is the wrapped scan's (a fold wraps the partial scan it
  * drained), so those planned partitions stay inspectable. */
final class DriverAnswerScan(
    val scan: CellScan,
    answer: Array[InternalRow],
    val counters: ScanCounters)
  extends org.apache.spark.sql.connector.read.LocalScan
  with SupportsReportStatistics {
  override def rows(): Array[InternalRow] = answer
  override def readSchema(): StructType = scan.readSchema()
  override def toBatch: Batch = scan
  /** The wrapped scan's text, then the answer's store IO: `cellsMerged`
    * and every other nonzero counter. */
  override def description(): String =
    s"${scan.description()} DriverAnswer: rows=${answer.length}, " +
      s"cellsMerged=${counters.cellsMerged}" +
      ScanMetrics.values(counters).collect {
        case m if m.value != 0L && m.name != ScanMetrics.CellsMerged =>
          s", ${m.name}=${m.value}"
      }.mkString
  override def estimateStatistics(): Statistics = new Statistics {
    override def sizeInBytes(): java.util.OptionalLong = java.util.OptionalLong.of(
      math.max(1L, answer.length.toLong * readSchema().defaultSize))
    override def numRows(): java.util.OptionalLong =
      java.util.OptionalLong.of(answer.length.toLong)
  }
}

final case class CellReaderFactory(
    fullSchema: StructType,
    mappedFields: Seq[MappedField],
    required: StructType,
    filters: Array[Filter],
    options: Map[String, String],
    tableProps: Map[String, String],
    limit: Option[Int] = None,
    aggs: Seq[PushedAgg] = Nil,
    aggGroupKeys: Seq[String] = Nil,
    columnar: Boolean = false,
    accums: Option[ScanAccumulators] = None,
    limitLast: Boolean = false) extends PartitionReaderFactory {

  /** COLUMNAR scan path: rows batch into on-heap column vectors and
    * whole-stage codegen consumes the scan vectorized (ColumnarToRow is
    * codegen'd — no per-row iterator virtual calls or row-object churn at
    * the scan boundary). Serves the batch scan AND the change feed
    * (micro-batch scans vectorize through the same exec path); projections
    * of atomic and `cf:` map columns are eligible, and the fold path never
    * is (a pushed aggregate already emits O(partitions) rows).
    * `read.columnar=false` restores the row path — the two paths are
    * result-identical (spec-asserted). */
  private def columnarEligible: Boolean =
    columnar && aggs.isEmpty &&
      required.fields.forall(f => ColumnarCellReader.supported(f.dataType)) &&
      Options.effective(options, tableProps, Options.ReadColumnar)
        .forall(_.toBoolean)

  override def supportColumnarReads(p: InputPartition): Boolean = columnarEligible

  override def createColumnarReader(p: InputPartition)
    : PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] =
    new ColumnarCellReader(createReader(p), required)

  override def createReader(p: InputPartition): PartitionReader[InternalRow] = {
    val cp = p.asInstanceOf[CellInputPartition]
    if (cp.answer != null) return new CountedReader {
      override val counters: ScanCounters = new ScanCounters
      counters.partitionsStatsOnly = 1L
      private var emitted = false
      override def next(): Boolean = !emitted && { emitted = true; true }
      override def get(): InternalRow = cp.answer
      override def close(): Unit = ()
    }
    // dropped-column history: cellName -> drop ts (cells at/below are hidden)
    val dropped = tableProps.collect {
      case (k, v) if k.startsWith(Options.DroppedPrefix) =>
        k.stripPrefix(Options.DroppedPrefix) -> v.toLong
    }
    val base = new CellPartitionReader(cp, ColumnMapping(mappedFields), required,
      filters, (k: String) => Options.effective(options, tableProps, k), limit,
      dropped, limitLast)
    val counted = accums match {
      case None => base
      case Some(a) => new CountedReader {
        // streaming-feed accumulator tap: fold the task's counters into the
        // driver-side accumulators at close (task completion merges them)
        override def counters: ScanCounters = base.counters
        override def next(): Boolean = base.next()
        override def get(): InternalRow = base.get()
        override def close(): Unit = { a.add(base.counters); base.close() }
      }
    }
    if (aggs.isEmpty) counted
    else new AggregatePartitionReader(counted, required, aggs, aggGroupKeys)
  }
}

/** Metadata-only aggregates: an UNGROUPED pushed COUNT/SUM/MIN/MAX answers
  * bucket by bucket from the run indexes' STAT tails, prefix tails and
  * key/col/sub windows — zero cell payload IO (the per-bucket cost is a
  * few KB of index tails, memoized per segment). The parquet-footer-count
  * idea applied to the LSM store: at 100 TB, `SELECT count(*)` over a
  * compacted store touches metadata only.
  *
  * [[BucketAnswer]] is the one judgment. The driver makes it at planning,
  * per planned bucket, always for the whole bucket (a bucket big enough
  * to sub-split answers whole): the complete tier answers when every
  * bucket does, and the partial scan plans each answered bucket as one
  * partition that carries its row, while the others fold their cells
  * ([[CellScan.metadataRows]]). The conditions, judged from the bucket's
  * [[CellStore.BucketStat]] reduction:
  *  - every run carries the STAT tail (legacy segments decline);
  *  - zero tombstones, or only CERTIFIED delete epochs under a
  *    counts-and-sums shape ([[nettedShapesOk]]) — a delete otherwise
  *    invalidates counts and can hide the extremal key/column;
  *  - for COUNTs and SUMs additionally: the runs' key ranges are pairwise
  *    DISJOINT — no two runs can then share a cell address, so per-run
  *    distinct counts are additive. The compacted single-run bucket
  *    qualifies trivially; disjoint multi-run covers the time-series
  *    append pattern. MIN/MAX of an address need no disjointness —
  *    overwrites never remove an address — but DO decline on any absent
  *    window tail.
  *
  * Row counts: a transposed/super SQL row IS one cell address, so rows =
  * distinct (key, col, sub) addresses; a regular row is one KEY (its
  * cells are the schema's fields), so rows = distinct keys. Counter
  * collapse merges per address and zero tombstones means no resets, so
  * the same counts hold. COUNT(address field) = COUNT(*): address fields
  * are never NULL in emitted rows. */
object MetadataAggReader {
  /** Run-level conditions of a transposed key-window aggregate over one
    * tombstone-free bucket record: col/sub entries where windows or
    * extremals need them, VSUM/VMMX tails for value aggregates, and for
    * counts, sums and value extremes disjoint runs with per-run distinct
    * addresses (every cell in the windows is then one visible row). */
  def rangeConditionsOkB(b: CellStore.BucketStat, aggs: Seq[PushedAgg],
      needColEntries: Boolean, needSubEntries: Boolean,
      valName: String = null): Boolean = {
    if (!b.tombstoneFree) return false
    if (needColEntries && !b.colEntriesAll) return false
    if (needSubEntries && !b.subEntriesAll) return false
    val needsCount = aggs.exists {
      case PushedAgg.CountStar | PushedAgg.Count(_) => true
      case _ => false
    }
    val needsSum = aggs.exists {
      case PushedAgg.Sum(_) => true
      case _ => false
    }
    if (needsSum && !b.valSumsAll) return false
    val touchesValue = valName != null && aggs.exists {
      case PushedAgg.Count(c) => c == valName
      case PushedAgg.Min(c) => c == valName
      case PushedAgg.Max(c) => c == valName
      case _ => false
    }
    if (touchesValue && !b.valRangeAll) return false
    val valExtremal = valName != null && aggs.exists {
      case PushedAgg.Min(c) => c == valName
      case PushedAgg.Max(c) => c == valName
      case _ => false
    }
    (!needsCount && !needsSum && !valExtremal) ||
      (b.disjoint && b.allAddrsDistinct)
  }

  /** Run-level conditions of a regular key-window aggregate over one
    * tombstone-free bucket record: a count over key ranges needs disjoint
    * runs (a point set counts present keys). `colAggs` marks a
    * per-COLUMN aggregate in the list (CVAL paths): those need every
    * consulted cell to be a distinct visible row — disjoint runs, per-run
    * address dedup — plus the CVAL tails on every run. */
  def regularRangeConditionsOkB(b: CellStore.BucketStat, aggs: Seq[PushedAgg],
      pointsOnly: Boolean, colAggs: Boolean = false): Boolean = {
    if (!b.tombstoneFree) return false
    if (colAggs && !(b.disjoint && b.allAddrsDistinct && b.colValsAll))
      return false
    val needsCount = aggs.exists {
      case PushedAgg.CountStar | PushedAgg.Count(_) => true
      case _ => false
    }
    !needsCount || pointsOnly || b.disjoint
  }

  /** Can the aggregate list NET certified deletions? — COUNTs (COUNT(*)
    * and COUNT of an address field; on regular mappings also COUNT of a
    * named cell column, which nets through the per-column tails — a
    * victim cell and its tombstone share a column name) and SUMs
    * (certified tombstones carry their victims' VALUES, so the delete
    * epoch's VSUM/CVAL tails hold the SHADOWED sums: visible sum = live
    * sums − certified sums; AVG nets for free via Spark's Sum+Count
    * rewrite). Extremals never net — removing an extreme can't be
    * expressed as a subtraction, and a deleted key's bytes would surface
    * as a false extremal. */
  private[cassandralike] def nettedShapesOk(mapping: ColumnMapping,
      aggs: Seq[PushedAgg], opt: String => Option[String]): Boolean = {
    val keyN = mapping.keyField.name
    if (mapping.transposed) {
      val colN = mapping.field(FieldRole.TransColumn).name
      val subN =
        if (mapping.hasSubColumn) mapping.field(FieldRole.TransSubColumn).name
        else null
      val valN = mapping.field(FieldRole.TransValue).name
      val sumOk = sumEligible(mapping, opt)
      aggs.nonEmpty && aggs.forall {
        case PushedAgg.CountStar => true
        case PushedAgg.Count(c) =>
          // Count(value) == rows under the VMMX non-null proof (checked
          // dynamically per bucket) — what AVG's Sum+Count rewrite needs
          c == keyN || c == colN || (subN != null && c == subN) ||
            (sumOk && c == valN)
        case PushedAgg.Sum(c) => sumOk && c == valN
        case _ => false
      }
    } else aggs.nonEmpty && aggs.forall {
      case PushedAgg.CountStar => true
      case PushedAgg.Count(c) => c == keyN || regularCountEligible(mapping, c, opt)
      case PushedAgg.Sum(c) => regularValueEligible(mapping, c, opt)
      case _ => false
    }
  }

  /** Does the aggregate list touch a non-key column of a regular mapping?
    * — the shape that routes through the CVAL per-column machinery. */
  private[cassandralike] def regularColAggs(mapping: ColumnMapping,
      aggs: Seq[PushedAgg]): Boolean = {
    if (mapping.transposed) return false
    val keyN = mapping.keyField.name
    aggs.exists {
      case PushedAgg.Count(c) => c != keyN
      case PushedAgg.Min(c) => c != keyN
      case PushedAgg.Max(c) => c != keyN
      case PushedAgg.Sum(_) => true
      case _ => false
    }
  }

  /** Resolve the (files, stats) pair a metadata path may answer from
    * under an optional AS-OF bound. No bound — or a bound covering the
    * whole bucket (TSRG on every run and maxTs ≤ bound ⇒ the bounded
    * view IS the current view) — keeps the listing's record unchanged.
    * A bound BETWEEN commit epochs gates PER RUN
    * ([[CellStore.asOfCoveredFiles]], SURVEY §7.4 #5): fully-covered
    * runs answer positionally through their subset record, fully-newer
    * runs drop out (every cell — tombstones included — postdates the
    * bound), and any straddling or pre-TSRG run folds (None). A store
    * that is netted NOW can be tombstone-free AS-OF a pre-delete bound,
    * so the historical audit read keeps the full fast-path set. */
  private[cassandralike] def asOfView(
      files: Seq[java.nio.file.Path],
      rec: CellStore.BucketStat,
      asOf: Option[Long])
    : Option[(Seq[java.nio.file.Path], CellStore.BucketStat)] =
    asOf match {
      case None => Some((files, rec))
      case Some(a) if rec.tsAll && rec.maxTs <= a => Some((files, rec))
      case Some(a) =>
        CellStore.asOfCoveredFiles(files, a)
          .map(cov => (cov, CellStore.bucketStats(cov)))
    }

  /** One bucket's answer to an UNGROUPED pushed aggregation `aggs` under
    * the pushed `filters`, from its segments' run stats alone: the
    * bucket's partial row (one column per aggregate, the row the fold
    * would emit for the bucket), or None when a condition fails and the
    * bucket folds its cells. Buckets partition the keys, so bucket rows
    * combine into the store's answer ([[AggregatePartitionReader
    * .combine]]), COUNT(DISTINCT key) included.
    *
    * [[eligible]] is the static half: the aggregate shapes, the plain view
    * ([[CassandraLikeTable.plainView]]; a bounded as-of read is
    * tolerated) and, under filters, exact key shapes ([[rangeShapesOk]],
    * [[regularRangeShapesOk]]) over at most
    * [[CellScanBuilder.MaxCompletePoints]] pinned keys. Unfiltered, the
    * row comes from the bucket record: STAT counts, VSUM/VMMX value
    * totals and extremes, CVAL per-column totals, or the netted twins of
    * each. Under key filters it is positional arithmetic over the key
    * windows ([[rangeVals]], [[regularRangeVals]]). An as-of bound gates
    * per run ([[asOfView]]). */
  final class BucketAnswer(table: CassandraLikeTable,
      opt: String => Option[String], filters: Array[Filter],
      aggs: Seq[PushedAgg]) {
    private val mapping = table.mapping
    private val transposed = mapping.transposed
    private val keyN = mapping.keyField.name
    private val valN = if (transposed) mapping.field(FieldRole.TransValue).name else null
    private val sumOk = sumEligible(mapping, opt)
    private def isVal(c: String): Boolean = sumOk && c == valN

    /** The exact key windows of the filters, and the clustering and sub
      * windows (null when no filter restricts them). */
    private[cassandralike] lazy val (keys, cols, subs) =
      windowsOf(mapping, table.keyCodec, table.colCodec, table.subCodec, filters)

    private def statAnswerable(a: PushedAgg): Boolean = a match {
      case PushedAgg.CountStar => true
      case PushedAgg.Count(c) => table.isAddressField(c) || isVal(c) ||
        regularCountEligible(mapping, c, opt)
      case PushedAgg.CountDistinct(c) => c == keyN
      case PushedAgg.Min(c) => minMaxable(c)
      case PushedAgg.Max(c) => minMaxable(c)
      case PushedAgg.Sum(c) => isVal(c) || regularValueEligible(mapping, c, opt)
    }
    private def minMaxable(c: String): Boolean =
      (table.isAddressField(c) && table.isOrderPreservingAddress(c)) ||
        isVal(c) || regularValueEligible(mapping, c, opt)

    val eligible: Boolean = aggs.nonEmpty &&
      CassandraLikeTable.plainView(opt, table.tableProps, allowBoundedAsOf = true) &&
      (if (filters.isEmpty) aggs.forall(statAnswerable)
      else if (transposed)
        rangeShapesOk(mapping, aggs, table.keyCodec, table.colCodec,
          table.subCodec, filters, sumOk)
      else regularRangeShapesOk(mapping, aggs, table.keyCodec, filters, opt)) &&
      (keys.points == null || keys.points.length <= CellScanBuilder.MaxCompletePoints)

    private val counts = aggs.exists {
      case PushedAgg.CountStar | PushedAgg.Count(_) | PushedAgg.CountDistinct(_) => true
      case _ => false
    }
    // transposed SUM is of the value column; regular sums are per-column
    private val valSum = transposed && aggs.exists {
      case PushedAgg.Sum(_) => true
      case _ => false
    }
    private val valCount = aggs.contains(PushedAgg.Count(valN))
    private val valExtremal =
      aggs.contains(PushedAgg.Min(valN)) || aggs.contains(PushedAgg.Max(valN))
    private val colAggs = regularColAggs(mapping, aggs)

    /** The bucket's judged files (an as-of bound's covered subset) and
      * their record, when its runs prove the aggregates; None = fold. */
    def proof(files0: Seq[java.nio.file.Path])
      : Option[(Seq[java.nio.file.Path], CellStore.BucketStat)] = {
      if (!eligible) return None
      val (files, rec) = asOfView(files0, CellStore.bucketStats(files0),
        opt(Options.ReadAsOf).map(_.toLong)).getOrElse(return None)
      val proven =
        if (!rec.tombstoneFree)
          // certified delete epochs subtract: counts and sums only, and
          // col/sub narrowing, Count(value) and per-column aggregates need
          // their tails on every run (a certified epoch carries its
          // victims' col/sub bytes and values)
          rec.nettedOk && nettedShapesOk(mapping, aggs, opt) &&
            (!valCount || rec.valRangeAll) &&
            (if (filters.isEmpty)
              (!colAggs || rec.nettedColValsOk) && (!valSum || rec.nettedSumOk)
            else
              (cols == null || rec.colEntriesAll) &&
                (subs == null || rec.subEntriesAll) && (!colAggs || rec.colValsAll))
        else if (filters.nonEmpty) {
          if (transposed)
            rangeConditionsOkB(rec, aggs,
              needColEntries = cols != null ||
                wantsColExtremal(mapping, aggs) || wantsSubExtremal(mapping, aggs),
              needSubEntries = subs != null || wantsSubExtremal(mapping, aggs),
              valName = valN)
          else regularRangeConditionsOkB(rec, aggs,
            pointsOnly = keys.points != null, colAggs = colAggs)
        } else
          (!(counts || valSum || valExtremal) || rec.disjoint) &&
            (!valSum || (rec.valSumsAll && rec.valTotalOk && rec.allAddrsDistinct)) &&
            (!colAggs || (rec.disjoint && rec.allAddrsDistinct && rec.colValsAll)) &&
            (!valExtremal || rec.allAddrsDistinct) &&
            // VMMX tails everywhere prove every value non-null (Count) and
            // carry the extremes
            (!(valCount || valExtremal) || rec.valRangeAll)
      if (proven) Some((files, rec)) else None
    }

    /** The bucket's partial row over `files0`, or None = fold. */
    def apply(files0: Seq[java.nio.file.Path]): Option[InternalRow] =
      proof(files0).flatMap { case (files, rec) =>
        val netted = !rec.tombstoneFree
        (if (filters.isEmpty) statVals(rec, netted)
        else if (transposed)
          rangeVals(aggs, table.keyCodec, table.colCodec,
            mapping.field(FieldRole.TransColumn).name, files, keys, cols, subs,
            valName = valN, netted = netted, subCodec = table.subCodec,
            subName =
              if (mapping.hasSubColumn) mapping.field(FieldRole.TransSubColumn).name
              else null)
        else regularRangeVals(aggs, table.keyCodec, files, keys,
          colBytesOf = if (colAggs) regularCellBytes(mapping, _) else _ => null,
          netted = netted)).map(InternalRow.fromSeq)
      }

    /** The unfiltered row from the bucket record (netted: the live minus
      * certified twins); None on a per-column sum or range the tails could
      * not carry, or an incomplete window tail. */
    private def statVals(rec: CellStore.BucketStat, netted: Boolean): Option[Seq[Any]] = {
      val rows: Long =
        if (netted) { if (transposed) rec.nettedAddrs else rec.nettedKeys }
        else if (transposed) rec.distinctAddrs else rec.distinctKeys
      // a regular cell column's reduction; absent = provably no cells
      def colStat(c: String): Option[CellStore.ColValStat] = {
        val cb = regularCellBytes(mapping, c)
        (if (netted) rec.nettedColVals else rec.colVals)
          .find(cv => java.util.Arrays.equals(cv.col, cb))
      }
      def colExtreme(c: String, wantMin: Boolean): Option[Any] = colStat(c) match {
        case Some(cv) if !cv.rangeOk => None
        case Some(cv) if cv.count > 0L => Some(if (wantMin) cv.min else cv.max)
        case _ => Some(null)
      }
      // an address field's extremal bytes; None = its window tail is
      // incomplete on some run: decline, never guess
      def address(c: String, wantMin: Boolean): Option[Any] =
        if (rec.runs == 0) Some(null)
        else Option(
          if (c == keyN) { if (wantMin) rec.firstKey else rec.lastKey }
          else if (transposed && c == mapping.field(FieldRole.TransColumn).name) {
            if (!rec.colWindowsAll) null else if (wantMin) rec.colMin else rec.colMax
          } else if (!rec.subWindowsAll) null
          else if (wantMin) rec.subMin else rec.subMax
        ).map(table.decodeAddress(c, _))
      val regular = !transposed
      Some(aggs.map {
        case PushedAgg.Count(c) if regular && c != keyN => colStat(c).map(_.count).getOrElse(0L)
        case PushedAgg.Sum(c) if regular =>
          colStat(c) match {
            case Some(cv) if !cv.sumsOk => return None // non-long bytes or overflow
            case Some(cv) if cv.count > 0L => cv.sum
            case _ => null // SUM over no cells is NULL
          }
        case PushedAgg.Min(c) if regular && c != keyN =>
          colExtreme(c, wantMin = true).getOrElse(return None)
        case PushedAgg.Max(c) if regular && c != keyN =>
          colExtreme(c, wantMin = false).getOrElse(return None)
        case PushedAgg.CountStar | PushedAgg.Count(_) => rows
        case PushedAgg.CountDistinct(_) => rec.distinctKeys
        case PushedAgg.Sum(_) =>
          if (rows == 0L) null else if (netted) rec.nettedSum else rec.valTotal
        case PushedAgg.Min(c) if c == valN => if (rec.runs > 0) rec.valMin else null
        case PushedAgg.Max(c) if c == valN => if (rec.runs > 0) rec.valMax else null
        case PushedAgg.Min(c) => address(c, wantMin = true).getOrElse(return None)
        case PushedAgg.Max(c) => address(c, wantMin = false).getOrElse(return None)
      })
    }
  }

  /** Static shape half of the range-aggregate gate, shared by
    * [[BucketAnswer]] and the grouped complete planner: answerable
    * aggregates are counts of address fields plus MIN/MAX of the ROW KEY
    * itself when byte order == value order (the byte-extremal cell in the
    * envelope IS the value-extremal row — "first/last event in the
    * window"; MIN/MAX of col/sub under a key range would need range-
    * constrained windows the index doesn't carry), and every filter must
    * be an EXACT key shape (envelope == satisfying set) — anything else,
    * an index speculative or a non-ranged comparison, leaves rows the
    * envelope can't see. Clustering-column COMPARISONS are additionally
    * admitted (exact under an order-preserving col encoding) when the key
    * filters pin a FINITE key set: each key's cells are col-sorted within
    * a run, so key-point × col-window is a union of contiguous (key, col)
    * intervals — a key RANGE × col window is a rectangle positions cannot
    * count, so it declines. */
  private[cassandralike] def rangeShapesOk(
      mapping: ColumnMapping, aggs: Seq[PushedAgg], keyCodec: KeyCodec,
      colCodec: KeyCodec, subCodec: KeyCodec,
      filters: Array[Filter], sumOk: Boolean = false): Boolean = {
    val keyF = mapping.keyField
    val colF = mapping.field(FieldRole.TransColumn)
    val subF = if (mapping.hasSubColumn) mapping.field(FieldRole.TransSubColumn) else null
    val keyN = keyF.name
    val colN = colF.name
    val subN = if (subF == null) null else subF.name
    val valN = mapping.field(FieldRole.TransValue).name
    // MIN/MAX from byte extremes need byte order == value order
    val ranged = keyCodec.rangeOrdered
    val colRanged = colCodec.rangeOrdered
    val subRanged = subCodec != null && subCodec.rangeOrdered
    val keyPinned = filters.exists {
      case EqualTo(c, v) => c == keyN && v != null
      case In(c, vs) => c == keyN && vs != null && vs.nonEmpty
      case _ => false
    }
    // SUM(value) rides the VSUM prefix tails ([[CellStore.summarize]] over
    // [[CellStore.Measure.Values]]) under the same exact envelopes the
    // counts use; `sumOk` is the caller-checked static value gate
    // ([[sumEligible]] — binary 8-byte long marshal). MIN/MAX of the
    // CLUSTERING COLUMN are admitted under a PINNED key set (each key's
    // extremal col in the window comes from composite boundary seeks,
    // [[CellStore.extremalAddresses]]) when col byte order is value
    // order; a col POINT set alongside would need point-filtered extremals
    // (the seeks already serve that shape) — declined below via the
    // colPinned/colWindowed exclusivity the window forms rely on.
    val wantsColExtremal = aggs.exists {
      case PushedAgg.Min(c) => c == colN
      case PushedAgg.Max(c) => c == colN
      case _ => false
    }
    // Count/Min/Max of the VALUE column ride the VMMX tails under the
    // same sumOk static gate: tail presence proves every stored value an
    // 8-byte long, so COUNT(value) == COUNT(*) (no NULLs to skip) and the
    // per-span extremes answer "peak reading in the window" — this is
    // also what makes AVG(value) resolve completely (Spark rewrites AVG
    // into the Sum+Count pair before pushing).
    // MIN/MAX of the SUB column are admitted under a pinned (key, col)
    // set (sub bytes are sorted within one (key, col) group, so the
    // extremal sub is a composite boundary seek — SURVEY §7.4 #4) when
    // sub byte order is value order
    val colPinned0 = filters.exists {
      case EqualTo(c, v) => c == colN && v != null
      case In(c, vs) => c == colN && vs != null && vs.nonEmpty
      case _ => false
    }
    val shapesOk = aggs.nonEmpty && aggs.forall {
      case PushedAgg.CountStar => true
      case PushedAgg.Count(c) =>
        c == keyF.name || c == colF.name || (subF != null && c == subF.name) ||
          (sumOk && c == valN)
      case PushedAgg.Min(c) =>
        (c == keyN && ranged) || (c == colN && colRanged && keyPinned) ||
          (subN != null && c == subN && subRanged && keyPinned && colPinned0) ||
          (sumOk && c == valN)
      case PushedAgg.Max(c) =>
        (c == keyN && ranged) || (c == colN && colRanged && keyPinned) ||
          (subN != null && c == subN && subRanged && keyPinned && colPinned0) ||
          (sumOk && c == valN)
      case PushedAgg.Sum(c) => sumOk && c == valN
      case _ => false
    }
    // a col POINT set needs an injective byte form
    val colPinned = keyPinned && colCodec.injective && filters.exists {
      case EqualTo(c, v) => c == colN && v != null
      case In(c, vs) => c == colN && vs != null && vs.nonEmpty
      case _ => false
    }
    // col windows and col points don't mix (the window would have to
    // filter the points — possible, but the seeks already serve it)
    val colWindowed = filters.exists {
      case GreaterThan(c, _) => c == colN
      case GreaterThanOrEqual(c, _) => c == colN
      case LessThan(c, _) => c == colN
      case LessThanOrEqual(c, _) => c == colN
      case _ => false
    }
    if (colPinned && colWindowed) return false
    // col extremals answer within a WINDOW; a pinned col point set would
    // need per-point extremal filtering — decline (the seeks serve it)
    if (wantsColExtremal && colPinned) return false
    shapesOk && filters.nonEmpty && filters.forall {
      case EqualTo(c, v) =>
        (c == keyN || (c == colN && colPinned)) && v != null
      case In(c, vs) =>
        (c == keyN || (c == colN && colPinned)) &&
          vs != null && vs.nonEmpty && vs.forall(_ != null)
      // comparisons: exact byte windows ([[KeyWindows]]) on the key, on
      // the col under pinned keys, on the sub under pinned (key, col)s
      case f =>
        val c = f.references.headOption.orNull
        (c == keyN && KeyWindows.ranges(keyCodec, f)) ||
          (c == colN && keyPinned && KeyWindows.ranges(colCodec, f)) ||
          (c == subN && colPinned && KeyWindows.ranges(subCodec, f))
    }
  }

  /** The EXACT key, clustering-column and sub-column windows of filters
    * the shape gates admitted ([[KeyWindows]]); the col/sub windows are
    * null when no filter restricts that field. */
  private[cassandralike] def windowsOf(mapping: ColumnMapping,
      keyCodec: KeyCodec, colCodec: KeyCodec, subCodec: KeyCodec,
      filters: Array[Filter]): (KeyWindows, KeyWindows, KeyWindows) = {
    def restricting(role: FieldRole, codec: KeyCodec): KeyWindows =
      if (codec == null) null
      else {
        val w = KeyWindows.of(mapping.field(role).name, codec, filters)
        if (w.isAll) null else w
      }
    (KeyWindows.of(mapping.keyField.name, keyCodec, filters),
      restricting(FieldRole.TransColumn, colCodec),
      restricting(FieldRole.TransSubColumn, subCodec))
  }

  /** Static value gate of the metadata SUM paths: a transposed mapping
    * whose VALUE field is a LongType stored through the BINARY marshal
    * (8-byte big-endian two's complement — exactly the interpretation the
    * VSUM tails summed). Text encoding (variable-length digits) and
    * counter tables (same-address increments reconcile by summation, not
    * LWW — dup addresses would be the norm, and the count-style dedup
    * proofs would always decline anyway) are out. */
  private[cassandralike] def sumEligible(mapping: ColumnMapping,
      opt: String => Option[String]): Boolean =
    mapping.transposed &&
      mapping.field(FieldRole.TransValue).dataType ==
        org.apache.spark.sql.types.LongType &&
      !opt(Options.Encoding).contains("text") &&
      !opt(Options.CounterMerge).exists(_.toBoolean)

  /** Static value gate of the PER-COLUMN (CVAL) metadata paths: a REGULAR
    * mapping cell field of LongType stored through the BINARY marshal
    * (8-byte big-endian — exactly the interpretation the CVAL tails
    * accumulated). Text encoding (variable-length digit strings — an
    * 8-character one would parse as a garbage long) and counter tables
    * (same-address increments, dup addresses by design) are out, same as
    * [[sumEligible]]. */
  private[cassandralike] def regularValueEligible(mapping: ColumnMapping,
      c: String, opt: String => Option[String]): Boolean =
    !mapping.transposed &&
      mapping.fields.exists(f => f.name == c &&
        f.role.isInstanceOf[FieldRole.Cell] &&
        f.dataType == org.apache.spark.sql.types.LongType) &&
      !opt(Options.Encoding).contains("text") &&
      !opt(Options.CounterMerge).exists(_.toBoolean)

  /** COUNT-only gate of the per-column paths: ANY regular cell field
    * qualifies — counting cells named `c` never decodes a value, so the
    * column TYPE doesn't matter (cell names are UTF-8 under every
    * encoding). Counter tables still out (dup addresses by design). */
  private[cassandralike] def regularCountEligible(mapping: ColumnMapping,
      c: String, opt: String => Option[String]): Boolean =
    !mapping.transposed &&
      mapping.fields.exists(f => f.name == c &&
        f.role.isInstanceOf[FieldRole.Cell]) &&
      !opt(Options.CounterMerge).exists(_.toBoolean)

  /** The stored cell-name bytes of a regular mapping's schema field `c`,
    * or null when `c` is not a named cell (the key, say). The mapping may
    * rename (schema name ≠ cell name) — per-column index lookups must use
    * the CELL name, exactly what the writer stored. */
  private[cassandralike] def regularCellBytes(mapping: ColumnMapping,
      c: String): Array[Byte] =
    mapping.fields.collectFirst {
      case MappedField(n, _, FieldRole.Cell(cellName)) if n == c =>
        cellName.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    }.orNull

  /** Does the aggregate list ask for MIN/MAX of the clustering column? —
    * the shape that additionally needs per-entry col bytes on every run. */
  private[cassandralike] def wantsColExtremal(mapping: ColumnMapping,
      aggs: Seq[PushedAgg]): Boolean = {
    if (!mapping.transposed) return false
    val colN = mapping.field(FieldRole.TransColumn).name
    aggs.exists {
      case PushedAgg.Min(c) => c == colN
      case PushedAgg.Max(c) => c == colN
      case _ => false
    }
  }

  /** Does the aggregate list ask for MIN/MAX of the SUB column? — the
    * shape that needs per-entry col AND sub bytes on every run (composite
    * (key, col, sub) boundary seeks). */
  private[cassandralike] def wantsSubExtremal(mapping: ColumnMapping,
      aggs: Seq[PushedAgg]): Boolean = {
    if (!mapping.transposed || !mapping.hasSubColumn) return false
    val subN = mapping.field(FieldRole.TransSubColumn).name
    aggs.exists {
      case PushedAgg.Min(c) => c == subN
      case PushedAgg.Max(c) => c == subN
      case _ => false
    }
  }

  /** Static shape gate of the REGULAR-mapping range aggregates: a regular
    * row IS one distinct key (its cells are the schema's fields, missing
    * cells just surface NULL columns), so COUNT under a key envelope =
    * distinct keys there ([[CellStore.Measure.Keys]] — runs
    * inside the envelope answer from STAT distinctKeys, boundary runs from
    * the KPFX prefix tail), a key IN counts PRESENT points (any cell ⇒
    * the row exists), and MIN/MAX(key) reuse the byte-extremal seeks under
    * an order-preserving encoding. NON-KEY columns ride the CVAL per-column
    * tails (round 12): COUNT(c) counts that column's cells (non-missing =
    * non-NULL — what positions alone could never see), and SUM/MIN/MAX(c)
    * of a binary-long column read the per-column prefix sums / span
    * extremes — `SELECT sum(c_acctbal) WHERE key BETWEEN …` without
    * reading the range. Every filter must be an exact key shape, same as
    * the transposed gate. */
  private[cassandralike] def regularRangeShapesOk(
      mapping: ColumnMapping, aggs: Seq[PushedAgg], keyCodec: KeyCodec,
      filters: Array[Filter], opt: String => Option[String]): Boolean = {
    val keyN = mapping.keyField.name
    val ranged = keyCodec.rangeOrdered
    val shapesOk = aggs.nonEmpty && aggs.forall {
      case PushedAgg.CountStar => true
      case PushedAgg.Count(c) =>
        c == keyN || regularCountEligible(mapping, c, opt)
      case PushedAgg.Min(c) =>
        (c == keyN && ranged) || regularValueEligible(mapping, c, opt)
      case PushedAgg.Max(c) =>
        (c == keyN && ranged) || regularValueEligible(mapping, c, opt)
      case PushedAgg.Sum(c) => regularValueEligible(mapping, c, opt)
      case _ => false
    }
    shapesOk && filters.nonEmpty && filters.forall {
      case EqualTo(c, v) => c == keyN && v != null
      case In(c, vs) =>
        c == keyN && vs != null && vs.nonEmpty && vs.forall(_ != null)
      case f => f.references.sameElements(Array(keyN)) && KeyWindows.ranges(keyCodec, f)
    }
  }

  /** The range-aggregate values over `files` (one bucket's) within the key
    * windows `keys` — a finite point set, narrowed by the col and sub
    * windows, or key ranges — conditions already validated by the caller.
    * COUNT, SUM(value) and MIN/MAX(value) come from one [[CellStore
    * .summarize]] pass over the windows; MIN/MAX of the key take the
    * smallest/largest PRESENT point of a point set, else the key ranges'
    * extremal address; MIN/MAX of the clustering column (sub-column) take
    * the windows' extremal address. None = a dynamic decline (missing
    * value tail on a consulted run, an unclassifiable netted run, or Long
    * overflow) — the caller falls back to the cell fold, which reproduces
    * Spark's own overflow semantics. */
  private[cassandralike] def rangeVals(
      aggs: Seq[PushedAgg], keyCodec: KeyCodec,
      colCodec: KeyCodec, colName: String,
      files: Seq[java.nio.file.Path],
      keys: KeyWindows,
      cols: KeyWindows = null,
      subs: KeyWindows = null,
      valName: String = null,
      netted: Boolean = false,
      subCodec: KeyCodec = null, subName: String = null): Option[Seq[Any]] = {
    import CellStore.{Measure, Window}
    val ks = keys.points
    // col/sub restrictions are only reachable with a pinned key set, and
    // a sub window only inside pinned cols (rangeShapesOk)
    require((cols == null && subs == null) || ks != null,
      "col/sub restriction without a key set")
    require(subs == null || (cols != null && cols.points != null),
      "sub window without col points")
    val windows = if (ks != null) Window.points(ks, cols, subs) else Window.ranges(keys)
    val one = windows.map(_.copy(slot = 0))
    def isVal(c: String) = valName != null && c == valName
    def isSub(c: String) = subName != null && c == subName
    val wantSum = aggs.exists { case PushedAgg.Sum(_) => true; case _ => false }
    val wantExt = aggs.exists {
      case PushedAgg.Min(c) => isVal(c)
      case PushedAgg.Max(c) => isVal(c)
      case _ => false
    }
    val wantKeyExt = aggs.exists {
      case PushedAgg.Min(c) => !isVal(c) && c != colName && !isSub(c)
      case PushedAgg.Max(c) => !isVal(c) && c != colName && !isSub(c)
      case _ => false
    }
    // every window into one slot: the count, value sum and value extremes
    lazy val all = CellStore.summarize(files, one, 1,
      if (wantSum || wantExt) Measure.Values else Measure.Cells,
      wantSum, wantExt, netted)
    // per-point counts (netted: certified delete epochs subtract), which
    // order the PRESENT keys for MIN/MAX(key) and count them too
    lazy val presence = CellStore.summarize(files, windows, ks.length,
      Measure.Cells, netted = netted).map(_.count)
    def n: Option[Long] =
      if (ks != null && wantKeyExt) presence.map(_.sum) else all.map(_.count(0))
    def keyExtremal(wantMin: Boolean): Option[Array[Byte]] =
      if (ks == null) Some(CellStore.extremalAddresses(files, one, 1, 0, wantMin)(0))
      else presence.map(p => firstPresent(ks, p, wantMin))
    def decoded(codec: KeyCodec, field: Int, wantMin: Boolean): Any =
      Option(CellStore.extremalAddresses(files, one, 1, field, wantMin)(0))
        .map(codec.decode).orNull
    val out = aggs.map {
      // VMMX on every run proves every value decodes non-null, so
      // COUNT(value) is the row count
      case PushedAgg.CountStar | PushedAgg.Count(_) => n.getOrElse(return None)
      case PushedAgg.Min(c) if isVal(c) =>
        all.getOrElse(return None).extreme(0, wantMin = true)
      case PushedAgg.Max(c) if isVal(c) =>
        all.getOrElse(return None).extreme(0, wantMin = false)
      case PushedAgg.Min(c) if c == colName => decoded(colCodec, 1, wantMin = true)
      case PushedAgg.Max(c) if c == colName => decoded(colCodec, 1, wantMin = false)
      case PushedAgg.Min(c) if isSub(c) => decoded(subCodec, 2, wantMin = true)
      case PushedAgg.Max(c) if isSub(c) => decoded(subCodec, 2, wantMin = false)
      case PushedAgg.Min(_) =>
        Option(keyExtremal(wantMin = true).getOrElse(return None))
          .map(keyCodec.decode).orNull
      case PushedAgg.Max(_) =>
        Option(keyExtremal(wantMin = false).getOrElse(return None))
          .map(keyCodec.decode).orNull
      case PushedAgg.Sum(_) =>
        val s = all.getOrElse(return None)
        if (s.count(0) == 0L) null else s.sum(0) // SUM over no rows is NULL
      case other =>
        throw new IllegalStateException(s"unanswerable range aggregate $other")
    }
    Some(out)
  }

  /** [[rangeVals]]' regular-mapping twin: rows are distinct keys.
    * Point (IN) shapes count PRESENT keys (any cell ⇒ the row exists —
    * no disjointness needed); range shapes count distinct keys
    * positionally from the KPFX tails (a tail-less boundary run declines).
    * MIN/MAX(key) reuse presence order / the extremal address seek.
    * NON-KEY columns (resolved by `colBytesOf`, null for the key) ride
    * the CVAL per-column tails: one summary per column over the key
    * windows gives COUNT(c) = the column's visible cells there and
    * SUM/MIN/MAX(c). None = a dynamic decline (tail-less run, invalid
    * per-column sums, or Long overflow) — the caller falls back to the
    * cell fold. */
  private[cassandralike] def regularRangeVals(
      aggs: Seq[PushedAgg], keyCodec: KeyCodec,
      files: Seq[java.nio.file.Path],
      keys: KeyWindows,
      colBytesOf: String => Array[Byte] = _ => null,
      netted: Boolean = false): Option[Seq[Any]] = {
    import CellStore.{Measure, Window}
    val ks = keys.points
    // a pinned point is the window [k, succ(k)) (exact under any
    // injective encoding)
    val windows = Window.ranges(keys)
    // per-point NET cell counts: a fully-deleted key nets to zero and
    // counts as absent, exactly like the fold
    lazy val presence = CellStore.summarize(files, Window.points(ks), ks.length,
      Measure.Cells, netted = netted).map(_.count)
    lazy val rows = CellStore.summarize(files, windows, 1, Measure.Keys,
      netted = netted).map(_.count(0))
    def keyExtremal(wantMin: Boolean): Option[Array[Byte]] =
      if (ks == null) Some(CellStore.extremalAddresses(files, windows, 1, 0, wantMin)(0))
      else presence.map(p => firstPresent(ks, p, wantMin))
    val perCol = collection.mutable.Map.empty[String, Option[CellStore.Summary]]
    def col(c: String): Option[CellStore.Summary] = perCol.getOrElseUpdate(c,
      CellStore.summarize(files, windows, 1, Measure.Column(colBytesOf(c)),
        wantSum = aggs.contains(PushedAgg.Sum(c)),
        wantExt = aggs.contains(PushedAgg.Min(c)) || aggs.contains(PushedAgg.Max(c)),
        netted = netted))
    val out = aggs.map {
      case PushedAgg.Count(c) if colBytesOf(c) != null =>
        col(c).getOrElse(return None).count(0)
      case PushedAgg.Sum(c) if colBytesOf(c) != null =>
        val s = col(c).getOrElse(return None)
        if (s.count(0) == 0L) null else s.sum(0)
      case PushedAgg.Min(c) if colBytesOf(c) != null =>
        col(c).getOrElse(return None).extreme(0, wantMin = true)
      case PushedAgg.Max(c) if colBytesOf(c) != null =>
        col(c).getOrElse(return None).extreme(0, wantMin = false)
      case PushedAgg.CountStar | PushedAgg.Count(_) =>
        if (ks != null) presence.getOrElse(return None).count(_ > 0).toLong
        else rows.getOrElse(return None)
      case PushedAgg.Min(_) =>
        Option(keyExtremal(wantMin = true).getOrElse(return None))
          .map(keyCodec.decode).orNull
      case PushedAgg.Max(_) =>
        Option(keyExtremal(wantMin = false).getOrElse(return None))
          .map(keyCodec.decode).orNull
      case other =>
        throw new IllegalStateException(s"unanswerable regular range aggregate $other")
    }
    Some(out)
  }

  /** The smallest (or largest) sorted point whose count is positive; null
    * = none present. */
  private def firstPresent(ks: Array[Array[Byte]], counts: Array[Long],
      wantMin: Boolean): Array[Byte] = {
    val order = if (wantMin) ks.indices else ks.indices.reverse
    order.collectFirst { case i if counts(i) > 0 => ks(i) }.orNull
  }
}

/** Folds a partition's scan rows into partial-aggregate rows (see
  * [[CellScanBuilder.pushAggregation]]).
  *
  * Ungrouped: ONE row per partition, emitted even over an empty partition
  * (count = 0, min/max/sum NULL) so the final combine is never starved of
  * a neutral element.
  *
  * Grouped by the row key (or, transposed, by (row key, clustering
  * column)): the inner reader emits rows in (key, col, sub) order (bucket
  * merge) and key-range split boundaries are whole keys, so groups
  * stream — accumulate until the group tuple changes, emit, reset. O(1)
  * memory at ANY group cardinality; an empty partition emits nothing (an
  * empty grouped result is correctly empty). */
class AggregatePartitionReader(
    inner: CountedReader,
    base: StructType,
    aggs: Seq[PushedAgg],
    groupKeys: Seq[String] = Nil) extends CountedReader {

  override def counters: ScanCounters = inner.counters

  private var done = false
  private var innerDone = false
  private var result: InternalRow = _
  private val keyOrds: Array[Int] = groupKeys.map(base.fieldIndex).toArray

  // (base ordinal or -1 for COUNT(*), ordering for min/max)
  private val plans: Array[(PushedAgg, Int, Ordering[Any])] = aggs.map { a =>
    PushedAgg.references(a) match {
      case Seq(c) =>
        val ord = base.fieldIndex(c)
        (a, ord, org.apache.spark.sql.catalyst.util.TypeUtils
          .getInterpretedOrdering(base(ord).dataType))
      case _ => (a, -1, null)
    }
  }.toArray
  // 0 = long accumulation, 1 = double, 2 = decimal (JVM BigDecimal, exact)
  private val sumKind: Array[Int] = plans.map {
    case (PushedAgg.Sum(_), ord, _) =>
      PushedAgg.sumType(base(ord).dataType) match {
        case org.apache.spark.sql.types.DoubleType => 1
        case _: org.apache.spark.sql.types.DecimalType => 2
        case _ => 0
      }
    case _ => 0
  }

  private var counts = new Array[Long](plans.length)
  private var vals = new Array[Any](plans.length)
  private var sawRow = false
  private var curKey: Seq[Any] = null
  // one-row lookahead: the row that ended the previous group
  private var pendingRow: InternalRow = _

  private def resetAccums(): Unit = {
    counts = new Array[Long](plans.length)
    vals = new Array[Any](plans.length)
  }

  private def fold(r: InternalRow): Unit = {
    var i = 0
    while (i < plans.length) {
      val (agg, ord, ordering) = plans(i)
      agg match {
        case PushedAgg.CountStar => counts(i) += 1
        case PushedAgg.Count(_) => if (!r.isNullAt(ord)) counts(i) += 1
        case PushedAgg.CountDistinct(_) => throw new IllegalStateException(
          "COUNT(DISTINCT) is complete-pushdown-only; it must never reach the fold")
        case PushedAgg.Min(_) =>
          val v = extract(r, ord)
          if (v != null && (vals(i) == null || ordering.compare(v, vals(i)) < 0))
            vals(i) = v
        case PushedAgg.Max(_) =>
          val v = extract(r, ord)
          if (v != null && (vals(i) == null || ordering.compare(v, vals(i)) > 0))
            vals(i) = v
        case PushedAgg.Sum(_) =>
          if (!r.isNullAt(ord)) {
            val v = r.get(ord, base(ord).dataType)
            sumKind(i) match {
              case 1 =>
                val d = v match {
                  case f: java.lang.Float => f.doubleValue()
                  case d0: java.lang.Double => d0.doubleValue()
                }
                vals(i) = if (vals(i) == null) d
                else vals(i).asInstanceOf[Double] + d
              case 2 =>
                val b = v.asInstanceOf[org.apache.spark.sql.types.Decimal]
                  .toJavaBigDecimal
                vals(i) = if (vals(i) == null) b
                else vals(i).asInstanceOf[java.math.BigDecimal].add(b)
              case _ =>
                val l = v match {
                  case n: java.lang.Number => n.longValue()
                }
                vals(i) = if (vals(i) == null) l
                else vals(i).asInstanceOf[Long] + l
            }
          }
      }
      i += 1
    }
  }

  private def buildRow(key: Seq[Any]): InternalRow = {
    val aggVals = plans.toSeq.zipWithIndex.map {
      case ((PushedAgg.CountStar, _, _), i) => counts(i)
      case ((PushedAgg.Count(_), _, _), i) => counts(i)
      case ((PushedAgg.Sum(_), ord, _), i) if sumKind(i) == 2 =>
        vals(i) match {
          case null => null
          case jbd: java.math.BigDecimal =>
            // exact partition sum → the widened partial type; a sum that
            // can't fit must FAIL the scan: emitting a NULL partial would
            // be silently skipped by Spark's final Sum (a wrong non-null
            // total), and there is no overflow signal a partial row can
            // carry. Decimal SUM only pushes under ANSI mode (summable),
            // where the unpushed query throws on overflow too — so the
            // throw is never observable as a pushdown-induced divergence.
            val wt = PushedAgg.sumType(base(ord).dataType)
              .asInstanceOf[org.apache.spark.sql.types.DecimalType]
            val dec = org.apache.spark.sql.types.Decimal(jbd)
            if (dec.changePrecision(wt.precision, wt.scale)) dec
            else throw new ArithmeticException(
              s"partition-partial SUM overflowed ${wt.sql}; the pushed " +
              "partial cannot represent overflow (a NULL partial would be " +
              "dropped by the final aggregate). Rerun with aggregate " +
              "pushdown disabled for NULL-on-overflow semantics.")
        }
      case ((_, _, _), i) => vals(i)
    }
    InternalRow.fromSeq((if (key == null) Nil else key) ++ aggVals)
  }

  private def extractKeys(r: InternalRow): Seq[Any] =
    keyOrds.toSeq.map(extract(r, _))

  override def next(): Boolean = {
    if (done) return false
    if (groupKeys.isEmpty) {
      while (inner.next()) fold(inner.get())
      result = buildRow(null)
      done = true
      true
    } else {
      if (innerDone) { done = true; return false }
      resetAccums(); sawRow = false
      if (pendingRow != null) {
        curKey = extractKeys(pendingRow)
        fold(pendingRow); sawRow = true; pendingRow = null
      }
      var groupClosed = false
      while (!groupClosed && inner.next()) {
        val r = inner.get()
        val k = extractKeys(r)
        if (!sawRow) { curKey = k; fold(r); sawRow = true }
        else if (sameKey(k, curKey)) fold(r)
        else {
          // r opens the NEXT group: emit the current one, stash r
          result = buildRow(curKey)
          pendingRow = copyRow(r)
          groupClosed = true
        }
      }
      if (groupClosed) true
      else {
        innerDone = true
        if (sawRow) { result = buildRow(curKey); true }
        else { done = true; false }
      }
    }
  }

  private def sameKey(as: Seq[Any], bs: Seq[Any]): Boolean =
    as.lazyZip(bs).forall {
      case (x: Array[Byte], y: Array[Byte]) => java.util.Arrays.equals(x, y)
      case (a, b) => a == b
    }

  /** The inner reader may reuse row buffers across next() calls; the
    * lookahead row must be detached. */
  private def copyRow(r: InternalRow): InternalRow =
    InternalRow.fromSeq(base.indices.map(extract(r, _)))

  /** Copy values that may live in a reused/shared buffer. */
  private def extract(r: InternalRow, ord: Int): Any =
    if (r.isNullAt(ord)) null
    else r.get(ord, base(ord).dataType) match {
      case u: org.apache.spark.unsafe.types.UTF8String => u.copy()
      case b: Array[Byte] => java.util.Arrays.copyOf(b, b.length)
      case other => other
    }

  override def get(): InternalRow = result
  override def close(): Unit = inner.close()
}

object AggregatePartitionReader {
  /** The final row of an UNGROUPED aggregation from its partitions'
    * partial rows (`partial` is their schema, one column per aggregate):
    * counts (COUNT(DISTINCT key) too, over whole-bucket rows) and integral
    * sums add with `Math.addExact`, double sums add
    * from 0.0 as Spark's final Sum does, decimal sums add exactly and must
    * fit the widened type, and MIN/MAX keep the extreme by the column
    * type's interpreted ordering; NULL partials are skipped, so a SUM, MIN
    * or MAX over no rows is NULL. None on any overflow, where Spark's own
    * final aggregate would wrap, throw or give NULL. */
  def combine(partial: StructType, aggs: Seq[PushedAgg],
      rows: Seq[InternalRow]): Option[InternalRow] = {
    try Some(InternalRow.fromSeq(aggs.indices.map { i =>
      val dt = partial(i).dataType
      val vs = rows.filterNot(_.isNullAt(i)).map(_.get(i, dt))
      aggs(i) match {
        // a key never crosses buckets, so per-bucket distinct keys add
        case PushedAgg.CountStar | PushedAgg.Count(_) | PushedAgg.CountDistinct(_) =>
          vs.foldLeft(0L)((a, v) => Math.addExact(a, v.asInstanceOf[Long]))
        case _ if vs.isEmpty => null
        case PushedAgg.Sum(_) => dt match {
          case DoubleType => vs.foldLeft(0.0)(_ + _.asInstanceOf[Double])
          case d: DecimalType =>
            val sum = Decimal(vs.map(_.asInstanceOf[Decimal].toJavaBigDecimal)
              .reduce(_ add _))
            if (sum.changePrecision(d.precision, d.scale)) sum else return None
          case _ => vs.map(_.asInstanceOf[Long]).reduce(Math.addExact(_, _))
        }
        case PushedAgg.Min(_) =>
          vs.min(org.apache.spark.sql.catalyst.util.TypeUtils.getInterpretedOrdering(dt))
        case PushedAgg.Max(_) =>
          vs.max(org.apache.spark.sql.catalyst.util.TypeUtils.getInterpretedOrdering(dt))
      }
    })) catch { case _: ArithmeticException => None }
  }
}

/** Batches the row reader's output into on-heap column vectors (4096 rows
  * per [[org.apache.spark.sql.vectorized.ColumnarBatch]]). Downstream
  * whole-stage codegen consumes the vectors directly through the codegen'd
  * ColumnarToRow, eliminating the per-row iterator virtual calls and row
  * objects at the scan boundary. Vectors are reused across batches
  * (reset + refill). */
object ColumnarCellReader {
  val BatchRows = 4096
  private def atomic(dt: DataType): Boolean = dt match {
    case BooleanType | ByteType | ShortType | IntegerType | LongType |
      FloatType | DoubleType | StringType | BinaryType | DateType |
      TimestampType => true
    case _ => false
  }
  def supported(dt: DataType): Boolean = dt match {
    // `cf:` family-map columns batch as ColumnarMap: keys/values land in
    // the vector's child columns, entries addressed by (offset, length)
    case MapType(k, v, _) => atomic(k) && atomic(v)
    case other => atomic(other)
  }
}

class ColumnarCellReader(
    inner: PartitionReader[InternalRow],
    schema: StructType)
  extends PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] {
  import org.apache.spark.sql.execution.vectorized.{OnHeapColumnVector, WritableColumnVector}
  import ColumnarCellReader.BatchRows

  private val vectors: Array[OnHeapColumnVector] =
    OnHeapColumnVector.allocateColumns(BatchRows, schema)
  private val batch = new org.apache.spark.sql.vectorized.ColumnarBatch(
    vectors.asInstanceOf[Array[org.apache.spark.sql.vectorized.ColumnVector]])

  /** Element appender into a map's child vector (append-cursor API — the
    * parent map entry records its (offset, length) via putArray). */
  private def childAppender(dt: DataType)
    : (WritableColumnVector, org.apache.spark.sql.catalyst.util.ArrayData, Int) => Unit =
    dt match {
      case BooleanType => (cv, a, e) => { cv.appendBoolean(a.getBoolean(e)); () }
      case ByteType => (cv, a, e) => { cv.appendByte(a.getByte(e)); () }
      case ShortType => (cv, a, e) => { cv.appendShort(a.getShort(e)); () }
      case IntegerType | DateType => (cv, a, e) => { cv.appendInt(a.getInt(e)); () }
      case LongType | TimestampType => (cv, a, e) => { cv.appendLong(a.getLong(e)); () }
      case FloatType => (cv, a, e) => { cv.appendFloat(a.getFloat(e)); () }
      case DoubleType => (cv, a, e) => { cv.appendDouble(a.getDouble(e)); () }
      case StringType => (cv, a, e) => {
        val b = a.getUTF8String(e).getBytes
        cv.appendByteArray(b, 0, b.length); ()
      }
      case BinaryType => (cv, a, e) => {
        val b = a.getBinary(e)
        cv.appendByteArray(b, 0, b.length); ()
      }
      case other => throw new IllegalStateException(
        s"unsupported columnar map element type ${other.catalogString}")
    }

  // one writer per column, bound to the column's type once (no per-cell
  // dataType dispatch in the fill loop)
  private val writers: Array[(WritableColumnVector, InternalRow, Int, Int) => Unit] =
    schema.fields.map(_.dataType).map[
      (WritableColumnVector, InternalRow, Int, Int) => Unit] {
      case BooleanType => (v, r, c, i) => v.putBoolean(i, r.getBoolean(c))
      case ByteType => (v, r, c, i) => v.putByte(i, r.getByte(c))
      case ShortType => (v, r, c, i) => v.putShort(i, r.getShort(c))
      case IntegerType | DateType => (v, r, c, i) => v.putInt(i, r.getInt(c))
      case LongType | TimestampType => (v, r, c, i) => v.putLong(i, r.getLong(c))
      case FloatType => (v, r, c, i) => v.putFloat(i, r.getFloat(c))
      case DoubleType => (v, r, c, i) => v.putDouble(i, r.getDouble(c))
      case StringType => (v, r, c, i) => {
        val b = r.getUTF8String(c).getBytes
        v.putByteArray(i, b, 0, b.length); ()
      }
      case BinaryType => (v, r, c, i) => {
        val b = r.getBinary(c)
        v.putByteArray(i, b, 0, b.length); ()
      }
      case MapType(kt, vt, _) =>
        val putKey = childAppender(kt)
        val putVal = childAppender(vt)
        (v, r, c, i) => {
          val m = r.getMap(c)
          val keys = m.keyArray()
          val vals = m.valueArray()
          val kChild = v.getChild(0).asInstanceOf[WritableColumnVector]
          val vChild = v.getChild(1).asInstanceOf[WritableColumnVector]
          val start = kChild.getElementsAppended
          var e = 0
          val n = m.numElements()
          while (e < n) {
            putKey(kChild, keys, e) // map keys are non-null by contract
            if (vals.isNullAt(e)) vChild.appendNull()
            else putVal(vChild, vals, e)
            e += 1
          }
          v.putArray(i, start, n); ()
        }
      case dt => throw new IllegalStateException(
        s"unsupported columnar type ${dt.catalogString}") // gated by supported()
    }

  override def next(): Boolean = {
    var c = 0
    while (c < vectors.length) { vectors(c).reset(); c += 1 }
    var n = 0
    while (n < BatchRows && inner.next()) {
      val r = inner.get()
      var i = 0
      while (i < vectors.length) {
        if (r.isNullAt(i)) vectors(i).putNull(n)
        else writers(i)(vectors(i), r, i, n)
        i += 1
      }
      n += 1
    }
    batch.setNumRows(n)
    n > 0
  }

  override def get(): org.apache.spark.sql.vectorized.ColumnarBatch = batch
  override def close(): Unit = { batch.close(); inner.close() }
  override def currentMetricsValues()
      : Array[org.apache.spark.sql.connector.metric.CustomTaskMetric] =
    inner.currentMetricsValues()
}

/** The scan itself: merges the bucket's segments (LWW, tombstone-skipping),
  * then assembles rows per the mapping —
  *   - regular (S3): one row per storage row, cells looked up by name,
  *     missing cell -> SQL NULL (P4, input/LazyCassandraRow.java:92-99),
  *     `cf:` map field materializes remaining cells as map<string,string>
  *     (the reference left this unfinished — SURVEY §8 — we implement the
  *     intended semantics);
  *   - transposed (S5): one row per cell `(key, column[, subcolumn], value)`
  *     (input/CassandraHiveRecordReader.java:112-180), iterated through the
  *     wide-row pager (S4) with slice start/finish/reversed/count (P2);
  *   - super cells (S6): 4-column form over (col, sub) pairs.
  * All decode goes through the dual binary/text codecs (T1). */
class CellPartitionReader(
    part: CellInputPartition,
    mapping: ColumnMapping,
    required: StructType,
    filters: Array[Filter],
    opt: String => Option[String],
    limit: Option[Int] = None,
    dropped: Map[String, Long] = Map.empty,
    limitLast: Boolean = false)
  extends CountedReader {

  // T2: positional per-cell validator list (reference's
  // cassandra.cf.validatorType, serde/CassandraColumnSerDe.java:24,106-126);
  // a single name for the transposed :value column
  private val validators: Option[Seq[String]] =
    opt("validators").map(_.split(",").map(_.trim).toSeq)
  private val validator = opt("validator")
  // P3 (lazy field decode, input/LazyCassandraRow.java:45-106): only fields
  // the projection or a pushed predicate touches are decoded at all
  private val needed: Set[String] =
    required.fieldNames.toSet ++ filters.flatMap(_.references)
  // Key windows (KeyWindows): pushed key equality/IN (or an index
  // candidate set) and key comparisons, cut to the partition's own
  // sub-split range. A finite key set is further cut to the keys that route
  // to THIS partition's bucket, by the same TokenRing.bucket call, with the
  // store's bucket count and range bounds, that the writer and deleteWhere
  // use; each run's bloom is tested against them only, and each key that
  // passes seeks its own index window (CellStore.rangeRun), so an IN list
  // costs O(keys × segments × IndexEvery) cell reads no matter how far
  // apart its keys sort or how big the bucket is. A range seeks its one or
  // two byte intervals the same way. Partitions left with no window read
  // nothing. Purely an optimization: FilterEval still applies the exact
  // predicate to every emitted row, and LWW/tombstone reconciliation is
  // per-address, so a key-restricted merge over all segments reconciles
  // identically to the full-bucket merge.
  private val keyCodec: KeyCodec = KeyCodec.of(mapping.keyField.dataType, opt)
  private val colCodec: KeyCodec =
    if (!mapping.transposed) null
    else KeyCodec.ofColumn(mapping.field(FieldRole.TransColumn).dataType, opt)
  private val subCodec: KeyCodec =
    if (!mapping.hasSubColumn) null
    else KeyCodec.ofSub(mapping.field(FieldRole.TransSubColumn).dataType, opt)
  private val keys: KeyWindows = {
    val w = KeyWindows.of(mapping.keyField.name, keyCodec, filters)
      .within(part.lower, part.upper)
    if (w.points == null) w
    else {
      val buckets = opt(Options.Buckets).map(_.toInt).getOrElse(Options.DefaultBuckets)
      val bounds = opt(Options.RangeBounds)
        .map(RangeLayout.parse(_, mapping.keyField.dataType, keyCodec)).orNull
      w.filterPoints(TokenRing.bucket(_, buckets, bounds) == part.bucket)
    }
  }

  /** Byte form of a static slice option value (`slice.start`/`finish`,
    * `slice.sub.start`/`finish`). On an ORDERED column the text is a TYPED
    * literal (the RangeLayout grammar — micros for timestamps, days for
    * dates, plain decimal for numerics) encoded through the codec, so the
    * reference-parity knobs drive the same numeric windows/seeks as pushed
    * predicates. Everywhere else it stays the verbatim UTF-8 byte form
    * (the reference's behavior, CassandraStorageHandler.java:149-189 in
    * /root/reference — for string columns the two forms coincide). */
  private def sliceBound(role: FieldRole, codec: KeyCodec)(text: String): Array[Byte] =
    if (codec.ordered) codec.encode(RangeLayout.literal(text, mapping.field(role).dataType))
    else text.getBytes(java.nio.charset.StandardCharsets.UTF_8)

  // SLICE windows: pushed EqualTo/In (multi-point slice) and comparisons
  // on the clustering column, plus the static slice.start/finish knobs —
  // inclusive byte bounds, the reference's SliceRange over comparator
  // bytes; start is ALWAYS the lower bound and finish the upper,
  // slice.reversed flips iteration ORDER only (transposedRows applies the
  // same filter; the fuzz model pins it) — fold into KeyWindows the merge
  // uses to skip whole runs (min/max clustering, column blooms), whole
  // index spans, and every other cell before reconciliation or decode:
  // IO-level pruning for `WHERE col BETWEEN …` or `col IN (…)` over wide
  // rows. Point sets need an injective byte form (float/double diverge
  // under the plain bytes form: -0.0 = 0.0 in SQL, different IEEE bits),
  // so elsewhere they stay exact-filter-only. The exact predicates are
  // still re-applied per row (FilterEval / the pager). The `:subcolumn`
  // twin does the same inside one (key, col) group, with the
  // slice.sub.start/finish knobs.
  private def sliceWindows(role: FieldRole, codec: KeyCodec,
      start: String, finish: String): KeyWindows = {
    val pushed =
      if (codec.injective) filters
      else filters.filter { case _: EqualTo | _: In => false; case _ => true }
    val bound = sliceBound(role, codec) _
    val w = KeyWindows.of(mapping.field(role).name, codec, pushed)
      .intersect(KeyWindows.closed(opt(start).map(bound).orNull,
        opt(finish).map(bound).orNull))
    if (w.isAll) null else w
  }
  private val cols: KeyWindows =
    if (!mapping.transposed) null
    else sliceWindows(FieldRole.TransColumn, colCodec,
      Options.SliceStart, Options.SliceFinish)
  private val subs: KeyWindows =
    if (!mapping.hasSubColumn) null
    else sliceWindows(FieldRole.TransSubColumn, subCodec,
      Options.SliceSubStart, Options.SliceSubFinish)

  // Streaming scan: k-way merge over the bucket's sorted runs, grouped by
  // adjacent key. Memory is O(runs + one row's cells) — one wide row is the
  // unit the pager (S4) then chunks, matching the reference's bound where
  // the server holds the row and the client pages it.
  /** Task-local scan counters, surfaced via [[currentMetricsValues]]. */
  override val counters = new ScanCounters

  private val merge = new CellStore.BucketMergeIterator(
    part.tableDir, part.bucket, keys,
    asOf = opt(Options.ReadAsOf).map(_.toLong).getOrElse(Long.MaxValue),
    ttl = opt(Options.Ttl).map(_.toLong).getOrElse(0L),
    now = opt(Options.ReadNow).map(_.toLong).getOrElse(0L),
    counterMerge = opt(Options.CounterMerge).exists(_.toBoolean),
    onlyFiles = if (part.files != null) part.segments() else null,
    counters = counters,
    cols = cols,
    subs = subs)
  private val rows: Iterator[InternalRow] = {
    val byKey = groupAdjacentByKey(merge)
    val all =
      if (mapping.transposed) byKey.flatMap(transposedRows)
      else byKey.flatMap(regularRow)
    // pushed (partial) limit: every emitted row already passed the pushed
    // filters, so the partition can stop at `limit` rows. The DESC TopN
    // form (`limitLast`) keeps the LAST n instead: an n-slot ring buffer
    // over the ascending stream — its contents are exactly the partition's
    // n greatest rows under the natural order, i.e. its top-n under the
    // all-descending order (O(n) memory; emit order irrelevant, Spark's
    // global TopN re-sorts the per-partition candidates).
    limit match {
      case Some(n) if limitLast =>
        // deferred behind flatMap: the drain must not run during reader
        // construction (fields below, e.g. the compiled filters, are not
        // initialized yet — Scala initializes vals in declaration order)
        Iterator.single(()).flatMap { _ =>
          val ring = new Array[InternalRow](n)
          var count = 0L
          all.foreach { r => ring((count % n).toInt) = r.copy(); count += 1 }
          val kept = math.min(count, n.toLong).toInt
          Iterator.tabulate(kept)(i => ring(((count - kept + i) % n).toInt))
        }
      case Some(n) => all.take(n)
      case None => all
    }
  }
  private var current: InternalRow = _

  override def next(): Boolean = {
    if (rows.hasNext) { current = rows.next(); true } else false
  }
  override def get(): InternalRow = current
  override def close(): Unit = merge.close()

  /** Cells arrive in (key, col, sub) order; group runs of equal key without
    * materializing anything beyond the current row. A row is indexed, so
    * the pager's per-cell steps are O(1). */
  private def groupAdjacentByKey(cells: Iterator[Cell])
      : Iterator[(Array[Byte], IndexedSeq[Cell])] = {
    val it = cells.buffered
    new Iterator[(Array[Byte], IndexedSeq[Cell])] {
      def hasNext: Boolean = it.hasNext
      def next(): (Array[Byte], IndexedSeq[Cell]) = {
        val k = it.head.key
        val buf = mutable.ArrayBuffer.empty[Cell]
        while (it.hasNext && java.util.Arrays.equals(it.head.key, k)) buf += it.next()
        (k, buf.toIndexedSeq)
      }
    }
  }

  // ---- row assembly ----

  private val keyType = mapping.keyField.dataType
  private val requiredNames = required.fieldNames

  private def decodeValue(dt: DataType, bytes: Array[Byte]): Any =
    validator match {
      case Some(v) => Codecs.validatorString(v, bytes)
      case None => Codecs.decode(dt, bytes)
    }

  // filters compiled once per partition: constants convert to Catalyst form
  // here, not per row, and In probes a hash set (runtime DPP filters can
  // carry broadcast-sized value lists — linear scans would be O(rows*values)).
  // Only TYPE-AWARE-exact filters compile (FilterEval.exact): a filter the
  // reader can't reproduce bit-for-bit is SKIPPED, never approximated —
  // sound because admission only absorbs exact types, so every skipped
  // filter is one Spark re-applies above the scan (ADVICE r15 high).
  private val compiledFilters = filters
    .filter(FilterEval.exact(_, c => mapping.fields.find(_.name == c).map(_.dataType)))
    .map(FilterEval.compile)

  private def project(values: Map[String, Any]): Option[InternalRow] = {
    if (!compiledFilters.forall(_(values))) return None
    Some(new GenericInternalRow(
      requiredNames.map(n => values.getOrElse(n, null)).toArray[Any]))
  }

  /** Regular mapping: one InternalRow per storage row (S3). */
  private def regularRow(group: (Array[Byte], Seq[Cell])): Option[InternalRow] = {
    val (key, cells0) = group
    // dropped-column guard: a cell written at/below its column's recorded
    // drop timestamp never surfaces a VALUE, even if the name was later
    // re-ADDed (Cassandra hides cells older than dropped_columns.dropped
    // _time). The physical cell still anchors row existence — DROP COLUMN
    // must not make rows vanish, only their dropped values.
    val cells =
      if (dropped.isEmpty) cells0
      else cells0.filter { c =>
        dropped.get(new String(c.col, java.nio.charset.StandardCharsets.UTF_8))
          .forall(dropTs => c.ts > dropTs)
      }
    val byName = cells.map(c => new String(c.col, java.nio.charset.StandardCharsets.UTF_8) -> c).toMap
    val cellIdx = mapping.cellFields.map(_.name).zipWithIndex.toMap
    val values = mutable.HashMap.empty[String, Any]
    mapping.fields.foreach { f =>
      if (needed.contains(f.name)) f.role match {
        case FieldRole.Key =>
          values(f.name) = keyCodec.decode(key)
        case FieldRole.Cell(cellName) =>
          val vd = validators.map(_.apply(cellIdx(f.name)))
          values(f.name) = byName.get(cellName).map { c =>
            vd match {
              case Some(v) => Codecs.validatorString(v, c.value)
              case None => decodeValue(f.dataType, c.value)
            }
          }.orNull
        case FieldRole.FamilyMap =>
          val named = mapping.cellFields.collect { case MappedField(_, _, FieldRole.Cell(n)) => n }.toSet
          val mt = f.dataType.asInstanceOf[MapType]
          val rest = cells.filterNot(c =>
            named.contains(new String(c.col, java.nio.charset.StandardCharsets.UTF_8)))
          values(f.name) = ArrayBasedMapData(
            rest.map(c => Codecs.decode(StringType, c.col)).toArray,
            rest.map(c => Codecs.decode(mt.valueType, c.value)).toArray)
        case _ => ()
      }
    }
    project(values.toMap)
  }

  /** Transposed mapping: one row per cell, via the wide-row pager (S4/S5/S6). */
  private def transposedRows(group: (Array[Byte], IndexedSeq[Cell])): Iterator[InternalRow] = {
    val (key, cellsAsc) = group
    val reversed = opt(Options.SliceReversed).exists(_.toBoolean)
    val startB = opt(Options.SliceStart).map(sliceBound(FieldRole.TransColumn, colCodec))
    val finishB = opt(Options.SliceFinish).map(sliceBound(FieldRole.TransColumn, colCodec))
    val count = opt(Options.SliceCount).map(_.toInt)
    val pageSize = opt(Options.WideRowPageSize).map(_.toInt)
      .getOrElse(Options.DefaultPageSize)

    // comparator-ordered slice honoring start/finish bounds and direction
    val sliced0 = cellsAsc.filter { c =>
      startB.forall(s => Codecs.compareBytes(c.col, s) >= 0) &&
        finishB.forall(f => Codecs.compareBytes(c.col, f) <= 0)
    }
    val sliced = if (reversed) sliced0.reverse else sliced0

    val order: (Array[Byte], Array[Byte]) => Int =
      if (reversed) (a, b) => -Codecs.compareBytes(a, b) else Codecs.compareBytes
    // the remote-fetch model the pager drives: cells from startCol (inclusive)
    // in scan direction, capped at `cnt`; the slice is sorted in scan
    // order, so the start is a binary search and a page costs O(log row +
    // page), not a walk from the row's first cell
    def fetch(startCol: Array[Byte], cnt: Int): IndexedSeq[Cell] = {
      var lo = 0
      if (startCol != null) {
        var hi = sliced.length
        while (lo < hi) {
          val mid = (lo + hi) >>> 1
          if (order(sliced(mid).col, startCol) < 0) lo = mid + 1 else hi = mid
        }
      }
      sliced.slice(lo, lo + cnt)
    }
    var it: Iterator[Cell] = new WideRowIterator(fetch, math.max(2, pageSize), order)
    count.foreach(n => it = it.take(n)) // per-key count cap (P2)

    val keyVal = keyCodec.decode(key)
    val colField = mapping.field(FieldRole.TransColumn)
    val valField = mapping.field(FieldRole.TransValue)
    val subField = if (mapping.hasSubColumn) Some(mapping.field(FieldRole.TransSubColumn)) else None

    it.flatMap { c =>
      val values = mutable.HashMap[String, Any](
        mapping.keyField.name -> keyVal,
        colField.name -> colCodec.decode(c.col),
        valField.name -> decodeValue(valField.dataType, c.value))
      subField.foreach(sf => values(sf.name) = subCodec.decode(c.sub))
      project(values.toMap)
    }
  }
}

/** Exact post-decode evaluation of the pushed filters. The source accepts a
  * filter only if it can evaluate it exactly (so Spark needn't re-apply). */
object FilterEval {
  def eval(f: Filter, row: Map[String, Any]): Boolean = compile(f)(row)

  /** Compile a pushed filter to a row predicate: the comparison constant
    * converts to Catalyst form ONCE, and In probes a hash set of normalized
    * values instead of linear-scanning the value list per row. */
  def compile(f: Filter): Map[String, Any] => Boolean = f match {
    case EqualTo(c, v0) =>
      val v = conv(v0); row => cmp(row.get(c).orNull, v).contains(0)
    case In(c, vs0) =>
      val set = vs0.iterator.map(v => norm(conv(v))).filter(_ != null).toSet
      row => row.get(c).orNull match {
        case null => false
        case x => set.contains(norm(x))
      }
    case GreaterThan(c, v0) =>
      val v = conv(v0); row => cmp(row.get(c).orNull, v).exists(_ > 0)
    case GreaterThanOrEqual(c, v0) =>
      val v = conv(v0); row => cmp(row.get(c).orNull, v).exists(_ >= 0)
    case LessThan(c, v0) =>
      val v = conv(v0); row => cmp(row.get(c).orNull, v).exists(_ < 0)
    case LessThanOrEqual(c, v0) =>
      val v = conv(v0); row => cmp(row.get(c).orNull, v).exists(_ <= 0)
    // LIKE-prefix on default-collation strings: Spark's StartsWith is a
    // UTF8String byte-prefix test, reproduced exactly (null never matches)
    case StringStartsWith(c, p0) =>
      conv(p0) match {
        case p: UTF8String =>
          row => row.get(c).orNull match {
            case s: UTF8String => s.startsWith(p)
            case _ => false
          }
        case _ => _ => true // non-string prefix constant: not evaluable here
      }
    case IsNotNull(c) => row => row.get(c).orNull != null
    // Boolean composition over EXACT children reproduces SQL three-valued
    // logic because every leaf maps UNKNOWN (null operand) to false:
    // OR keeps a row iff some branch is TRUE (unknown∨true = true,
    // unknown∨false = unknown → dropped), AND iff both are TRUE. Sound
    // only when both children compile exactly — the READER consults the
    // type-aware [[exact]] before compiling anything, so an inexact child
    // (which would compile to constant-true and leak rows through an OR)
    // never reaches here. NOT is deliberately unsupported: ¬unknown is
    // unknown, but a false-on-null leaf would negate to true.
    case Or(l, r) =>
      val cl = compile(l); val cr = compile(r)
      row => cl(row) || cr(row)
    case And(l, r) =>
      val cl = compile(l); val cr = compile(r)
      row => cl(row) && cr(row)
    case _ => _ => true
  }

  /** Whether [[compile]] evaluates `f` EXACTLY for its column TYPES (no
    * constant-true escape hatch anywhere in the tree, and every leaf
    * comparison reproduces Spark's semantics for that type bit for bit) —
    * the reader-side gate: a filter failing it is NOT evaluated at all
    * (sound because every such filter is one Spark re-applies above the
    * scan — absorbed/accepted admission only ever admits exact types).
    * Type-blind shape checks are NOT enough (ADVICE r15): before [[cmp]]
    * grew its byte-array case, an EqualTo on a BinaryType row key compiled
    * to constant-false and silently dropped every row. */
  def exact(f: Filter, dtOf: String => Option[DataType]): Boolean = {
    def typeOk(c: String): Boolean = dtOf(c).exists {
      case org.apache.spark.sql.types.ByteType |
           org.apache.spark.sql.types.ShortType |
           org.apache.spark.sql.types.IntegerType |
           org.apache.spark.sql.types.LongType |
           org.apache.spark.sql.types.BooleanType |
           org.apache.spark.sql.types.DateType |
           org.apache.spark.sql.types.TimestampType |
           org.apache.spark.sql.types.FloatType |
           org.apache.spark.sql.types.DoubleType |
           org.apache.spark.sql.types.BinaryType => true
      case _: org.apache.spark.sql.types.DecimalType => true
      case s: org.apache.spark.sql.types.StringType =>
        s == org.apache.spark.sql.types.StringType // default collation only
      case _ => false
    }
    f match {
      case EqualTo(c, _) => typeOk(c)
      case In(c, _) => typeOk(c)
      case GreaterThan(c, _) => typeOk(c)
      case GreaterThanOrEqual(c, _) => typeOk(c)
      case LessThan(c, _) => typeOk(c)
      case LessThanOrEqual(c, _) => typeOk(c)
      case StringStartsWith(c, p) => p != null &&
        dtOf(c).contains(org.apache.spark.sql.types.StringType)
      case IsNotNull(_) => true
      case Or(l, r) => exact(l, dtOf) && exact(r, dtOf)
      case And(l, r) => exact(l, dtOf) && exact(r, dtOf)
      case _ => false
    }
  }

  /** Hash-equality form mirroring [[cmp]]'s numeric widening: integrals
    * compare as Long, fractionals as Double (with +0.0 added — SQL equality
    * makes -0.0 = 0.0, java.lang.Double distinguishes them), binary wraps
    * in a ByteBuffer (value-based equals/hashCode — raw arrays probe by
    * REFERENCE and never hit), decimals strip trailing zeros (BigDecimal's
    * hashCode is scale-sensitive: 1.5 and 1.50 compare equal but hash
    * apart), so the In-set probe agrees with the ordered comparisons. */
  private def norm(v: Any): Any = v match {
    case n: Number if integral(n) => java.lang.Long.valueOf(n.longValue)
    case n: Number => java.lang.Double.valueOf(n.doubleValue + 0.0d)
    case b: Array[Byte] => java.nio.ByteBuffer.wrap(b)
    case d: org.apache.spark.sql.types.Decimal =>
      d.toJavaBigDecimal.stripTrailingZeros
    case x => x
  }

  private def conv(v: Any): Any = CatalystTypeConverters.convertToCatalyst(v)

  private def integral(n: Number): Boolean = n match {
    case _: java.lang.Integer | _: java.lang.Long | _: java.lang.Short |
         _: java.lang.Byte => true
    case _ => false
  }

  /** None when either side is null or incomparable (SQL three-valued logic:
    * a null comparison never satisfies a pushed predicate). */
  def cmp(a: Any, b: Any): Option[Int] = (a, b) match {
    case (null, _) | (_, null) => None
    case (x: org.apache.spark.sql.types.Decimal,
          y: org.apache.spark.sql.types.Decimal) => Some(x.compare(y))
    case (x: Number, y: Number) =>
      if (integral(x) && integral(y)) Some(java.lang.Long.compare(x.longValue, y.longValue))
      // +0.0 normalizes the signed zero (SQL: -0.0 = 0.0; NaN unaffected)
      else Some(java.lang.Double.compare(x.doubleValue + 0.0d, y.doubleValue + 0.0d))
    case (x: UTF8String, y: UTF8String) => Some(x.compareTo(y))
    case (x: java.lang.Boolean, y: java.lang.Boolean) => Some(x.compareTo(y))
    // Spark's BinaryType order: unsigned lexicographic, then by length
    // (TypeUtils.compareBinary) — exactly Codecs.compareBytes
    case (x: Array[Byte], y: Array[Byte]) => Some(Codecs.compareBytes(x, y))
    case _ => None
  }
}
