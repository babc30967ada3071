package graft.sources.cassandralike

import java.util

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.catalyst.analysis.{NamespaceAlreadyExistsException, NoSuchNamespaceException, NoSuchTableException, TableAlreadyExistsException}
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** DDL lifecycle (D1–D3) as a Spark `TableCatalog` — the Spark-native form of
  * the reference's metastore hooks (CassandraStorageHandler.java:235-298,
  * CassandraManager.java:110-263 in /root/reference):
  *
  *   - `CREATE TABLE cassandralike.ns.t (...) OPTIONS (mapping '...')`
  *     creates the namespace (keyspace) on demand — the reference creates the
  *     keyspace with RF/strategy from table properties on NotFound
  *     (CassandraManager.java:152-176); our `replication.factor` /
  *     `placement.strategy` properties are accepted and recorded;
  *   - DROP TABLE removes the column family (D2); external-style semantics —
  *     the data directory IS the table, `purge` removes it entirely;
  *   - table properties (mapping, buckets, consistency, slice knobs…) travel
  *     in the CREATE OPTIONS map and resolve conf-over-props at scan/write
  *     time (D3).
  *
  * Register with:
  * {{{
  *   spark.conf.set("spark.sql.catalog.cassandralike",
  *     classOf[CassandraLikeCatalog].getName)
  *   spark.conf.set("spark.sql.catalog.cassandralike.warehouse", dir)
  * }}}
  */
object CassandraLikeCatalog {
  /** Digests the warehouse walk failed to resolve — never re-walk for
    * them (a table created later resolves via its sidecar, which is
    * consulted before this cache). Per-JVM, like the digest registry. */
  private[cassandralike] val unresolvedDigests =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
}

class CassandraLikeCatalog extends TableCatalog with SupportsNamespaces
  with FunctionCatalog {

  // ---- FunctionCatalog: the `bucket` transform the scans' reported
  // KeyGroupedPartitioning resolves through (storage-partitioned joins) ----

  override def listFunctions(namespace: Array[String]): Array[Identifier] =
    Array(Identifier.of(namespace, BucketFunction.name()))

  override def loadFunction(ident: Identifier): functions.UnboundFunction =
    if (ident.name().equalsIgnoreCase(BucketFunction.name())) BucketFunction
    else OrderedBucketFunction.parse(ident.name().toLowerCase) match {
      // ordered_bucket_<n>: the ordered-key transform family (bucket count
      // baked into the name so the transform stays single-argument — the
      // shape storage-partitioned joins require)
      case Some(n) => OrderedBucketFunction(n)
      case None => RangeBucketFunction.parse(ident.name().toLowerCase) match {
        // range_bucket_<n>_<digest>: the range-layout family — bind pulls
        // the digest's bounds from the driver-side registry and embeds
        // them in the bound function (executor-safe). A fresh JVM (driver
        // restart replaying a persisted plan, a second session) may not
        // have loaded the owning table yet; recover the bounds from table
        // metadata so binding is self-sufficient, not load-order-dependent.
        case Some(f) =>
          if (RangeBucketFunction.lookup(f.digest).isEmpty) recoverRangeDigest(f.digest)
          f
        case None =>
          throw new org.apache.spark.sql.catalyst.analysis.NoSuchFunctionException(ident)
      }
    }

  /** Resolve a range-layout digest from warehouse metadata and register
    * its bounds (constructing [[CassandraLikeTable]] registers as a side
    * effect). Resolution order:
    *
    *  1. the `_range_digests/<digest>` SIDECAR written at CREATE/ALTER (and
    *     self-healed at loadTable) — O(1), the path for any warehouse
    *     touched by this or a newer build;
    *  2. a bounded warehouse WALK (pre-sidecar warehouses) — O(all files),
    *     so unresolved digests are NEGATIVE-CACHED and never re-walk; a
    *     table created later still resolves via its sidecar (checked
    *     before the cache), so the cache can't mask new tables.
    *
    * Both steps tolerate unreadable/foreign directories: `Files.walk`'s
    * iterator throws UncheckedIOException LAZILY on an unreadable
    * subdirectory, so the iteration itself sits inside the catch. */
  private def recoverRangeDigest(digest: String): Unit = {
    def loadDir(p: java.nio.file.Path): Unit =
      try CellStore.readMeta(p.toString).foreach { m =>
        if (m.properties.contains(Options.RangeBounds))
          new CassandraLikeTable(p.getFileName.toString, p.toString,
            StructType.fromDDL(m.schemaDdl), Some(m.mapping), m.properties)
      } catch { case scala.util.control.NonFatal(_) => () }
    val sidecar = digestSidecar(digest)
    try {
      if (java.nio.file.Files.isRegularFile(sidecar)) {
        val dir = new String(java.nio.file.Files.readAllBytes(sidecar),
          java.nio.charset.StandardCharsets.UTF_8).trim
        if (dir.nonEmpty) loadDir(java.nio.file.Paths.get(dir))
      }
    } catch { case scala.util.control.NonFatal(_) => () }
    if (RangeBucketFunction.lookup(digest).nonEmpty) return
    if (CassandraLikeCatalog.unresolvedDigests.contains(digest)) return
    // negative-cache ONLY a walk that ran to completion: a transient IO
    // failure mid-walk (mount hiccup, permission blip) must stay
    // retryable, or the digest is poisoned for the JVM lifetime even
    // though a later re-walk would resolve it
    var walkCompleted = false
    try {
      val s = java.nio.file.Files.walk(warehouse, 8)
      try s.iterator().asScala
        .filter(p => java.nio.file.Files.isRegularFile(p.resolve(CellStore.MetaFile)))
        .foreach { p =>
          if (RangeBucketFunction.lookup(digest).isEmpty) loadDir(p)
        }
      finally s.close()
      walkCompleted = true
    } catch { case scala.util.control.NonFatal(_) => () }
    if (walkCompleted && RangeBucketFunction.lookup(digest).isEmpty)
      CassandraLikeCatalog.unresolvedDigests.add(digest)
  }

  private def digestSidecar(digest: String): java.nio.file.Path =
    warehouse.resolve("_range_digests").resolve(digest)

  /** Write the digest → table-dir sidecar (idempotent; content-addressed,
    * so a concurrent writer lands identical bytes). Called at CREATE/ALTER
    * and self-healingly at loadTable for pre-sidecar warehouses. */
  private def writeDigestSidecar(table: CassandraLikeTable): Unit =
    if (table.rangeDigest != null) try {
      val p = digestSidecar(table.rangeDigest)
      if (!java.nio.file.Files.exists(p)) {
        java.nio.file.Files.createDirectories(p.getParent)
        java.nio.file.Files.write(p,
          table.dir.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      }
    } catch { case scala.util.control.NonFatal(_) => () } // advisory only

  private var catalogName: String = _
  private var warehouse: java.nio.file.Path = _

  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    warehouse = java.nio.file.Paths.get(
      Option(options.get("warehouse")).getOrElse(
        sys.props("java.io.tmpdir") + "/cassandralike-warehouse"))
    java.nio.file.Files.createDirectories(warehouse)
  }

  override def name(): String = catalogName

  private def tableDir(ident: Identifier): java.nio.file.Path =
    warehouse.resolve(ident.namespace().mkString("/")).resolve(ident.name())

  // ---- TableCatalog ----

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    val d = warehouse.resolve(namespace.mkString("/"))
    if (!java.nio.file.Files.isDirectory(d)) throw new NoSuchNamespaceException(namespace)
    val s = java.nio.file.Files.list(d)
    try s.iterator().asScala
      .filter(p => java.nio.file.Files.exists(p.resolve(CellStore.MetaFile)))
      .map(p => Identifier.of(namespace, p.getFileName.toString))
      .toArray
    finally s.close()
  }

  override def loadTable(ident: Identifier): Table = {
    val dir = tableDir(ident)
    CellStore.readMeta(dir.toString) match {
      case Some(m) =>
        val t = new CassandraLikeTable(
          (catalogName +: ident.namespace() :+ ident.name()).mkString("."),
          dir.toString, StructType.fromDDL(m.schemaDdl), Some(m.mapping),
          m.properties)
        writeDigestSidecar(t) // self-heal pre-sidecar warehouses (no-op once present)
        t
      case None => throw new NoSuchTableException(ident)
    }
  }

  override def createTable(
      ident: Identifier,
      columns: Array[Column],
      partitions: Array[Transform],
      properties: util.Map[String, String]): Table = {
    val schema = StructType(columns.map(c =>
      org.apache.spark.sql.types.StructField(c.name(), c.dataType(), c.nullable())))
    require(partitions.isEmpty, "cassandralike tables are token-partitioned; PARTITIONED BY is not supported")
    val dir = tableDir(ident)
    if (java.nio.file.Files.exists(dir.resolve(CellStore.MetaFile)))
      throw new TableAlreadyExistsException(ident)
    val props = properties.asScala.toMap -
      TableCatalog.PROP_OWNER - TableCatalog.PROP_PROVIDER - TableCatalog.PROP_LOCATION
    // validates the mapping (arity, :key presence, transposed shape) at DDL
    // time, like the reference's preCreateTable mapping check
    val mapping = props.getOrElse(Options.Mapping, ColumnMapping.auto(schema))
    ColumnMapping.parse(mapping, schema)
    CellStore.writeMeta(dir.toString,
      CellStore.Meta(schema.toDDL, mapping, props - Options.Mapping))
    loadTable(ident)
  }

  /** Schema evolution on the metadata only — segments are immutable.
    * ADD COLUMN: rows written before the change surface SQL NULL for the
    * new column through the missing-cell path (P4), exactly Cassandra's
    * add-column semantics. DROP COLUMN: the cells stay on disk but are no
    * longer mapped (Cassandra leaves dropped-column data to compaction);
    * the drop is recorded with a timestamp (`dropped.<cellName>` property,
    * Cassandra's system_schema.dropped_columns) and the reader hides cells
    * at or below it, so re-ADDing the same name does NOT resurrect
    * pre-drop data — only writes newer than the drop are visible. The drop
    * timestamp defaults to wall-clock (the write path's default timestamp
    * domain); jobs pinning `write.timestamp` set the `drop.timestamp`
    * property first to stay in their logical clock. Dropping the :key is
    * rejected by mapping validation. Transposed tables have a fixed
    * shape — column changes fail validation. */
  override def alterTable(ident: Identifier, changes: TableChange*): Table = {
    val dir = tableDir(ident)
    val meta = CellStore.readMeta(dir.toString)
      .getOrElse(throw new NoSuchTableException(ident))
    var schema = StructType.fromDDL(meta.schemaDdl)
    var tokens = meta.mapping.split(",", -1).map(_.trim).toVector
    var props = meta.properties
    // physical-layout properties are baked into committed segments (token
    // routing, cell-byte marshal, cell naming): rewriting them on an
    // occupied table silently misroutes deletes and drops high buckets
    def occupied: Boolean = CellStore.allSegmentFiles(dir.toString).nonEmpty
    def guardLayout(property: String): Unit =
      require(!(Options.LayoutProperties.contains(property) && occupied),
        s"cannot alter physical-layout property '$property' once the table " +
          "has committed segments (rewrite the table instead)")
    // parsed comma-list view of an index.columns value
    def idxSet(v: Option[String]): Set[String] =
      v.map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet).getOrElse(Set.empty)
    changes.foreach {
      // `index.columns` on an OCCUPIED table is the one layout property
      // with a sound migration: ADDED columns get their index REBUILT from
      // the existing data first (Cassandra's CREATE INDEX + rebuild), so
      // the completeness invariant holds before the index goes live — a
      // crash mid-rebuild leaves an unreferenced sub-store, never a live
      // index missing rows; REMOVED columns just lose their sub-store.
      // Requires an active SparkSession (the rebuild is a distributed job)
      // and the store's single-maintainer discipline, like compaction.
      case s: TableChange.SetProperty
          if s.property == Options.IndexColumns && occupied =>
        val newCols = idxSet(Some(s.value))
        val oldCols = idxSet(props.get(Options.IndexColumns))
        val m = ColumnMapping.parse(tokens.mkString(","), schema)
        Index.columns(m, k =>
          if (k == Options.IndexColumns) Some(s.value) else props.get(k))
        val spark = org.apache.spark.sql.SparkSession.active
        (newCols -- oldCols).toSeq.sorted.foreach(c =>
          Index.rebuild(spark, dir.toString, m, props, c))
        (oldCols -- newCols).toSeq.sorted.foreach(c =>
          CellStore.dropTable(Index.dir(dir.toString, c)))
        props += (s.property -> s.value)
      case r: TableChange.RemoveProperty
          if r.property == Options.IndexColumns && occupied =>
        idxSet(props.get(Options.IndexColumns)).toSeq.sorted.foreach(c =>
          CellStore.dropTable(Index.dir(dir.toString, c)))
        props -= r.property
      case a: TableChange.AddColumn =>
        // the store's cell model is FLAT (one cell per column; the dual
        // binary/text bridge covers atomic types, SURVEY §1.3) — nested
        // additions have no cell to land in. This is the declared
        // capability boundary for MERGE WITH SCHEMA EVOLUTION too: a
        // source whose new data is nested must ship it through the JSON
        // bridge (a STRING column via to_json, decoded with from_json on
        // read — the conn_nested_json shape), which evolves fine as a
        // top-level atomic column.
        require(a.fieldNames().length == 1,
          "cassandralike's cell model is flat: cannot add the nested field " +
            s"'${a.fieldNames().mkString(".")}' — store nested data as a " +
            "JSON string column (to_json/from_json) instead")
        require(Codecs.atomicCellType(a.dataType()), a.dataType() match {
          // the JSON-bridge pointer is only honest guidance for NESTED
          // types; an unsupported FLAT type should be widened to a
          // supported cell type instead
          case _: org.apache.spark.sql.types.ArrayType |
            _: org.apache.spark.sql.types.MapType |
            _: org.apache.spark.sql.types.StructType =>
            s"cassandralike cells hold atomic values; cannot add a " +
              s"${a.dataType().catalogString} column — store nested data as " +
              "a JSON string column (to_json/from_json) instead"
          case _ =>
            s"cassandralike cells do not support ${a.dataType().catalogString} " +
              "values; widen to a supported cell type (BOOLEAN, INT, BIGINT, " +
              "FLOAT, DOUBLE, DECIMAL, STRING, BINARY, TIMESTAMP — e.g. " +
              "SMALLINT/TINYINT → INT, DATE → TIMESTAMP)"
        })
        val n = a.fieldNames()(0)
        require(!schema.fieldNames.contains(n), s"column $n already exists")
        schema = schema.add(n, a.dataType(), a.isNullable)
        tokens = tokens :+ n // new cell stored under the column's own name
      case d: TableChange.DeleteColumn =>
        require(d.fieldNames().length == 1,
          "cassandralike supports only top-level columns")
        val n = d.fieldNames()(0)
        val i = schema.fieldNames.indexOf(n)
        require(i >= 0, s"no such column $n")
        // record the cell name (the storage-side identity), not the field
        // name — a remapped field drops the cells it actually pointed at
        tokens(i) match {
          case t if !t.startsWith(":") && !t.endsWith(":") =>
            val ts = props.get(Options.DropTimestamp).map(_.toLong)
              .getOrElse(System.currentTimeMillis())
            props += (s"${Options.DroppedPrefix}$t" -> ts.toString)
          case _ => () // role tokens fail mapping re-validation below
        }
        schema = StructType(schema.fields.patch(i, Nil, 1))
        tokens = tokens.patch(i, Nil, 1)
      case s: TableChange.SetProperty =>
        guardLayout(s.property)
        props += (s.property -> s.value)
      case r: TableChange.RemoveProperty =>
        guardLayout(r.property)
        props -= r.property
      case other =>
        throw new UnsupportedOperationException(
          s"ALTER TABLE change not supported: $other")
    }
    val mapping = tokens.mkString(",")
    ColumnMapping.parse(mapping, schema) // re-validate (:key survives, shape)
    CellStore.writeMeta(dir.toString, CellStore.Meta(schema.toDDL, mapping, props))
    loadTable(ident)
  }

  override def dropTable(ident: Identifier): Boolean = {
    val dir = tableDir(ident)
    if (!java.nio.file.Files.exists(dir.resolve(CellStore.MetaFile))) false
    else { CellStore.dropTable(dir.toString); true }
  }

  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit = {
    if (!java.nio.file.Files.exists(tableDir(oldIdent).resolve(CellStore.MetaFile)))
      throw new NoSuchTableException(oldIdent)
    java.nio.file.Files.createDirectories(tableDir(newIdent).getParent)
    java.nio.file.Files.move(tableDir(oldIdent), tableDir(newIdent))
    CellStore.forgetSegments(tableDir(oldIdent))
  }

  // ---- SupportsNamespaces (keyspace lifecycle) ----

  override def listNamespaces(): Array[Array[String]] = {
    val s = java.nio.file.Files.list(warehouse)
    try s.iterator().asScala
      .filter(java.nio.file.Files.isDirectory(_))
      .map(p => Array(p.getFileName.toString)).toArray
    finally s.close()
  }

  override def listNamespaces(namespace: Array[String]): Array[Array[String]] =
    if (namespace.isEmpty) listNamespaces()
    else if (namespaceExists(namespace)) Array.empty
    else throw new NoSuchNamespaceException(namespace)

  override def namespaceExists(namespace: Array[String]): Boolean =
    java.nio.file.Files.isDirectory(warehouse.resolve(namespace.mkString("/")))

  override def loadNamespaceMetadata(namespace: Array[String]): util.Map[String, String] =
    if (namespaceExists(namespace)) util.Collections.emptyMap()
    else throw new NoSuchNamespaceException(namespace)

  override def createNamespace(
      namespace: Array[String],
      metadata: util.Map[String, String]): Unit = {
    if (namespaceExists(namespace)) throw new NamespaceAlreadyExistsException(namespace)
    java.nio.file.Files.createDirectories(warehouse.resolve(namespace.mkString("/")))
  }

  override def alterNamespace(namespace: Array[String], changes: NamespaceChange*): Unit =
    throw new UnsupportedOperationException("ALTER NAMESPACE not supported")

  override def dropNamespace(namespace: Array[String], cascade: Boolean): Boolean = {
    if (!namespaceExists(namespace)) return false
    if (!cascade && listTables(namespace).nonEmpty)
      throw new IllegalStateException(s"namespace ${namespace.mkString(".")} is not empty")
    CellStore.dropTable(warehouse.resolve(namespace.mkString("/")).toString)
    true
  }
}
