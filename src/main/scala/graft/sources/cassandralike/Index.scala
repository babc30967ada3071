package graft.sources.cassandralike

import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.sources.{And, EqualTo, Filter, GreaterThan,
  GreaterThanOrEqual, In, LessThan, LessThanOrEqual, Or, StringStartsWith}
import org.apache.spark.sql.types._

/** Secondary (value → row key) indexes over regular-mapping cell columns —
  * the store-level answer to "find the rows where c = v" without scanning
  * every bucket, shaped like Cassandra's per-table 2i: each indexed column
  * gets its own cell sub-store (`<table>/idx_<col>/`) whose row key is the
  * ENCODED CELL VALUE and whose cells are the base row keys carrying it.
  *
  * Soundness rests on two invariants, not on index freshness:
  *   1. SUPERSET: every (value, key) ever written is in the index (index
  *      segments commit BEFORE their base segments, so no committed base
  *      cell lacks its entry), and entries are never removed — an
  *      overwritten or deleted row just leaves a stale entry behind.
  *   2. EXACT RE-FILTER: the scan only ever uses the index to SHRINK the
  *      key set it reads (a planning-time In(key, candidates) translation);
  *      the original value predicate stays in the plan as a residual
  *      filter Spark re-applies exactly. A stale candidate therefore costs
  *      one pruned point read, never a wrong row.
  * The same two invariants are why Cassandra's 2i read path re-validates
  * hits against the base row instead of trusting the index.
  *
  * Scale shape: an equality lookup routes to ONE index bucket (token of the
  * value bytes) and seeks it through the run index and per-run blooms like
  * any point read; a RANGE lookup visits every index bucket (values hash
  * across them) but SEEKS each one to the `[lo, hi)` slice of its postings
  * via the run index — made possible by the order-preserving key encoding
  * below — so cost is O(buckets · log + matching postings), never a
  * postings scan. Both paths then plan the base scan restricted to the
  * candidate keys: O(matching rows), independent of table size. A
  * `index.max.candidates` budget bounds the driver-side key list; a lookup
  * that exceeds it abandons the index (full scan — same rows, no wrong
  * result, no unbounded driver memory). `index.columns` is a layout
  * property: it must be declared before the first write (a later-added
  * index would silently miss existing rows — rejected the same way
  * bucket-count changes are). */
object Index {

  /** The sub-store holding one column's index. */
  def dir(tableDir: String, colName: String): String = s"$tableDir/idx_$colName"

  /** Index KEY-ENCODING version, stamped into `idx_<col>/FORMAT` at commit.
    * The encoded value bytes determine both token-bucket routing and the
    * order the run indexes seek by, so an index written under a different
    * encoding silently returns FALSE NEGATIVES — the one failure the index
    * must never produce. v2 = order-preserving binary transform
    * ([[orderPreserving]]). Writers REJECT a mismatched store (rebuild it:
    * truncate + rewrite, or re-create the table); readers ABANDON it (full
    * base scan — same rows, slower), so a stale store can never drop rows. */
  val KeyFormatVersion = 2
  private val FormatFile = "FORMAT"

  /** Stamp the key-format marker (first commit creates it); a store carrying
    * a DIFFERENT version is rejected — appending segments under a new
    * encoding to an old store would split postings for one value across two
    * byte forms, and every probe under either form would miss half. */
  def stampFormat(idxDir: String): Unit = {
    val p = java.nio.file.Paths.get(idxDir, FormatFile)
    if (java.nio.file.Files.exists(p)) {
      val v = new String(java.nio.file.Files.readAllBytes(p),
        java.nio.charset.StandardCharsets.UTF_8).trim
      require(v == KeyFormatVersion.toString,
        s"index store $idxDir has key-format $v, this writer emits " +
          s"$KeyFormatVersion — rebuild the index (truncate + rewrite)")
    } else {
      java.nio.file.Files.createDirectories(p.getParent)
      java.nio.file.Files.write(p, KeyFormatVersion.toString.getBytes(
        java.nio.charset.StandardCharsets.UTF_8))
    }
  }

  /** Whether the store's stamped key-format matches this reader. False
    * (missing or mismatched) = the lookup abandons the index — never trusts
    * bytes encoded under a different transform. */
  private[cassandralike] def formatOk(idxDir: String): Boolean = {
    val p = java.nio.file.Paths.get(idxDir, FormatFile)
    java.nio.file.Files.exists(p) &&
      new String(java.nio.file.Files.readAllBytes(p),
        java.nio.charset.StandardCharsets.UTF_8).trim == KeyFormatVersion.toString
  }

  /** Planning-probe instrumentation (tests): buckets whose cell data was
    * actually opened by the last range lookup — the skip proof. */
  private[graft] val bucketsOpened = new java.util.concurrent.atomic.AtomicInteger(0)

  /** Planning-walk observability (ADVICE/VERDICT r15 #6): a timed-out or
    * budget-aborted walk silently declines to a full scan — correct but
    * invisible except by timing. These JVM-wide counters make a
    * misconfigured `index.walk.timeout.ms` or a stalling filesystem show
    * up as numbers instead of as mysteriously slow queries:
    * attempted = range walks started, timedOut = declined on expiry (or
    * disabled outright by a non-positive timeout), declined = over-budget
    * or partial walks that fell back to the scan. */
  private[graft] val walksAttempted = new java.util.concurrent.atomic.AtomicInteger(0)
  private[graft] val walksTimedOut = new java.util.concurrent.atomic.AtomicInteger(0)
  private[graft] val walksDeclined = new java.util.concurrent.atomic.AtomicInteger(0)

  /** Build (or REBUILD) one column's index from the table's existing data —
    * what lets `ALTER TABLE SET ('index.columns'=...)` add an index to an
    * OCCUPIED table (Cassandra's CREATE INDEX + rebuild_index), where the
    * completeness invariant ("every committed base cell has its entry") is
    * established by scanning the base instead of by having indexed every
    * write.
    *
    * Runs as a DISTRIBUTED job: the base table is read through the DSv2
    * scan (token-range partitions, key-range sub-splits), postings map
    * row-locally to (encoded value → key bytes) — the exact bytes the
    * organic write path stages, byte-compatible with every probe — and
    * land through the DSv2 writer into the sub-store (same bucket count,
    * so token routing agrees with [[lookupOne]]). The sub-store is written
    * as a transposed binary table, which IS the index's cell shape.
    *
    * Crash safety: the index only becomes LIVE when the caller commits the
    * meta change adding it to `index.columns` — a crash mid-rebuild leaves
    * an unreferenced sub-store, never a live index missing rows. Runs
    * under the store's single-maintainer discipline (no concurrent base
    * writers), like compaction. */
  def rebuild(spark: org.apache.spark.sql.SparkSession, tableDir: String,
      mapping: ColumnMapping, tableProps: Map[String, String],
      colName: String): Unit = {
    import org.apache.spark.sql.functions.{col => c}
    val idxDir = dir(tableDir, colName)
    val textEnc = tableProps.get(Options.Encoding).contains("text")
    val buckets = tableProps.get(Options.Buckets).map(_.toInt)
      .getOrElse(Options.DefaultBuckets)
    val f = mapping.fields.find(_.name == colName).getOrElse(
      throw new IllegalArgumentException(s"no such column to index: $colName"))
    val dt = f.dataType
    val keyName = mapping.keyField.name
    val keyDt = mapping.keyField.dataType
    CellStore.dropTable(idxDir)
    CellStore.writeMeta(idxDir, CellStore.Meta(
      "row_key BINARY,column_name BINARY,value BINARY", ":key,:column,:value",
      Map(Options.Buckets -> buckets.toString)))
    stampFormat(idxDir)
    val base = spark.read.format("cassandralike")
      .option(Options.Path, tableDir).load()
      .select(c(keyName), c(colName))
      .filter(c(colName).isNotNull)
    val enc3 = org.apache.spark.sql.Encoders.tuple(
      org.apache.spark.sql.Encoders.BINARY,
      org.apache.spark.sql.Encoders.BINARY,
      org.apache.spark.sql.Encoders.BINARY)
    base.map { r =>
      val kCat = CatalystTypeConverters.convertToCatalyst(r.get(0))
      val vCat = CatalystTypeConverters.convertToCatalyst(r.get(1))
      // column_name = the base key under the TABLE's encoding — the exact
      // bytes the organic write path stages (CassandraLikeWrite encodeValue)
      val keyBytes =
        if (textEnc) Codecs.encodeText(keyDt, kCat) else Codecs.encode(keyDt, kCat)
      (encodeKey(dt, vCat, textEnc), keyBytes, Array.emptyByteArray)
    }(enc3).toDF("row_key", "column_name", "value")
      .write.format("cassandralike")
      .mode(org.apache.spark.sql.SaveMode.Append)
      .option(Options.Path, idxDir)
      .option(Options.WriteTimestamp, "1")
      .save()
  }

  /** Index-key encoding: the cell-value codec plus float/double
    * normalization and an order-preserving byte transform, applied
    * identically on write and lookup.
    *
    * Normalization: SQL equality makes -0.0 = 0.0 true and Spark treats NaN
    * as self-equal, but raw IEEE bits differ — un-normalized, a -0.0 probe
    * would MISS +0.0 postings (a false negative, the one failure the index
    * must never produce).
    *
    * Order preservation (binary encoding): unsigned-byte order over the
    * transformed bytes equals SQL value order, so range probes can seek
    * instead of scan — see [[orderPreserving]]. */
  def encodeKey(dt: DataType, cat: Any, textEncoding: Boolean): Array[Byte] = {
    val n = cat match {
      case d: java.lang.Double =>
        if (d.isNaN) java.lang.Double.valueOf(Double.NaN)
        else if (d == 0.0d) java.lang.Double.valueOf(0.0d) else d
      case f: java.lang.Float =>
        if (f.isNaN) java.lang.Float.valueOf(Float.NaN)
        else if (f == 0.0f) java.lang.Float.valueOf(0.0f) else f
      case other => other
    }
    if (textEncoding) Codecs.encodeText(dt, n)
    else orderPreserving(dt, Codecs.encode(dt, n))
  }

  /** The one LOSSY binary encode among the indexable types: TimestampType
    * micros marshal to epoch MILLIS (reference fidelity — stored values
    * are always millisecond multiples). A probe value with sub-millisecond
    * residue can therefore equal NO stored value: equality/IN points drop
    * (they match nothing), and range bounds tighten to the equivalent
    * aligned strict form (see [[rangeLookup]]) so the encoded seek window
    * stays EXACT instead of dropping or over-admitting the boundary
    * millisecond's rows. */
  private[cassandralike] def lossyPoint(dt: DataType, cat: Any): Boolean =
    dt == TimestampType && Math.floorMod(cat.asInstanceOf[Long], 1000L) != 0L

  /** Monotone byte transform over the fixed-width big-endian encodings:
    * integrals flip the sign bit (two's complement negatives then sort
    * below positives in unsigned order); floats use the classic IEEE total
    * order map (negative → flip all bits, reversing the backwards negative
    * range; non-negative → set the sign bit), which also places NaN above
    * +Inf — matching Spark's NaN-greatest comparison semantics. Strings,
    * binary, and booleans are order-preserving as encoded. */
  private def orderPreserving(dt: DataType, b: Array[Byte]): Array[Byte] =
    dt match {
      case IntegerType | LongType | TimestampType =>
        val c = b.clone(); c(0) = (c(0) ^ 0x80).toByte; c
      case FloatType | DoubleType =>
        val c = b.clone()
        if ((c(0) & 0x80) != 0) {
          var i = 0; while (i < c.length) { c(i) = (~c(i)).toByte; i += 1 }
        } else c(0) = (c(0) ^ 0x80).toByte
        c
      case _ => b
    }

  /** Inverse of [[encodeKey]]: the Catalyst value a posting's key bytes
    * decode to. Exact for every STORED value under the BINARY encoding —
    * the absorbed types encode injectively, and the one lossy case
    * (timestamps, micros→millis) stores only millisecond-aligned values,
    * which round-trip. Under the TEXT encoding the inverse is
    * Codecs.decode's width-sniffing dual decode, which is exact for
    * strings/binary/boolean but can take the binary branch on a numeric
    * whose decimal rendering happens to be 4 or 8 characters (e.g. long
    * 10000000) — the SAME dual decode the base reader applies to the
    * cell's value bytes, so every consumer (the grouped-aggregate group
    * keys here, the fold's rows) sees one consistent value and
    * positional == fold holds; the caveat is the coupling, not a
    * divergence (ADVICE r14; IndexSpec pins an 8-digit text-encoded
    * numeric both ways). Feeds the grouped RANGE-aggregate path, whose
    * group keys are the postings' values. */
  private[cassandralike] def decodeKey(dt: DataType, ek: Array[Byte],
      textEncoding: Boolean): Any =
    if (textEncoding) Codecs.decode(dt, ek)
    else Codecs.decode(dt, orderPreservingInverse(dt, ek))

  private def orderPreservingInverse(dt: DataType, b: Array[Byte]): Array[Byte] =
    dt match {
      case IntegerType | LongType | TimestampType =>
        val c = b.clone(); c(0) = (c(0) ^ 0x80).toByte; c
      case FloatType | DoubleType =>
        // forward: negatives flip ALL bits (encoded sign bit becomes 0),
        // non-negatives set the sign bit (encoded sign bit 1) — so the
        // encoded sign bit tells which branch to invert
        val c = b.clone()
        if ((c(0) & 0x80) != 0) c(0) = (c(0) ^ 0x80).toByte
        else { var i = 0; while (i < c.length) { c(i) = (~c(i)).toByte; i += 1 } }
        c
      case _ => b
    }

  /** Whether unsigned-byte order over encoded index keys equals SQL value
    * order — the precondition for seeking a value range through the run
    * index. Binary encodings qualify when [[orderPreserving]] covers the
    * type (or the marshal is already byte-ordered: strings, binary,
    * boolean); DECIMAL does NOT — its marshal is a scale prefix plus
    * VARIABLE-LENGTH unscaled two's-complement bytes, where 100 (0x64)
    * sorts above 1000 (0x03E8), so a seek would skip matching postings
    * (false negatives, the one failure the index must never produce) —
    * decimal ranges take the scan-and-recheck path below instead. Text
    * renders numerics as decimal strings ("10" < "9"), leaving only the
    * identity-rendered types ("false" < "true" happens to hold). */
  private def seekable(dt: DataType, textEncoding: Boolean): Boolean =
    if (textEncoding) dt match {
      case StringType | BinaryType | BooleanType => true
      case _ => false
    } else dt match {
      case IntegerType | LongType | TimestampType | FloatType | DoubleType |
           StringType | BinaryType | BooleanType => true
      case _ => false
    }

  /** Validated indexed column set from `index.columns` (comma list of
    * schema column names; regular mappings only, named cells only). */
  def columns(mapping: ColumnMapping, opt: String => Option[String]): Set[String] = {
    val listed = opt(Options.IndexColumns)
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
      .getOrElse(Set.empty)
    if (listed.isEmpty) return Set.empty
    require(!mapping.transposed,
      "index.columns requires a regular (non-transposed) mapping")
    val cells = mapping.cellFields.map(_.name).toSet
    val unknown = listed -- cells
    require(unknown.isEmpty,
      s"index.columns names non-cell columns: ${unknown.mkString(", ")}")
    listed
  }

  /** One pushed predicate on an indexed column, as the index answers it:
    * equality/IN value [[Points]], or one [[Bound]] — a comparison (`>`,
    * `>=`, `<`, `<=`) or a LIKE-prefix, the postings range
    * [p, prefixSucc(p)) (the string encoding is the identity under both
    * marshals, so byte-prefix containment IS value-prefix containment). */
  sealed trait Leaf { def col: String }
  final case class Points(col: String, values: Seq[Any]) extends Leaf
  final case class Bound(col: String, bound: Filter) extends Leaf

  /** The one indexed-leaf classifier: `f` on a column of `idxCols`, or
    * None for anything else — a null value, an empty IN, a prefix on a
    * non-string column, an Or/And tree, a non-indexed column. */
  def leaf(f: Filter, idxCols: Set[String], dtOf: String => DataType): Option[Leaf] =
    f match {
      case EqualTo(c, v) if idxCols(c) && v != null => Some(Points(c, Seq(v)))
      case In(c, vs) if idxCols(c) && vs != null && vs.nonEmpty =>
        Some(Points(c, vs.toSeq))
      case GreaterThan(c, v) if idxCols(c) && v != null => Some(Bound(c, f))
      case GreaterThanOrEqual(c, v) if idxCols(c) && v != null => Some(Bound(c, f))
      case LessThan(c, v) if idxCols(c) && v != null => Some(Bound(c, f))
      case LessThanOrEqual(c, v) if idxCols(c) && v != null => Some(Bound(c, f))
      case StringStartsWith(c, p) if idxCols(c) && p != null &&
        dtOf(c) == StringType => Some(Bound(c, f))
      case _ => None
    }

  /** Whether `p` holds for every leaf under `f`'s Or/And nesting. */
  def everyLeaf(f: Filter)(p: Filter => Boolean): Boolean = f match {
    case Or(l, r) => everyLeaf(l)(p) && everyLeaf(r)(p)
    case And(l, r) => everyLeaf(l)(p) && everyLeaf(r)(p)
    case other => p(other)
  }

  /** The columns `f` proves non-null on every row it admits: a leaf's
    * column and every column an And references, but for a disjunction
    * only the columns EVERY branch constrains (`a = 1 OR a > 5` ⇒
    * `a IS NOT NULL`, the shape Catalyst infers IsNotNull from; a column
    * in just one branch implies nothing). */
  def nonNullCols(f: Filter): Set[String] = f match {
    case Or(l, r) => nonNullCols(l) intersect nonNullCols(r)
    case other => other.references.toSet
  }

  /** A points leaf's DISTINCT encoded values, each with its Catalyst value
    * (absorbed types encode injectively, so distinct bytes are distinct
    * SQL values). Nulls drop, and so do the points the encode cannot
    * represent (sub-millisecond timestamps, [[lossyPoint]]): stored values
    * are millisecond multiples, so such a probe matches no row. */
  def encodedPoints(p: Points, dt: DataType, textEnc: Boolean): Seq[(Array[Byte], Any)] = {
    val seen = collection.mutable.Set.empty[Seq[Byte]]
    p.values.flatMap { v =>
      val cat = CatalystTypeConverters.convertToCatalyst(v)
      if (cat == null || lossyPoint(dt, cat)) None
      else {
        val ek = encodeKey(dt, cat, textEnc)
        if (seen.add(ek.toSeq)) Some((ek, cat)) else None
      }
    }
  }

  /** Where a resolution looks and how far it may go: the table's index
    * stores, their value encoding and bucket count, the candidate budget
    * and the range-walk timeout. `pinned`, when non-null, maps each column
    * to the index listing a proof judged (null for an unproven column,
    * whose leaves then fail: a fresh, unproven listing or "no postings"
    * would under-count); otherwise every lookup lists the store afresh. */
  final case class Lookup(tableDir: String, idxCols: Set[String],
      dtOf: String => DataType, textEnc: Boolean, buckets: Int, budget: Int,
      timeoutMs: Long,
      pinned: String => Map[Int, Seq[java.nio.file.Path]] = null) {

    private def files(c: String): Option[Map[Int, Seq[java.nio.file.Path]]] =
      if (pinned == null) Some(null) else Option(pinned(c))

    /** Each distinct point's Catalyst value and base-key postings, from one
      * bloom-pruned point read per value on its routed index bucket; None
      * past the budget (counted over every point, while resolving, so an
      * oversized IN never materializes |IN| × budget keys), on a stale
      * index format, or on an unproven column. */
    def pointKeys(p: Points): Option[Seq[(Any, Vector[Array[Byte]])]] = {
      val idxDir = dir(tableDir, p.col)
      if (!formatOk(idxDir)) return None
      val fb = files(p.col).getOrElse(return None)
      var total = 0
      Some(encodedPoints(p, dtOf(p.col), textEnc).map { case (ek, cat) =>
        val ks = lookupOne(idxDir, ek, buckets, budget, fb).getOrElse(return None)
        total += ks.size
        if (total > budget) return None
        (cat, ks)
      })
    }

    /** The keys whose `c` value satisfies every bound, from ONE postings
      * window walk ([[rangeLookup]]). */
    def boundKeys(c: String, bounds: Seq[Filter]): Option[Set[Seq[Byte]]] = {
      val idxDir = dir(tableDir, c)
      if (!formatOk(idxDir)) None
      else files(c).flatMap(fb => rangeLookup(idxDir, dtOf(c), textEnc, c,
        bounds, buckets, budget, fb, timeoutMs))
    }

    def keys(l: Leaf): Option[Set[Seq[Byte]]] = l match {
      case p: Points => pointKeys(p).map(_.iterator.flatMap(_._2).map(_.toSeq).toSet)
      case b: Bound => boundKeys(b.col, Seq(b.bound))
    }
  }

  object Lookup {
    /** `table`'s index settings under the read `options`. */
    def of(table: CassandraLikeTable, options: Map[String, String]): Lookup = {
      val opt = (k: String) => table.opt(options, k)
      Lookup(table.dir, columns(table.mapping, opt),
        c => table.tableSchema(c).dataType,
        textEnc = opt(Options.Encoding).contains("text"),
        buckets = opt(Options.Buckets).map(_.toInt).getOrElse(Options.DefaultBuckets),
        budget = opt(Options.IndexMaxCandidates).map(_.toInt)
          .getOrElse(Options.DefaultIndexMaxCandidates),
        timeoutMs = opt(Options.IndexWalkTimeoutMs).map(_.toLong)
          .getOrElse(Options.DefaultIndexWalkTimeoutMs))
    }
  }

  /** A conjunction's candidate keys and the conjuncts they leave unchecked:
    * every matching row's key is in `keys`, and the keys that satisfy
    * `residual` are exactly the matching rows' keys when the postings are
    * a bijection onto the base cells (the indexed aggregates' proof). */
  final case class Resolved(keys: Set[Seq[Byte]], residual: Seq[Filter])

  /** The one resolver of indexed predicates, over a flat list of pushed
    * conjuncts, in this order:
    *   1. equality/IN leaves, each one bucket-routed point read per value
    *      — far cheaper than a range's all-bucket walk;
    *   2. each column's bounds as ONE window walk, wherever they sit in
    *      the list (resolving `a >= x AND a <= y` as two walks would scan
    *      each open side whole — the lower bound's walk alone can blow the
    *      budget a tight window fits in);
    *   3. disjunctions: an Or unions its branches' keys and needs EVERY
    *      branch to resolve (a branch admitting unknown rows would make the
    *      union an under-approximation), an And inside it resolves as a
    *      conjunction; a row matching several branches appears once.
    * The steps intersect and stop at the first empty intersection (no row
    * can match; nothing is left to check). A step over the budget, and
    * every conjunct that is no indexed predicate, lands in the residual,
    * as does an Or resolved only as a superset (some And inside it left a
    * conjunct unresolved). None = nothing resolved. */
  def resolve(conjuncts: Seq[Filter], l: Lookup): Option[Resolved] = {
    val leaves = conjuncts.map(f => (f, leaf(f, l.idxCols, l.dtOf)))
    val boundCols = leaves.collect { case (_, Some(b: Bound)) => b.col }.distinct
    // (the conjuncts a step covers, its keys and whether they are exact)
    val steps: Seq[(Seq[Filter], () => Option[(Set[Seq[Byte]], Boolean)])] =
      leaves.collect { case (f, Some(p: Points)) =>
        (Seq(f), () => l.keys(p).map(_ -> true))
      } ++ boundCols.map { c =>
        val fs = leaves.collect { case (f, Some(Bound(`c`, _))) => f }
        (fs, () => l.boundKeys(c, fs).map(_ -> true))
      } ++ leaves.collect { case (o: Or, _) => (Seq(o), () => tree(o, l)) }
    var keys: Set[Seq[Byte]] = null
    val residual = Seq.newBuilder[Filter]
    residual ++= leaves.collect { case (f, None) if !f.isInstanceOf[Or] => f }
    val it = steps.iterator
    while (it.hasNext && (keys == null || keys.nonEmpty)) {
      val (fs, run) = it.next()
      run() match {
        case Some((ks, exact)) =>
          keys = if (keys == null) ks else keys intersect ks
          if (!exact) residual ++= fs
        case None => residual ++= fs
      }
    }
    if (keys == null) None
    else Some(Resolved(keys, if (keys.isEmpty) Nil else residual.result()))
  }

  /** An Or/And tree's keys and whether they are exact ([[resolve]]). */
  private def tree(f: Filter, l: Lookup): Option[(Set[Seq[Byte]], Boolean)] = f match {
    case Or(a, b) =>
      for {
        (x, ex) <- tree(a, l)
        (y, ey) <- tree(b, l)
        u = x union y
        if u.size <= l.budget
      } yield (u, ex && ey)
    case _: And =>
      def conjuncts(g: Filter): Seq[Filter] = g match {
        case And(p, q) => conjuncts(p) ++ conjuncts(q)
        case other => Seq(other)
      }
      resolve(conjuncts(f), l).map(r => (r.keys, r.residual.isEmpty))
    case other => leaf(other, l.idxCols, l.dtOf).flatMap(l.keys).map(_ -> true)
  }

  /** Planning-time index shrink of a scan: the pushed filters [[resolve]]
    * to candidate keys — the residual is dropped, since the readers
    * (absorbed predicates) or Spark (residual ones) re-apply every pushed
    * predicate exactly — and become one In(key, candidates) filter
    * (possibly with an empty value list — a provably-empty scan), or
    * nothing when no indexed predicate is pushed, every lookup blew the
    * candidate budget, or the cost gate abandons the index. */
  def keyFilters(
      table: CassandraLikeTable,
      options: Map[String, String],
      filters: Array[Filter],
      baseCells: () => Long): Array[Filter] = {
    val l = Lookup.of(table, options)
    if (l.idxCols.isEmpty || !filters.exists(f =>
        f.isInstanceOf[Or] || leaf(f, l.idxCols, l.dtOf).isDefined))
      return Array.empty
    val pointCost = table.opt(options, Options.IndexPointCostCells).map(_.toLong)
      .getOrElse(Options.DefaultIndexPointCostCells)
    lazy val totalCells = baseCells()
    // crossover ceiling (ADVICE r14): past totalCells/pointCost candidates
    // the cost gate below abandons the index anyway, so the lookup budgets
    // cap THERE — an over-crossover lookup aborts DURING resolution,
    // bounding the planning-time index IO the gate exists to avoid,
    // instead of materializing every posting first. Division, not a
    // product, so extreme knob values can never overflow into a silently
    // disabled gate. (Conservative under conjunctions: a set the
    // intersection would have shrunk below crossover is dropped from the
    // intersection instead — still a sound superset, and exactly the
    // asymmetric-budget shape SURVEY §7.4 already routes to the fallback.)
    val budget =
      if (pointCost > 0) math.min(l.budget.toLong, totalCells / pointCost).toInt
      else l.budget
    val cands = resolve(filters.toSeq, l.copy(budget = budget))
      .getOrElse(return Array.empty).keys
    // COST gate (the candidate budget above is a driver MEMORY bound; this
    // is the crossover decision): the shrunk scan reads each candidate
    // with a run-index seek + bloom probes + a span walk per overlapping
    // run, while the full scan streams every cell once — past the
    // totalCells/pointCost crossover the shrunk job LOSES to the scan it
    // avoids (sf1 sweep, SURVEY §7.4 "Cost-based index-shrink cap").
    // Abandon the index there: same rows either way.
    if (pointCost > 0 && cands.size.toLong > totalCells / pointCost)
      return Array.empty
    val keyType = table.mapping.keyField.dataType
    // postings carry the BASE KEY's stored bytes — decode with the table's
    // key codec (ordered-key stores store sign-flipped integral bytes)
    val ext = cands.toSeq.map(kb =>
      CatalystTypeConverters.convertToScala(table.keyCodec.decode(kb.toArray), keyType))
    Array(In(table.mapping.keyField.name, ext.toArray))
  }

  /** One value's base-key postings: bloom-and-run-index-pruned point read
    * of the index bucket the value routes to. None = the postings exceeded
    * the candidate budget — checked DURING iteration, so a pathologically
    * hot value never materializes an unbounded driver-side list before the
    * budget is consulted. `filesByBucket`, when non-null, pins the probe
    * to an explicit per-bucket file map (the indexed-aggregate context's
    * proof-walk listing — possibly an AS-OF covered subset) instead of a
    * fresh directory listing. */
  private def lookupOne(idxDir: String, ek: Array[Byte],
      buckets: Int, budget: Int,
      filesByBucket: Map[Int, Seq[java.nio.file.Path]] = null)
    : Option[Vector[Array[Byte]]] = {
    val b = TokenRing.bucket(ek, buckets)
    if (filesByBucket != null && !filesByBucket.contains(b))
      return Some(Vector.empty) // no (covered) segments can hold postings
    val it = new CellStore.BucketMergeIterator(idxDir, b, KeyWindows.points(Seq(ek)),
      onlyFiles = if (filesByBucket == null) null else filesByBucket(b))
    try {
      val out = Vector.newBuilder[Array[Byte]]
      var n = 0
      while (it.hasNext) {
        val c = it.next()
        if (java.util.Arrays.equals(c.key, ek)) {
          n += 1
          if (n > budget) return None
          out += c.col
        }
      }
      Some(out.result())
    } finally it.close()
  }

  /** Base-key candidates whose value satisfies every bound — the key-only
    * view of [[rangeWalk]] the scan path consumes. */
  private def rangeLookup(idxDir: String, dt: DataType,
      textEnc: Boolean,
      colName: String, bounds: Seq[Filter], buckets: Int,
      budget: Int,
      filesByBucket: Map[Int, Seq[java.nio.file.Path]] = null,
      timeoutMs: Long = Options.DefaultIndexWalkTimeoutMs)
    : Option[Set[Seq[Byte]]] =
    rangeWalk(idxDir, dt, textEnc, colName, bounds, buckets, budget,
      filesByBucket, timeoutMs).map(_.iterator.map(_._2.toSeq).toSet)

  /** Per-VALUE candidate groups whose value satisfies every bound — the
    * grouped range-aggregate form ("histogram per source over a value
    * window"): the postings walk keeps the value bytes, so one seek
    * yields the groups and their base keys together. A value's postings
    * live in exactly one bucket (value-hash routing), so per-bucket
    * grouping composes by concatenation. */
  private[cassandralike] def rangeLookupGrouped(idxDir: String, dt: DataType,
      textEnc: Boolean,
      colName: String, bounds: Seq[Filter], buckets: Int,
      budget: Int,
      filesByBucket: Map[Int, Seq[java.nio.file.Path]] = null,
      timeoutMs: Long = Options.DefaultIndexWalkTimeoutMs)
    : Option[Seq[(Array[Byte], Seq[Array[Byte]])]] =
    rangeWalk(idxDir, dt, textEnc, colName, bounds, buckets, budget,
      filesByBucket, timeoutMs).map { pairs =>
      val m = collection.mutable.LinkedHashMap
        .empty[Seq[Byte], Vector[Array[Byte]]]
      pairs.foreach { case (v, k) =>
        val key = v.toSeq
        m.put(key, m.getOrElse(key, Vector.empty) :+ k)
      }
      m.iterator.map { case (v, ks) => (v.toArray, ks: Seq[Array[Byte]]) }
        .toSeq
    }

  /** (encoded value, base key) postings whose value satisfies every bound
    * in `bounds` (a conjunction over one column). Values hash across index
    * buckets, so all buckets are visited; when the key encoding is
    * order-preserving each visit SEEKS the `[lo, hi)` slice through the
    * run index (cost = matching postings), otherwise it scans the bucket's
    * narrow postings and re-checks the decoded value through the exact
    * FilterEval comparators. None = the walk exceeded the budget — the
    * caller falls back to a full base scan instead of materializing an
    * unbounded list on the driver. `filesByBucket`, when non-null, pins
    * the walk to an explicit per-bucket file map (the indexed-aggregate
    * proof-walk listing — possibly an AS-OF covered subset) instead of a
    * fresh directory listing. */
  private def rangeWalk(idxDir: String, dt: DataType,
      textEnc: Boolean,
      colName: String, bounds: Seq[Filter], buckets: Int,
      budget: Int,
      filesByBucket: Map[Int, Seq[java.nio.file.Path]],
      timeoutMs: Long)
    : Option[Vector[(Array[Byte], Array[Byte])]] = {
    walksAttempted.incrementAndGet()
    // non-positive timeout = planning walks disabled outright (the
    // deterministic form of "declined on expiry" — also what specs pin)
    if (timeoutMs <= 0) { walksTimedOut.incrementAndGet(); return None }
    def enc(v: Any): Array[Byte] =
      encodeKey(dt, CatalystTypeConverters.convertToCatalyst(v), textEnc)
    def succ(b: Array[Byte]): Array[Byte] =
      java.util.Arrays.copyOf(b, b.length + 1)
    val seek = seekable(dt, textEnc)
    // a bound the encode cannot represent (sub-millisecond timestamp:
    // stored values are all ms-multiples) tightens to the equivalent
    // ALIGNED strict/inclusive form — `>= b` ⇔ `> floor(b)`, `< b` ⇔
    // `<= floor(b)` — keeping the window EXACT: the naive `hi = enc(b)`
    // for `< b` would exclude the rows AT floor(b), a FALSE NEGATIVE (the
    // one failure the index must never produce), and `lo = enc(b)` for
    // `>= b` would admit them where they don't match
    def lossy(v: Any): Boolean =
      lossyPoint(dt, CatalystTypeConverters.convertToCatalyst(v))
    // tightest seek window under byte order (= value order when seekable):
    // highest lower bound, lowest upper bound; hi is exclusive, so
    // inclusive uppers (and exclusive lowers) take the key's successor
    var lo: Array[Byte] = null
    var hi: Array[Byte] = null
    if (seek) bounds.foreach {
      case GreaterThan(_, v) =>
        val b = succ(enc(v)); if (lo == null || Codecs.compareBytes(b, lo) > 0) lo = b
      case GreaterThanOrEqual(_, v) =>
        val b = if (lossy(v)) succ(enc(v)) else enc(v)
        if (lo == null || Codecs.compareBytes(b, lo) > 0) lo = b
      case LessThan(_, v) =>
        val b = if (lossy(v)) succ(enc(v)) else enc(v)
        if (hi == null || Codecs.compareBytes(b, hi) < 0) hi = b
      case LessThanOrEqual(_, v) =>
        val b = succ(enc(v)); if (hi == null || Codecs.compareBytes(b, hi) < 0) hi = b
      // LIKE-prefix: exactly the strings in [p, prefixSucc(p)) — the
      // string encoding is the identity under both marshals, so encoded
      // byte-prefix containment IS value-prefix containment. A null
      // prefixSucc (empty / all-0xFF prefix) leaves the upper side open.
      case StringStartsWith(_, p) =>
        val b = enc(p)
        if (lo == null || Codecs.compareBytes(b, lo) > 0) lo = b
        val ps = Codecs.prefixSucc(b)
        if (ps != null && (hi == null || Codecs.compareBytes(ps, hi) < 0))
          hi = ps
      case _ =>
    }
    // non-seekable: the decoded re-check carries the whole predicate (the
    // stored bytes are the untransformed text rendering, so Codecs.decode
    // round-trips them; FilterEval supplies the SQL comparison semantics)
    val checks: Seq[Map[String, Any] => Boolean] =
      if (seek) Nil else bounds.map(FilterEval.compile)
    // One directory listing for the whole store; buckets are then pruned
    // and visited INDEPENDENTLY:
    //   - skip: a bucket none of whose segments' run-index key bounds
    //     intersect [lo, hi) is provably posting-free and is never opened
    //     (bounds come from the memoized index blocks — no cell data read).
    //     Sound only under byte order = value order, i.e. `seek`.
    //   - parallel: the surviving seeks fan out over a task-per-bucket
    //     Future pool instead of a serial driver loop — the r6 soft spot —
    //     so planning latency is the SLOWEST bucket, not the sum.
    // The budget counts SCANNED postings, not just matching ones (shared
    // atomically across buckets): a lookup that iterates more than `budget`
    // postings has stopped being cheaper than the distributed full scan it
    // is trying to avoid, so it aborts to the fallback — bounding
    // planning-time IO and driver memory alike (on the seekable path every
    // scanned posting matches, so this is the old check; on the text path
    // it caps the decode-and-reject sweep a huge index could stall on).
    val bucketFiles =
      if (filesByBucket != null) filesByBucket
      else CellStore.allSegmentFiles(idxDir)
    val toVisit = (0 until buckets).flatMap(b => bucketFiles.get(b).map(b -> _))
      .filter { case (_, files) =>
        !seek || files.exists { f =>
          val (mn, mx) = CellStore.meta(f).keyBounds
          mn != null &&
            (hi == null || Codecs.compareBytes(mn, hi) < 0) &&
            (lo == null || Codecs.compareBytes(mx, lo) >= 0)
        }
      }
    val scanned = new java.util.concurrent.atomic.AtomicInteger(0)
    // expiry/abort flag: a timed-out walk must not leave zombie bucket
    // tasks grinding through postings on the pool after the planner has
    // already declined to the scan fallback
    val aborted = new java.util.concurrent.atomic.AtomicBoolean(false)
    // in-flight iterators, so the ABORTING thread can close them: the
    // cooperative flag alone cannot unblock a task stalled INSIDE a read —
    // it would occupy one of the pool's fixed threads forever, and a few
    // such stalls would starve every later walk in the JVM (ADVICE r15).
    // FileChannel.close is thread-safe and idempotent; the stalled read
    // throws ClosedChannelException, failing only that bucket's future
    // (already abandoned — the walk has returned None by then).
    val inFlight =
      java.util.concurrent.ConcurrentHashMap.newKeySet[CellStore.BucketMergeIterator]()
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.{Duration, MILLISECONDS}
    implicit val ec: scala.concurrent.ExecutionContext = walkPool
    val perBucket: Seq[Option[Vector[(Array[Byte], Array[Byte])]]] =
      try Await.result(Future.sequence(toVisit.map { case (b, files) => Future {
        if (aborted.get() || scanned.get() > budget) None // already aborted
        else {
          bucketsOpened.incrementAndGet()
          val it = new CellStore.BucketMergeIterator(idxDir, b,
            KeyWindows.span(lo, hi), onlyFiles = files)
          inFlight.add(it)
          try {
            val out = Vector.newBuilder[(Array[Byte], Array[Byte])]
            var ok = true
            while (ok && !aborted.get() && it.hasNext) {
              val c = it.next()
              if (scanned.incrementAndGet() > budget) ok = false
              else if (checks.isEmpty ||
                  checks.forall(_(Map(colName -> Codecs.decode(dt, c.key)))))
                out += ((c.key, c.col))
            }
            if (ok && !aborted.get()) Some(out.result()) else None
          } finally { inFlight.remove(it); it.close() }
        }
      } }), Duration(timeoutMs, MILLISECONDS))
      catch {
        // a stalled read fails the WALK, never planning (ADVICE r14): the
        // caller declines to the scan fallback — same rows, no hang
        case _: java.util.concurrent.TimeoutException =>
          aborted.set(true)
          walksTimedOut.incrementAndGet()
          inFlight.forEach { it =>
            try it.close() catch { case _: Exception => () }
          }
          return None
      }
    if (perBucket.exists(_.isEmpty)) { walksDeclined.incrementAndGet(); None }
    else Some(perBucket.iterator.flatMap(_.get).toVector)
  }

  /** Dedicated planning-IO pool for index walks (ADVICE r14): bucket seeks
    * must not occupy — or deadlock behind — the global pool shared with
    * Spark's own driver-side callbacks, and a bounded pool keeps one
    * pathological walk from fanning out unboundedly. Daemon threads so an
    * exiting application never blocks on it. */
  private lazy val walkPool: scala.concurrent.ExecutionContext = {
    val n = math.min(Runtime.getRuntime.availableProcessors(), 16).max(2)
    val tf = new java.util.concurrent.ThreadFactory {
      private val id = new java.util.concurrent.atomic.AtomicInteger(0)
      def newThread(r: Runnable): Thread = {
        val t = new Thread(r, s"cassandralike-index-walk-${id.incrementAndGet()}")
        t.setDaemon(true)
        t
      }
    }
    scala.concurrent.ExecutionContext.fromExecutorService(
      java.util.concurrent.Executors.newFixedThreadPool(n, tf))
  }
}
