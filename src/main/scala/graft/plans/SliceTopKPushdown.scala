package graft.plans

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan, Project, Window}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
import org.apache.spark.sql.types.{BinaryType, IntegerType, LongType, StringType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.sources.cassandralike.{CassandraLikeTable, FieldRole, Options}

/** Catalyst rule: per-key top-k over a transposed cassandralike table is the
  * native form of the reference's slice predicate (P2: per-row cell-range
  * scan with `reversed` order and a `count` cap, executed server-side —
  * input/HiveCassandraStandardColumnInputFormat.java:73-94 in
  * /root/reference). SURVEY §4 lists this rewrite as the one remaining
  * optional Catalyst piece: map
  *
  * {{{ row_number() OVER (PARTITION BY :key ORDER BY :column [DESC]) <= k }}}
  *
  * onto scan options `slice.count=k` (+ `slice.reversed` for DESC), so the
  * source stops materializing more than k cells per key instead of scanning
  * every cell and discarding all but k post-shuffle. The Window and Filter
  * operators are left in place — they recompute row_number over the ≤k
  * surviving cells per key, which keeps the rewrite semantically bulletproof
  * (any rn-column use above still works) while the data volume leaving the
  * scan drops from O(cells) to O(k · keys).
  *
  * Safety conditions (all required, conservative by design):
  *  - the window child is the relation, a pure-attribute Project of it, or a
  *    Filter (optionally Project-wrapped) whose EVERY conjunct the slice can
  *    absorb while preserving SQL filter-then-topk order:
  *      - conjuncts referencing only the `:key` attribute are constant per
  *        window partition, so they commute with per-key top-k (a key group
  *        is either wholly kept or wholly dropped) and stay in place;
  *      - `:column >= 'lit'` / `:column <= 'lit'` conjuncts on a STRING
  *        column become `slice.start`/`slice.finish` scan options — the
  *        reader applies the slice BOUNDS before the count cap, exactly
  *        filter-then-topk (the Filter stays in place and re-applies,
  *        idempotently);
  *      - anything else (other columns, strict bounds, disjunctions) bails;
  *  - partition spec is exactly the mapping's `:key` field and order spec is
  *    exactly the `:column` field of a TRANSPOSED mapping;
  *  - the order column is STRING or BINARY, whose Spark ordering equals the
  *    store's unsigned-byte cell comparator (fixed-width numeric encodings
  *    would sort negatives wrong);
  *  - row_number only (rank/dense_rank admit ties and are not a slice), with
  *    a literal `<= k` / `< k` bound;
  *  - no slice.* option is already set on the relation or table (composing
  *    two slices is ambiguous — first slice wins, bail).
  */
object SliceTopKPushdown extends Rule[LogicalPlan] with PredicateHelper {

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case f @ Filter(_, child) => rewrite(f, child).getOrElse(f)
  }

  private def rewrite(f: Filter, child: LogicalPlan): Option[Filter] = {
    val (midProject, w) = child match {
      case w: Window => (None, w)
      case p @ Project(exprs, w: Window) if exprs.forall(_.isInstanceOf[Attribute]) =>
        (Some(p), w)
      case _ => return None
    }
    val (rnAttr, partAttr, sortOrder) = w.windowExpressions match {
      case Seq(a @ Alias(WindowExpression(RowNumber(),
          WindowSpecDefinition(Seq(part: AttributeReference), Seq(so), _)), _)) =>
        (a.toAttribute, part, so)
      case _ => return None
    }
    val ordAttr = sortOrder.child match {
      case attr: AttributeReference => attr
      case _ => return None
    }
    val k: Long = f.condition match {
      case LessThanOrEqual(r: AttributeReference, Literal(v: Int, IntegerType))
        if r.semanticEquals(rnAttr) => v.toLong
      case LessThanOrEqual(r: AttributeReference, Literal(v: Long, LongType))
        if r.semanticEquals(rnAttr) => v
      case LessThan(r: AttributeReference, Literal(v: Int, IntegerType))
        if r.semanticEquals(rnAttr) => v.toLong - 1
      case LessThan(r: AttributeReference, Literal(v: Long, LongType))
        if r.semanticEquals(rnAttr) => v - 1
      case _ => return None
    }
    if (k <= 0 || k > Int.MaxValue) return None

    // unwrap the window-to-relation chain: optional pure-attribute Project
    // and optional Filter, in either order; `wrapRel` rebuilds the same
    // chain over the slice-annotated relation
    def pureAttrs(es: Seq[NamedExpression]): Boolean = es.forall(_.isInstanceOf[Attribute])
    val (wrapRel, interCond, rel): (LogicalPlan => LogicalPlan, Option[Expression], DataSourceV2Relation) =
      w.child match {
        case r: DataSourceV2Relation =>
          ((np: LogicalPlan) => np, None, r)
        case p @ Project(es, r: DataSourceV2Relation) if pureAttrs(es) =>
          ((np: LogicalPlan) => p.copy(child = np), None, r)
        case fl @ Filter(c, r: DataSourceV2Relation) =>
          ((np: LogicalPlan) => fl.copy(child = np), Some(c), r)
        case p @ Project(es, fl @ Filter(c, r: DataSourceV2Relation)) if pureAttrs(es) =>
          ((np: LogicalPlan) => p.copy(child = fl.copy(child = np)), Some(c), r)
        case fl @ Filter(c, p @ Project(es, r: DataSourceV2Relation)) if pureAttrs(es) =>
          ((np: LogicalPlan) => fl.copy(child = p.copy(child = np)), Some(c), r)
        case _ => return None
      }
    val table = rel.table match {
      case t: CassandraLikeTable if t.mapping.transposed => t
      case _ => return None
    }
    // the window key/order must be THIS relation's :key / :column fields
    val keyName = table.mapping.keyField.name
    val colField = table.mapping.field(FieldRole.TransColumn)
    def isRelAttr(a: AttributeReference, name: String): Boolean =
      a.name == name && rel.output.exists(_.semanticEquals(a))
    if (!isRelAttr(partAttr, keyName) || !isRelAttr(ordAttr, colField.name)) return None
    // Spark ordering must equal the store's unsigned-byte comparator —
    // string/binary natively, any ordered-supported type under the
    // ordered column encoding
    colField.dataType match {
      case StringType | BinaryType => ()
      case _ if table.colCodec != null && table.colCodec.ordered => ()
      case _ => return None
    }
    // refuse to compose with an existing slice
    val sliceKeys = Seq(Options.SliceStart, Options.SliceFinish,
      Options.SliceReversed, Options.SliceCount)
    if (sliceKeys.exists(s => rel.options.containsKey(s) || table.tableProps.contains(s)))
      return None

    // absorb the intervening filter: every conjunct must either reference
    // only the partition key (constant per window group — commutes with
    // per-key top-k) or be an inclusive :column bound that maps onto
    // slice.start/slice.finish (the reader bounds the slice BEFORE the
    // count cap, preserving filter-then-topk); otherwise bail
    var sliceStart: Option[String] = None
    var sliceFinish: Option[String] = None
    interCond.foreach { cond =>
      splitConjunctivePredicates(cond).foreach { c =>
        if (!c.deterministic) return None
        else if (c.references.nonEmpty &&
          c.references.subsetOf(AttributeSet(partAttr))) () // key-only: sound in place
        else c match {
          case GreaterThanOrEqual(a: AttributeReference,
              Literal(s: org.apache.spark.unsafe.types.UTF8String, StringType))
            if a.semanticEquals(ordAttr) && sliceStart.isEmpty =>
            sliceStart = Some(s.toString)
          case LessThanOrEqual(Literal(s: org.apache.spark.unsafe.types.UTF8String, StringType),
              a: AttributeReference)
            if a.semanticEquals(ordAttr) && sliceStart.isEmpty =>
            sliceStart = Some(s.toString)
          case LessThanOrEqual(a: AttributeReference,
              Literal(s: org.apache.spark.unsafe.types.UTF8String, StringType))
            if a.semanticEquals(ordAttr) && sliceFinish.isEmpty =>
            sliceFinish = Some(s.toString)
          case GreaterThanOrEqual(Literal(s: org.apache.spark.unsafe.types.UTF8String, StringType),
              a: AttributeReference)
            if a.semanticEquals(ordAttr) && sliceFinish.isEmpty =>
            sliceFinish = Some(s.toString)
          case _ => return None
        }
      }
    }
    // column bounds ride on STRING slice options; a BINARY column's bytes
    // don't survive the string round-trip — key-only filters are still fine
    if ((sliceStart.nonEmpty || sliceFinish.nonEmpty) && colField.dataType != StringType)
      return None

    val reversed = sortOrder.direction match {
      case Ascending => false
      case Descending => true
    }
    val newOptions = new java.util.HashMap[String, String](rel.options)
    newOptions.put(Options.SliceCount, k.toString)
    if (reversed) newOptions.put(Options.SliceReversed, "true")
    sliceStart.foreach(newOptions.put(Options.SliceStart, _))
    sliceFinish.foreach(newOptions.put(Options.SliceFinish, _))
    val newRel = rel.copy(options = new CaseInsensitiveStringMap(newOptions))

    val newW = w.copy(child = wrapRel(newRel))
    val newFChild = midProject.map(p => p.copy(child = newW)).getOrElse(newW)
    Some(f.copy(child = newFChild))
  }
}

/** `spark.sql.extensions`-compatible installer:
  * {{{ .config("spark.sql.extensions", "graft.plans.GraftExtensions") }}}
  * or `builder.withExtensions(new GraftExtensions)`. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  import org.apache.spark.sql.catalyst.FunctionIdentifier
  import org.apache.spark.sql.catalyst.expressions.ExpressionInfo
  import graft.functions.{CassandraDecode, CassandraValidatorString}

  private def litString(e: Expression, what: String): String = e match {
    case Literal(s: org.apache.spark.unsafe.types.UTF8String, StringType) => s.toString
    case _ => throw new IllegalArgumentException(s"$what must be a string literal")
  }

  override def apply(e: SparkSessionExtensions): Unit = {
    e.injectOptimizerRule(_ => SliceTopKPushdown)
    e.injectPlannerStrategy(_ => DriverAnswerRename)
    e.injectFunction((
      new FunctionIdentifier("cassandra_decode"),
      new ExpressionInfo(classOf[CassandraDecode].getName, "cassandra_decode"),
      (exprs: Seq[Expression]) => {
        require(exprs.size == 2, "usage: cassandra_decode(bytes, 'type')")
        CassandraDecode(exprs.head,
          CassandraDecode.parseType(litString(exprs(1), "decode type")))
      }))
    e.injectFunction((
      new FunctionIdentifier("sign_sketch"),
      new ExpressionInfo(classOf[graft.functions.SignSketchExpr].getName, "sign_sketch"),
      (exprs: Seq[Expression]) => {
        require(exprs.size == 1, "usage: sign_sketch(array<double>)")
        graft.functions.SignSketchExpr(exprs.head)
      }))
    e.injectFunction((
      new FunctionIdentifier("sketch_hamming"),
      new ExpressionInfo(classOf[graft.functions.SketchHamming].getName, "sketch_hamming"),
      (exprs: Seq[Expression]) => {
        require(exprs.size == 2, "usage: sketch_hamming(array<bigint>, array<bigint>)")
        graft.functions.SketchHamming(exprs.head, exprs(1))
      }))
    e.injectFunction((
      new FunctionIdentifier("minhash_signature"),
      new ExpressionInfo(classOf[graft.functions.MinHashSignature].getName, "minhash_signature"),
      (exprs: Seq[Expression]) => {
        require(exprs.size == 1, "usage: minhash_signature(hash BIGINT)")
        graft.functions.MinHashSignature(exprs.head).toAggregateExpression()
      }))
    e.injectFunction((
      new FunctionIdentifier("minhash_signature_arr"),
      new ExpressionInfo(classOf[graft.functions.MinHashSignatureArr].getName, "minhash_signature_arr"),
      (exprs: Seq[Expression]) => {
        require(exprs.size == 1, "usage: minhash_signature_arr(array<bigint>)")
        graft.functions.MinHashSignatureArr(exprs.head)
      }))
    e.injectFunction((
      new FunctionIdentifier("shingle_hashes"),
      new ExpressionInfo(classOf[graft.functions.ShingleHashes].getName, "shingle_hashes"),
      (exprs: Seq[Expression]) => {
        require(exprs.size == 1, "usage: shingle_hashes(text)")
        graft.functions.ShingleHashes(exprs.head)
      }))
    e.injectFunction((
      new FunctionIdentifier("minhash_bands"),
      new ExpressionInfo(classOf[graft.functions.MinHashBands].getName, "minhash_bands"),
      (exprs: Seq[Expression]) => {
        require(exprs.size == 1, "usage: minhash_bands(array<bigint>)")
        graft.functions.MinHashBands(exprs.head)
      }))
    e.injectFunction((
      new FunctionIdentifier("gram_keys"),
      new ExpressionInfo(classOf[graft.functions.GramKeys].getName, "gram_keys"),
      (exprs: Seq[Expression]) => {
        require(exprs.size == 1, "usage: gram_keys(text)")
        graft.functions.GramKeys(exprs.head)
      }))
    e.injectFunction((
      new FunctionIdentifier("sorted_intersect_count"),
      new ExpressionInfo(classOf[graft.functions.SortedIntersectCount].getName,
        "sorted_intersect_count"),
      (exprs: Seq[Expression]) => {
        require(exprs.size == 2,
          "usage: sorted_intersect_count(array<bigint>, array<bigint>)")
        graft.functions.SortedIntersectCount(exprs.head, exprs(1))
      }))
    e.injectFunction((
      new FunctionIdentifier("sorted_intersect_atleast"),
      new ExpressionInfo(classOf[graft.functions.SortedIntersectAtLeast].getName,
        "sorted_intersect_atleast"),
      (exprs: Seq[Expression]) => {
        require(exprs.size == 3,
          "usage: sorted_intersect_atleast(array<bigint>, array<bigint>, m)")
        graft.functions.SortedIntersectAtLeast(exprs.head, exprs(1), exprs(2))
      }))
    e.injectFunction((
      new FunctionIdentifier("pq_encode"),
      new ExpressionInfo(classOf[graft.functions.PqEncode].getName, "pq_encode"),
      (exprs: Seq[Expression]) => {
        require(exprs.size == 4, "usage: pq_encode(v, codebook, m, k)")
        graft.functions.PqEncode(exprs.head, exprs(1), exprs(2), exprs(3))
      }))
    e.injectFunction((
      new FunctionIdentifier("pq_lut"),
      new ExpressionInfo(classOf[graft.functions.PqLut].getName, "pq_lut"),
      (exprs: Seq[Expression]) => {
        require(exprs.size == 4, "usage: pq_lut(q, codebook, m, k)")
        graft.functions.PqLut(exprs.head, exprs(1), exprs(2), exprs(3))
      }))
    e.injectFunction((
      new FunctionIdentifier("pq_adc"),
      new ExpressionInfo(classOf[graft.functions.PqAdc].getName, "pq_adc"),
      (exprs: Seq[Expression]) => {
        require(exprs.size == 3, "usage: pq_adc(codes, lut, k)")
        graft.functions.PqAdc(exprs.head, exprs(1), exprs(2))
      }))
    e.injectFunction((
      new FunctionIdentifier("gram_hist"),
      new ExpressionInfo(classOf[graft.functions.GramHist].getName, "gram_hist"),
      (exprs: Seq[Expression]) => {
        require(exprs.size == 2, "usage: gram_hist(array<bigint>, buckets)")
        graft.functions.GramHist(exprs.head, exprs(1))
      }))
    e.injectFunction((
      new FunctionIdentifier("df_attach_sorted"),
      new ExpressionInfo(classOf[graft.functions.DfAttachSorted].getName,
        "df_attach_sorted"),
      (exprs: Seq[Expression]) => {
        require(exprs.size == 3,
          "usage: df_attach_sorted(array<bigint>, keysLiteral, valsLiteral)")
        // the vocabulary children must be literals: they are unpacked ONCE
        // here (analysis time) into primitive arrays the kernel binary-
        // searches — never evaluated per row
        def longs(e2: Expression, what: String): Array[Long] = {
          require(e2.foldable, s"df_attach_sorted: $what must be a literal")
          e2.eval().asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
            .toLongArray()
        }
        graft.functions.DfAttachSorted(exprs.head,
          longs(exprs(1), "vocabulary keys"), longs(exprs(2), "vocabulary dfs"))
      }))
    e.injectFunction((
      new FunctionIdentifier("hist_min_sum"),
      new ExpressionInfo(classOf[graft.functions.HistMinSum].getName, "hist_min_sum"),
      (exprs: Seq[Expression]) => {
        require(exprs.size == 2, "usage: hist_min_sum(array<int>, array<int>)")
        graft.functions.HistMinSum(exprs.head, exprs(1))
      }))
    e.injectFunction((
      new FunctionIdentifier("simhash64"),
      new ExpressionInfo(classOf[graft.functions.SimHash64].getName, "simhash64"),
      (exprs: Seq[Expression]) => {
        require(exprs.size == 1, "usage: simhash64(array<bigint>)")
        graft.functions.SimHash64(exprs.head)
      }))
    e.injectFunction((
      new FunctionIdentifier("cassandra_validator"),
      new ExpressionInfo(classOf[CassandraValidatorString].getName, "cassandra_validator"),
      (exprs: Seq[Expression]) => {
        require(exprs.size == 2, "usage: cassandra_validator(bytes, 'ValidatorType')")
        CassandraValidatorString(exprs.head, litString(exprs(1), "validator name"))
      }))
  }
}
