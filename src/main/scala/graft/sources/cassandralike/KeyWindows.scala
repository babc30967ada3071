package graft.sources.cassandralike

import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** The stored byte forms that pushed predicates on ONE address field (the
  * row key, the clustering column or the sub-column) can match: a
  * byte-sorted list of disjoint half-open intervals `[lo, hi)`, where null
  * means unbounded on that side (only the first `lo` and the last `hi` can
  * be null). A point is the one-key interval `[k, byteSucc(k))`; windows
  * made of points only are a finite key set ([[points]]), which keeps its
  * bloom probes and per-key seeks.
  *
  * [[KeyWindows.of]] builds them from the pushed EqualTo / In / < / <= /
  * > / >= / StringStartsWith conjuncts on the field and the field's codec.
  * Each conjunct gives its own windows, and the conjuncts intersect:
  *  - under an order-preserving byte form ([[KeyCodec.rangeOrdered]]) a
  *    comparison is one interval between encoded bounds;
  *  - under the default `bytes` form, int, long and timestamp values are
  *    big-endian two's complement compared unsigned. Non-negative values
  *    sort in value order, and so do negative values, which all sort after
  *    them, so a value range is at most two intervals: the non-negative
  *    part, then the negative part. Timestamps are stored as epoch millis:
  *    micros bounds round inward (ceil for a lower bound, floor for an
  *    upper one), and an equality on a value with sub-milli micros matches
  *    no stored key;
  *  - any other comparison (float, double, decimal or boolean under
  *    `bytes`) leaves the field unbounded and is re-checked row by row.
  *
  * The windows are EXACT: a stored byte string lies inside them iff its
  * value satisfies every conjunct they took, which the positional range
  * aggregates rely on (they have no re-filter). That needs fixed-width
  * stored integral bytes, and a `bytes` address is always fixed-width:
  * every writer encodes row keys, columns and sub-columns through
  * [[KeyCodec.encode]] (`encoding=text` changes only values and index
  * keys), so no longer byte string extends a window bound. */
final class KeyWindows private (val spans: Array[(Array[Byte], Array[Byte])]) {
  import KeyWindows.{cmp, span}

  def isEmpty: Boolean = spans.isEmpty
  def isAll: Boolean =
    spans.length == 1 && spans(0)._1 == null && spans(0)._2 == null

  /** The sorted finite key set when every window is a point, else null. */
  lazy val points: Array[Array[Byte]] =
    if (spans.forall { case (lo, hi) =>
        lo != null && hi != null && hi.length == lo.length + 1 &&
          hi(lo.length) == 0 &&
          java.util.Arrays.equals(lo, 0, lo.length, hi, 0, lo.length) })
      spans.map(_._1)
    else null

  /** Index of the first window whose upper end lies above `b`. */
  private def firstAbove(b: Array[Byte]): Int = {
    var a = 0
    var z = spans.length
    while (a < z) {
      val m = (a + z) >>> 1
      val hi = spans(m)._2
      if (hi != null && cmp(hi, b) <= 0) a = m + 1 else z = m
    }
    a
  }

  /** Does some window hold `b` (null never)? */
  def contains(b: Array[Byte]): Boolean = b != null && {
    val i = firstAbove(b)
    i < spans.length && (spans(i)._1 == null || cmp(spans(i)._1, b) <= 0)
  }

  /** Does some window meet the byte range from `a` to `b` (null =
    * unbounded), `b` inclusive or, with `bInclusive = false`, exclusive? */
  def meets(a: Array[Byte], b: Array[Byte], bInclusive: Boolean = true): Boolean = {
    val i = if (a == null) 0 else firstAbove(a)
    i < spans.length && (b == null || spans(i)._1 == null || {
      val c = cmp(spans(i)._1, b)
      c < 0 || (c == 0 && bInclusive)
    })
  }

  /** How many windows meet the byte range from `a` to `b`, both inclusive
    * (null = unbounded)? */
  def meeting(a: Array[Byte], b: Array[Byte]): Int = {
    var i = if (a == null) 0 else firstAbove(a)
    val first = i
    while (i < spans.length && (b == null || spans(i)._1 == null || cmp(spans(i)._1, b) <= 0))
      i += 1
    i - first
  }

  def intersect(o: KeyWindows): KeyWindows =
    if (o.isAll) this
    else if (isAll) o
    else {
      val out = Array.newBuilder[(Array[Byte], Array[Byte])]
      var i = 0
      var j = 0
      while (i < spans.length && j < o.spans.length) {
        val (a1, b1) = spans(i)
        val (a2, b2) = o.spans(j)
        out ++= span(if (a1 == null || (a2 != null && cmp(a2, a1) > 0)) a2 else a1,
          if (b1 == null || (b2 != null && cmp(b2, b1) < 0)) b2 else b1).spans
        if (b1 != null && (b2 == null || cmp(b1, b2) < 0)) i += 1 else j += 1
      }
      new KeyWindows(out.result())
    }

  /** These windows cut to the partition range `[lo, hi)`. */
  def within(lo: Array[Byte], hi: Array[Byte]): KeyWindows = intersect(span(lo, hi))

  /** The points `keep` admits (point windows only). */
  def filterPoints(keep: Array[Byte] => Boolean): KeyWindows =
    new KeyWindows(spans.filter(s => keep(s._1)))
}

object KeyWindows {
  val All: KeyWindows = new KeyWindows(Array((null, null)))

  private def cmp(a: Array[Byte], b: Array[Byte]): Int = Codecs.compareBytes(a, b)

  /** One window `[lo, hi)` (null = unbounded); none when it is empty. */
  def span(lo: Array[Byte], hi: Array[Byte]): KeyWindows =
    if (lo != null && hi != null && cmp(lo, hi) >= 0) new KeyWindows(Array.empty)
    else new KeyWindows(Array((lo, hi)))

  /** The inclusive window `[lo, hi]` (null = unbounded). */
  def closed(lo: Array[Byte], hi: Array[Byte]): KeyWindows =
    span(lo, if (hi == null) null else CellStore.byteSucc(hi))

  def points(keys: Seq[Array[Byte]]): KeyWindows =
    new KeyWindows(CellStore.sortedDistinct(keys).map(k => (k, CellStore.byteSucc(k))))

  /** The windows of every pushed conjunct on field `name`, intersected
    * (All when none restricts its bytes). */
  def of(name: String, codec: KeyCodec, filters: Array[Filter]): KeyWindows =
    filters.foldLeft(All) { (w, f) =>
      if (f.references.sameElements(Array(name))) conjunct(codec, f).fold(w)(w.intersect)
      else w
    }

  /** Does `of` turn the comparison `f` into windows under `codec`? */
  def ranges(codec: KeyCodec, f: Filter): Boolean = f match {
    case _: GreaterThan | _: GreaterThanOrEqual | _: LessThan | _: LessThanOrEqual =>
      conjunct(codec, f).isDefined
    case _ => false
  }

  private def conjunct(codec: KeyCodec, f: Filter): Option[KeyWindows] = f match {
    case EqualTo(_, v) => Some(pointsOf(codec, Seq(v)))
    case In(_, vs) => Some(pointsOf(codec, vs.toSeq)) // IN () matches nothing
    case GreaterThan(_, v) => bound(codec, v, lower = true, strict = true)
    case GreaterThanOrEqual(_, v) => bound(codec, v, lower = true, strict = false)
    case LessThan(_, v) => bound(codec, v, lower = false, strict = true)
    case LessThanOrEqual(_, v) => bound(codec, v, lower = false, strict = false)
    case StringStartsWith(_, p) if p != null && codec.dt == StringType =>
      val e = codec.encode(UTF8String.fromString(p))
      Some(span(e, Codecs.prefixSucc(e)))
    case _ => None
  }

  private def pointsOf(codec: KeyCodec, vs: Seq[Any]): KeyWindows =
    points(vs.map(CatalystTypeConverters.convertToCatalyst).filter {
      case null => false
      case us: java.lang.Long if codec.dt == TimestampType && !codec.ordered =>
        us % 1000L == 0L // stored as millis: no stored key decodes to it
      case _ => true
    }.map(codec.encode))

  /** The windows of one comparison, or None when its bytes can't say. */
  private def bound(codec: KeyCodec, v: Any, lower: Boolean,
      strict: Boolean): Option[KeyWindows] = {
    val x = CatalystTypeConverters.convertToCatalyst(v)
    if (x == null) None
    else if (codec.rangeOrdered) {
      val e = codec.encode(x)
      val succ = CellStore.byteSucc(e)
      Some(if (lower) span(if (strict) succ else e, null)
        else span(null, if (strict) e else succ))
    } else (codec.dt, x) match {
      case (IntegerType | LongType | TimestampType, n @ (_: java.lang.Integer |
          _: java.lang.Long | _: java.lang.Short | _: java.lang.Byte)) =>
        // the inclusive value bound, then the type's range on the other side
        val l = n.asInstanceOf[java.lang.Number].longValue
        val incl =
          if (!strict) Some(l)
          else if (lower) { if (l == Long.MaxValue) None else Some(l + 1) }
          else { if (l == Long.MinValue) None else Some(l - 1) }
        Some(incl.fold(new KeyWindows(Array.empty)) { b =>
          val (min, max, unit) = codec.dt match {
            case IntegerType => (Int.MinValue.toLong, Int.MaxValue.toLong, 1L)
            case LongType => (Long.MinValue, Long.MaxValue, 1L)
            case _ => (Long.MinValue, Long.MaxValue, 1000L) // micros -> millis
          }
          val s =
            if (lower) Math.floorDiv(b, unit) + (if (Math.floorMod(b, unit) != 0) 1 else 0)
            else Math.floorDiv(b, unit)
          if (lower) integral(codec.dt, math.max(s, min), max)
          else integral(codec.dt, min, math.min(s, max))
        })
      case _ => None
    }
  }

  /** The value range [lo, hi] of a `bytes` int/long/timestamp field: the
    * non-negative part first, then the negative part, each from the
    * encoded low end to just past the encoded high end. */
  private def integral(dt: DataType, lo: Long, hi: Long): KeyWindows = {
    def enc(x: Long): Array[Byte] =
      if (dt == IntegerType) java.nio.ByteBuffer.allocate(4).putInt(x.toInt).array()
      else java.nio.ByteBuffer.allocate(8).putLong(x).array()
    def part(a: Long, b: Long) =
      if (a > b) Nil else Seq((enc(a), CellStore.byteSucc(enc(b))))
    new KeyWindows((part(math.max(lo, 0L), hi) ++ part(lo, math.min(hi, -1L))).toArray)
  }
}
