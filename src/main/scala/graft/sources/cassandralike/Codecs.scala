package graft.sources.cassandralike

import java.nio.ByteBuffer
import java.nio.charset.StandardCharsets.UTF_8

import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** The dual binary/text type bridge — the reference connector's signature
  * semantic (SURVEY §1.3; serde2/lazy/CassandraLazy{Integer,Long,Float,
  * Double,Boolean,Timestamp,Binary}.java in /root/reference).
  *
  * Decode precedence: a cell whose byte length exactly matches the fixed-width
  * binary form of the target type decodes as big-endian binary; otherwise the
  * bytes are parsed as ASCII text; garbage decodes to SQL NULL. On the
  * ambiguous case (e.g. 4 ASCII digits for an int) BINARY WINS — the length
  * match is checked first (serde2/lazy/CassandraLazyInteger.java:21-30).
  *
  * Encode (write marshal) follows the reference's Hive-type -> marshal-type
  * table (serde2/lazy/LazyCassandraUtils.java:17-41): numerics/boolean as
  * fixed-width big-endian, strings UTF-8, timestamps 8-byte epoch millis.
  * Deliberately NOT ported (SURVEY §8 defects): base64 sniffing on binary
  * reads (CassandraLazyBinary.java:31-48) and the DateType write /
  * epoch-millis read asymmetry.
  *
  * Values are Catalyst-internal: strings are UTF8String, timestamps are Long
  * micros — codecs sit inside the DSv2 scan/write, so they speak InternalRow.
  */
/** Resolved row-key codec: the canonical BytesType marshal, or the
  * order-preserving integral form under `key.encoding = 'ordered'` (see
  * [[Codecs.encodeKeyOrdered]]). A layout property — every key byte in a
  * store was produced by exactly one of the two, so the codec is fixed at
  * table level, validated before any IO. */
final case class KeyCodec(dt: DataType, ordered: Boolean) {
  def encode(v: Any): Array[Byte] =
    if (ordered) Codecs.encodeKeyOrdered(dt, v) else Codecs.encode(dt, v)
  def decode(b: Array[Byte]): Any =
    if (ordered) Codecs.decodeKeyOrdered(dt, b) else Codecs.decode(dt, b)
  /** Whether encoded-byte order equals SQL value order, over the whole
    * domain — the property behind every ORDER claim: MIN/MAX from byte
    * extremes, reported scan orderings and TopN, and `range.bounds`. True
    * for the ordered form by construction, and for string/binary values
    * under the default bytes form because their SQL ordering IS unsigned
    * byte order (UTF8String and BinaryType both compare bytes unsigned).
    * The default integral and timestamp forms are NOT ordered: big-endian
    * two's complement sorts negatives after positives. Range SEEKS do not
    * need it: [[KeyWindows]] splits a value range on those forms into its
    * non-negative and negative byte intervals. */
  def rangeOrdered: Boolean =
    ordered || dt == StringType || dt == BinaryType

  /** Whether byte equality is SQL equality, so a pushed point set can seek
    * and filter by bytes: every ordered form (it normalizes -0.0 and NaN),
    * and the plain forms except float/double (SQL -0.0 = 0.0, different
    * IEEE bits) and decimal. */
  def injective: Boolean = ordered || (dt match {
    case StringType | BinaryType | BooleanType | DateType | TimestampType |
      LongType | IntegerType | ShortType | ByteType => true
    case _ => false
  })
}

object KeyCodec {
  def integral(dt: DataType): Boolean = dt match {
    case LongType | IntegerType | ShortType | ByteType => true
    case _ => false
  }
  /** The ordered encoding's domain: every fixed-width type with a monotone
    * byte map (Codecs.encodeKeyOrdered). Strings/binary are excluded on
    * purpose — they are already order-identical under the default form, so
    * 'ordered' would be a misleading no-op knob. */
  def orderedSupported(dt: DataType): Boolean = dt match {
    case LongType | IntegerType | ShortType | ByteType |
         DoubleType | FloatType | TimestampType | DateType => true
    case _: DecimalType => true
    case _ => false
  }
  /** Resolve from the effective option chain (option > conf > table
    * property); rejects 'ordered' on unsupported key types up front. */
  def of(keyType: DataType, opt: String => Option[String]): KeyCodec =
    resolve("key.encoding", keyType, opt)

  /** The CLUSTERING-COLUMN twin (`column.encoding`): same monotone byte
    * maps over the transposed :column field, so integral/timestamp/etc.
    * clustering columns gain the ordering claims and slice-window seeks
    * string columns already have. */
  def ofColumn(colType: DataType, opt: String => Option[String]): KeyCodec =
    resolve("column.encoding", colType, opt)

  /** The SUB-column twin (`sub.encoding`): the same monotone maps over the
    * super-mapping :subcolumn field, so numeric/timestamp sub-columns gain
    * the per-key (column, sub) ordering claim. */
  def ofSub(subType: DataType, opt: String => Option[String]): KeyCodec =
    resolve("sub.encoding", subType, opt)

  private def resolve(prop: String, dt: DataType,
      opt: String => Option[String]): KeyCodec = {
    val mode = opt(prop)
    require(mode.forall(m => m == "bytes" || m == "ordered"),
      s"$prop must be 'bytes' or 'ordered', got ${mode.get}")
    val ordered = mode.contains("ordered")
    require(!ordered || orderedSupported(dt),
      s"$prop='ordered' does not support ${dt.catalogString} values")
    KeyCodec(dt, ordered)
  }
}

/** RANGE-PARTITIONED layout (`range.bounds`, a locked layout property):
  * a comma-separated list of key literals in the key type's plain text
  * form (longs/ints as decimal, doubles as decimal text, strings verbatim,
  * decimals as plain decimal text, timestamps as epoch MICROS, dates as
  * epoch DAYS). Parsed against the table's key type, encoded through its
  * KeyCodec, and required strictly ascending; bucket b then covers the key
  * interval [bounds(b-1), bounds(b)) with buckets = bounds + 1. Requires an
  * order-preserving key byte form ([[KeyCodec.rangeOrdered]]) so byte
  * routing IS value routing — that is what makes pushed key ranges prune
  * to O(covered buckets). Trade-off vs the hash ring: ranges prune, but
  * balance is the operator's responsibility (pick bounds from key
  * quantiles; sub-splits still split an oversized bucket). */
object RangeLayout {
  /** One key/column literal in the layout text grammar → its Catalyst
    * value (longs/ints decimal, IEEE decimal text, strings verbatim,
    * decimals plain text, timestamps epoch MICROS, dates epoch DAYS).
    * Shared by [[parse]] and the typed `slice.start`/`slice.finish`
    * option path, so the static knobs and the bounds property speak one
    * grammar. */
  def literal(s: String, dt: DataType): Any = dt match {
    case LongType => java.lang.Long.valueOf(s.toLong)
    case IntegerType => Integer.valueOf(s.toInt)
    case ShortType => java.lang.Short.valueOf(s.toShort)
    case ByteType => java.lang.Byte.valueOf(s.toByte)
    case DoubleType => java.lang.Double.valueOf(s.toDouble)
    case FloatType => java.lang.Float.valueOf(s.toFloat)
    case StringType => UTF8String.fromString(s)
    case TimestampType => java.lang.Long.valueOf(s.toLong) // epoch micros
    case DateType => Integer.valueOf(s.toInt) // epoch days
    case d: DecimalType =>
      Decimal(new java.math.BigDecimal(s), d.precision, d.scale)
    case other => throw new IllegalArgumentException(
      s"no text literal form for ${other.catalogString} values")
  }

  def parse(prop: String, dt: DataType, codec: KeyCodec): Array[Array[Byte]] = {
    require(codec.rangeOrdered,
      "range.bounds requires an order-preserving key byte form: " +
        "key.encoding='ordered' or a string/binary key")
    val parts = prop.split(",").map(_.trim).filter(_.nonEmpty)
    require(parts.nonEmpty, "range.bounds must list at least one bound")
    val enc = parts.map(s => codec.encode(literal(s, dt)))
    enc.sliding(2).foreach {
      case Array(a, b) => require(Codecs.compareBytes(a, b) < 0,
        s"range.bounds must be strictly ascending, got '$prop'")
      case _ => ()
    }
    enc
  }

  /** Derive a balanced `range.bounds` property value from a DataFrame's
    * key distribution: sample (bounded, deterministic), sort through
    * Spark's own ordering, pick the buckets-1 quantile keys, render in the
    * text form [[parse]] accepts. The CREATE-time answer to "range
    * layouts prune but balance is the operator's burden" — pick bounds
    * from the data, not by hand. Duplicated quantiles collapse (heavy
    * single keys can't split), so the result may define fewer buckets
    * than asked; callers read the returned bound count. String keys must
    * not contain ',' (the property's separator). */
  def suggestBounds(df: org.apache.spark.sql.DataFrame, keyCol: String,
      buckets: Int, sampleCap: Long = 100000L): Seq[String] = {
    require(buckets >= 2, s"need >= 2 buckets, got $buckets")
    import org.apache.spark.sql.functions.col
    val keyed = df.select(col(keyCol)).where(col(keyCol).isNotNull)
    val rendered = keyed.schema.head.dataType match {
      // numeric keys: Spark's own distributed quantile sketch
      // (Greenwald–Khanna) — NO driver materialization, exact enough for a
      // balance helper at any key cardinality
      case IntegerType | LongType | ShortType | ByteType |
           FloatType | DoubleType =>
        val probs = (1 until buckets).map(_.toDouble / buckets).toArray
        val qs = keyed.stat.approxQuantile(keyCol, probs, 0.001)
        if (qs.isEmpty) return Nil
        qs.toSeq.map(q => renderNumeric(keyed.schema.head.dataType, q)).distinct
      // strings / decimals / timestamps / dates: the sketch can't serve
      // them (or would round-trip through lossy doubles) — bounded
      // deterministic sample, sorted through Spark's own ordering
      case _ =>
        val n = keyed.count()
        if (n == 0) return Nil
        val sampled =
          if (n <= sampleCap) keyed
          else keyed.sample(withReplacement = false, sampleCap.toDouble / n, seed = 42L)
        val sorted = sampled.orderBy(col(keyCol)).collect().map(_.get(0))
        if (sorted.isEmpty) return Nil
        val picks = (1 until buckets)
          .map(i => sorted(((i.toLong * sorted.length) / buckets).toInt))
        picks.map(render).distinct
    }
    rendered.foreach(r => require(!r.contains(","),
      s"key literal '$r' contains the bounds separator ','"))
    rendered
  }

  /** Quantile double → the key type's exact text literal (the form
    * [[parse]] accepts). Integral quantiles truncate toward zero — any
    * value between two keys splits identically. */
  private def renderNumeric(dt: DataType, q: Double): String = dt match {
    case IntegerType => q.toInt.toString
    case LongType => q.toLong.toString
    case ShortType => q.toShort.toString
    case ByteType => q.toByte.toString
    case FloatType => q.toFloat.toString
    case DoubleType => q.toString
    case other => throw new IllegalArgumentException(
      s"no numeric literal form for ${other.catalogString}")
  }

  private def render(v: Any): String = v match {
    case s: String => s
    case t: java.sql.Timestamp => // epoch micros, the parse() form
      (Math.multiplyExact(t.getTime, 1000L) + (t.getNanos / 1000) % 1000).toString
    case d: java.sql.Date => d.toLocalDate.toEpochDay.toString
    case d: java.time.LocalDate => d.toEpochDay.toString
    case i: java.time.Instant =>
      (Math.multiplyExact(i.getEpochSecond, 1000000L) + i.getNano / 1000).toString
    case b: java.math.BigDecimal => b.toPlainString
    case other => other.toString // integral and IEEE types round-trip via toString
  }

  /** Content digest of a parsed bounds list + encoding flag — the identity
    * two stores must share for their range transforms to be provably the
    * same key->bucket map (the SPJ compatibility token). */
  def digest(bounds: Array[Array[Byte]], ordered: Boolean): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    md.update(if (ordered) 1.toByte else 0.toByte)
    bounds.foreach { b =>
      md.update(java.nio.ByteBuffer.allocate(4).putInt(b.length).array())
      md.update(b)
    }
    md.digest().take(8).map(x => f"$x%02x").mkString
  }
}

object Codecs {

  /** Whether a type can live in ONE cell (the flat cell model's atomic
    * domain — what [[encode]]/[[decode]] marshal). Nested types are not
    * cells: they ride the JSON bridge (a STRING column via
    * to_json/from_json — T4, `conn_nested_json`). */
  def atomicCellType(dt: DataType): Boolean = dt match {
    case BooleanType | IntegerType | LongType | FloatType | DoubleType |
         StringType | BinaryType | TimestampType => true
    case _: DecimalType => true
    case _ => false
  }

  /** Marshal a Catalyst value to cell bytes. Null values have no cell. */
  def encode(dt: DataType, v: Any): Array[Byte] = dt match {
    case BooleanType => Array[Byte](if (v.asInstanceOf[Boolean]) 1 else 0)
    case IntegerType => ByteBuffer.allocate(4).putInt(v.asInstanceOf[Int]).array()
    case LongType => ByteBuffer.allocate(8).putLong(v.asInstanceOf[Long]).array()
    case FloatType => ByteBuffer.allocate(4).putFloat(v.asInstanceOf[Float]).array()
    case DoubleType => ByteBuffer.allocate(8).putDouble(v.asInstanceOf[Double]).array()
    case StringType => v.asInstanceOf[UTF8String].getBytes.clone()
    case BinaryType => v.asInstanceOf[Array[Byte]]
    case TimestampType => // Catalyst micros -> epoch millis, 8-byte BE
      ByteBuffer.allocate(8).putLong(Math.floorDiv(v.asInstanceOf[Long], 1000L)).array()
    case dt: DecimalType =>
      // Cassandra DecimalType marshal: 4-byte BE scale + unscaled
      // two's-complement big-endian bytes (db.marshal.DecimalType)
      val jbd = v.asInstanceOf[Decimal].toJavaBigDecimal.setScale(dt.scale)
      val unscaled = jbd.unscaledValue.toByteArray
      ByteBuffer.allocate(4 + unscaled.length).putInt(jbd.scale).put(unscaled).array()
    case other => throw new IllegalArgumentException(s"unsupported cell type $other")
  }

  /** Marshal a Catalyst value to ASCII-text cell bytes (the storage form the
    * text-fallback decode path exists for: cells written by text-era tools). */
  def encodeText(dt: DataType, v: Any): Array[Byte] = {
    val s = dt match {
      case BooleanType => v.asInstanceOf[Boolean].toString
      case IntegerType | LongType => v.toString
      case FloatType => v.asInstanceOf[Float].toString
      case DoubleType => v.asInstanceOf[Double].toString
      case StringType => v.asInstanceOf[UTF8String].toString
      case TimestampType => Math.floorDiv(v.asInstanceOf[Long], 1000L).toString
      case dt: DecimalType =>
        v.asInstanceOf[Decimal].toJavaBigDecimal.setScale(dt.scale).toPlainString
      case BinaryType => return v.asInstanceOf[Array[Byte]]
      case other => throw new IllegalArgumentException(s"unsupported cell type $other")
    }
    s.getBytes(UTF_8)
  }

  /** Dual decode: binary on exact width, else text, else null. Returns
    * Catalyst-internal values (UTF8String / micros). */
  def decode(dt: DataType, bytes: Array[Byte]): Any = {
    if (bytes == null) return null
    dt match {
      case StringType => UTF8String.fromBytes(bytes)
      case BinaryType => bytes
      case IntegerType =>
        if (bytes.length == 4) ByteBuffer.wrap(bytes).getInt
        else text(bytes).flatMap(_.toIntOption).map(Int.box).orNull
      case LongType =>
        if (bytes.length == 8) ByteBuffer.wrap(bytes).getLong
        else text(bytes).flatMap(_.toLongOption).map(Long.box).orNull
      case FloatType =>
        if (bytes.length == 4) ByteBuffer.wrap(bytes).getFloat
        else text(bytes).flatMap(_.toFloatOption).map(Float.box).orNull
      case DoubleType =>
        if (bytes.length == 8) ByteBuffer.wrap(bytes).getDouble
        else text(bytes).flatMap(_.toDoubleOption).map(Double.box).orNull
      case BooleanType =>
        if (bytes.length == 1) bytes(0) != 0
        else text(bytes).map(_.toLowerCase) match {
          case Some("true") => Boolean.box(true)
          case Some("false") => Boolean.box(false)
          case _ => null
        }
      case TimestampType =>
        if (bytes.length == 8) ByteBuffer.wrap(bytes).getLong * 1000L // millis -> micros
        else text(bytes).flatMap(_.toLongOption).map(ms => Long.box(ms * 1000L)).orNull
      case dt: DecimalType =>
        def fit(b: java.math.BigDecimal): Any = {
          val dec = Decimal(b)
          if (dec.changePrecision(dt.precision, dt.scale)) dec else null
        }
        def asText: Any = text(bytes).flatMap { s =>
          try Some(fit(new java.math.BigDecimal(s.trim)))
          catch { case _: NumberFormatException => None }
        }.orNull
        // binary form is scale+unscaled (variable width, so the usual
        // fixed-width sniff doesn't apply): a plausible binary scale is
        // tiny, while 4 leading ASCII digit/sign/dot bytes read as a huge
        // int — the two forms can't collide in practice
        if (bytes.length >= 5) {
          val buf = ByteBuffer.wrap(bytes)
          val scale = buf.getInt
          if (scale >= 0 && scale <= DecimalType.MAX_SCALE) {
            val unscaled = new Array[Byte](bytes.length - 4)
            buf.get(unscaled)
            fit(new java.math.BigDecimal(new java.math.BigInteger(unscaled), scale))
          } else asText
        } else asText
      case other => throw new IllegalArgumentException(s"unsupported cell type $other")
    }
  }

  /** ASCII-printable view of bytes, None if not plausible text. */
  private def text(bytes: Array[Byte]): Option[String] = {
    var i = 0
    while (i < bytes.length) {
      val b = bytes(i)
      if (b < 0x20 && b != '\t') return None
      i += 1
    }
    Some(new String(bytes, UTF_8))
  }

  /** Render cell bytes to a string through a named CQL validator type —
    * the validator read mode where every column surfaces as a string
    * (serde2/lazy/CassandraLazyValidator.java:27-35,
    * serde/CassandraColumnSerDe.java:106-153). Unknown validator or
    * width mismatch renders as hex (BytesType behavior). */
  def validatorString(validator: String, bytes: Array[Byte]): UTF8String = {
    if (bytes == null) return null
    val s = validator match {
      case "Int32Type" if bytes.length == 4 => ByteBuffer.wrap(bytes).getInt.toString
      case "LongType" if bytes.length == 8 => ByteBuffer.wrap(bytes).getLong.toString
      case "FloatType" if bytes.length == 4 => ByteBuffer.wrap(bytes).getFloat.toString
      case "DoubleType" if bytes.length == 8 => ByteBuffer.wrap(bytes).getDouble.toString
      case "BooleanType" if bytes.length == 1 => (bytes(0) != 0).toString
      case "UTF8Type" | "AsciiType" => new String(bytes, UTF_8)
      case _ => bytes.map(b => f"$b%02x").mkString
    }
    UTF8String.fromString(s)
  }

  /** ORDER-PRESERVING key form (`key.encoding = 'ordered'`, a layout
    * property): fixed-width big-endian bytes transformed so unsigned byte
    * order equals SQL value order. This is what lets a numeric-keyed store
    * claim its scan ordering (sorted-scan zipper joins, key-order TopN) and
    * push key RANGES; the default BytesType form stays byte-faithful to the
    * reference's marshal. Per type:
    *
    *  - integrals / timestamp (micros) / date (days): two's complement with
    *    the SIGN BIT FLIPPED — negatives sort first instead of after the
    *    positives. (Ordered timestamps keep FULL micros; the bytes form is
    *    millis for marshal fidelity.)
    *  - float/double: the classic IEEE total-order map — negatives flip all
    *    bits (un-reversing the backwards negative range), non-negatives set
    *    the sign bit; NaN lands above +Inf, matching Spark's NaN-greatest
    *    ordering. Keys normalize first (-0.0 → +0.0, NaN → canonical) so
    *    SQL-equal keys route to ONE cell address — the same normalization
    *    [[Index.encodeKey]] applies, for the same false-negative reason.
    *  - decimal: unscaled value at the declared scale as a fixed 16-byte
    *    two's complement big-endian integer (p ≤ 38 always fits 128 bits),
    *    sign bit flipped — fixed width makes the byte order the numeric
    *    order at equal scale.
    *
    * Strings/binary need no opt-in — their SQL order is already byte
    * order under the default form. */
  def encodeKeyOrdered(dt: DataType, v: Any): Array[Byte] = dt match {
    case LongType =>
      ByteBuffer.allocate(8).putLong(v.asInstanceOf[Long] ^ Long.MinValue).array()
    case IntegerType =>
      ByteBuffer.allocate(4).putInt(v.asInstanceOf[Int] ^ Int.MinValue).array()
    case ShortType =>
      ByteBuffer.allocate(2).putShort((v.asInstanceOf[Short] ^ Short.MinValue).toShort).array()
    case ByteType =>
      Array[Byte]((v.asInstanceOf[Byte] ^ Byte.MinValue).toByte)
    case TimestampType =>
      ByteBuffer.allocate(8).putLong(v.asInstanceOf[Long] ^ Long.MinValue).array()
    case DateType =>
      ByteBuffer.allocate(4).putInt(v.asInstanceOf[Int] ^ Int.MinValue).array()
    case DoubleType =>
      val d0 = v.asInstanceOf[Double]
      val d = if (d0 == 0.0d) 0.0d else d0 // -0.0 -> +0.0; NaN canonical below
      val bits = java.lang.Double.doubleToLongBits(d)
      ByteBuffer.allocate(8)
        .putLong(if (bits < 0) ~bits else bits ^ Long.MinValue).array()
    case FloatType =>
      val f0 = v.asInstanceOf[Float]
      val f = if (f0 == 0.0f) 0.0f else f0
      val bits = java.lang.Float.floatToIntBits(f)
      ByteBuffer.allocate(4)
        .putInt(if (bits < 0) ~bits else bits ^ Int.MinValue).array()
    case dt: DecimalType =>
      val unscaled = v.asInstanceOf[Decimal].toJavaBigDecimal
        .setScale(dt.scale).unscaledValue
      val min = unscaled.toByteArray // minimal two's complement, BE
      require(min.length <= 16,
        s"decimal unscaled value exceeds 128 bits: precision ${dt.precision}")
      val out = new Array[Byte](16)
      java.util.Arrays.fill(out, 0, 16 - min.length,
        (if (unscaled.signum < 0) -1 else 0).toByte)
      System.arraycopy(min, 0, out, 16 - min.length, min.length)
      out(0) = (out(0) ^ 0x80).toByte
      out
    case other => throw new IllegalArgumentException(
      s"key.encoding='ordered' does not support ${other.catalogString} keys")
  }

  def decodeKeyOrdered(dt: DataType, bytes: Array[Byte]): Any = dt match {
    case LongType => ByteBuffer.wrap(bytes).getLong ^ Long.MinValue
    case IntegerType => ByteBuffer.wrap(bytes).getInt ^ Int.MinValue
    case ShortType => (ByteBuffer.wrap(bytes).getShort ^ Short.MinValue).toShort
    case ByteType => (bytes(0) ^ Byte.MinValue).toByte
    case TimestampType => ByteBuffer.wrap(bytes).getLong ^ Long.MinValue
    case DateType => ByteBuffer.wrap(bytes).getInt ^ Int.MinValue
    case DoubleType =>
      val m = ByteBuffer.wrap(bytes).getLong
      java.lang.Double.longBitsToDouble(if (m < 0) m ^ Long.MinValue else ~m)
    case FloatType =>
      val m = ByteBuffer.wrap(bytes).getInt
      java.lang.Float.intBitsToFloat(if (m < 0) m ^ Int.MinValue else ~m)
    case dt: DecimalType =>
      val b = bytes.clone()
      b(0) = (b(0) ^ 0x80).toByte
      Decimal(new java.math.BigDecimal(
        new java.math.BigInteger(b), dt.scale), dt.precision, dt.scale)
    case other => throw new IllegalArgumentException(
      s"key.encoding='ordered' does not support ${other.catalogString} keys")
  }

  /** Key ordering/equality wrapper: cell names sort in unsigned-byte
    * (Cassandra BytesType comparator) order. */
  def compareBytes(a: Array[Byte], b: Array[Byte]): Int = {
    val n = math.min(a.length, b.length)
    var i = 0
    while (i < n) {
      val cmp = (a(i) & 0xff) - (b(i) & 0xff)
      if (cmp != 0) return cmp
      i += 1
    }
    a.length - b.length
  }

  /** Smallest byte string strictly GREATER than every string carrying
    * prefix `p` in unsigned-lexicographic order — the exclusive upper
    * bound of the half-open window `[p, prefixSucc(p))` that holds exactly
    * the prefixed strings. Computed by dropping the 0xFF tail and
    * incrementing the last remaining byte (0xFF bytes have no in-place
    * successor: `"a\xFF"`'s window must extend past every `"a\xFF..."`,
    * which only incrementing the 'a' achieves). Null = no upper bound:
    * the empty prefix matches everything, and an all-0xFF prefix has no
    * byte string above its window. Shared by the row-key prefix envelope
    * ([[KeyWindows]]) and the index postings prefix seek
    * ([[Index]]) so both use one boundary convention. */
  def prefixSucc(p: Array[Byte]): Array[Byte] = {
    var i = p.length - 1
    while (i >= 0 && p(i) == 0xFF.toByte) i -= 1
    if (i < 0) null
    else {
      val c = java.util.Arrays.copyOf(p, i + 1)
      c(i) = ((c(i) & 0xff) + 1).toByte
      c
    }
  }
}
