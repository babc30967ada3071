package storebench

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

/** Deterministic inputs. Every stored value is a pure function of the
  * workload seed, the row key and a version number, so the model that
  * checks an op's answer recomputes the expected value instead of keeping a
  * copy of the data. */
object Gen {
  /** SplitMix64 finalizer: a bijective 64-bit mix. */
  def mix(x0: Long): Long = {
    var x = x0
    x = (x ^ (x >>> 30)) * 0xbf58476d1ce4e5b9L
    x = (x ^ (x >>> 27)) * 0x94d049bb133111ebL
    x ^ (x >>> 31)
  }

  def h(seed: Long, a: Long, b: Long): Long =
    mix(mix(seed * 0x9e3779b97f4a7c15L + a) ^ (b * 0xc2b2ae3d27d4eb4fL))

  /** Non-negative `h` reduced into [0, n). */
  def u(seed: Long, a: Long, b: Long, n: Long): Long = java.lang.Long.remainderUnsigned(h(seed, a, b), n)

  /** A seeded stream of decisions (op types, keys, batch contents). */
  final class Rng(seed: Long) {
    private var state = mix(seed ^ 0x5851f42d4c957f2dL)
    def next(): Long = { state += 0x9e3779b97f4a7c15L; mix(state) }
    def below(n: Long): Long = java.lang.Long.remainderUnsigned(next(), n)
    def shuffle[A](xs: Seq[A]): Vector[A] = {
      val a = xs.toArray[Any]
      var i = a.length - 1
      while (i > 0) {
        val j = below(i + 1L).toInt
        val t = a(i); a(i) = a(j); a(j) = t
        i -= 1
      }
      a.toVector.asInstanceOf[Vector[A]]
    }
  }

  private val Flags = Array("A", "N", "R")
  private val Syllables = Array("fur", "ious", "ly", "blith", "e", "quick", "dep", "osit", "s", "sly",
    "ide", "as", "reg", "ular", "acc", "ount", "fin", "al", "pin", "to")

  /** Lineitem-like row of the regular store, keyed by `l_id`. */
  val LineSchema: StructType = StructType(Seq(
    StructField("l_id", LongType, nullable = false),
    StructField("l_partkey", IntegerType),
    StructField("l_suppkey", IntegerType),
    StructField("l_quantity", IntegerType),
    StructField("l_price", LongType),
    StructField("l_flag", StringType),
    StructField("l_comment", StringType)))

  final case class Line(id: Long, partkey: Int, suppkey: Int, quantity: Int, price: Long,
      flag: String, comment: String) {
    def row: Row = Row(id, partkey, suppkey, quantity, price, flag, comment)
    /** Bytes of the key and every value in their natural binary widths. */
    def userBytes: Long = 8 + 4 + 4 + 4 + 8 + flag.getBytes(UTF_8).length + comment.getBytes(UTF_8).length
  }

  /** Row `id` at `version` (0 = first write; each overwrite bumps it). */
  def line(seed: Long, id: Long, version: Int, partkeys: Int): Line = {
    val v = version.toLong << 8
    val words = 2 + u(seed, id, v + 7, 5).toInt
    val comment = (0 until words).map(i => Syllables(u(seed, id, v + 16 + i, Syllables.length).toInt)).mkString(" ")
    Line(id,
      partkey = 1 + u(seed, id, v + 1, partkeys).toInt,
      suppkey = 1 + u(seed, id, v + 2, Suppliers).toInt,
      quantity = 1 + u(seed, id, v + 3, 50).toInt,
      price = 100 + u(seed, id, v + 4, 10000000L),
      flag = Flags(u(seed, id, v + 5, Flags.length).toInt),
      comment = comment)
  }

  /** The scan store's overwrite epoch rewrites 20% of the keys; its delete
    * epoch then drops 5%. */
  def scanOverwritten(seed: Long, id: Long): Boolean = u(seed, id, 901, 100) < 20
  def scanDeleted(seed: Long, id: Long): Boolean = u(seed, id, 902, 100) < 5

  /** Supplier count: the wide store's row count and the join store's size. */
  val Suppliers = 1000

  /** Transposed wide-row store: one row per supplier, `WideCols` cells each. */
  val WideSchema: StructType = StructType(Seq(
    StructField("w_supp", IntegerType, nullable = false),
    StructField("w_col", IntegerType, nullable = false),
    StructField("w_val", LongType)))
  val WideMapping = ":key,:column,:value"
  val WideCols = 200

  def wideVal(seed: Long, supp: Int, col: Int): Long = u(seed, supp.toLong, 1000000L + col, 1000000L)

  /** Supplier store joined to the lineitem store on `l_suppkey`. */
  val SuppSchema: StructType = StructType(Seq(
    StructField("s_suppkey", IntegerType, nullable = false),
    StructField("s_nation", IntegerType),
    StructField("s_name", StringType)))
  val Nations = 25

  def suppNation(seed: Long, supp: Int): Int = u(seed, supp.toLong, 77, Nations).toInt
  def suppRow(seed: Long, supp: Int): Row = Row(supp, suppNation(seed, supp), f"Supplier#$supp%09d")
}
