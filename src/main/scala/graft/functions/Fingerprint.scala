package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}

/** FNV-1a 64-bit fingerprint of a string's UTF-8 bytes. Used for
  * exact-content fingerprinting at scale: 8 bytes per document instead of
  * carrying full text through shuffles.
  */
object Fnv64 {
  final val OFFSET = -3750763034362895579L // 14695981039346656037
  final val PRIME = 1099511628211L

  /** FNV-1a over `bytes[from, until)`. */
  def fold(bytes: Array[Byte], from: Int, until: Int): Long = {
    var h = OFFSET
    var i = from
    while (i < until) {
      h ^= (bytes(i) & 0xffL)
      h *= PRIME
      i += 1
    }
    h
  }

  def hash(bytes: Array[Byte]): Long = fold(bytes, 0, bytes.length)
}

/** Winnowing-style rolling fingerprint: the minimum FNV-1a hash over all
  * k-byte windows of the string (k = 8). Two documents sharing any 8-byte
  * run of content collide with high probability on this value — a cheap
  * near-dup prefilter that is one pass over the bytes, no explode.
  */
object RollingMinHash {
  def minHash(bytes: Array[Byte], k: Int): Long = {
    if (bytes.length < k) return Fnv64.hash(bytes)
    var min = Long.MaxValue
    var i = 0
    while (i + k <= bytes.length) {
      val h = Fnv64.fold(bytes, i, i + k)
      if (h < min) min = h
      i += 1
    }
    min
  }
}

/** Column wrappers over the Scala kernels. Each one is Spark's own
  * `StaticInvoke`: whole-stage codegen emits a direct static call to the
  * kernel (`graft.functions.Fnv64.hash(...)`), the interpreted path calls
  * it by reflection, and a null argument gives null without a call. The
  * byte[] kernels read `cast(binary)`, the same UTF-8 copy the string's
  * `getBytes` makes.
  */
object fns {
  private def kernel(obj: AnyRef, name: String, dt: DataType,
                     args: Seq[Expression], returnNullable: Boolean = false): Column =
    Bridge.column(StaticInvoke(obj.getClass, dt, name, args,
      returnNullable = returnNullable))

  private def text(c: Column): Expression = Bridge.expression(c)
  private def bytes(c: Column): Expression = Bridge.expression(c.cast("binary"))
  private val Longs = ArrayType(LongType, containsNull = false)

  def fnv64(c: Column): Column =
    kernel(Fnv64, "hash", LongType, Seq(bytes(c)))
  def rolling_min_hash(c: Column, k: Int = 8): Column =
    kernel(RollingMinHash, "minHash", LongType, Seq(bytes(c), Literal(k)))
  def array_dot(a: Column, b: Column): Column =
    Bridge.column(ArrayDot(Bridge.expression(a), Bridge.expression(b)))
  def word_ngram_hash60(c: Column, n: Int, mod: Long = 0L): Column =
    kernel(TextHashFns, "ngramHash60", Longs, Seq(text(c), Literal(n), Literal(mod)))
  def word_ngrams(c: Column, n: Int): Column =
    kernel(TextHashFns, "ngrams", ArrayType(StringType, containsNull = false),
      Seq(text(c), Literal(n)))
  def simhash_bits(c: Column, bits: Int): Column =
    kernel(TextHashFns, "simhash", LongType, Seq(text(c), Literal(bits)),
      returnNullable = true)
  def word_ngram_minhash(c: Column, n: Int, mod: Long,
                         as: Seq[Long], bs: Seq[Long]): Column = {
    require(as.length == bs.length, "as/bs coefficient arrays must align")
    def coefs(v: Seq[Long]) = Literal(UnsafeArrayData.fromPrimitiveArray(v.toArray), Longs)
    kernel(TextHashFns, "ngramMinHash", Longs,
      Seq(text(c), Literal(n), Literal(mod), coefs(as), coefs(bs)), returnNullable = true)
  }
}
