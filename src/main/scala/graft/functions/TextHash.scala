package graft.functions

import java.nio.charset.StandardCharsets
import java.security.MessageDigest
import java.util.regex.Pattern

import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.unsafe.types.UTF8String

/** Single-pass kernels for the word-n-gram expression compositions in the
  * text dedup/curation operators. The previous shape —
  * `explode(transform(sequence(…), i -> concat_ws(' ', __w[i], …)))` followed
  * by `conv(substring(md5(…),1,15),16,10)` — pays for a higher-order lambda
  * per n-gram (HOFs are CodegenFallback: the whole projection drops out of
  * whole-stage codegen) plus an md5-hex STRING round trip per n-gram. These
  * kernels, which generated code calls directly through [[fns]], produce
  * bit-identical values (same tokenization, same joined n-gram bytes, same
  * 60-bit md5 prefix) in one tight JVM loop per document.
  *
  * Tokenization contract (must match `split(trim(text), "\\s+")` exactly):
  * Spark's `trim` strips ASCII space (0x20) ONLY — not tabs/newlines — and
  * Spark's `split` is Java `Pattern.split(s, -1)`, which keeps a leading
  * empty token when the string starts with a delimiter and keeps trailing
  * empty tokens under limit -1. [[TextHashFns.tokens]] reproduces both.
  */
object TextHashFns {

  private val WS = Pattern.compile("\\s+")

  private val MD5 = new ThreadLocal[MessageDigest] {
    override def initialValue(): MessageDigest = MessageDigest.getInstance("MD5")
  }

  /** Space-only trim (Spark `trim` semantics), then Java split-with-limit -1
    * (Spark `split` semantics).
    */
  def tokens(text: String): Array[String] = {
    var from = 0
    var to = text.length
    while (from < to && text.charAt(from) == ' ') from += 1
    while (to > from && text.charAt(to - 1) == ' ') to -= 1
    WS.split(text.substring(from, to), -1)
  }

  /** First 60 bits of md5(utf8 bytes) — identical to
    * `conv(substring(md5(s),1,15),16,10)` (15 hex nibbles = the top 60 bits
    * of the digest, always non-negative).
    */
  def h60(s: String): Long = {
    val md = MD5.get()
    md.reset()
    val d = md.digest(s.getBytes(StandardCharsets.UTF_8))
    val top = ((d(0) & 0xffL) << 56) | ((d(1) & 0xffL) << 48) |
      ((d(2) & 0xffL) << 40) | ((d(3) & 0xffL) << 32) |
      ((d(4) & 0xffL) << 24) | ((d(5) & 0xffL) << 16) |
      ((d(6) & 0xffL) << 8) | (d(7) & 0xffL)
    top >>> 4
  }

  /** Word n-grams joined with ' ' (the `concat_ws` composition), hashed to
    * 60 bits, optionally mod `mod` (mod <= 0 = none). Empty result when the
    * doc has fewer than n tokens — the CASE WHEN size(__w) >= n guard.
    */
  def ngramHash60(text: UTF8String, n: Int, mod: Long): ArrayData = {
    val w = tokens(text.toString)
    if (w.length < n) return new GenericArrayData(Array.empty[Long])
    val out = new Array[Long](w.length - n + 1)
    val sb = new java.lang.StringBuilder
    var i = 0
    while (i < out.length) {
      val h = h60(gram(w, i, n, sb))
      out(i) = if (mod > 0) h % mod else h
      i += 1
    }
    new GenericArrayData(out)
  }

  /** Word n-grams as strings (for operators that must group by the literal
    * n-gram, where hashing could merge distinct groups).
    */
  def ngrams(text: UTF8String, n: Int): ArrayData = {
    val w = tokens(text.toString)
    if (w.length < n) return new GenericArrayData(Array.empty[Any])
    val out = new Array[Any](w.length - n + 1)
    val sb = new java.lang.StringBuilder
    var i = 0
    while (i < out.length) {
      out(i) = UTF8String.fromString(gram(w, i, n, sb))
      i += 1
    }
    new GenericArrayData(out)
  }

  /** K MinHash signature values in ONE pass over the word n-grams:
    * mh_i = min over n-grams of (h * as(i) + bs(i)) % mod with
    * h = h60(n-gram) % mod. The distinct-shingles step the explode→groupBy
    * pipeline ran is irrelevant to a MIN (min over a multiset equals min
    * over its set), so the whole signature is a map-side projection.
    * Returns null when the doc has fewer than n tokens — exactly the docs
    * the aggregation pipeline emitted no row for. All arithmetic stays in
    * [0, mod²+mod] ≪ 2^63: bit-identical to the SQL expression.
    */
  def ngramMinHash(text: UTF8String, n: Int, mod: Long,
                   asData: ArrayData, bsData: ArrayData): ArrayData = {
    val w = tokens(text.toString)
    if (w.length < n) return null
    val as = asData.toLongArray()
    val bs = bsData.toLongArray()
    val k = as.length
    val mins = new Array[Long](k)
    java.util.Arrays.fill(mins, Long.MaxValue)
    val sb = new java.lang.StringBuilder
    var i = 0
    while (i <= w.length - n) {
      val h = h60(gram(w, i, n, sb)) % mod
      var p = 0
      while (p < k) {
        val v = (h * as(p) + bs(p)) % mod
        if (v < mins(p)) mins(p) = v
        p += 1
      }
      i += 1
    }
    new GenericArrayData(mins)
  }

  /** SimHash over word-unigram 60-bit hashes, low `bits` bits tallied ±1,
    * assembled sign-positive — identical to the explode → 48×sum(CASE…) →
    * assemble pipeline, computed map-side in one pass. Returns null when
    * the doc has no non-empty tokens: the aggregation pipeline emitted no
    * row for such docs.
    */
  def simhash(text: UTF8String, bits: Int): java.lang.Long = {
    val w = tokens(text.toString)
    val counts = new Array[Int](bits)
    var any = false
    var i = 0
    while (i < w.length) {
      val s = w(i)
      if (!s.isEmpty) {
        any = true
        val h = h60(s)
        var j = 0
        while (j < bits) {
          if (((h >>> j) & 1L) == 1L) counts(j) += 1 else counts(j) -= 1
          j += 1
        }
      }
      i += 1
    }
    if (!any) return null
    var sim = 0L
    var j = 0
    while (j < bits) {
      if (counts(j) > 0) sim |= 1L << j
      j += 1
    }
    sim
  }

  /** The `i`-th word n-gram of `w`: `n` tokens joined with ' ' (the
    * `concat_ws` composition), built in the caller's reused `sb`.
    */
  private def gram(w: Array[String], i: Int, n: Int, sb: java.lang.StringBuilder): String = {
    sb.setLength(0)
    var j = 0
    while (j < n) {
      if (j > 0) sb.append(' ')
      sb.append(w(i + j))
      j += 1
    }
    sb.toString
  }
}
