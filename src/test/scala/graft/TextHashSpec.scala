package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.execution.{ProjectExec, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StringType
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.{fns, Fnv64, RollingMinHash, TextHashFns}

/** The single-pass text-hash kernels must be bit-identical to the
  * expression compositions they replaced — on adversarial strings that
  * exercise every tokenization edge Spark's `split(trim(s), "\\s+")` has:
  * leading/trailing NON-space whitespace (trim strips 0x20 only; Java
  * split keeps a leading empty token and, under limit -1, trailing empty
  * tokens), multi-space runs, unicode, short docs, empty and null text.
  * The composition tests read a local relation, which Spark evaluates
  * without generated code; the last test reads parquet, so the same
  * kernels run inside whole-stage codegen.
  */
class TextHashSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {

  private val adversarial = Seq(
    "one two three four five",
    "  leading and trailing spaces  ",
    "\ttab-led words here four",
    "ends with a tab\t",
    "a\nb\nc\nd",
    "multi   space    runs here",
    "two words",
    "one",
    "",
    "   ",
    "ünïcode wörds über äll the plàce",
    "dup dup dup dup dup",
    null
  )

  private def df = {
    val spark = TestSpark.spark
    import spark.implicits._
    adversarial.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
  }

  private val oldHash: org.apache.spark.sql.Column => org.apache.spark.sql.Column =
    c => conv(substring(md5(c.cast("binary")), 1, 15), 16, 10).cast("long")

  test("word_ngram_hash60 equals the transform+concat_ws+md5Hash60 composition") {
    for (n <- Seq(2, 3, 4); mod <- Seq(0L, 1000003L)) {
      val parts = (0 until n).map(j => s"__w[i+$j]").mkString(", ")
      val viaHof = df.withColumn("__w", split(trim(col("text")), "\\s+"))
        .select(col("doc_id"), explode_outer(expr(
          s"CASE WHEN size(__w) >= $n THEN transform(sequence(0, size(__w) - $n), i -> concat_ws(' ', $parts)) ELSE array() END"))
          .as("g"))
        .filter(col("g").isNotNull)
        .select(col("doc_id"),
          (if (mod > 0) pmod(oldHash(col("g")), lit(mod)) else oldHash(col("g"))).as("h"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
      val viaExpr = df
        .select(col("doc_id"),
          explode(fns.word_ngram_hash60(col("text"), n, mod)).as("h"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
      assert(viaExpr == viaHof, s"n=$n mod=$mod")
    }
  }

  test("word_ngrams equals the transform+concat_ws composition") {
    val viaHof = df.withColumn("__w", split(trim(col("text")), "\\s+"))
      .select(col("doc_id"), explode_outer(expr(
        "CASE WHEN size(__w) >= 2 THEN transform(sequence(0, size(__w) - 2), i -> concat_ws(' ', __w[i], __w[i+1])) ELSE array() END"))
        .as("g"))
      .filter(col("g").isNotNull)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq.sorted
    val viaExpr = df
      .select(col("doc_id"), explode(fns.word_ngrams(col("text"), 2)).as("g"))
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq.sorted
    assert(viaExpr == viaHof)
  }

  test("word_ngram_minhash equals the explode+distinct+groupBy-min pipeline") {
    val M = 1000003L
    val K = 16
    val as = (1 to K).map(i => (1103515245L * i + 12345L) % M)
    val bs = (1 to K).map(i => (987654321L * i + 7L) % M)
    val viaAgg = df.withColumn("__w", split(trim(col("text")), "\\s+"))
      .select(col("doc_id"), explode_outer(expr(
        "CASE WHEN size(__w) >= 3 THEN transform(sequence(0, size(__w) - 3), i -> concat_ws(' ', __w[i], __w[i+1], __w[i+2])) ELSE array() END"))
        .as("g"))
      .filter(col("g").isNotNull)
      .select(col("doc_id"), pmod(oldHash(col("g")), lit(M)).as("h"))
      .distinct()
      .groupBy("doc_id")
      .agg(min((col("h") * as.head + bs.head) % M).as("mh0"),
        (1 until K).map(i => min((col("h") * as(i) + bs(i)) % M).as(s"mh$i")): _*)
      .collect().map(r => (r.getLong(0), (1 to K).map(r.getLong).toList))
      .toSeq.sortBy(_._1)
    val viaExpr = df
      .select(col("doc_id"),
        fns.word_ngram_minhash(col("text"), 3, M, as, bs).as("s"))
      .filter(col("s").isNotNull)
      .select(col("doc_id") +:
        (0 until K).map(i => element_at(col("s"), i + 1).as(s"mh$i")): _*)
      .collect().map(r => (r.getLong(0), (1 to K).map(r.getLong).toList))
      .toSeq.sortBy(_._1)
    assert(viaExpr == viaAgg)
  }

  test("simhash_bits equals the explode + per-bit sum + assemble pipeline") {
    val bits = 48
    val wordHash = df
      .select(col("doc_id"), explode(split(trim(col("text")), "\\s+")).as("w"))
      .filter(col("w") =!= "")
      .select(col("doc_id"), oldHash(col("w")).as("h"))
    val sums = wordHash.groupBy("doc_id").agg(
      sum(when(expr("(h >> 0) & 1") === 1, 1).otherwise(-1)).as("b0"),
      (1 until bits).map(j =>
        sum(when(expr(s"(h >> $j) & 1") === 1, 1).otherwise(-1)).as(s"b$j")): _*)
    val viaAgg = sums.select(col("doc_id"),
        (0 until bits).map(j => when(col(s"b$j") > 0, lit(1L << j)).otherwise(0L))
          .reduce(_ + _).as("simhash"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
    val viaExpr = df
      .select(col("doc_id"), fns.simhash_bits(col("text"), bits).as("simhash"))
      .filter(col("simhash").isNotNull)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
    assert(viaExpr == viaAgg)
    // docs with no non-empty tokens (empty/blank/null text) yield NO row in
    // the aggregation pipeline and NULL (filtered) from the expression
    assert(!viaExpr.exists { case (id, _) => Seq(8L, 9L, 12L).contains(id) })
  }

  test("every string kernel runs in generated code over parquet: kernel values, null to null") {
    val spark = TestSpark.spark
    val dir = Files.createTempDirectory("graft_kernels")
    try {
      val path = dir.resolve("docs.parquet").toString
      df.write.parquet(path)
      val docs = spark.read.parquet(path)
      val M = 1000003L
      val (as, bs) = (Seq(3L, 5L, 7L), Seq(11L, 13L, 17L))
      def u(t: String) = UTF8String.fromString(t)
      def coefs(v: Seq[Long]) = UnsafeArrayData.fromPrimitiveArray(v.toArray)
      // (kernel the generated code must call, column, direct call on the text)
      val kernels: Seq[(String, Column, String => Any)] = Seq(
        ("Fnv64.hash", fns.fnv64(col("text")), t => Fnv64.hash(t.getBytes(UTF_8))),
        ("RollingMinHash.minHash", fns.rolling_min_hash(col("text"), 8),
          t => RollingMinHash.minHash(t.getBytes(UTF_8), 8)),
        ("TextHashFns.ngramHash60", fns.word_ngram_hash60(col("text"), 3, M),
          t => TextHashFns.ngramHash60(u(t), 3, M).toLongArray().toSeq),
        ("TextHashFns.ngrams", fns.word_ngrams(col("text"), 2),
          t => TextHashFns.ngrams(u(t), 2).toObjectArray(StringType).map(_.toString).toSeq),
        ("TextHashFns.simhash", fns.simhash_bits(col("text"), 48),
          t => TextHashFns.simhash(u(t), 48)),
        ("TextHashFns.ngramMinHash", fns.word_ngram_minhash(col("text"), 3, M, as, bs),
          t => Option(TextHashFns.ngramMinHash(u(t), 3, M, coefs(as), coefs(bs)))
            .map(_.toLongArray().toSeq).orNull))
      for ((kernel, c, direct) <- kernels) {
        val q = docs.select(col("doc_id"), c.as("v"))
        val got = q.collect().map(r => r.getLong(0) -> r.get(1)).toMap
        val stages = collect(q.queryExecution.executedPlan) {
          case w: WholeStageCodegenExec if w.child.exists {
            case p: ProjectExec => p.projectList.exists(_.exists(_.isInstanceOf[StaticInvoke]))
            case _ => false
          } => w
        }
        assert(stages.size == 1, s"$kernel: projection not in whole-stage codegen")
        assert(stages.head.doCodeGen()._2.body.contains(s"graft.functions.$kernel("),
          s"$kernel: generated code does not call the kernel")
        adversarial.zipWithIndex.foreach { case (t, i) => // null text: want null
          val want = if (t == null) null else direct(t)
          assert(got(i.toLong) == want, s"$kernel on ${Option(t).map(_.take(20))}")
        }
      }
    } finally
      Files.walk(dir).sorted(java.util.Comparator.reverseOrder[Path]()).forEach(p => Files.delete(p))
  }
}
