package graft

import java.sql.Timestamp

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

import graft.stream.{OrderRepair, TurnPos}
import graft.transform.Converters

/** Property-based invariants (SURVEY §5: ScalaCheck where a property is
  * natural). Column functions are exercised through Spark on generated
  * batches; the order-repair invariant runs the real fMGWS in batch mode
  * over random permutations with random gaps and duplicates.
  */
class PropertySpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  /** Deterministic forAll-lite over raw ScalaCheck generators (the
    * scalatest-scalacheck bridge is not in the offline cache).
    */
  private def forAll[A](gen: Gen[A], n: Int = 20)(body: A => Unit): Unit =
    (0 until n).foreach { i =>
      gen.apply(Gen.Parameters.default, Seed(i.toLong)).foreach(body)
    }

  private def viaSpark(fn: org.apache.spark.sql.Column => org.apache.spark.sql.Column,
                       inputs: Seq[String]): Seq[Option[String]] =
    inputs.toDF("v").select(fn(col("v")).cast("string"))
      .collect().map(r => Option(r.getString(0))).toSeq

  test("ssn: output is always canonical ###-##-#### or null; formatting is idempotent") {
    forAll(Gen.listOfN(30, Gen.asciiPrintableStr)) { raw =>
      val once = viaSpark(Converters.toSsn, raw)
      once.flatten.foreach(s => assert(s.matches("\\d{3}-\\d{2}-\\d{4}")))
      // feeding canonical output back through the converter is identity
      val formatted = once.flatten
      if (formatted.nonEmpty)
        assert(viaSpark(Converters.toSsn, formatted).flatten == formatted)
    }
  }

  test("truncate: result length ≤ n, and is a prefix; idempotent") {
    forAll(Gen.zip(Gen.listOfN(20, Gen.asciiPrintableStr), Gen.choose(1, 12))) { case (raw, n) =>
      val out = raw.toDF("v")
        .select(when(length(col("v")) > n, substring(col("v"), 1, n))
          .otherwise(col("v")).as("t"))
        .collect().map(_.getString(0)).toSeq
      out.zip(raw).foreach { case (t, r) =>
        assert(t.length <= math.max(n, r.length))
        assert(r.startsWith(t))
      }
    }
  }

  test("boolean converter: never throws, only true/false/null, case-insensitive") {
    forAll(Gen.listOfN(30, Gen.oneOf(
      Gen.asciiPrintableStr,
      Gen.oneOf("true", "FALSE", "Yes", "nO", "y", "N", "0", "1", " TRUE ")))) { raw =>
      val lower = viaSpark(Converters.toBoolean, raw.map(_.toLowerCase))
      val upper = viaSpark(Converters.toBoolean, raw.map(_.toUpperCase))
      assert(lower == upper) // case-insensitive by construction
    }
  }

  test("csv: RFC-4180 serialize→parse round-trips arbitrary fields (quotes, delimiters, newlines)") {
    import graft.source.CsvStrictSource
    val nasty = Gen.oneOf(
      Gen.asciiPrintableStr,
      Gen.const("a,b"), Gen.const("he said \"hi\""), Gen.const("line1\nline2"),
      Gen.const("crlf\r\nend"), Gen.const("  padded  "), Gen.const(""),
      Gen.const("ünïcode ✓ 世界"))
    val genCase = for {
      rows <- Gen.choose(1, 6)
      data <- Gen.listOfN(rows, Gen.listOfN(3, nasty))
      quote <- Gen.oneOf('"', '\'')
    } yield (data, quote)

    forAll(genCase, n = 12) { case (data, quote) =>
      val q = quote.toString
      def cell(v: String) = q + v.replace(q, q + q) + q
      val body = ("A,B,C" +: data.map(_.map(cell).mkString(","))).mkString("\n") + "\n"
      val f = TestSpark.tempDir("rt").resolve("rt.csv")
      java.nio.file.Files.write(f, body.getBytes("UTF-8"))
      val r = CsvStrictSource.read(spark, f.toString, quote = quote)
      assert(r.events.isEmpty, s"events=${r.events} for quote=$quote body=<$body>")
      val got = r.df.orderBy("pos").collect()
        .map(row => (0 until 3).map(i => Option(row.getString(i))).toList).toList
      // source contract: EOL inside quotes normalized to \n, values trimmed,
      // blank → null
      val expected = data.map(_.map { v =>
        val t = v.replace("\r\n", "\n").replace("\r", "\n").trim
        if (t.isEmpty) None else Some(t)
      })
      assert(got == expected, s"quote=$quote body=<$body>")
      java.nio.file.Files.deleteIfExists(f)
    }
  }

  test("order repair (strict): emits exactly the longest contiguous prefix, min-pos per key, sorted") {
    val genConv = for {
      n <- Gen.choose(1, 25)
      present <- Gen.listOfN(n, Gen.choose(0, 29)).map(_.distinct)
      dups <- Gen.someOf(present)
    } yield (present, dups.toList)

    forAll(genConv) { case (present, dups) =>
      val turns = present.map(i =>
        TurnPos("c", i, "user", s"t$i", null, new Timestamp(i * 1000L), i.toLong)) ++
        dups.map(i =>
          TurnPos("c", i, "user", "DUP", null, new Timestamp(i * 1000L), 1000L + i))
      val shuffled = new scala.util.Random(42).shuffle(turns)
      val out = OrderRepair.batch(shuffled.toDS(), strict = true).collect().toSeq

      val expectPrefix = Iterator.from(0).takeWhile(present.contains).toSeq
      assert(out.map(_.turn_idx) == expectPrefix)          // contiguous from 0, sorted
      assert(out.forall(_.text != "DUP"))                  // min-pos (original) wins
    }
  }

  test("order repair: packed flavor ≡ TurnPos flavor on random unicode/dup/gap batches") {
    val genBatch = for {
      n <- Gen.choose(1, 25)
      idxs <- Gen.listOfN(n, Gen.choose(0, 12))
      texts <- Gen.listOfN(n, Gen.oneOf(
        Gen.asciiPrintableStr, Gen.const("héllo wörld ✓"), Gen.const("")))
      strict <- Gen.oneOf(true, false)
    } yield (idxs, texts, strict)

    forAll(genBatch, n = 10) { case (idxs, texts, strict) =>
      val turns = idxs.zip(texts).zipWithIndex.map { case ((i, t), k) =>
        TurnPos(s"c${k % 3}", i, "user", t, if (k % 2 == 0) null else "tool",
          new Timestamp(i * 1000L), k.toLong)
      }
      val viaPos = OrderRepair.batch(turns.toDS(), strict).toDF()
        .collect().map(_.toSeq).toSet
      val viaPacked = OrderRepair.unpack(
        OrderRepair.batchPacked(OrderRepair.pack(turns.toDF()), strict))
        .collect().map(_.toSeq).toSet
      assert(viaPacked == viaPos, s"strict=$strict idxs=$idxs")
    }
  }

  test("order repair (flush): emits every distinct key exactly once, sorted, min-pos winner") {
    forAll(Gen.listOfN(20, Gen.choose(0, 15))) { idxs =>
      val turns = idxs.zipWithIndex.map { case (i, k) =>
        TurnPos("c", i, "user", s"v$k", null, new Timestamp(i * 1000L), k.toLong)
      }
      val out = OrderRepair.batch(turns.toDS(), strict = false).collect().toSeq
      assert(out.map(_.turn_idx) == idxs.distinct.sorted)
      // winner for each key is the first (min pos) generated occurrence
      idxs.zipWithIndex.groupBy(_._1).foreach { case (idx, occ) =>
        val winner = out.find(_.turn_idx == idx).get
        assert(winner.pos == occ.map(_._2).min.toLong)
      }
    }
  }

  test("as-of join ≡ brute-force latest-at-or-before on random batches") {
    import graft.transform.AsOfJoin
    val gen = Gen.zip(
      Gen.listOfN(25, Gen.zip(Gen.choose(0, 4), Gen.choose(0L, 50L))),
      Gen.listOfN(25, Gen.zip(Gen.choose(0, 4), Gen.choose(0L, 50L), Gen.choose(0.0, 9.0))))
    forAll(gen, n = 12) { case (ls, rs) =>
      val left = ls.zipWithIndex.map { case ((k, t), i) =>
        (s"k$k", new Timestamp(t * 1000L), i.toLong) }
        .toDF("k", "ts", "lid")
      val right = rs.zipWithIndex.map { case ((k, t, v), i) =>
        (s"k$k", new Timestamp(t * 1000L), i.toLong, v) }
        .toDF("k", "ts", "ord", "price")
      val got = AsOfJoin.asof(left, right, "k", "ts", "ts", "ord", Seq("ord", "price"))
        .collect().map(r => (r.getAs[Long]("lid"),
          Option(r.getAs[java.lang.Long]("asof_ord")).map(_.toLong))).toMap
      // brute force: max by (ts, ord) among same-key rights with ts <= left ts
      val expect = ls.zipWithIndex.map { case ((k, t), i) =>
        val cands = rs.zipWithIndex.filter { case ((rk, rt, _), _) => rk == k && rt <= t }
        (i.toLong, cands.sortBy { case ((_, rt, _), ri) => (rt, ri) }.lastOption.map(_._2.toLong))
      }.toMap
      assert(got == expect)
    }
  }

  test("connected components ≡ union-find on random graphs") {
    import graft.queries.GraphOps
    val gen = Gen.zip(Gen.choose(6, 14),
      Gen.listOfN(14, Gen.zip(Gen.choose(0L, 13L), Gen.choose(0L, 13L))))
    forAll(gen, n = 6) { case (n, rawEdges) =>
      val nodes = (0L until n.toLong).toSeq
      val edges = rawEdges.filter { case (a, b) => a < n && b < n }
      val got = GraphOps.connectedComponents(
          nodes.toDF("id"), edges.toDF("src", "dst"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      // union-find reference: the larger root always attaches under the
      // smaller, so each set's root IS its minimum label
      val parent = scala.collection.mutable.Map(nodes.map(i => i -> i): _*)
      def find(x: Long): Long =
        if (parent(x) == x) x else { val r = find(parent(x)); parent(x) = r; r }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val expect = nodes.map(i => i -> find(i)).toMap
      assert(got == expect)
    }
  }
}
