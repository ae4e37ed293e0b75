package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.source.CsvStrictSource

/** Golden-fixture CSV contract (reference:
  * src/Shipwright.Test/Dataflows/Sources/CsvSourceTests/ReaderTests.cs).
  */
class CsvSourceSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private val dir = "src/test/resources/csv"

  test("ValidFile: 4 records, quoted quote preserved, blank/whitespace → null, positions 2-5") {
    val r = CsvStrictSource.read(spark, s"$dir/ValidFile.csv")
    assert(r.events.isEmpty)
    val rows = r.df.orderBy("pos").collect()
    assert(rows.length == 4)
    assert(r.df.columns.toSeq == Seq("A", "B", "C", "pos"))
    assert(rows(0).toSeq == Seq("x", "y", "z", 2L))
    assert(rows(1).toSeq == Seq("1", "2", "\"3\"", 3L))
    assert(rows(2).toSeq == Seq("m", null, "n", 4L))  // whitespace → null
    assert(rows(3).toSeq == Seq("r", null, "t", 5L))  // blank → null
  }

  test("ValidFile headerless: fields Field_0..Field_2, 5 records incl. header row") {
    val r = CsvStrictSource.read(spark, s"$dir/ValidFile.csv", header = false)
    assert(r.events.isEmpty)
    assert(r.df.columns.toSeq == Seq("Field_0", "Field_1", "Field_2", "pos"))
    assert(r.df.count() == 5)
  }

  test("EmptyFile: zero records, no events") {
    val r = CsvStrictSource.read(spark, s"$dir/EmptyFile.csv")
    assert(r.events.isEmpty && r.df.count() == 0)
  }

  test("DuplicateHeader: zero records + critical stop event") {
    val r = CsvStrictSource.read(spark, s"$dir/DuplicateHeader.csv")
    assert(r.df.count() == 0)
    assert(r.events.size == 1 && r.events.head.stop)
    assert(r.events.head.description.startsWith("Duplicate header name"))
  }

  test("case-sensitive field mode: 'A,a' headers legal when sensitive, fatal otherwise") {
    val f = TestSpark.tempDir("case_hdr").resolve("case_hdr.csv")
    java.nio.file.Files.writeString(f, "A,a\n1,2\n")
    // default comparer (OrdinalIgnoreCase, Dataflow.cs:38): duplicate
    val insensitive = CsvStrictSource.read(spark, f.toString)
    assert(insensitive.df.count() == 0)
    assert(insensitive.events.size == 1 && insensitive.events.head.stop)
    assert(insensitive.events.head.description.startsWith("Duplicate header name"))
    // case-sensitive comparer (Record.cs:45-46): distinct fields
    val sensitive = CsvStrictSource.read(spark, f.toString,
      caseSensitiveFields = true)
    assert(sensitive.events.isEmpty)
    assert(sensitive.df.columns.toSeq == Seq("A", "a", "pos"))
    assert(sensitive.df.count() == 1)
  }

  test("FieldCountChange: zero records + critical event; Skip=3 past bad row → 2 records") {
    val r = CsvStrictSource.read(spark, s"$dir/FieldCountChange.csv")
    assert(r.df.count() == 0)
    assert(r.events.head.description.startsWith("An inconsistent number of columns"))
    val skipped = CsvStrictSource.read(spark, s"$dir/FieldCountChange.csv", skip = 3)
    assert(skipped.events.isEmpty && skipped.df.count() == 2)
  }

  test("UnescapedQuote: zero records + critical stop event") {
    val r = CsvStrictSource.read(spark, s"$dir/UnescapedQuote.csv")
    assert(r.df.count() == 0)
    assert(r.events.head.description.startsWith("Unescaped quote found"))
  }

  test("missing file: zero records + could-not-find event") {
    val r = CsvStrictSource.read(spark, s"$dir/NoSuchFile.csv")
    assert(r.df.count() == 0 && r.fatal)
    assert(r.events.head.description.contains("Could not find file"))
  }

  test("UTF-8 BOM is stripped, not leaked into the first header name") {
    val f = TestSpark.tempDir("bom").resolve("bom.csv")
    java.nio.file.Files.write(f,
      Array[Byte](0xEF.toByte, 0xBB.toByte, 0xBF.toByte) ++ "A,B\n1,2\n".getBytes("UTF-8"))
    val r = CsvStrictSource.read(spark, f.toString)
    assert(r.events.isEmpty)
    assert(r.df.columns.toSeq == Seq("A", "B", "pos"))
    assert(r.df.collect().head.toSeq == Seq("1", "2", 2L))
  }

  test("MultiLine: RFC-4180 quoted field containing a newline parses as one record") {
    val r = CsvStrictSource.read(spark, s"$dir/MultiLine.csv")
    assert(r.events.isEmpty)
    val rows = r.df.orderBy("pos").collect()
    assert(rows.length == 2)
    assert(rows(0).toSeq == Seq("x", "line1\nline2", "z", 2L)) // starts on line 2
    assert(rows(1).toSeq == Seq("1", "2", "3", 4L))            // record AFTER it: line 4
  }

  test("DuplicateHeaderCase: Name/name is a fatal duplicate (case-insensitive comparer)") {
    val r = CsvStrictSource.read(spark, s"$dir/DuplicateHeaderCase.csv")
    assert(r.df.count() == 0)
    assert(r.events.size == 1 && r.events.head.stop)
    assert(r.events.head.description.startsWith("Duplicate header name"))
  }

  test("TrailingAfterQuote: characters after a closing quote are fatal bad data") {
    val r = CsvStrictSource.read(spark, s"$dir/TrailingAfterQuote.csv")
    assert(r.df.count() == 0)
    assert(r.events.head.description.startsWith("Unescaped quote found"))
  }

  test("Semicolon delimiter honored") {
    val r = CsvStrictSource.read(spark, s"$dir/Semicolon.csv", delimiter = ';')
    assert(r.events.isEmpty)
    assert(r.df.columns.toSeq == Seq("A", "B", "pos"))
    assert(r.df.orderBy("pos").collect().map(_.toSeq).toSeq ==
      Seq(Seq("1", "2", 2L), Seq("3", "4", 3L)))
  }

  test("Comments: lines starting with the comment char are skipped when allowed") {
    val r = CsvStrictSource.read(spark, s"$dir/Comments.csv", allowComments = true)
    assert(r.events.isEmpty)
    assert(r.df.orderBy("pos").collect().map(_.toSeq).toSeq ==
      Seq(Seq("1", "2", 3L), Seq("3", "4", 5L)))
    // comments NOT allowed (the reference default): '#' is data → width error
    val strict = CsvStrictSource.read(spark, s"$dir/Comments.csv")
    assert(strict.df.count() == 0 && strict.fatal)
  }

  private def writeTemp(name: String, content: String): String = {
    val f = TestSpark.tempDir(name).resolve(s"$name.csv")
    java.nio.file.Files.write(f, content.getBytes("UTF-8"))
    f.toString
  }

  test("custom quote char: single-quoted fields carry delimiters and doubled quotes") {
    val p = writeTemp("quote", "A,B\n'x,1','it''s'\n2,3\n")
    val r = CsvStrictSource.read(spark, p, quote = '\'')
    assert(r.events.isEmpty)
    val rows = r.df.orderBy("pos").collect()
    assert(rows(0).toSeq == Seq("x,1", "it's", 2L))
    assert(rows(1).toSeq == Seq("2", "3", 3L))
    // a standard double quote is now plain data
    val p2 = writeTemp("quote2", "A,B\n\"x,\"y\n")
    val r2 = CsvStrictSource.read(spark, p2, quote = '\'')
    assert(r2.events.isEmpty)
    assert(r2.df.collect().head.toSeq == Seq("\"x", "\"y", 2L))
  }

  test("distinct escape char: backslash escapes the quote (and itself) inside quotes") {
    val p = writeTemp("escape", "A,B\n\"he said \\\"hi\\\"\",\"c:\\\\tmp\"\n")
    val r = CsvStrictSource.read(spark, p, escape = '\\')
    assert(r.events.isEmpty)
    assert(r.df.collect().head.toSeq == Seq("he said \"hi\"", "c:\\tmp", 2L))
    // with escape == quote (default) the same file is fatal bad data
    val strict = CsvStrictSource.read(spark, p)
    assert(strict.df.count() == 0 && strict.fatal)
    assert(strict.events.head.description.startsWith("Unescaped quote found"))
  }

  test("broken configuration (quote == delimiter) is a stop event, not a crash") {
    val r = CsvStrictSource.read(spark, s"$dir/ValidFile.csv", quote = ',')
    assert(r.df.count() == 0 && r.fatal)
  }

  test("path with spaces and URI-special characters reads fine") {
    val d = TestSpark.tempDir("csv dir with spaces")
    val f = d.resolve("odd name #1.csv")
    java.nio.file.Files.write(f, "A,B\n1,2\n".getBytes("UTF-8"))
    val r = CsvStrictSource.read(spark, f.toString)
    assert(r.events.isEmpty)
    assert(r.df.collect().head.toSeq == Seq("1", "2", 2L))
  }

  test("BlankLines: ignored by default; a width error when ignoreBlankLines=false") {
    val r = CsvStrictSource.read(spark, s"$dir/BlankLines.csv")
    assert(r.events.isEmpty)
    assert(r.df.orderBy("pos").collect().map(_.toSeq).toSeq ==
      Seq(Seq("1", "2", 3L), Seq("3", "4", 5L)))
    val strict = CsvStrictSource.read(spark, s"$dir/BlankLines.csv",
      ignoreBlankLines = false)
    assert(strict.df.count() == 0)
    assert(strict.events.head.description.startsWith("An inconsistent number of columns"))
  }
}
