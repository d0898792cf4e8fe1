package graft.sources

import graft.TestSpark
import org.scalatest.funsuite.AnyFunSuite

/** The bounded-prefix CSV dialect sniffer (DuckDB's auto-detection
  * shape): quote-aware consistent-field-count scoring. */
class CsvDialectSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  private def sniff(s: String): Char = CsvDialect.sniffSeparatorIn(s)
  private def sniffFile(path: String): String = CsvDialect.sample(spark, path).sep

  test("detects each candidate dialect from consistent field counts") {
    assert(sniff("a,b,c\n1,2,3\n4,5,6\n") == ',')
    assert(sniff("a;b;c\n1;2;3\n4;5;6\n") == ';')
    assert(sniff("a\tb\tc\n1\t2\t3\n") == '\t')
    assert(sniff("a|b|c\n1|2|3\n") == '|')
  }

  test("quoted sections hide delimiters from the count") {
    // the comma appears INSIDE quotes on the data line — a naive count
    // would see inconsistent comma fields and pick it anyway
    assert(sniff("name;note\n\"Smith, John\";\"likes; semicolons\"\n\"Doe, Jane\";x\n") == ';')
    // and an escaped quote inside a quoted field does not unbalance
    assert(sniff("a,b\n\"he said \"\"hi, there\"\"\",2\n") == ',')
  }

  test("higher consistent field count wins when several dialects are viable") {
    // every line has exactly one ';' but three ','
    assert(sniff("a,b;x,c\n1,2;y,3\n") == ',')
  }

  test("falls back to comma when nothing is viable") {
    assert(sniff("justonecolumn\nanotherline\n") == ',')
    assert(sniff("") == ',')
    // inconsistent counts across lines → not viable
    assert(sniff("a;b;c\n1;2\n3;4;5;6\n") == ',')
  }

  test("a truncated final line is not counted") {
    // prefix cut mid-line: the partial last line would report 2 fields
    // against the true 3 and kill the right candidate
    assert(sniff("a;b;c\n1;2;3\n4;5") == ';')
  }

  test("end-to-end file sniff") {
    val p = java.nio.file.Files.createTempFile("dialect", ".csv")
    p.toFile.deleteOnExit()
    java.nio.file.Files.writeString(p, "k;v;w\n1;x;y\n2;z;q\n")
    assert(sniffFile(p.toString) == ";")
  }

  test("the sniff is a pure optimization: unreadable paths fall back, directories probe a member") {
    // nonexistent path / glob: spark.read.csv may still resolve it — the
    // probe must not throw first
    assert(sniffFile("/no/such/file.csv") == ",")
    assert(sniffFile("/tmp/*.csv-glob-not-a-file") == ",")
    // a directory of part files sniffs the first regular member,
    // skipping _SUCCESS-style markers and dotfiles
    val dir = java.nio.file.Files.createTempDirectory("dialectdir")
    java.nio.file.Files.writeString(dir.resolve("_SUCCESS"), "")
    java.nio.file.Files.writeString(dir.resolve("part-0000.csv"), "a|b|c\n1|2|3\n")
    assert(sniffFile(dir.toString) == "|")
    // an empty directory falls back
    val empty = java.nio.file.Files.createTempDirectory("dialectempty")
    assert(sniffFile(empty.toString) == ",")
  }
}
