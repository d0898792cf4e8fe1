package graft.sources

import com.univocity.parsers.csv.CsvParser
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.hadoop.io.compress.CompressionCodecFactory
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.csv.{CSVInferSchema, CSVOptions}
import org.apache.spark.sql.execution.datasources.csv.CSVUtils
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{DataType, NullType, StructType}

import java.io.{BufferedInputStream, BufferedReader, InputStreamReader}
import java.nio.charset.Charset
import scala.util.Try

/** Driver-side CSV planning from ONE bounded read of the input — the
  * reference's `read_csv(p, ignore_errors=true, header=true)`
  * (core_processor.rs:413-418) inherits DuckDB's sniffer, which detects
  * the dialect and infers column types from a bounded sample. Here both
  * come from one open of the input's first file, so the read itself is
  * Spark's CSV source with a given schema: no header job, no
  * whole-file inference job.
  *
  * Dialect (DuckDB's shape, simplified to its defaults): Spark's CSV
  * source hardcodes the comma, so a semicolon- or tab-delimited export
  * would load as one mangled column. Over the first [[MaxLines]]
  * complete lines of a [[PrefixBytes]] prefix, score each candidate
  * delimiter by quote-aware per-line field counts — a delimiter is viable
  * when every sampled line yields the SAME count > 1; among viable
  * candidates the highest field count wins, ties break by candidate
  * priority (`,` `;` `\t` `|`). Nothing viable → comma (Spark's default,
  * also DuckDB's last resort).
  *
  * Types: Spark's own inference (`CSVInferSchema.inferRowType` folded
  * over the lines, header made safe by `CSVUtils.makeSafeHeader`, options
  * from the session's SQLConf) restricted to the first [[SampleRows]] data
  * lines — DuckDB's `sample_size`. A later row whose value does not fit
  * the sampled type is malformed and dropped by the reader's
  * DROPMALFORMED mode, as DuckDB's `ignore_errors` drops it. */
object CsvDialect {

  val Candidates: Seq[Char] = Seq(',', ';', '\t', '|')
  private val PrefixBytes = 16384
  private val MaxLines = 32
  /** DuckDB `read_csv`'s default `sample_size`. */
  val SampleRows = 20480

  /** The separator and schema one CSV input reads with. */
  final case class Sample(sep: String, schema: StructType)

  /** Reader options of the ingest path: header row, the sniffed
    * separator, malformed rows dropped (`ignore_errors`). */
  def readerOptions(sep: String): Map[String, String] =
    Map("header" -> "true", "sep" -> sep, "mode" -> "DROPMALFORMED")

  /** Sniff and sample the first file at `path` — for a directory of part
    * files, its first regular member by name that is not a `_`/`.` marker.
    * A path with no such file (missing, an empty directory) samples as
    * comma-separated with no columns, and the reader reports the path. */
  def sample(spark: SparkSession, path: String): Sample = {
    val conf = spark.sessionState.newHadoopConf()
    probeFile(conf, path).fold(Sample(",", new StructType())) { file =>
      val raw = file.getFileSystem(conf).open(file)
      val codec = new CompressionCodecFactory(conf).getCodec(file)
      val in = new BufferedInputStream(
        if (codec == null) raw else codec.createInputStream(raw), 1 << 16)
      try {
        in.mark(PrefixBytes)
        val prefix = in.readNBytes(PrefixBytes)
        in.reset()
        val sep = sniffSeparatorIn(new String(prefix, "UTF-8")).toString
        val sqlConf = spark.sessionState.conf
        val options = new CSVOptions(readerOptions(sep), sqlConf.csvColumnPruning,
          sqlConf.sessionLocalTimeZone, sqlConf.columnNameOfCorruptRecord)
        val reader = new BufferedReader(new InputStreamReader(in, Charset.forName(options.charset)))
        // a leading byte-order mark is not data (Hadoop's line reader drops it too)
        reader.mark(1)
        if (reader.read() != '\uFEFF') reader.reset()
        val lines = Iterator.continually(reader.readLine()).takeWhile(_ != null)
        Sample(sep, SQLConf.withExistingConf(sqlConf)(
          inferSchema(lines, options, sqlConf.caseSensitiveAnalysis)))
      } finally in.close()
    }
  }

  /** Spark's text-CSV inference (header = first non-comment, non-empty
    * line; lines equal to it skipped) over at most [[SampleRows]] data
    * lines of `lines`. */
  private def inferSchema(lines: Iterator[String], options: CSVOptions,
      caseSensitive: Boolean): StructType = {
    val kept = CSVUtils.filterCommentAndEmpty(lines, options)
    val parser = new CsvParser(options.asParserSettings)
    val first = if (kept.hasNext) kept.next() else null
    val row = if (first == null) null else parser.parseLine(first)
    if (row == null) return new StructType() // no first line: Spark's empty schema
    val header = CSVUtils.makeSafeHeader(row, caseSensitive, options)
    val infer = new CSVInferSchema(options)
    val types = CSVUtils.filterHeaderLine(kept, first, options)
      .take(SampleRows).map(parser.parseLine)
      .foldLeft(Array.fill[DataType](header.length)(NullType))(infer.inferRowType)
    StructType(infer.toStructFields(types, header))
  }

  /** The file a sample reads: the first file `path` names (a glob, as
    * Spark's reader takes one, may name several), or a directory's first
    * regular member — else the first one under its first subdirectory, as
    * in a `partitionBy` layout — by name, skipping `_SUCCESS`-style
    * markers and dotfiles. */
  private def probeFile(conf: Configuration, path: String): Option[Path] = Try {
    val p = new Path(path)
    val fs = p.getFileSystem(conf)
    def first(st: FileStatus): Option[Path] =
      if (st.isFile) Some(st.getPath)
      else {
        val members = fs.listStatus(st.getPath).sortBy(_.getPath.getName)
          .filterNot(m => m.getPath.getName.startsWith(".") || m.getPath.getName.startsWith("_"))
        members.find(_.isFile).map(_.getPath)
          .orElse(members.iterator.filter(_.isDirectory).flatMap(first).nextOption())
      }
    Option(fs.globStatus(p)).toSeq.flatten.sortBy(_.getPath.getName).iterator
      .flatMap(first).nextOption()
  }.toOption.flatten

  /** Sniff over an in-memory prefix (unit-test surface). */
  private[sources] def sniffSeparatorIn(prefix: String): Char = {
    val raw = prefix.split("\n", -1)
    // the final element is a partial line unless the prefix ended the
    // file; counting a truncated line would skew every candidate
    val lines = (if (raw.length > 1) raw.dropRight(1) else raw)
      .map(_.stripSuffix("\r")).filter(_.nonEmpty).take(MaxLines)
    if (lines.isEmpty) return ','
    val viable = Candidates.flatMap { sep =>
      val counts = lines.map(fieldCount(_, sep))
      if (counts.distinct.length == 1 && counts.head > 1) Some(sep -> counts.head)
      else None
    }
    if (viable.isEmpty) ','
    else viable.maxBy(_._2)._1 // stable: ties keep candidate order
  }

  /** Quote-aware field count: separators inside double-quoted sections
    * don't split; `""` inside quotes is the escaped quote. */
  private def fieldCount(line: String, sep: Char): Int = {
    var fields = 1
    var inQuote = false
    var i = 0
    while (i < line.length) {
      val c = line.charAt(i)
      if (c == '"') inQuote = !inQuote
      else if (c == sep && !inQuote) fields += 1
      i += 1
    }
    fields
  }
}
