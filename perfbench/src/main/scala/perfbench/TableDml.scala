package perfbench

import graft.plans.TxLog
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{col, count, lit, sum}
import org.apache.spark.sql.types._

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.util.SplittableRandom
import scala.collection.mutable

/** Steady DML rounds on a multi-file TxLog table of sf0.1 lineitem rows.
  *
  * The table is lineitem with two leading columns: a dense `key` and the
  * `load_batch` that first wrote it (key / `FileRows`). Rows come from the
  * seeded pool gen.py wrote (48,000 sampled sf0.1 lineitem rows); key k
  * carries pool row k mod 48,000. Set-up writes one file per key block,
  * the first one half a block, so retention deletes end inside a file,
  * never on a file boundary. One round:
  *  - append `FileRows` rows with fresh keys at the top (one new file);
  *  - merge (upsert) `MergeRows` existing keys inside one random block,
  *    with new `l_quantity` and `l_extendedprice`;
  *  - delete the `FileRows` oldest keys; the file the cut ends in has
  *    survivors, which are rewritten;
  *  - scan: count, quantity and price sums over a random three-block range;
  *  - `TxLog.compact` back to `LiveFiles` files clustered by
  *    (load_batch, key).
  * Appends and deletes balance, and compaction undoes the files the DML
  * adds, so every round starts on a table of the same row count and file
  * count.
  *
  * A key → row model kept here predicts count and checksums after every
  * commit, and every scan's aggregate; after the timed region each
  * recorded version is read back and compared (see `verify`). */
final class TableDml extends Workload {
  private val FileRows = 4000
  private val LiveFiles = 12
  private val MergeRows = 1000
  private val ScanBlocks = 3
  override val warmupRounds = 3

  private var spark: SparkSession = _
  private var table: String = _
  private var rnd: SplittableRandom = _
  private var pool: Array[Row] = _
  private var schema: StructType = _
  private val qty = mutable.LongMap.empty[Double]
  private val price = mutable.LongMap.empty[Double]
  private var lo = 0L // lowest live key
  private var hi = 0L // one past the highest live key
  /** (version, rows, sum key, sum quantity, sum price) after each commit */
  private val expected = mutable.ArrayBuffer.empty[(Long, Long, Long, Double, Double)]
  private var firstTimedVersion = Long.MaxValue
  private val liveFiles = mutable.ArrayBuffer.empty[Double]
  private val keptFrac = mutable.ArrayBuffer.empty[Double]

  override def opKinds: Seq[String] = Seq("append", "merge", "delete", "scan", "compact")

  private val QtyField = 2 + 4 // key, load_batch, then lineitem's l_quantity
  private val PriceField = 2 + 5 // and l_extendedprice

  /** Key k's row: its pool row, with quantity q (and the price scaled to
    * it) when given. */
  private def row(k: Long, q: Option[Double] = None): Row = {
    val src = pool((k % pool.length).toInt)
    val q0 = src.getDouble(QtyField - 2)
    val p0 = src.getDouble(PriceField - 2)
    val (qn, pn) = q match {
      case Some(x) => (x, math.round(p0 / q0 * x * 100.0) / 100.0)
      case None => (q0, p0)
    }
    qty(k) = qn; price(k) = pn
    val fields = Array[Any](k, k / FileRows) ++ src.toSeq
    fields(QtyField) = qn; fields(PriceField) = pn
    Row.fromSeq(fields.toSeq)
  }

  private def frame(rows: Seq[Row]): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema).coalesce(1)

  private def record(version: Long): Unit = {
    var sk = 0L; var sq = 0.0; var sp = 0.0
    qty.foreach { case (k, q) => sk += k; sq += q; sp += price(k) }
    expected += ((version, qty.size.toLong, sk, sq, sp))
  }

  override def setup(ctx: Ctx): Unit = {
    spark = ctx.spark
    table = s"${ctx.work}/lineitem_tx"
    rnd = new SplittableRandom(ctx.seed * 7919 + 3)
    val src = spark.read.parquet(s"${ctx.work}/lineitem_pool.parquet")
    pool = src.collect()
    schema = StructType(StructField("key", LongType) +: StructField("load_batch", LongType) +:
      src.schema.fields)
    // one commit of LiveFiles files, one key block each; the first block
    // starts half way, so deletes never end on a file boundary
    lo = FileRows / 2
    hi = LiveFiles.toLong * FileRows
    val blocks = (0L until LiveFiles).map(b => (math.max(lo, b * FileRows) until (b + 1) * FileRows).map(row(_)))
    record(TxLog.append(spark.createDataFrame(
      spark.sparkContext.parallelize(blocks, LiveFiles).flatMap(identity), schema), table))
  }

  private def append(ctx: Ctx): Unit = {
    val df = frame((hi until hi + FileRows).map(row(_)))
    var v = 0L
    ctx.op("append", "append", FileRows) { v = TxLog.append(df, table) }
    hi += FileRows
    record(v)
  }

  private def merge(ctx: Ctx): Unit = {
    // MergeRows distinct existing keys inside one whole live block
    val firstBlock = (lo + FileRows - 1) / FileRows
    val block = firstBlock + rnd.nextInt(((hi / FileRows) - firstBlock).toInt)
    val keys = mutable.LinkedHashSet.empty[Long]
    while (keys.size < MergeRows) keys += block * FileRows + rnd.nextInt(FileRows)
    val df = frame(keys.toSeq.sorted.map(k => row(k, Some(1.0 + rnd.nextInt(50)))))
    var v = 0L
    ctx.op("merge", "merge", MergeRows) { v = TxLog.merge(ctx.spark, table, df, "key") }
    record(v)
  }

  private def delete(ctx: Ctx): Unit = {
    val (from, upTo) = (lo, lo + FileRows)
    var v = 0L
    ctx.op("delete", "delete", FileRows) {
      v = TxLog.delete(ctx.spark, table, col("key") < lit(upTo))
    }
    (from until upTo).foreach { k => qty.remove(k); price.remove(k) }
    lo = upTo
    record(v)
  }

  private def scan(ctx: Ctx): Unit = {
    val span = ScanBlocks.toLong * FileRows
    val a = lo + (rnd.nextLong() & Long.MaxValue) % (hi - lo - span)
    val b = a + span - 1
    var got: Row = null
    ctx.op("scan", "scan", span) {
      got = ctx.spark.read.format("graft").load(table)
        .filter(col("key").between(a, b))
        .agg(count(lit(1)), sum(col("l_quantity")), sum(col("l_extendedprice")))
        .collect().head
    }
    if (got != null) {
      val ks = (a to b).filter(qty.contains)
      val wantQ = ks.map(qty(_)).sum
      val wantP = ks.map(price(_)).sum
      ctx.check(got.getLong(0) == ks.length && got.getDouble(1) == wantQ &&
          math.abs(got.getDouble(2) - wantP) <= 1e-6 * math.abs(wantP),
        s"scan [$a, $b]: engine (${got.getLong(0)}, ${got.getDouble(1)}, ${got.getDouble(2)}) " +
          s"model (${ks.length}, $wantQ, $wantP)")
    }
    if (ctx.tracer.enabled && ctx.timing) {
      val snap = ctx.tracer.span("txlog.replay")(TxLog.snapshotInfo(table))
      liveFiles += snap.files.length
      keptFrac += TxLog.pruneFiles(snap, "key", a.toString, b.toString).length.toDouble /
        snap.files.length
    }
  }

  private def compact(ctx: Ctx): Unit = {
    var v = 0L
    ctx.op("compact", "compact", qty.size) {
      v = TxLog.compact(ctx.spark, table, LiveFiles, clusterBy = Seq("load_batch", "key"))
    }
    record(v)
  }

  override def round(ctx: Ctx): Unit = {
    if (ctx.timing && firstTimedVersion == Long.MaxValue)
      firstTimedVersion = TxLog.latestVersion(table) + 1
    append(ctx)
    merge(ctx)
    delete(ctx)
    scan(ctx)
    compact(ctx)
  }

  /** Every version from the last set-up commit on, against the model:
    * two through `TxLog.snapshot(asOf = v)` here, and all of them in
    * check.py, which reads each version's live files (as the log lists
    * them) with DuckDB. */
  override def verify(ctx: Ctx): Unit = {
    val checked = expected.filter(_._1 >= firstTimedVersion - 1).toSeq
    checked.take(2).foreach { case (v, n, sk, sq, sp) =>
      val r = TxLog.snapshot(ctx.spark, table, Some(v))
        .agg(count(lit(1)), sum(col("key")), sum(col("l_quantity")), sum(col("l_extendedprice")))
        .collect().head
      ctx.check(r.getLong(0) == n && r.getLong(1) == sk && r.getDouble(2) == sq &&
          math.abs(r.getDouble(3) - sp) <= 1e-6 * math.abs(sp),
        s"version $v: snapshot (${r.getLong(0)}, ${r.getLong(1)}, ${r.getDouble(2)}, " +
          s"${r.getDouble(3)}) model ($n, $sk, $sq, $sp)")
    }
    val versions = checked.map { case (v, n, sk, sq, sp) =>
      val files = TxLog.snapshotInfo(table, Some(v)).files.map(f => Json.str(s"$table/$f"))
      s"""{"version":$v,"rows":$n,"sum_key":$sk,"sum_quantity":${Json.num(sq)},""" +
        s""""sum_price":${Json.num(sp)},"files":${files.mkString("[", ",", "]")}}"""
    }
    Files.write(Paths.get(ctx.work, "versions.json"),
      versions.mkString("[\n", ",\n", "\n]").getBytes(UTF_8))
  }

  override def layerMetrics(ctx: Ctx, rounds: Int): Seq[(String, Double, String)] = {
    val commits = TxLog.history(table)
      .filter(c => c.version >= firstTimedVersion && Set("append", "merge", "delete")(c.op))
    def rowsOf(c: TxLog.Commit) =
      c.add.map(f => c.stats.get(f).flatMap(_.get(TxLog.RowCountKey)).map(_.min.toLong)
        .getOrElse(0L)).sum
    def bytesOf(c: TxLog.Commit) = c.add.map(f => new File(s"$table/$f").length()).sum
    val dml = commits.filter(c => c.op != "append")
    val changed = dml.map(c => if (c.op == "merge") MergeRows else FileRows).sum
    val snap = TxLog.snapshotInfo(table)
    val liveBytes = snap.files.map(f => new File(s"$table/$f").length()).sum
    val bytesPerRow = liveBytes.toDouble / qty.size
    val userRows = commits.map(c => if (c.op == "merge") MergeRows else FileRows).sum
    def p50(kind: String) = Stats.median(ctx.ops.filter(_.kind == kind).map(_.seconds).toSeq)
    Seq(
      ("table.append_p50_s", p50("append"), "s"),
      ("table.merge_p50_s", p50("merge"), "s"),
      ("table.delete_p50_s", p50("delete"), "s"),
      ("table.scan_p50_s", p50("scan"), "s"),
      ("table.compact_p50_s", p50("compact"), "s"),
      ("txlog.replay_s", Stats.median(ctx.tracer.seconds("txlog.replay")), "s"),
      ("txlog.live_files", Stats.median(liveFiles.toSeq), "count"),
      ("txlog.files_kept_frac", Stats.median(keptFrac.toSeq), "ratio"),
      ("txlog.files_added_per_commit", commits.map(_.add.length).sum.toDouble / commits.length, "count"),
      ("txlog.files_removed_per_commit", commits.map(_.remove.length).sum.toDouble / commits.length, "count"),
      ("txlog.rows_rewritten_per_row_changed", dml.map(rowsOf).sum.toDouble / changed, "ratio"),
      ("txlog.bytes_written_per_user_byte", commits.map(bytesOf).sum / (userRows * bytesPerRow), "ratio"))
  }
}
