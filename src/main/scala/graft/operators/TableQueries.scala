package graft.operators

import graft.{QuerySpec, Tables}
import graft.plans.TxLog
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Versioned-table operators over the TxLog transaction log
  * (plans/TxLog.scala): atomic multi-file commits, snapshot-isolated
  * reads, time travel, an incremental change feed, data-neutral
  * compaction, and vacuum. The reference rebuilds tables wholesale per
  * ingested file (CTAS, core_processor.rs:391-428); these queries are
  * the storage contract that pipeline needs the moment a 100 TB corpus
  * has concurrent writers or versioned consumers.
  *
  * Oracle strategy: every commit's content is a deterministic slice of a
  * driver table, so DuckDB can restate any VERSION's content as a WHERE
  * clause over the original parquet — the log machinery (atomic publish,
  * replay, checkpoints) sits entirely under the hash gate.
  *
  * Scale notes:
  *  - The log holds file NAMES; rows move only through distributed
  *    parquet writes (one file per partition, executor-side) and
  *    pushdown-capable parquet reads. Nothing row-shaped crosses the
  *    driver.
  *  - Snapshot resolution is one checkpoint + a bounded log suffix, so
  *    read planning stays O(1)-ish as the commit count grows.
  *  - The change feed reads exactly the files ADDED in the version
  *    range — incremental consumers never rescan the corpus, and
  *    compaction (dataChange=false) cannot re-deliver rows to them.
  */
object TableQueries {

  private val Dec = DecimalType(38, 4)

  private def fixturePath(dir: String, name: String): String =
    ReaderQueries.fixturePath(dir, name)

  private def deleteRecursively(path: String): Unit = {
    val f = new java.io.File(path)
    if (f.isDirectory)
      Option(f.listFiles()).getOrElse(Array.empty)
        .foreach(c => deleteRecursively(c.getPath))
    f.delete(): Unit
  }

  // ---- shared versioned-orders fixture ------------------------------
  // v1 append  orders WHERE o_orderkey % 3 = 0
  // v2 append  orders WHERE o_orderkey % 3 = 1
  // v3 overwrite orders WHERE o_orderkey % 3 = 2
  // Deterministic slices, so the oracle restates any version as a
  // predicate over the source table.

  private def ordersAll(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "orders")
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
        col("o_totalprice"), col("o_orderdate"))

  private def ordersSlice(s: SparkSession, dir: String, m: Int): DataFrame =
    ordersAll(s, dir).filter(col("o_orderkey") % 3 === m)

  /** The orders table as one commit of 8 range-disjoint, key-sorted
    * files — the layout zone-map pruning exists for. Returns the 10%
    * key band [lo, hi] the stats/merge queries and their oracles share. */
  private def rangeLayoutOrders(s: SparkSession, dir: String, table: String): (Long, Long) = {
    deleteRecursively(table)
    TxLog.append(
      ordersAll(s, dir).repartitionByRange(8, col("o_orderkey"))
        .sortWithinPartitions("o_orderkey"),
      table)
    val r = Tables(s, dir, "orders")
      .agg(min(col("o_orderkey")), max(col("o_orderkey"))).head()
    val (mn, mx) = (r.getLong(0), r.getLong(1))
    (mn + (mx - mn) * 3 / 10, mn + (mx - mn) * 4 / 10)
  }

  private def buildOrdersLog(s: SparkSession, dir: String, table: String): Unit = {
    deleteRecursively(table)
    TxLog.append(ordersSlice(s, dir, 0).repartition(2), table)
    TxLog.append(ordersSlice(s, dir, 1).repartition(2), table)
    TxLog.overwrite(ordersSlice(s, dir, 2).repartition(2), table): Unit
  }

  /** Built once per (process, sf dir) and shared by the time-travel and
    * change-feed consumers — the publishedPairs stance: consumers
    * measure the marginal read, and are flagged cacheAssisted. */
  private val sharedBuilt = new java.util.concurrent.ConcurrentHashMap[String, String]()
  private def sharedOrdersTable(s: SparkSession, dir: String): String =
    sharedBuilt.computeIfAbsent(dir, _ => {
      val table = fixturePath(dir, "txlog_orders_shared")
      buildOrdersLog(s, dir, table)
      table
    })

  private def ordersAgg(df: DataFrame): DataFrame =
    df.groupBy("o_orderstatus")
      .agg(
        count(lit(1)).as("n"),
        sum(col("o_totalprice").cast(Dec)).cast("double").as("total"),
        min(col("o_orderkey")).as("first_key"),
        max(col("o_orderkey")).as("last_key"),
        max(col("o_orderdate")).as("last_date"))
      .orderBy("o_orderstatus")

  private def ordersOracle(where: String): String =
    s"""SELECT o_orderstatus, COUNT(*) AS n,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(38,4))) AS DOUBLE) AS total,
               MIN(o_orderkey) AS first_key, MAX(o_orderkey) AS last_key,
               MAX(o_orderdate) AS last_date
        FROM orders WHERE $where
        GROUP BY o_orderstatus ORDER BY o_orderstatus"""

  def specs: Seq[QuerySpec] = Seq(

    // HEAD read through the full commit protocol: two appends, then an
    // overwrite that atomically swaps the table's contents. The read
    // resolves the snapshot from the log (checkpoint + suffix) and must
    // see ONLY the overwrite's slice — the append files are live on disk
    // but dead in the log. Rebuilds its own log every run, so the bench
    // time is the honest end-to-end cost of 3 commits + 1 snapshot read.
    QuerySpec(
      "table_snapshot_read",
      (s, dir) => {
        val table = fixturePath(dir, "txlog_orders_head")
        buildOrdersLog(s, dir, table)
        ordersAgg(TxLog.snapshot(s, table))
      },
      Some(ordersOracle("o_orderkey % 3 = 2"))),

    // Time travel: the same log read AS OF version 2 — before the
    // overwrite — must reproduce exactly the union of the two appended
    // slices, though HEAD no longer contains either.
    QuerySpec(
      "table_time_travel",
      (s, dir) =>
        ordersAgg(TxLog.snapshot(s, sharedOrdersTable(s, dir), asOf = Some(2L))),
      Some(ordersOracle("o_orderkey % 3 IN (0, 1)")),
      cacheAssisted = true),

    // TIMESTAMP-based time travel (Delta's timestampAsOf): every commit
    // records its publication instant in the log, and an instant between
    // two commits resolves — by binary search over the monotone commit
    // timestamps — to the earlier one. The audit question a governed
    // corpus answers daily: "what did training job X actually read at
    // 02:00?". The read itself goes through the connector option, so
    // the whole resolve→pin→scan path sits under the hash oracle.
    QuerySpec(
      "table_time_travel_ts",
      (s, dir) => {
        val table = fixturePath(dir, "txlog_orders_tsasof")
        deleteRecursively(table)
        TxLog.append(ordersSlice(s, dir, 0).repartition(2), table)
        Thread.sleep(15) // commit-timestamp granularity is milliseconds
        TxLog.append(ordersSlice(s, dir, 1).repartition(2), table)
        Thread.sleep(15)
        TxLog.overwrite(ordersSlice(s, dir, 2).repartition(2), table)
        val mid = TxLog.history(table)(1).ts // the v2 instant
        require(TxLog.versionAt(table, mid) == 2L,
          "an instant at commit 2 must resolve to version 2")
        ordersAgg(s.read.format("graft")
          .option("timestampAsOf", mid.toString).load(table))
      },
      Some(ordersOracle("o_orderkey % 3 IN (0, 1)"))),

    // Incremental change feed: a consumer checkpointed at v1 resumes
    // with changes(1, 2) and must receive exactly commit 2's rows — the
    // contract that lets a downstream 100 TB job process each ingest
    // batch once, reading only the files that batch added.
    QuerySpec(
      "table_incremental",
      (s, dir) =>
        ordersAgg(TxLog.changes(s, sharedOrdersTable(s, dir), 1L, 2L)),
      Some(ordersOracle("o_orderkey % 3 = 1")),
      cacheAssisted = true),

    // Compaction is layout-only: two 4-file appends (8 small files)
    // compact to 2, the live-file count provably drops, the change feed
    // across the compaction commit is provably EMPTY (dataChange=false —
    // incremental consumers never see rewritten rows twice), and the
    // post-compaction read hash-matches the pre-compaction content.
    QuerySpec(
      "table_compact_read",
      (s, dir) => {
        val table = fixturePath(dir, "txlog_lineitem_compact")
        deleteRecursively(table)
        val base = Tables(s, dir, "lineitem")
          .filter(col("l_orderkey") % 5 === 0)
          .select(col("l_orderkey"), col("l_linenumber"), col("l_returnflag"),
            col("l_quantity"), col("l_extendedprice"))
        val v1 = TxLog.append(base.filter(col("l_linenumber") <= 3).repartition(4), table)
        val v2 = TxLog.append(base.filter(col("l_linenumber") > 3).repartition(4), table)
        val before = TxLog.liveFileCount(table)
        val v3 = TxLog.compact(s, table, 2)
        val after = TxLog.liveFileCount(table)
        require(before == 8 && after <= 2,
          s"compaction did not shrink layout: $before -> $after files")
        require(v3 == v2 + 1 && !TxLog.history(table).last.dataChange,
          "compaction must be a data-neutral commit")
        require(TxLog.changes(s, table, v2, v3).isEmpty,
          "change feed must skip the compaction commit")
        require(v1 == 1L, s"unexpected first version $v1")
        TxLog.snapshot(s, table)
          .groupBy("l_returnflag")
          .agg(
            count(lit(1)).as("n"),
            sum(col("l_quantity").cast(Dec)).cast("double").as("qty"),
            sum(col("l_extendedprice").cast(Dec)).cast("double").as("revenue"))
          .orderBy("l_returnflag")
      },
      Some("""SELECT l_returnflag, COUNT(*) AS n,
                     CAST(SUM(CAST(l_quantity AS DECIMAL(38,4))) AS DOUBLE) AS qty,
                     CAST(SUM(CAST(l_extendedprice AS DECIMAL(38,4))) AS DOUBLE) AS revenue
              FROM lineitem WHERE l_orderkey % 5 = 0
              GROUP BY l_returnflag ORDER BY l_returnflag""")),

    // Zone-map file skipping: the table is written as 8 range-disjoint
    // files (repartitionByRange), so a 10%-of-keyspace range scan plans
    // a PROVABLE minority of files from the log's per-file min/max —
    // data skipping at the FILE LISTING level, before any scan task
    // launches. The row filter still applies on top, so correctness
    // never rests on the stats; the oracle recomputes the same band
    // from the same MIN/MAX scalars.
    QuerySpec(
      "table_stats_prune",
      (s, dir) => {
        val table = fixturePath(dir, "txlog_orders_stats")
        val (lo, hi) = rangeLayoutOrders(s, dir, table)
        val (df, planned, total) =
          TxLog.snapshotRange(s, table, "o_orderkey", lo.toString, hi.toString)
        require(planned <= 3,
          s"zone maps failed to skip: planned $planned of $total files")
        ordersAgg(df)
      },
      Some("""WITH b AS (SELECT MIN(o_orderkey) AS mn, MAX(o_orderkey) AS mx FROM orders)
              SELECT o_orderstatus, COUNT(*) AS n,
                     CAST(SUM(CAST(o_totalprice AS DECIMAL(38,4))) AS DOUBLE) AS total,
                     MIN(o_orderkey) AS first_key, MAX(o_orderkey) AS last_key,
                     MAX(o_orderdate) AS last_date
              FROM orders, b
              WHERE o_orderkey BETWEEN b.mn + (b.mx - b.mn) * 3 // 10
                                   AND b.mn + (b.mx - b.mn) * 4 // 10
              GROUP BY o_orderstatus ORDER BY o_orderstatus""")),

    // File-granular copy-on-write MERGE: updates confined to a 10% key
    // band upsert through the log; zone maps prune the candidate files,
    // a key semi-join finds the exact affected set, and the commit's
    // remove list PROVES only a minority of files were rewritten — a
    // merge touching 10% of the keyspace must not rewrite the table.
    QuerySpec(
      "table_merge_cow",
      (s, dir) => {
        val table = fixturePath(dir, "txlog_orders_merge")
        val (lo, hi) = rangeLayoutOrders(s, dir, table)
        val updates = ordersAll(s, dir)
          .filter(col("o_orderkey").between(lo, hi) && col("o_orderkey") % 7 === 3)
          .withColumn("o_orderstatus", lit("U"))
          .withColumn("o_totalprice", col("o_totalprice") + 100.0)
        TxLog.merge(s, table, updates, "o_orderkey")
        val last = TxLog.history(table).last
        require(last.op == "merge" && last.remove.length <= 3 && last.remove.length >= 1,
          s"copy-on-write merge rewrote ${last.remove.length} of 8 files")
        ordersAgg(TxLog.snapshot(s, table))
      },
      Some("""WITH b AS (SELECT MIN(o_orderkey) AS mn, MAX(o_orderkey) AS mx FROM orders),
              merged AS (
                SELECT o_orderkey,
                       CASE WHEN o_orderkey BETWEEN b.mn + (b.mx - b.mn) * 3 // 10
                                                AND b.mn + (b.mx - b.mn) * 4 // 10
                             AND o_orderkey % 7 = 3
                            THEN 'U' ELSE o_orderstatus END AS o_orderstatus,
                       CASE WHEN o_orderkey BETWEEN b.mn + (b.mx - b.mn) * 3 // 10
                                                AND b.mn + (b.mx - b.mn) * 4 // 10
                             AND o_orderkey % 7 = 3
                            THEN o_totalprice + 100.0 ELSE o_totalprice END AS o_totalprice,
                       o_orderdate
                FROM orders, b)
              SELECT o_orderstatus, COUNT(*) AS n,
                     CAST(SUM(CAST(o_totalprice AS DECIMAL(38,4))) AS DOUBLE) AS total,
                     MIN(o_orderkey) AS first_key, MAX(o_orderkey) AS last_key,
                     MAX(o_orderdate) AS last_date
              FROM merged
              GROUP BY o_orderstatus ORDER BY o_orderstatus""")),

    // Exactly-once ingest: appends carry an (appId, batchId) token; a
    // REPLAYED batch — here replayed with deliberately different (whole-
    // corpus) content, so any leak breaks the hash — is skipped without
    // touching the table. The foreachBatch sink contract at the log
    // level: restarted streaming jobs re-commit idempotently.
    QuerySpec(
      "table_append_idempotent",
      (s, dir) => {
        val table = fixturePath(dir, "txlog_nation_txn")
        deleteRecursively(table)
        val nation = Tables(s, dir, "nation")
          .select(col("n_nationkey").cast("long").as("nkey"),
            col("n_name").as("nname"),
            col("n_regionkey").cast("long").as("rkey"))
        val app = "nation_loader"
        TxLog.appendIdempotent(nation.filter(col("rkey") < 2), table, app, 0L)
        TxLog.appendIdempotent(nation.filter(col("rkey") >= 2), table, app, 1L)
        val replayed = TxLog.appendIdempotent(nation, table, app, 1L)
        require(replayed.isEmpty && TxLog.latestVersion(table) == 2L,
          "replayed batch must be skipped without a new version")
        TxLog.snapshot(s, table)
          .groupBy("rkey")
          .agg(count(lit(1)).as("n"), min(col("nname")).as("first_name"))
          .orderBy("rkey")
      },
      Some("""SELECT CAST(n_regionkey AS BIGINT) AS rkey, COUNT(*) AS n,
                     MIN(n_name) AS first_name
              FROM nation GROUP BY rkey ORDER BY rkey""")),

    // The transaction log as a first-class DataSource: `spark.read
    // .format("graft")` plans over the LOG's live-file list (dead files
    // invisible by construction) through Spark's own vectorized parquet
    // scan, and a plain WHERE band prunes files against the log's zone
    // maps INSIDE Catalyst planning — proven here by reading the
    // FileSourceScanExec's own planned-file count, which must be a
    // minority of the 8 range files. versionAsOf pins the snapshot.
    QuerySpec(
      "scan_graft_dsv2",
      (s, dir) => {
        val table = fixturePath(dir, "txlog_orders_dsv2")
        val (lo, hi) = rangeLayoutOrders(s, dir, table)
        val df = s.read.format("graft").option("versionAsOf", "1").load(table)
          .filter(col("o_orderkey").between(lo, hi))
        val planned = df.queryExecution.executedPlan.collectLeaves().collectFirst {
          case f: org.apache.spark.sql.execution.FileSourceScanExec =>
            f.selectedPartitions.totalNumberOfFiles
        }.getOrElse(throw new IllegalStateException("no file scan in plan"))
        require(planned <= 3,
          s"zone maps failed to prune inside planning: $planned of 8 files")
        ordersAgg(df)
      },
      Some("""WITH b AS (SELECT MIN(o_orderkey) AS mn, MAX(o_orderkey) AS mx FROM orders)
              SELECT o_orderstatus, COUNT(*) AS n,
                     CAST(SUM(CAST(o_totalprice AS DECIMAL(38,4))) AS DOUBLE) AS total,
                     MIN(o_orderkey) AS first_key, MAX(o_orderkey) AS last_key,
                     MAX(o_orderdate) AS last_date
              FROM orders, b
              WHERE o_orderkey BETWEEN b.mn + (b.mx - b.mn) * 3 // 10
                                   AND b.mn + (b.mx - b.mn) * 4 // 10
              GROUP BY o_orderstatus ORDER BY o_orderstatus""")),

    // The WRITE half of the connector: `df.write.format("graft")` commits
    // through the transaction log — two multi-partition appends then an
    // overwrite, all through `save(path)`, with the op sequence and
    // one-file-per-partition layout asserted from the log itself. The
    // read-back goes through the same connector, so the whole round trip
    // (distributed parquet write → atomic commit → log-planned scan)
    // sits under the hash oracle. Closes the r10 wall where writers had
    // to call the TxLog Scala API.
    QuerySpec(
      "sink_graft_dsv2",
      (s, dir) => {
        val table = fixturePath(dir, "txlog_orders_writer")
        deleteRecursively(table)
        ordersSlice(s, dir, 0).repartition(2)
          .write.format("graft").mode("append").save(table)
        ordersSlice(s, dir, 1).repartition(2)
          .write.format("graft").mode("append").save(table)
        ordersSlice(s, dir, 2).repartition(2)
          .write.format("graft").mode("overwrite").save(table)
        val h = TxLog.history(table)
        require(h.map(_.op) == Seq("append", "append", "overwrite"),
          s"writer API must commit through the log, got ${h.map(_.op)}")
        require(h.forall(_.add.length == 2),
          "each commit must land one file per partition, executor-side")
        ordersAgg(s.read.format("graft").load(table))
      },
      Some(ordersOracle("o_orderkey % 3 = 2"))),

    // SQL-first ingest: INSERT INTO a `CREATE TEMPORARY VIEW … USING
    // graft` target commits through the log (InsertableRelation), and
    // the SAME view — whose LogicalRelation was pinned at creation —
    // serves the post-insert state, because the log-backed FileIndex
    // re-resolves head snapshots. The reference's users write SQL
    // strings (core_processor.rs:391-428); this is the path they take.
    QuerySpec(
      "table_insert_sql",
      (s, dir) => {
        val table = fixturePath(dir, "txlog_orders_insert")
        deleteRecursively(table)
        TxLog.append(ordersSlice(s, dir, 0).repartition(2), table)
        s.sql(s"CREATE OR REPLACE TEMPORARY VIEW graft_orders_ins " +
          s"USING graft OPTIONS (path '$table')")
        Tables(s, dir, "orders").createOrReplaceTempView("orders_src_ins")
        s.sql("""INSERT INTO graft_orders_ins
                 SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate
                 FROM orders_src_ins WHERE o_orderkey % 3 = 1""")
        val h = TxLog.history(table)
        require(h.map(_.op) == Seq("append", "append"),
          s"INSERT INTO must append through the log, got ${h.map(_.op)}")
        ordersAgg(s.sql("SELECT * FROM graft_orders_ins"))
      },
      Some(ordersOracle("o_orderkey % 3 IN (0, 1)"))),

    // Row-LEVEL change data feed over COW commits: v1 appends a
    // deterministic slice, v2 UPDATEs a sub-slice (status → 'X'), v3
    // DELETEs a disjoint sub-slice. changeFeed(1, 3) must contain
    // EXACTLY the pre/post image pairs and the deleted rows — never the
    // rewritten files' survivors (the whole point: CDF volume ∝ changed
    // rows, not rewritten bytes; at 100 TB an update touching 10 rows
    // of a 1M-row file feeds 20 rows). The oracle restates each image
    // class as a predicate over the source table.
    QuerySpec(
      "table_cdf_cow",
      (s, dir) => {
        val table = fixturePath(dir, "txlog_orders_cdf")
        deleteRecursively(table)
        TxLog.append(ordersSlice(s, dir, 0).repartition(2), table)  // v1
        TxLog.update(s, table, col("o_orderkey") % 30 === 0,        // v2
          Seq("o_orderstatus" -> lit("X")))
        TxLog.delete(s, table, col("o_orderkey") % 15 === 6)        // v3
        TxLog.changeFeed(s, table, 1L, 3L)
          .groupBy(col("_change_type"), col("_commit_version"))
          .agg(
            count(lit(1)).as("n"),
            min(col("o_orderkey")).as("first_key"),
            max(col("o_orderkey")).as("last_key"),
            sum(col("o_totalprice").cast(Dec)).cast("double").as("total"))
          .orderBy("_change_type", "_commit_version")
      },
      Some("""WITH s0 AS (SELECT * FROM orders WHERE o_orderkey % 3 = 0),
                   upd AS (SELECT * FROM s0 WHERE o_orderkey % 30 = 0),
                   del AS (SELECT * FROM s0 WHERE o_orderkey % 15 = 6),
                   feed AS (
                     SELECT 'update_preimage' AS _change_type,
                            CAST(2 AS BIGINT) AS _commit_version,
                            o_orderkey, o_totalprice FROM upd
                     UNION ALL
                     SELECT 'update_postimage', CAST(2 AS BIGINT),
                            o_orderkey, o_totalprice FROM upd
                     UNION ALL
                     SELECT 'delete', CAST(3 AS BIGINT),
                            o_orderkey, o_totalprice FROM del)
              SELECT _change_type, _commit_version, COUNT(*) AS n,
                     MIN(o_orderkey) AS first_key, MAX(o_orderkey) AS last_key,
                     CAST(SUM(CAST(o_totalprice AS DECIMAL(38,4))) AS DOUBLE) AS total
              FROM feed GROUP BY _change_type, _commit_version
              ORDER BY _change_type, _commit_version""")),

    // The connector read of the same feed — Delta's exact option shape:
    // readChangeFeed=true + inclusive startingVersion. Appends surface
    // as derived inserts (zero extra storage), COW deletes as their
    // persisted exact images, all through `spark.read.format("graft")`.
    QuerySpec(
      "table_cdf_scan",
      (s, dir) => {
        val table = fixturePath(dir, "txlog_orders_cdf_scan")
        deleteRecursively(table)
        TxLog.append(ordersSlice(s, dir, 0).repartition(2), table)  // v1
        TxLog.delete(s, table, col("o_orderkey") % 15 === 6)        // v2
        TxLog.append(ordersSlice(s, dir, 1).repartition(2), table)  // v3
        s.read.format("graft")
          .option("readChangeFeed", "true").option("startingVersion", "2")
          .load(table)
          .groupBy(col("_change_type"), col("_commit_version"))
          .agg(
            count(lit(1)).as("n"),
            min(col("o_orderkey")).as("first_key"),
            max(col("o_orderkey")).as("last_key"),
            sum(col("o_totalprice").cast(Dec)).cast("double").as("total"))
          .orderBy("_change_type", "_commit_version")
      },
      Some("""WITH feed AS (
                     SELECT 'delete' AS _change_type,
                            CAST(2 AS BIGINT) AS _commit_version,
                            o_orderkey, o_totalprice
                     FROM orders WHERE o_orderkey % 3 = 0 AND o_orderkey % 15 = 6
                     UNION ALL
                     SELECT 'insert', CAST(3 AS BIGINT), o_orderkey, o_totalprice
                     FROM orders WHERE o_orderkey % 3 = 1)
              SELECT _change_type, _commit_version, COUNT(*) AS n,
                     MIN(o_orderkey) AS first_key, MAX(o_orderkey) AS last_key,
                     CAST(SUM(CAST(o_totalprice AS DECIMAL(38,4))) AS DOUBLE) AS total
              FROM feed GROUP BY _change_type, _commit_version
              ORDER BY _change_type, _commit_version""")),

    // NATIVE streaming on the log, both halves: readStream.format(
    // "graft") tails table versions as offsets (no side feed dir),
    // writeStream.format("graft") commits each micro-batch through the
    // (queryId, batchId) idempotence ledger. Two source commits drain in
    // one AvailableNow pass, a second drain with nothing new must add
    // nothing, and the destination's content sits under the hash oracle.
    QuerySpec(
      "stream_table_native",
      (s, dir) => {
        val src = fixturePath(dir, "txlog_stream_native_src")
        val dst = fixturePath(dir, "txlog_stream_native_dst")
        val ckpt = fixturePath(dir, "txlog_stream_native_ckpt")
        Seq(src, dst, ckpt).foreach(deleteRecursively)
        TxLog.append(ordersSlice(s, dir, 0).repartition(2), src)
        TxLog.append(ordersSlice(s, dir, 1).repartition(2), src)
        def drain(): Unit = {
          val q = s.readStream.format("graft").load(src)
            .writeStream.format("graft")
            .option("checkpointLocation", ckpt)
            .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
            .start(dst)
          q.awaitTermination()
        }
        drain()
        val afterFirst = TxLog.latestVersion(dst)
        drain() // idle drain: the ledger must block re-delivery
        val out = s.read.format("graft").load(dst)
        require(out.count() == ordersSlice(s, dir, 0).count() + ordersSlice(s, dir, 1).count(),
          s"native stream must deliver both commits exactly once " +
            s"(dst versions $afterFirst → ${TxLog.latestVersion(dst)})")
        ordersAgg(out)
      },
      Some(ordersOracle("o_orderkey % 3 IN (0, 1)"))),

    // Partition-SCOPED INSERT OVERWRITE, both Spark semantics on one
    // hive-partitioned fixture: dynamic mode replaces EXACTLY the
    // partitions the data landed in (slice-1 rows re-land their own
    // o_orderstatus partitions; other statuses survive untouched), then
    // a static PARTITION (o_orderstatus='F') spec clears just that
    // subtree and refills it from slice 2 with the literal injected.
    // One atomic commit each — the oracle restates the surviving mix.
    QuerySpec(
      "table_overwrite_partitions",
      (s, dir) => {
        val table = fixturePath(dir, "txlog_orders_owpart")
        deleteRecursively(table)
        val base = ordersAll(s, dir)
        TxLog.append(
          base.filter(col("o_orderkey") % 3 === 0).repartition(2),
          table, partitionBy = Seq("o_orderstatus"))
        // dynamic: replace only the 'O' partition with slice-1 'O' rows
        TxLog.overwritePartitions(
          base.filter(col("o_orderkey") % 3 === 1 && col("o_orderstatus") === "O"),
          table, dynamic = true)
        // static spec: clear the 'F' subtree, refill from slice 2 (the
        // SELECT supplies data columns; the literal injects)
        s.sql(s"CREATE OR REPLACE TEMPORARY VIEW graft_owp_q " +
          s"USING graft OPTIONS (path '$table')")
        Tables(s, dir, "orders").createOrReplaceTempView("orders_owp_src")
        s.sql("""INSERT OVERWRITE TABLE graft_owp_q PARTITION (o_orderstatus = 'F')
                 SELECT o_orderkey, o_custkey, o_totalprice, o_orderdate
                 FROM orders_owp_src
                 WHERE o_orderkey % 3 = 2 AND o_orderstatus = 'F'""")
        ordersAgg(s.read.format("graft").load(table)
          .select("o_orderkey", "o_custkey", "o_orderstatus",
            "o_totalprice", "o_orderdate"))
      },
      Some(ordersOracle(
        """(o_orderstatus = 'O' AND o_orderkey % 3 = 1)
           OR (o_orderstatus = 'F' AND o_orderkey % 3 = 2)
           OR (o_orderstatus NOT IN ('O', 'F') AND o_orderkey % 3 = 0)"""))),

    // The SQL-text door to the same feed: Delta's table_changes TVF
    // shape, injected via injectTableFunction — the feed composes with
    // arbitrary SQL on top (here: a filtered aggregate over one image
    // class), no DataFrame API required.
    QuerySpec(
      "table_cdf_tvf",
      (s, dir) => {
        val table = fixturePath(dir, "txlog_orders_cdf_tvf")
        deleteRecursively(table)
        TxLog.append(ordersSlice(s, dir, 0).repartition(2), table)  // v1
        TxLog.delete(s, table, col("o_orderkey") % 15 === 6)        // v2
        s.sql(
          s"""SELECT _change_type, o_orderstatus, COUNT(*) AS n,
                     CAST(SUM(CAST(o_totalprice AS DECIMAL(38,4))) AS DOUBLE) AS total
              FROM table_changes('$table', 2)
              GROUP BY _change_type, o_orderstatus
              ORDER BY _change_type, o_orderstatus""")
      },
      Some("""SELECT 'delete' AS _change_type, o_orderstatus, COUNT(*) AS n,
                     CAST(SUM(CAST(o_totalprice AS DECIMAL(38,4))) AS DOUBLE) AS total
              FROM orders WHERE o_orderkey % 3 = 0 AND o_orderkey % 15 = 6
              GROUP BY o_orderstatus
              ORDER BY _change_type, o_orderstatus""")),

    // TRUE incremental view maintenance over the CDF — with
    // RETRACTIONS: the MV folds each version's row-level changes as
    // signed deltas (+insert/+postimage, −delete/−preimage), so
    // updates and deletes maintain the aggregate exactly without ever
    // rescanning the table (the adds-only `table_incremental_agg`
    // cannot survive a rewrite commit; this is its general form —
    // refresh cost ∝ changed rows at any table size). Three sequential
    // folds (append, update, delete), and the final state must equal
    // the one-shot aggregate of HEAD, which the oracle restates.
    QuerySpec(
      "table_cdf_incremental_mv",
      (s, dir) => {
        val table = fixturePath(dir, "txlog_orders_cdf_mv")
        deleteRecursively(table)
        TxLog.append(ordersSlice(s, dir, 0).repartition(2), table)  // v1
        TxLog.update(s, table, col("o_orderkey") % 30 === 0,        // v2
          Seq("o_orderstatus" -> lit("X")))
        TxLog.delete(s, table, col("o_orderkey") % 15 === 6)        // v3
        val ct = col(TxLog.ChangeTypeCol)
        val additive = ct === "insert" || ct === "update_postimage"
        val sign = org.apache.spark.sql.functions.when(additive, 1L).otherwise(-1L)
        // signed DECIMAL(38,4) pieces keep the fold exact — pre/post
        // pairs of an unchanged column cancel to the bit
        val signedPrice = org.apache.spark.sql.functions
          .when(additive, col("o_totalprice"))
          .otherwise(-col("o_totalprice")).cast(Dec)
        def delta(fromV: Long, toV: Long): DataFrame =
          TxLog.changeFeed(s, table, fromV, toV)
            .groupBy("o_orderstatus")
            .agg(sum(sign).as("n"), sum(signedPrice).as("total"))
        var state = delta(0L, 1L)
        Seq((1L, 2L), (2L, 3L)).foreach { case (a, b) =>
          state = state.unionByName(delta(a, b))
            .groupBy("o_orderstatus")
            .agg(sum(col("n")).as("n"), sum(col("total")).as("total"))
            .filter(col("n") > 0)
        }
        val out = state
          .select(col("o_orderstatus"), col("n"),
            col("total").cast("double").as("total"))
          .orderBy("o_orderstatus")
        // the maintained state must equal the one-shot HEAD aggregate
        val oneShot = TxLog.snapshot(s, table).groupBy("o_orderstatus")
          .agg(count(lit(1)).as("n"),
            sum(col("o_totalprice").cast(Dec)).cast("double").as("total"))
          .orderBy("o_orderstatus")
        require(out.collect().toSeq == oneShot.collect().toSeq,
          "incremental CDF folding diverged from the one-shot aggregate")
        out
      },
      Some("""SELECT CASE WHEN o_orderkey % 30 = 0 THEN 'X' ELSE o_orderstatus END
                       AS o_orderstatus,
                     COUNT(*) AS n,
                     CAST(SUM(CAST(o_totalprice AS DECIMAL(38,4))) AS DOUBLE) AS total
              FROM orders
              WHERE o_orderkey % 3 = 0 AND o_orderkey % 15 <> 6
              GROUP BY 1 ORDER BY 1""")),

    // The DSv2 TableCatalog end-to-end in SQL: CTAS creates a logged
    // table under the catalog's warehouse, INSERT INTO appends a second
    // slice, DELETE routes to the COW kernel, and the final SELECT —
    // through the catalog IDENTIFIER, no paths — aggregates what
    // survived. Executes on the v1 relation via the resolution-time
    // swap, so catalog reads keep zone-map pruning and vectorized scans.
    QuerySpec(
      "table_catalog_sql",
      (s, dir) => {
        val cat = "gq" + math.abs(dir.hashCode).toString
        if (!s.conf.getOption(s"spark.sql.catalog.$cat").isDefined) {
          s.conf.set(s"spark.sql.catalog.$cat",
            classOf[graft.sources.GraftCatalog].getName)
          s.conf.set(s"spark.sql.catalog.$cat.warehouse",
            fixturePath(dir, "catalog_warehouse"))
        }
        Tables(s, dir, "orders").createOrReplaceTempView("orders_cat_src")
        s.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.bench")
        s.sql(s"DROP TABLE IF EXISTS $cat.bench.orders_q")
        s.sql(s"""CREATE TABLE $cat.bench.orders_q USING graft AS
                  SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate
                  FROM orders_cat_src WHERE o_orderkey % 3 = 0""")
        s.sql(s"""INSERT INTO $cat.bench.orders_q
                  SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate
                  FROM orders_cat_src WHERE o_orderkey % 3 = 1""")
        s.sql(s"DELETE FROM $cat.bench.orders_q WHERE o_orderkey % 15 = 6")
        ordersAgg(s.table(s"$cat.bench.orders_q"))
      },
      Some(ordersOracle("o_orderkey % 3 IN (0, 1) AND o_orderkey % 15 <> 6"))),

    // Partition-scoped INSERT OVERWRITE on catalog IDENTIFIERS — the
    // same two Spark semantics table_overwrite_partitions proves on the
    // view path, through the DSv2 catalog front door: dynamic mode
    // (OverwritePartitionsDynamic, intercepted at resolution — Spark has
    // no V1 fallback exec for it) replaces exactly the written 'O'
    // partition; a static PARTITION (o_orderstatus='F') spec (delivered
    // as delete filters via SupportsOverwrite + the V1 fallback) clears
    // just that subtree and refills it with the literal injected. Both
    // are single atomic commits on the same log the path API reads.
    QuerySpec(
      "table_catalog_overwrite_partitions",
      (s, dir) => {
        val cat = "gq" + math.abs(dir.hashCode).toString
        if (!s.conf.getOption(s"spark.sql.catalog.$cat").isDefined) {
          s.conf.set(s"spark.sql.catalog.$cat",
            classOf[graft.sources.GraftCatalog].getName)
          s.conf.set(s"spark.sql.catalog.$cat.warehouse",
            fixturePath(dir, "catalog_warehouse"))
        }
        Tables(s, dir, "orders").createOrReplaceTempView("orders_catow_src")
        s.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.bench")
        s.sql(s"DROP TABLE IF EXISTS $cat.bench.orders_owp")
        s.sql(s"""CREATE TABLE $cat.bench.orders_owp
                  (o_orderkey BIGINT, o_custkey BIGINT, o_totalprice DOUBLE,
                   o_orderdate DATE, o_orderstatus STRING)
                  USING graft PARTITIONED BY (o_orderstatus)""")
        s.sql(s"""INSERT INTO $cat.bench.orders_owp
                  SELECT o_orderkey, o_custkey, o_totalprice, o_orderdate, o_orderstatus
                  FROM orders_catow_src WHERE o_orderkey % 3 = 0""")
        val prev = s.conf.get("spark.sql.sources.partitionOverwriteMode")
        s.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
        try s.sql(s"""INSERT OVERWRITE $cat.bench.orders_owp
                      SELECT o_orderkey, o_custkey, o_totalprice, o_orderdate, o_orderstatus
                      FROM orders_catow_src
                      WHERE o_orderkey % 3 = 1 AND o_orderstatus = 'O'""")
        finally s.conf.set("spark.sql.sources.partitionOverwriteMode", prev)
        s.sql(s"""INSERT OVERWRITE $cat.bench.orders_owp PARTITION (o_orderstatus = 'F')
                  SELECT o_orderkey, o_custkey, o_totalprice, o_orderdate
                  FROM orders_catow_src
                  WHERE o_orderkey % 3 = 2 AND o_orderstatus = 'F'""")
        ordersAgg(s.table(s"$cat.bench.orders_owp")
          .select("o_orderkey", "o_custkey", "o_orderstatus",
            "o_totalprice", "o_orderdate"))
      },
      Some(ordersOracle(
        """(o_orderstatus = 'O' AND o_orderkey % 3 = 1)
           OR (o_orderstatus = 'F' AND o_orderkey % 3 = 2)
           OR (o_orderstatus NOT IN ('O', 'F') AND o_orderkey % 3 = 0)"""))),

    // Metadata-only RESTORE: version 3 overwrote the table with a bad
    // ingest; restore(2) un-ships it as a NEW commit that re-points the
    // live set at v2's files — zero bytes of data move (asserted: the
    // data directory's file census is identical before/after), history
    // stays append-only and auditable, and the restored head must
    // hash-match v2's content. The incident-response primitive at any
    // table size.
    QuerySpec(
      "table_restore",
      (s, dir) => {
        val table = fixturePath(dir, "txlog_orders_restore")
        buildOrdersLog(s, dir, table) // v1 +slice0, v2 +slice1, v3 overwrite slice2
        def census(): Int = {
          def walk(f: java.io.File): Int =
            if (f.isFile) 1
            else Option(f.listFiles()).getOrElse(Array.empty).map(walk).sum
          walk(new java.io.File(table, "data"))
        }
        val before = census()
        val v = TxLog.restore(s, table, 2L)
        require(v == 4L && census() == before,
          "restore must be a metadata-only commit (no data files written)")
        require(TxLog.history(table).last.op == "restore")
        ordersAgg(TxLog.snapshot(s, table))
      },
      Some(ordersOracle("o_orderkey % 3 IN (0, 1)"))),

    // Metadata-only aggregates: COUNT(*) and MIN/MAX(o_orderkey) come
    // from the LOG alone — per-file row counts and zone maps harvested
    // at commit time — so not one scan task launches, at any table
    // size. Parquet numeric min/max are attained values, which is what
    // makes the fold exact (string stats may truncate; the API refuses
    // them). The delete in the middle proves the metadata tracks
    // mutation, not just appends.
    QuerySpec(
      "table_metadata_agg",
      (s, dir) => {
        val table = fixturePath(dir, "txlog_orders_meta")
        deleteRecursively(table)
        TxLog.append(ordersSlice(s, dir, 0).repartition(3), table)
        TxLog.append(ordersSlice(s, dir, 1).repartition(3), table)
        TxLog.delete(s, table, col("o_orderkey") % 3 === 0)
        val n = TxLog.metadataCount(table).getOrElse(
          throw new IllegalStateException("row counts missing from the log"))
        val (mn, mx) = TxLog.metadataMinMax(table, "o_orderkey").getOrElse(
          throw new IllegalStateException("o_orderkey zone maps missing"))
        import s.implicits._
        Seq((n, mn.toLong, mx.toLong)).toDF("n", "min_key", "max_key")
      },
      Some("""SELECT COUNT(*) AS n, MIN(o_orderkey) AS min_key,
                     MAX(o_orderkey) AS max_key
              FROM orders WHERE o_orderkey % 3 = 1""")),

    // Incremental materialized-view maintenance — what the change feed
    // EXISTS for: a per-status aggregate STATE table (itself a versioned
    // log table) is refreshed after each of three ingest batches by
    // folding ONLY that batch's rows (changes(last, v)) into the prior
    // state — each refresh reads the delta files plus a 3-row state,
    // never the corpus. Counts and DECIMAL sums are algebraically
    // mergeable, so the final state must hash-match the one-shot
    // aggregate over everything. At 100 TB this is the nightly-rollup
    // pattern: refresh cost tracks ingest volume, not table size.
    QuerySpec(
      "table_incremental_agg",
      (s, dir) => {
        val data = fixturePath(dir, "txlog_orders_iagg_data")
        val state = fixturePath(dir, "txlog_orders_iagg_state")
        Seq(data, state).foreach(deleteRecursively)
        def agg(df: DataFrame): DataFrame = df.groupBy("o_orderstatus")
          .agg(count(lit(1)).as("n"),
            sum(col("o_totalprice").cast(Dec)).as("total_dec"))
        var last = 0L
        (0 to 2).foreach { m =>
          val v = TxLog.append(ordersSlice(s, dir, m).repartition(2), data)
          val delta = agg(TxLog.changes(s, data, last, v))
          val merged =
            if (TxLog.latestVersion(state) == 0) delta
            else TxLog.snapshot(s, state).unionByName(delta)
              .groupBy("o_orderstatus")
              .agg(sum(col("n")).as("n"), sum(col("total_dec")).as("total_dec"))
          TxLog.overwrite(merged.repartition(1), state)
          last = v
        }
        require(TxLog.latestVersion(state) == 3L,
          "three refreshes must leave three state versions")
        TxLog.snapshot(s, state)
          .select(col("o_orderstatus"), col("n"),
            col("total_dec").cast("double").as("total"))
          .orderBy("o_orderstatus")
      },
      Some("""SELECT o_orderstatus, COUNT(*) AS n,
                     CAST(SUM(CAST(o_totalprice AS DECIMAL(38,4))) AS DOUBLE) AS total
              FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""")),

    // Copy-on-write DELETE: erasing a 10% key band from the range-
    // partitioned layout rewrites ONLY the files containing matches
    // (proven from the commit's remove list — a minority of 8), and the
    // surviving table hash-matches the NOT-band oracle. NULL condition
    // rows keep SQL DELETE semantics (kept). The governed-corpus erasure
    // primitive: deleting 10% of keys must never rewrite 100% of files.
    QuerySpec(
      "table_delete_cow",
      (s, dir) => {
        val table = fixturePath(dir, "txlog_orders_delete")
        val (lo, hi) = rangeLayoutOrders(s, dir, table)
        TxLog.delete(s, table,
          col("o_orderkey").between(lo, hi) && col("o_orderkey") % 3 === 1)
        val last = TxLog.history(table).last
        require(last.op == "delete" && last.remove.length >= 1 && last.remove.length <= 3,
          s"copy-on-write delete rewrote ${last.remove.length} of 8 files")
        ordersAgg(TxLog.snapshot(s, table))
      },
      Some("""WITH b AS (SELECT MIN(o_orderkey) AS mn, MAX(o_orderkey) AS mx FROM orders)
              SELECT o_orderstatus, COUNT(*) AS n,
                     CAST(SUM(CAST(o_totalprice AS DECIMAL(38,4))) AS DOUBLE) AS total,
                     MIN(o_orderkey) AS first_key, MAX(o_orderkey) AS last_key,
                     MAX(o_orderdate) AS last_date
              FROM orders, b
              WHERE NOT (o_orderkey BETWEEN b.mn + (b.mx - b.mn) * 3 // 10
                                        AND b.mn + (b.mx - b.mn) * 4 // 10
                         AND o_orderkey % 3 = 1)
              GROUP BY o_orderstatus ORDER BY o_orderstatus""")),

    // SQL DELETE — table_delete_cow's semantics driven by the SQL text a
    // reference-shaped user types: the GraftDml rule routes the v2-only
    // DeleteFromTable plan to the same COW kernel, with the same
    // minority-rewrite proof read from the commit's remove list.
    QuerySpec(
      "table_delete_sql",
      (s, dir) => {
        val table = fixturePath(dir, "txlog_orders_delete_sql")
        val (lo, hi) = rangeLayoutOrders(s, dir, table)
        s.sql(s"CREATE OR REPLACE TEMPORARY VIEW graft_orders_del " +
          s"USING graft OPTIONS (path '$table')")
        s.sql(s"DELETE FROM graft_orders_del " +
          s"WHERE o_orderkey BETWEEN $lo AND $hi AND o_orderkey % 3 = 1")
        val last = TxLog.history(table).last
        require(last.op == "delete" && last.remove.length >= 1 && last.remove.length <= 3,
          s"SQL delete rewrote ${last.remove.length} of 8 files")
        ordersAgg(s.sql("SELECT * FROM graft_orders_del"))
      },
      Some("""WITH b AS (SELECT MIN(o_orderkey) AS mn, MAX(o_orderkey) AS mx FROM orders)
              SELECT o_orderstatus, COUNT(*) AS n,
                     CAST(SUM(CAST(o_totalprice AS DECIMAL(38,4))) AS DOUBLE) AS total,
                     MIN(o_orderkey) AS first_key, MAX(o_orderkey) AS last_key,
                     MAX(o_orderdate) AS last_date
              FROM orders, b
              WHERE NOT (o_orderkey BETWEEN b.mn + (b.mx - b.mn) * 3 // 10
                                        AND b.mn + (b.mx - b.mn) * 4 // 10
                         AND o_orderkey % 3 = 1)
              GROUP BY o_orderstatus ORDER BY o_orderstatus""")),

    // SQL UPDATE — the COW update kernel driven by SQL text: assignments
    // cast back to the column's declared type, only files containing
    // matches rewrite (proved from the commit), and the result replays
    // the merge-family oracle's CASE restatement.
    QuerySpec(
      "table_update_sql",
      (s, dir) => {
        val table = fixturePath(dir, "txlog_orders_update_sql")
        val (lo, hi) = rangeLayoutOrders(s, dir, table)
        s.sql(s"CREATE OR REPLACE TEMPORARY VIEW graft_orders_upd " +
          s"USING graft OPTIONS (path '$table')")
        s.sql(s"UPDATE graft_orders_upd " +
          s"SET o_orderstatus = 'U', o_totalprice = o_totalprice + 100.0 " +
          s"WHERE o_orderkey BETWEEN $lo AND $hi AND o_orderkey % 7 = 3")
        val last = TxLog.history(table).last
        require(last.op == "update" && last.remove.length >= 1 && last.remove.length <= 3,
          s"SQL update rewrote ${last.remove.length} of 8 files")
        ordersAgg(s.sql("SELECT * FROM graft_orders_upd"))
      },
      Some("""WITH b AS (SELECT MIN(o_orderkey) AS mn, MAX(o_orderkey) AS mx FROM orders),
              updated AS (
                SELECT o_orderkey,
                       CASE WHEN o_orderkey BETWEEN b.mn + (b.mx - b.mn) * 3 // 10
                                                AND b.mn + (b.mx - b.mn) * 4 // 10
                             AND o_orderkey % 7 = 3
                            THEN 'U' ELSE o_orderstatus END AS o_orderstatus,
                       CASE WHEN o_orderkey BETWEEN b.mn + (b.mx - b.mn) * 3 // 10
                                                AND b.mn + (b.mx - b.mn) * 4 // 10
                             AND o_orderkey % 7 = 3
                            THEN o_totalprice + 100.0 ELSE o_totalprice END AS o_totalprice,
                       o_orderdate
                FROM orders, b)
              SELECT o_orderstatus, COUNT(*) AS n,
                     CAST(SUM(CAST(o_totalprice AS DECIMAL(38,4))) AS DOUBLE) AS total,
                     MIN(o_orderkey) AS first_key, MAX(o_orderkey) AS last_key,
                     MAX(o_orderdate) AS last_date
              FROM updated
              GROUP BY o_orderstatus ORDER BY o_orderstatus""")),

    // SQL MERGE — table_merge_cow's exact oracle replayed through
    // `MERGE INTO … WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN
    // INSERT *`: the rule maps the canonical upsert shape onto
    // TxLog.merge (zone-map candidate pruning, key semi-join, one
    // classification write over the affected files) and refuses shapes it
    // cannot prove equivalent.
    QuerySpec(
      "table_merge_sql",
      (s, dir) => {
        val table = fixturePath(dir, "txlog_orders_merge_sql")
        val (lo, hi) = rangeLayoutOrders(s, dir, table)
        ordersAll(s, dir)
          .filter(col("o_orderkey").between(lo, hi) && col("o_orderkey") % 7 === 3)
          .withColumn("o_orderstatus", lit("U"))
          .withColumn("o_totalprice", col("o_totalprice") + 100.0)
          .createOrReplaceTempView("graft_merge_updates")
        s.sql(s"CREATE OR REPLACE TEMPORARY VIEW graft_orders_mrg " +
          s"USING graft OPTIONS (path '$table')")
        s.sql("""MERGE INTO graft_orders_mrg t USING graft_merge_updates s
                 ON t.o_orderkey = s.o_orderkey
                 WHEN MATCHED THEN UPDATE SET *
                 WHEN NOT MATCHED THEN INSERT *""")
        val last = TxLog.history(table).last
        require(last.op == "merge" && last.remove.length >= 1 && last.remove.length <= 3,
          s"SQL merge rewrote ${last.remove.length} of 8 files")
        ordersAgg(s.sql("SELECT * FROM graft_orders_mrg"))
      },
      Some("""WITH b AS (SELECT MIN(o_orderkey) AS mn, MAX(o_orderkey) AS mx FROM orders),
              merged AS (
                SELECT o_orderkey,
                       CASE WHEN o_orderkey BETWEEN b.mn + (b.mx - b.mn) * 3 // 10
                                                AND b.mn + (b.mx - b.mn) * 4 // 10
                             AND o_orderkey % 7 = 3
                            THEN 'U' ELSE o_orderstatus END AS o_orderstatus,
                       CASE WHEN o_orderkey BETWEEN b.mn + (b.mx - b.mn) * 3 // 10
                                                AND b.mn + (b.mx - b.mn) * 4 // 10
                             AND o_orderkey % 7 = 3
                            THEN o_totalprice + 100.0 ELSE o_totalprice END AS o_totalprice,
                       o_orderdate
                FROM orders, b)
              SELECT o_orderstatus, COUNT(*) AS n,
                     CAST(SUM(CAST(o_totalprice AS DECIMAL(38,4))) AS DOUBLE) AS total,
                     MIN(o_orderkey) AS first_key, MAX(o_orderkey) AS last_key,
                     MAX(o_orderdate) AS last_date
              FROM merged
              GROUP BY o_orderstatus ORDER BY o_orderstatus""")),

    // General MERGE clause algebra in SQL — the shapes Delta users type
    // daily and the canonical-upsert rule refuses: a CONDITIONAL
    // matched DELETE, a second matched clause (first satisfied wins),
    // and INSERT * — routed to TxLog.mergeGeneral: conditions and
    // assignments evaluate once per row, in the one write whose rows are
    // both the new data files and the CDF images. Oracle restates the
    // clause algebra as a CASE.
    QuerySpec(
      "table_merge_delete_sql",
      (s, dir) => {
        val table = fixturePath(dir, "txlog_orders_merge_del")
        deleteRecursively(table)
        TxLog.append(ordersSlice(s, dir, 0).repartition(4), table)
        ordersAll(s, dir).filter(col("o_orderkey") % 5 === 0)
          .createOrReplaceTempView("graft_mgd_src")
        s.sql(s"CREATE OR REPLACE TEMPORARY VIEW graft_orders_mgd " +
          s"USING graft OPTIONS (path '$table')")
        s.sql("""MERGE INTO graft_orders_mgd t USING graft_mgd_src s
                 ON t.o_orderkey = s.o_orderkey
                 WHEN MATCHED AND s.o_orderkey % 2 = 0 THEN DELETE
                 WHEN MATCHED THEN UPDATE SET o_orderstatus = 'M'
                 WHEN NOT MATCHED THEN INSERT *""")
        require(TxLog.history(table).last.op == "merge", "general merge must commit")
        ordersAgg(s.sql("SELECT * FROM graft_orders_mgd"))
      },
      Some("""WITH merged AS (
                SELECT o_orderkey, o_custkey,
                       CASE WHEN o_orderkey % 3 = 0 AND o_orderkey % 5 = 0
                            THEN 'M' ELSE o_orderstatus END AS o_orderstatus,
                       o_totalprice, o_orderdate
                FROM orders
                WHERE (o_orderkey % 3 = 0
                       AND NOT (o_orderkey % 5 = 0 AND o_orderkey % 2 = 0))
                   OR (o_orderkey % 5 = 0 AND o_orderkey % 3 <> 0))
              SELECT o_orderstatus, COUNT(*) AS n,
                     CAST(SUM(CAST(o_totalprice AS DECIMAL(38,4))) AS DOUBLE) AS total,
                     MIN(o_orderkey) AS first_key, MAX(o_orderkey) AS last_key,
                     MAX(o_orderdate) AS last_date
              FROM merged
              GROUP BY o_orderstatus ORDER BY o_orderstatus""")),

    // WHEN NOT MATCHED BY SOURCE — the sync-to-reference-list shape
    // (retention, GDPR keep-lists): target rows whose key the source
    // does NOT carry are deleted or flagged, first-wins across two
    // BY SOURCE clauses; matched rows take the update. Every target row
    // must be examined, so the whole live set is the affected set — the
    // same cost Delta pays for this clause.
    QuerySpec(
      "table_merge_bysource_sql",
      (s, dir) => {
        val table = fixturePath(dir, "txlog_orders_merge_bys")
        deleteRecursively(table)
        TxLog.append(ordersSlice(s, dir, 0).repartition(4), table)
        ordersAll(s, dir).filter(col("o_orderkey") % 15 === 0)
          .select("o_orderkey")
          .createOrReplaceTempView("graft_mbs_src")
        s.sql(s"CREATE OR REPLACE TEMPORARY VIEW graft_orders_mbs " +
          s"USING graft OPTIONS (path '$table')")
        s.sql("""MERGE INTO graft_orders_mbs t USING graft_mbs_src s
                 ON t.o_orderkey = s.o_orderkey
                 WHEN MATCHED THEN UPDATE SET o_orderstatus = 'K'
                 WHEN NOT MATCHED BY SOURCE AND t.o_orderstatus = 'O' THEN DELETE
                 WHEN NOT MATCHED BY SOURCE THEN UPDATE SET o_orderstatus = 'X'""")
        ordersAgg(s.sql("SELECT * FROM graft_orders_mbs"))
      },
      Some("""WITH merged AS (
                SELECT o_orderkey, o_custkey,
                       CASE WHEN o_orderkey % 15 = 0 THEN 'K'
                            ELSE 'X' END AS o_orderstatus,
                       o_totalprice, o_orderdate
                FROM orders
                WHERE o_orderkey % 3 = 0
                  AND NOT (o_orderkey % 15 <> 0 AND o_orderstatus = 'O'))
              SELECT o_orderstatus, COUNT(*) AS n,
                     CAST(SUM(CAST(o_totalprice AS DECIMAL(38,4))) AS DOUBLE) AS total,
                     MIN(o_orderkey) AS first_key, MAX(o_orderkey) AS last_key,
                     MAX(o_orderdate) AS last_date
              FROM merged
              GROUP BY o_orderstatus ORDER BY o_orderstatus""")),

    // Partition-SCOPED compaction + vacuum DRY RUN — the maintenance a
    // 100 TB table actually runs: `OPTIMIZE ... WHERE k='v'` rewrites
    // ONLY the named subtree (nobody compacts the whole corpus; the
    // commit's remove list proves the scope), and `VACUUM ... DRY RUN`
    // returns the exact reclaim set without deleting — then the real
    // sweep must reclaim exactly that set. Layout-only throughout: the
    // final aggregate hash-matches the untouched content.
    QuerySpec(
      "table_optimize_where",
      (s, dir) => {
        val table = fixturePath(dir, "txlog_orders_optwhere")
        deleteRecursively(table)
        TxLog.append(ordersSlice(s, dir, 0).repartition(2),
          table, partitionBy = Seq("o_orderstatus"))
        TxLog.append(ordersSlice(s, dir, 1).repartition(2), table)
        val before = TxLog.snapshotInfo(table)
        val othersBefore = before.files.filterNot(_.contains("o_orderstatus=F")).toSet
        s.sql(s"OPTIMIZE graft '$table' FILES 1 WHERE o_orderstatus = 'F'")
        val after = TxLog.snapshotInfo(table)
        require(after.files.count(_.contains("o_orderstatus=F")) == 1,
          "the F subtree must compact to one file")
        require(after.files.filterNot(_.contains("o_orderstatus=F")).toSet == othersBefore,
          "partitions outside the WHERE must carry over by name")
        val c = TxLog.history(table).last
        require(c.op == "compact" && c.remove.forall(_.contains("o_orderstatus=F")),
          "the scoped compaction may remove only F files")
        val listed = s.sql(s"VACUUM graft '$table' RETAIN 0 HOURS DRY RUN")
          .collect().map(_.getString(0)).toSet
        require(listed.nonEmpty && listed.forall(f =>
          java.nio.file.Files.exists(java.nio.file.Paths.get(table, f))),
          "DRY RUN must list the dead files and delete nothing")
        val swept = s.sql(s"VACUUM graft '$table' RETAIN 0 HOURS").head.getLong(0)
        require(swept == listed.size,
          s"vacuum must reclaim exactly the dry-run set ($swept vs ${listed.size})")
        ordersAgg(s.read.format("graft").load(table)
          .select("o_orderkey", "o_custkey", "o_orderstatus",
            "o_totalprice", "o_orderdate"))
      },
      Some(ordersOracle("o_orderkey % 3 IN (0, 1)"))),

    // CHECK constraints — the data-quality gate a governed ingest needs:
    // ADD CONSTRAINT validates every EXISTING row first (a constraint the
    // table already breaks never commits), persists as a table property
    // in the log, and every subsequent new-row write (append / insert /
    // update / merge values) validates BEFORE its commit publishes — the
    // violating batch is refused loudly and the table is untouched. SQL
    // CHECK semantics: NULL passes, only FALSE violates. The oracle sees
    // exactly the rows that passed the gate.
    QuerySpec(
      "table_constraints",
      (s, dir) => {
        val table = fixturePath(dir, "txlog_orders_check")
        deleteRecursively(table)
        TxLog.append(ordersSlice(s, dir, 0).repartition(2), table)
        s.sql(s"ALTER TABLE graft '$table' ADD CONSTRAINT price_pos " +
          "CHECK (o_totalprice > 0)")
        val head = TxLog.latestVersion(table)
        val poisoned = ordersSlice(s, dir, 1)
          .withColumn("o_totalprice",
            org.apache.spark.sql.functions.when(col("o_orderkey") % 50 === 0,
              -col("o_totalprice")).otherwise(col("o_totalprice")))
        val refused =
          try { TxLog.append(poisoned, table); false }
          catch { case e: IllegalArgumentException =>
            e.getMessage.contains("price_pos") }
        require(refused, "the poisoned batch must refuse, naming the constraint")
        require(TxLog.latestVersion(table) == head,
          "a refused batch must not commit")
        TxLog.append(ordersSlice(s, dir, 1), table) // the clean batch flows
        ordersAgg(TxLog.snapshot(s, table))
      },
      Some(ordersOracle("o_orderkey % 3 IN (0, 1)"))),

    // CONVERT TO GRAFT — the adoption path (Delta's CONVERT TO DELTA):
    // an existing hive-partitioned parquet directory becomes a graft
    // table IN PLACE (files move under the log's layout, no bytes copy),
    // with footer-harvested zone maps + synthesized partition stats, so
    // pruning and every log feature work from commit 1. The fixture is
    // plain `df.write.partitionBy(...).parquet` — exactly what a user
    // migrating to the log already has.
    QuerySpec(
      "table_convert",
      (s, dir) => {
        val table = fixturePath(dir, "plain_orders_convert")
        deleteRecursively(table)
        ordersSlice(s, dir, 0)
          .write.partitionBy("o_orderstatus").parquet(table)
        val res = s.sql(s"CONVERT TO GRAFT '$table' " +
          "PARTITIONED BY (o_orderstatus)").head()
        require(res.getLong(0) == 1L, "convert must be commit 1")
        val snap = TxLog.snapshotInfo(table)
        val pruned = TxLog.pruneFiles(snap, "o_orderstatus", "F", "F")
        require(pruned.length < snap.files.length,
          "synthesized partition stats must prune at convert time")
        // the log owns it now; discovery ordered partition columns last,
        // so appends align to the CONVERTED schema order
        val order = org.apache.spark.sql.types.DataType
          .fromJson(TxLog.snapshotInfo(table).schemaJson)
          .asInstanceOf[org.apache.spark.sql.types.StructType].fieldNames
        TxLog.append(ordersSlice(s, dir, 1).select(order.map(col).toIndexedSeq: _*),
          table)
        ordersAgg(s.read.format("graft").load(table)
          .select("o_orderkey", "o_custkey", "o_orderstatus",
            "o_totalprice", "o_orderdate"))
      },
      Some(ordersOracle("o_orderkey % 3 IN (0, 1)"))),

    // Zero-copy CLONE: the dev-on-prod-data primitive — version 1 of the
    // clone hard-links the source's live files (no bytes copied,
    // inode-asserted in TablePropsSpec), carries schema/stats/properties,
    // then the two tables diverge independently: a COW delete on the
    // clone and an append on the source never cross, and a source
    // OVERWRITE + vacuum(0) cannot reclaim the clone's bytes (links keep
    // them alive). The oracle restates the clone's post-divergence state.
    QuerySpec(
      "table_clone",
      (s, dir) => {
        val src = fixturePath(dir, "txlog_orders_clone_src")
        val dst = fixturePath(dir, "txlog_orders_clone_dst")
        deleteRecursively(src); deleteRecursively(dst)
        TxLog.append(ordersSlice(s, dir, 0).repartition(2), src)
        TxLog.append(ordersSlice(s, dir, 1).repartition(2), src)
        s.sql(s"CLONE graft '$src' TO '$dst'")
        // diverge: clone drops a band, source overwrites + vacuums
        TxLog.delete(s, dst, col("o_orderkey") % 15 === 6)
        TxLog.overwrite(ordersSlice(s, dir, 2), src)
        TxLog.vacuum(src, olderThanMs = 0)
        require(TxLog.snapshotInfo(src).version > 2, "source must have diverged")
        ordersAgg(s.read.format("graft").load(dst))
      },
      Some(ordersOracle("o_orderkey % 3 IN (0, 1) AND o_orderkey % 15 <> 6"))),

    // RESTORE as SQL text: the metadata-only rollback (zero data files
    // move) driven by the statement a SQL-first operator types during
    // an incident — rolls the overwrite back to version 2 and the head
    // must hash-match the pre-overwrite union, with the returned
    // (new head, restored-to) pair pinned.
    QuerySpec(
      "table_restore_sql",
      (s, dir) => {
        val table = fixturePath(dir, "txlog_orders_restore_sql")
        buildOrdersLog(s, dir, table) // v1 +slice0, v2 +slice1, v3 overwrite
        val r = s.sql(s"RESTORE graft '$table' TO VERSION 2").head()
        require(r.getLong(0) == 4L && r.getLong(1) == 2L,
          s"RESTORE reported (${r.getLong(0)}, ${r.getLong(1)})")
        ordersAgg(s.read.format("graft").load(table))
      },
      Some(ordersOracle("o_orderkey % 3 IN (0, 1)"))),

    // DESCRIBE HISTORY as SQL text (the injected maintenance parser):
    // a deterministic 4-commit log — append/append/overwrite/compact
    // with pinned per-commit file counts — restated row-for-row by a
    // VALUES oracle. The auditing surface a SQL-first operator reads
    // before trusting a table.
    QuerySpec(
      "table_history_sql",
      (s, dir) => {
        val table = fixturePath(dir, "txlog_orders_history_sql")
        deleteRecursively(table)
        TxLog.append(ordersSlice(s, dir, 0).repartition(2), table)
        TxLog.append(ordersSlice(s, dir, 1).repartition(2), table)
        TxLog.overwrite(ordersSlice(s, dir, 2).repartition(2), table)
        s.sql(s"OPTIMIZE graft '$table' FILES 1")
        s.sql(s"DESCRIBE HISTORY graft '$table'")
          .select("version", "op", "files_added", "files_removed", "data_change")
          .orderBy(col("version").desc)
      },
      Some("""SELECT * FROM (VALUES
                (CAST(4 AS BIGINT), 'compact',   1, 2, FALSE),
                (CAST(3 AS BIGINT), 'overwrite', 2, 4, TRUE),
                (CAST(2 AS BIGINT), 'append',    2, 0, TRUE),
                (CAST(1 AS BIGINT), 'append',    2, 0, TRUE))
              AS t(version, op, files_added, files_removed, data_change)
              ORDER BY version DESC""")),

    // OPTIMIZE + VACUUM as SQL text: the 8-file layout compacts to 2
    // through the statement (returned counts asserted), the default-
    // retention VACUUM must reclaim NOTHING (fresh orphans are a
    // concurrent writer's staged files), RETAIN 0 HOURS reclaims the 8
    // dead originals, and the surviving content still hash-matches.
    QuerySpec(
      "table_optimize_sql",
      (s, dir) => {
        val table = fixturePath(dir, "txlog_orders_optimize_sql")
        deleteRecursively(table)
        TxLog.append(ordersAll(s, dir).repartition(8), table)
        val r = s.sql(s"OPTIMIZE graft '$table' FILES 2").head()
        require(r.getLong(0) == 2L && r.getInt(1) == 8 && r.getInt(2) <= 2,
          s"OPTIMIZE reported (${r.getLong(0)}, ${r.getInt(1)}, ${r.getInt(2)})")
        require(s.sql(s"VACUUM graft '$table'").head().getLong(0) == 0L,
          "default-retention VACUUM must keep fresh orphans")
        require(s.sql(s"VACUUM graft '$table' RETAIN 0 HOURS").head().getLong(0) == 8L,
          "RETAIN 0 HOURS must reclaim exactly the 8 dead originals")
        ordersAgg(s.read.format("graft").load(table))
      },
      Some(ordersOracle("TRUE"))),

    // Hilbert-clustered compaction: a hash-partitioned write leaves every
    // file spanning the FULL o_custkey range (zone maps prune nothing —
    // required as the baseline), then `compact(clusterBy = custkey,
    // orderkey)` rewrites the layout along the Hilbert curve using the
    // global min/max ALREADY in the log's zone maps (no extra scan). The
    // same custkey band must now plan strictly fewer files through the
    // graft connector — multi-dimensional data skipping bought by a
    // layout-only, change-feed-invisible commit.
    QuerySpec(
      "table_cluster_prune",
      (s, dir) => {
        val table = fixturePath(dir, "txlog_orders_cluster")
        deleteRecursively(table)
        TxLog.append(ordersAll(s, dir).repartition(8), table)
        val r = Tables(s, dir, "orders")
          .agg(min(col("o_custkey")), max(col("o_custkey"))).head()
        val (mn, mx) = (r.getLong(0), r.getLong(1))
        val (lo, hi) = (mn + (mx - mn) * 45 / 100, mn + (mx - mn) * 55 / 100)
        def planned(): Long = {
          val df = s.read.format("graft").load(table)
            .filter(col("o_custkey").between(lo, hi))
          df.queryExecution.executedPlan.collectLeaves().collectFirst {
            case f: org.apache.spark.sql.execution.FileSourceScanExec =>
              f.selectedPartitions.totalNumberOfFiles
          }.getOrElse(throw new IllegalStateException("no file scan in plan"))
        }
        val before = planned()
        require(before == 8, s"hash layout should be unprunable, planned $before of 8")
        TxLog.compact(s, table, 8, clusterBy = Seq("o_custkey", "o_orderkey"))
        val after = planned()
        require(after < before,
          s"Hilbert clustering failed to shrink the plan: $after of $before files")
        s.read.format("graft").load(table)
          .filter(col("o_custkey").between(lo, hi))
          .groupBy("o_orderstatus")
          .agg(count(lit(1)).as("n"),
            sum(col("o_totalprice").cast(Dec)).cast("double").as("total"),
            min(col("o_custkey")).as("first_cust"),
            max(col("o_custkey")).as("last_cust"))
          .orderBy("o_orderstatus")
      },
      Some("""WITH b AS (SELECT MIN(o_custkey) AS mn, MAX(o_custkey) AS mx FROM orders)
              SELECT o_orderstatus, COUNT(*) AS n,
                     CAST(SUM(CAST(o_totalprice AS DECIMAL(38,4))) AS DOUBLE) AS total,
                     MIN(o_custkey) AS first_cust, MAX(o_custkey) AS last_cust
              FROM orders, b
              WHERE o_custkey BETWEEN b.mn + (b.mx - b.mn) * 45 // 100
                                  AND b.mn + (b.mx - b.mn) * 55 // 100
              GROUP BY o_orderstatus ORDER BY o_orderstatus""")),

    // Hive-style PARTITION columns in the graft log — the first pruning
    // tier every 100 TB ingest layout (date=/source=/lang= directories)
    // actually uses, beneath the zone maps: `append(partitionBy = …)`
    // lands files under `o_orderstatus=X/` segments via Spark's own
    // partitioned write, the VALUES ride in the paths (the log stays
    // value-free), and a plain equality predicate through the connector
    // prunes whole directories inside planning — proven by the
    // FileSourceScanExec's planned-file count against the unfiltered
    // total. The partition column re-attaches typed on read.
    QuerySpec(
      "table_partition_prune",
      (s, dir) => {
        val table = fixturePath(dir, "txlog_orders_hive")
        deleteRecursively(table)
        TxLog.append(ordersAll(s, dir).repartition(4), table,
          partitionBy = Seq("o_orderstatus"))
        def planned(df: DataFrame): Long =
          df.queryExecution.executedPlan.collectLeaves().collectFirst {
            case f: org.apache.spark.sql.execution.FileSourceScanExec =>
              f.selectedPartitions.totalNumberOfFiles
          }.getOrElse(throw new IllegalStateException("no file scan in plan"))
        val all = s.read.format("graft").load(table)
        val total = planned(all)
        val one = all.filter(col("o_orderstatus") === "F")
        require(planned(one) * 2 <= total,
          s"partition pruning failed: ${planned(one)} of $total files for 1 of 3 statuses")
        one.groupBy("o_orderstatus")
          .agg(
            count(lit(1)).as("n"),
            sum(col("o_totalprice").cast(Dec)).cast("double").as("total"),
            min(col("o_orderkey")).as("first_key"),
            max(col("o_orderkey")).as("last_key"))
          .orderBy("o_orderstatus")
      },
      Some("""SELECT o_orderstatus, COUNT(*) AS n,
                     CAST(SUM(CAST(o_totalprice AS DECIMAL(38,4))) AS DOUBLE) AS total,
                     MIN(o_orderkey) AS first_key, MAX(o_orderkey) AS last_key
              FROM orders WHERE o_orderstatus = 'F'
              GROUP BY o_orderstatus ORDER BY o_orderstatus""")),

    // STRING zone maps with truncation-safe semantics: a table keyed by
    // a fixed-width string renders range-disjoint per-file string stats
    // (short values ride exact; long values would record incremented-
    // prefix BOUNDS — TxLogSpec pins that side), a plain string BETWEEN
    // through the graft connector prunes files INSIDE planning in UTF-8
    // byte order, and metadata-only MIN/MAX serves the string column
    // because every stat is flagged exact — the pruning tier string-
    // keyed layouts (URL-sorted crawls, id-prefixed shards) need.
    QuerySpec(
      "table_string_prune",
      (s, dir) => {
        val table = fixturePath(dir, "txlog_orders_strkey")
        deleteRecursively(table)
        val src = ordersAll(s, dir)
          .withColumn("okey_s", lpad(col("o_orderkey").cast("string"), 12, "0"))
        TxLog.append(
          src.repartitionByRange(8, col("okey_s")).sortWithinPartitions("okey_s"),
          table)
        val r = Tables(s, dir, "orders")
          .agg(min(col("o_orderkey")), max(col("o_orderkey"))).head()
        val (mn, mx) = (r.getLong(0), r.getLong(1))
        val (lo, hi) = (mn + (mx - mn) * 3 / 10, mn + (mx - mn) * 4 / 10)
        def pad(v: Long): String = f"$v%012d"
        val df = s.read.format("graft").load(table)
          .filter(col("okey_s") >= pad(lo) && col("okey_s") <= pad(hi))
        val planned = df.queryExecution.executedPlan.collectLeaves().collectFirst {
          case f: org.apache.spark.sql.execution.FileSourceScanExec =>
            f.selectedPartitions.totalNumberOfFiles
        }.getOrElse(throw new IllegalStateException("no file scan in plan"))
        require(planned <= 3,
          s"string zone maps failed to prune inside planning: $planned of 8 files")
        val (smn, smx) = TxLog.metadataMinMax(table, "okey_s").getOrElse(
          throw new IllegalStateException("exact string stats must serve min/max"))
        require(smn == pad(mn) && smx == pad(mx),
          s"string metadata min/max wrong: ($smn, $smx)")
        ordersAgg(df)
      },
      Some("""WITH b AS (SELECT MIN(o_orderkey) AS mn, MAX(o_orderkey) AS mx FROM orders)
              SELECT o_orderstatus, COUNT(*) AS n,
                     CAST(SUM(CAST(o_totalprice AS DECIMAL(38,4))) AS DOUBLE) AS total,
                     MIN(o_orderkey) AS first_key, MAX(o_orderkey) AS last_key,
                     MAX(o_orderdate) AS last_date
              FROM orders, b
              WHERE LPAD(CAST(o_orderkey AS VARCHAR), 12, '0')
                      BETWEEN LPAD(CAST(b.mn + (b.mx - b.mn) * 3 // 10 AS VARCHAR), 12, '0')
                          AND LPAD(CAST(b.mn + (b.mx - b.mn) * 4 // 10 AS VARCHAR), 12, '0')
              GROUP BY o_orderstatus ORDER BY o_orderstatus""")),

    // 3-D Hilbert clustering (k-D Skilling transform): the realistic
    // training-data layout clusters time × key × quality — here custkey
    // × orderkey × totalprice. The hash baseline must be unprunable on
    // ALL three dims; after `compact(clusterBy = 3 columns)` each
    // single-dimension band must plan strictly fewer files through the
    // connector — multi-dimensional skipping on every axis from one
    // layout-only commit. Content equality rides the hash oracle.
    QuerySpec(
      "table_cluster_prune_3d",
      (s, dir) => {
        val table = fixturePath(dir, "txlog_orders_cluster3d")
        deleteRecursively(table)
        TxLog.append(ordersAll(s, dir).repartition(64), table)
        val r = Tables(s, dir, "orders").agg(
          min(col("o_custkey")), max(col("o_custkey")),
          min(col("o_orderkey")), max(col("o_orderkey")),
          min(col("o_totalprice")), max(col("o_totalprice"))).head()
        // domain-NATIVE band literals per column — a cast around the
        // attribute would be an opaque predicate shape and defeat the
        // zone-map pruning this query exists to prove
        // 30-40% bands: off-center, so they sit INSIDE one curve
        // quadrant per dimension — a midpoint-straddling band touches
        // both halves of every dim and nothing could prune
        def lband(lo: Long, hi: Long): (Long, Long) =
          (lo + (hi - lo) * 30 / 100, lo + (hi - lo) * 40 / 100)
        val (cLo, cHi) = lband(r.getLong(0), r.getLong(1))
        val (kLo, kHi) = lband(r.getLong(2), r.getLong(3))
        val (pLo, pHi) = (
          r.getDouble(4) + (r.getDouble(5) - r.getDouble(4)) * 0.30,
          r.getDouble(4) + (r.getDouble(5) - r.getDouble(4)) * 0.40)
        def planned(pred: org.apache.spark.sql.Column): Long = {
          val df = s.read.format("graft").load(table).filter(pred)
          df.queryExecution.executedPlan.collectLeaves().collectFirst {
            case f: org.apache.spark.sql.execution.FileSourceScanExec =>
              f.selectedPartitions.totalNumberOfFiles
          }.getOrElse(throw new IllegalStateException("no file scan in plan"))
        }
        def all(): Seq[Long] = Seq(
          planned(col("o_custkey").between(cLo, cHi)),
          planned(col("o_orderkey").between(kLo, kHi)),
          planned(col("o_totalprice").between(pLo, pHi)))
        val before = all()
        TxLog.compact(s, table, 64,
          clusterBy = Seq("o_custkey", "o_orderkey", "o_totalprice"))
        val after = all()
        // every dimension must shrink, and the total planned-file count
        // must at least halve — 3 dims × 64 files gives each axis 2 top
        // bits of curve locality, so a 10% off-center band should plan
        // roughly a quarter of the files per dim
        require(after.zip(before).forall { case (a, b) => a < b },
          s"3-D Hilbert clustering must shrink the plan on every dim: $before -> $after")
        require(after.sum * 2 <= before.sum,
          s"3-D Hilbert clustering must at least halve planned files: $before -> $after")
        s.read.format("graft").load(table)
          .filter(col("o_custkey").between(cLo, cHi))
          .groupBy("o_orderstatus")
          .agg(count(lit(1)).as("n"),
            sum(col("o_totalprice").cast(Dec)).cast("double").as("total"),
            min(col("o_custkey")).as("first_cust"),
            max(col("o_custkey")).as("last_cust"))
          .orderBy("o_orderstatus")
      },
      Some("""WITH b AS (SELECT MIN(o_custkey) AS mn, MAX(o_custkey) AS mx FROM orders)
              SELECT o_orderstatus, COUNT(*) AS n,
                     CAST(SUM(CAST(o_totalprice AS DECIMAL(38,4))) AS DOUBLE) AS total,
                     MIN(o_custkey) AS first_cust, MAX(o_custkey) AS last_cust
              FROM orders, b
              WHERE o_custkey BETWEEN b.mn + (b.mx - b.mn) * 30 // 100
                                  AND b.mn + (b.mx - b.mn) * 40 // 100
              GROUP BY o_orderstatus ORDER BY o_orderstatus""")),

    // Schema evolution without rewrites: v2 appends a column v1's files
    // never heard of (mergeSchema semantics — shared columns must keep
    // their types, loudly). Snapshot reads apply the commit-time schema
    // explicitly, so v1 rows surface the new column as NULL and time
    // travel to v1 still sees the ORIGINAL two-column schema — at 100 TB
    // adding a column costs one log entry, zero file rewrites.
    QuerySpec(
      "table_schema_evolution",
      (s, dir) => {
        val table = fixturePath(dir, "txlog_nation_evolve")
        deleteRecursively(table)
        val nation = Tables(s, dir, "nation")
          .select(col("n_nationkey").cast("long").as("nkey"),
            col("n_name").as("nname"),
            col("n_regionkey").cast("long").as("rkey"))
        TxLog.append(nation.filter(col("rkey") < 2).select("nkey", "nname"), table)
        TxLog.appendEvolve(nation.filter(col("rkey") >= 2), table)
        val v1Schema = TxLog.snapshot(s, table, asOf = Some(1L)).schema.fieldNames.toSeq
        require(v1Schema == Seq("nkey", "nname"),
          s"time travel must serve the pre-evolution schema, got $v1Schema")
        TxLog.snapshot(s, table)
          .groupBy(coalesce(col("rkey"), lit(-1L)).as("rkey_n"))
          .agg(count(lit(1)).as("n"), min(col("nname")).as("first_name"))
          .orderBy("rkey_n")
      },
      Some("""SELECT CASE WHEN n_regionkey < 2 THEN -1
                          ELSE CAST(n_regionkey AS BIGINT) END AS rkey_n,
                     COUNT(*) AS n, MIN(n_name) AS first_name
              FROM nation GROUP BY 1 ORDER BY rkey_n""")),

    // The table as a STREAMING SOURCE: `readStream` follows the log's
    // hard-linked change feed (adds-only, data-change commits only)
    // with Structured Streaming's own exactly-once file checkpoints.
    // Drain 1 consumes two appends; a compaction commits in between —
    // it must contribute NOTHING to the stream (its rows already
    // flowed); drain 2 under the SAME checkpoint picks up exactly the
    // third append. Any duplicate or loss breaks the full-orders hash.
    QuerySpec(
      "stream_table_feed",
      (s, dir) => {
        val root = fixturePath(dir, "txlog_feed")
        val table = root + "_table"; val out = root + "_out"
        val ckpt = root + "_ckpt"
        Seq(table, out, ckpt).foreach(deleteRecursively)
        TxLog.append(ordersSlice(s, dir, 0).repartition(2), table)
        TxLog.append(ordersSlice(s, dir, 1).repartition(2), table)
        TxLog.compact(s, table, 1)
        val feed = TxLog.feedDir(table)
        val schema = TxLog.snapshot(s, table).schema
        def drain(): Unit = {
          val q = s.readStream.schema(schema).parquet(feed)
            .writeStream.format("parquet")
            .option("path", out).option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
            .start()
          if (!q.awaitTermination(120000)) {
            q.stop()
            throw new IllegalStateException(
              "stream_table_feed: AvailableNow drain did not finish in 120 s")
          }
        }
        drain()
        TxLog.append(ordersSlice(s, dir, 2).repartition(2), table)
        drain() // same checkpoint: exactly the new append's files
        ordersAgg(Tables.readBack(s, ordersAll(s, dir).schema, out))
      },
      Some(ordersOracle("TRUE"))),

    // The exactly-once token under REAL streaming machinery: a 3-file
    // parquet landing zone drained by readStream (maxFilesPerTrigger=1 →
    // one epoch per file) through foreachBatch → appendIdempotent, then
    // the ENTIRE stream re-run against a FRESH checkpoint — the
    // lost-checkpoint restart every production job eventually suffers.
    // Every replayed epoch re-presents batchIds the txn ledger already
    // holds, so the second drain must not add a single version, and the
    // table hash still equals the one-pass oracle.
    QuerySpec(
      "stream_table_sink",
      (s, dir) => {
        val root = fixturePath(dir, "txlog_stream")
        val zone = root + "_zone"; val table = root + "_table"
        val ckpt1 = root + "_ckpt1"; val ckpt2 = root + "_ckpt2"
        Seq(zone, table, ckpt1, ckpt2).foreach(deleteRecursively)
        val landed = Tables(s, dir, "events")
          .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
        landed.repartition(3).write.parquet(zone)
        val schema = Tables.readBack(s, landed.schema, zone).schema
        def drain(ckpt: String): Unit = {
          val q = s.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1").parquet(zone)
            .writeStream
            .foreachBatch { (batch: DataFrame, id: Long) =>
              TxLog.appendIdempotent(batch, table, "stream_table_sink", id): Unit
            }
            .option("checkpointLocation", ckpt)
            .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
            .start()
          if (!q.awaitTermination(120000)) {
            q.stop()
            throw new IllegalStateException(
              "stream_table_sink: AvailableNow drain did not finish in 120 s")
          }
        }
        drain(ckpt1)
        val v = TxLog.latestVersion(table)
        require(v >= 2, s"expected multiple streamed commits, got $v")
        drain(ckpt2) // restart with NO checkpoint: every epoch replays
        require(TxLog.latestVersion(table) == v,
          "replayed epochs must not double-ingest")
        TxLog.snapshot(s, table)
          .groupBy("event_type")
          .agg(
            count(lit(1)).as("n"),
            sum(col("value").cast(Dec)).cast("double").as("total_value"),
            min(col("event_id")).as("first_event"),
            max(col("event_id")).as("last_event"))
          .orderBy("event_type")
      },
      Some("""SELECT event_type, COUNT(*) AS n,
                     CAST(SUM(CAST(value AS DECIMAL(38,4))) AS DOUBLE) AS total_value,
                     MIN(event_id) AS first_event, MAX(event_id) AS last_event
              FROM events GROUP BY event_type ORDER BY event_type""")),

    // Vacuum reclaims files dead at HEAD (here: v1's files, removed by
    // the v2 overwrite) without touching the live snapshot; time travel
    // to the vacuumed version then fails LOUDLY naming the missing
    // files — the retention trade stated as behavior, not a comment.
    QuerySpec(
      "table_vacuum_head",
      (s, dir) => {
        val table = fixturePath(dir, "txlog_nation_vacuum")
        deleteRecursively(table)
        val nation = Tables(s, dir, "nation")
          .select(col("n_nationkey").cast("long").as("nkey"),
            col("n_name").as("nname"),
            col("n_regionkey").cast("long").as("rkey"))
        TxLog.append(nation.repartition(2), table)
        TxLog.overwrite(nation.filter(col("rkey") < 3).repartition(2), table)
        // default retention first: the just-dead files are younger than
        // the grace window, so nothing may be reclaimed — the guard that
        // keeps a concurrent writer's staged-but-uncommitted files alive
        require(TxLog.vacuum(table) == 0,
          "vacuum must respect the retention window for fresh orphans")
        val reclaimed = TxLog.vacuum(table, olderThanMs = 0L)
        require(reclaimed >= 2, s"vacuum reclaimed only $reclaimed files")
        val timeTravelDied =
          try { TxLog.snapshot(s, table, asOf = Some(1L)).count(); false }
          catch { case e: IllegalStateException => e.getMessage.contains("vacuumed") }
        require(timeTravelDied, "time travel past vacuum must fail loudly")
        TxLog.snapshot(s, table)
          .groupBy("rkey")
          .agg(count(lit(1)).as("n"), min(col("nname")).as("first_name"))
          .orderBy("rkey")
      },
      Some("""SELECT CAST(n_regionkey AS BIGINT) AS rkey, COUNT(*) AS n,
                     MIN(n_name) AS first_name
              FROM nation WHERE n_regionkey < 3
              GROUP BY rkey ORDER BY rkey"""))
  )
}
