package graft.plans

import graft.TestSpark
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.TimeUnit
import scala.jdk.CollectionConverters._

/** The one copy-on-write kernel under merge, update and delete: its
  * output layout, its job count, the change-feed images it writes as
  * `_change_type=<type>/` path segments next to older logs whose images
  * carry the type as a column, vacuum over both, and a retried
  * classification task. */
class CopyOnWriteSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def freshTable(name: String): String =
    Files.createTempDirectory(s"graftcow_$name").resolve("t").toString

  /** Six 100-key files: file b holds keys b*100 until b*100+100. */
  private def keyRangeTable(name: String): String = {
    val t = freshTable(name)
    (0 until 6).foreach { b =>
      TxLog.append(spark.range(b * 100, b * 100 + 100, 1, 1)
        .selectExpr("id AS k", "id * 2 AS v"), t)
    }
    t
  }

  private def walk(root: Path): Seq[Path] =
    if (!Files.exists(root)) Nil
    else {
      val s = Files.walk(root)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).toList
      finally s.close()
    }

  /** The added files of the table's last commit hold each input key
    * block (k / 100) in one file, whose key zone map stays in the block. */
  private def assertBlocksStayTogether(t: String, rows: Long): Unit = {
    val c = TxLog.history(t).last
    assert(c.remove.size == 3, s"${c.op} removed ${c.remove}")
    assert(c.add.size <= 3, s"${c.op}: kept and updated rows of 3 files written as ${c.add.size} files")
    val out = spark.read.parquet(c.add.map(f => Paths.get(t, f).toString): _*)
      .select(col("k"), input_file_name().as("f")).as[(Long, String)].collect()
    assert(out.length == rows)
    out.groupBy(_._1 / 100).foreach { case (block, rs) =>
      assert(rs.map(_._2).distinct.length == 1, s"${c.op}: rows of input file $block scattered")
    }
    val stats = TxLog.snapshotInfo(t).stats
    c.add.foreach { f =>
      val k = stats(f)("k")
      assert(k.max.toLong / 100 == k.min.toLong / 100, s"$f spans ${k.min}..${k.max}")
    }
  }

  test("merge and update over 3 key-range files write each file's rows to one file") {
    val t = keyRangeTable("layout")
    // a parquet source: the affected-file probe joins two file scans
    val src = Files.createTempDirectory("graftcow_src").resolve("s").toString
    (100L until 400L).filter(_ % 100 < 30).map(k => (k, -k)).toDF("k", "v").write.parquet(src)
    TxLog.merge(spark, t, spark.read.parquet(src), "k")
    assertBlocksStayTogether(t, 300)
    TxLog.update(spark, t, $"k" >= 100 && $"k" < 400 && $"k" % 100 >= 90, Seq("v" -> lit(7L)))
    assertBlocksStayTogether(t, 300)
    val got = TxLog.snapshot(spark, t).as[(Long, Long)].collect().toMap
    assert(got.size == 600)
    assert(got.forall { case (k, v) =>
      val inner = k >= 100 && k < 400
      v == (if (inner && k % 100 < 30) -k else if (inner && k % 100 >= 90) 7L else k * 2)
    })
  }

  private val JobTag = "graft.spec.cow"

  /** Spark jobs started by `body` on this thread (tagged through a local
    * property), counted after the listener bus has drained. */
  private def jobsOf(body: => Unit): Int = {
    val sc = spark.sparkContext
    val tag = java.util.UUID.randomUUID.toString
    val started = new java.util.concurrent.atomic.AtomicInteger
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (e.properties != null && e.properties.getProperty(JobTag) == tag)
          started.incrementAndGet()
    }
    sc.addSparkListener(listener)
    sc.setLocalProperty(JobTag, tag)
    try {
      body
      org.apache.spark.graftbridge.ListenerDrain.drain(sc)
    } finally {
      sc.setLocalProperty(JobTag, null)
      sc.removeSparkListener(listener)
    }
    started.get
  }

  test("a merge updating 3 of 6 files and inserting runs at most 6 Spark jobs") {
    val t = keyRangeTable("jobs")
    // one source partition, like the table_dml benchmark's merge input
    val upd = ((100L until 400L).filter(_ % 100 < 30) ++ (1000L until 1010L))
      .map(k => (k, -k)).toDF("k", "v").coalesce(1)
    val jobs = jobsOf(TxLog.merge(spark, t, upd, "k"))
    assert(jobs <= 6, s"TxLog.merge ran $jobs Spark jobs")
    assert(TxLog.snapshot(spark, t).count() == 610)
  }

  /** Rewrites commit `v`'s change feed into the format earlier logs
    * carry: one image file under `_change_data/<id>/` with
    * `_change_type` and the partition values as columns. */
  private def toOldCdfFormat(t: String, v: Long): Unit = {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val log = Paths.get(t, "_graft_log", f"$v%020d.json")
    val rec = mapper.readTree(Files.readString(log))
      .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
    val dir = Paths.get(t, rec.get("cdf").get(0).asText)
    val old = Paths.get(t, "_change_data", s"old$v")
    spark.read.parquet(dir.toString).coalesce(1).write.parquet(old.toString)
    walk(dir).reverse.foreach(Files.delete)
    val cdf = rec.putArray("cdf")
    walk(old).filter(_.toString.endsWith(".parquet"))
      .foreach(p => cdf.add(Paths.get(t).relativize(p).toString))
    Files.writeString(log, mapper.writeValueAsString(rec))
  }

  private def feedRows(t: String, from: Long, to: Long): Set[(Long, String, Int, String, String)] =
    TxLog.changeFeed(spark, t, from, to)
      .select("_commit_version", "_change_type", "k", "tag", "p")
      .as[(Long, String, Int, String, String)].collect().toSet

  /** An update, a delete of key `del` and a merge on a table of keys
    * 0–29 partitioned by p = "p" + k % 2. */
  private def dmlLog(t: String, tag: String, del: Int): Unit = {
    TxLog.update(spark, t, $"k" === 3 || $"k" === 4, Seq("tag" -> lit(s"u$tag")))
    TxLog.delete(spark, t, $"k" === del)
    TxLog.merge(spark, t, Seq((5, s"m$tag", "p1"), (100 + tag.length, s"i$tag", "p0"))
      .toDF("k", "tag", "p"), "k")
  }

  test("a log mixing older image files with path-segment images replays through changeFeed") {
    val t = freshTable("compat")
    TxLog.append((0 until 30).map(k => (k, "a", s"p${k % 2}")).toDF("k", "tag", "p"), t,
      partitionBy = Seq("p"))
    dmlLog(t, "x", del = 0)
    val before = feedRows(t, 0, 4)
    assert(before.count(_._1 > 1) == 4 + 1 + 3)
    (2L to 4L).foreach(toOldCdfFormat(t, _))
    assert(TxLog.history(t).drop(1).forall(_.cdf.forall(_.startsWith("_change_data/old"))))
    dmlLog(t, "yy", del = 1) // v5 update, v6 delete, v7 merge: path-segment images
    assert(TxLog.history(t).drop(4).forall(c =>
      c.cdf.size == 1 && Files.isDirectory(Paths.get(t, c.cdf.head))))
    val all = feedRows(t, 0, 7)
    assert(all.filter(_._1 <= 4) == before, "older image files must read as before")
    assert(all.filter(_._1 > 4) == Set(
      (5L, "update_preimage", 3, "ux", "p1"), (5L, "update_preimage", 4, "ux", "p0"),
      (5L, "update_postimage", 3, "uyy", "p1"), (5L, "update_postimage", 4, "uyy", "p0"),
      (6L, "delete", 1, "a", "p1"),
      (7L, "update_preimage", 5, "mx", "p1"), (7L, "update_postimage", 5, "myy", "p1"),
      (7L, "insert", 102, "iyy", "p0")))
  }

  test("vacuum ages out path-segment images and never the promoted data files") {
    val t = freshTable("vacuum")
    TxLog.append((0 until 30).map(k => (k, "a", s"p${k % 2}")).toDF("k", "tag", "p"), t,
      partitionBy = Seq("p"))
    dmlLog(t, "x", del = 0)
    val images = TxLog.history(t).flatMap(_.cdf)
      .flatMap(d => walk(Paths.get(t, d)).map(p => Paths.get(t).relativize(p).toString))
      .filter(_.endsWith(".parquet"))
    assert(images.nonEmpty && images.forall(_.matches("_change_data/[0-9a-f]+/_change_type=[a-z_]+/p=p[01]/.*")))
    val live = TxLog.snapshotInfo(t).files
    assert(live.forall(_.startsWith("data/")))
    val candidates = TxLog.vacuumCandidates(t, olderThanMs = 0L)
    assert(images.toSet.subsetOf(candidates.toSet))
    assert(candidates.toSet.intersect(live.toSet).isEmpty)
    val rows = TxLog.snapshot(spark, t).count()
    TxLog.vacuum(t, olderThanMs = 0L)
    assert(TxLog.snapshot(spark, t).count() == rows)
    val e = intercept[IllegalStateException](TxLog.changeFeed(spark, t, 1, 4).count())
    assert(e.getMessage.contains("vacuumed"))
  }

  test("a merge whose classification task is retried commits each row and image once") {
    val t = freshTable("retry")
    val marker = Files.createTempDirectory("graftcow_marker").resolve("failed").toString
    val log = Files.createTempFile("graftcow_retry", ".log").toFile
    val p = ChildJvm.fork("graft.plans.MergeRetryChild", Seq(t, marker), log)
    assert(p.waitFor(300, TimeUnit.SECONDS), "retry child timed out")
    val out = Files.readString(log.toPath)
    assert(p.exitValue() == 0 && out.linesIterator.exists(_.startsWith("DONE")),
      s"retry child failed; tail:\n${out.linesIterator.toSeq.takeRight(25).mkString("\n")}")
    val failed = Files.readAllLines(Paths.get(marker)).asScala.toSeq
    assert(failed.nonEmpty, "attempt 0 of task 1 must have written a file before failing")
    assert(TxLog.history(t).map(_.op) == Seq("append", "merge"))
    val updated = (7L until 4000L by 100L).toSet
    val inserted = (4000L until 4005L).toSet
    val want = (0L until 4000L).map(k => k -> (if (updated(k)) -1L else 2 * k)).toMap ++
      inserted.map(_ -> -1L)
    val got = TxLog.snapshot(spark, t).as[(Long, Long)].collect()
    assert(got.length == want.size && got.toMap == want)
    val feed = TxLog.changeFeed(spark, t, 1, 2).select("_change_type", "k", "v")
      .as[(String, Long, Long)].collect().toSeq
    assert(feed.filter(_._1 == "update_preimage").sortBy(_._2) ==
      updated.toSeq.sorted.map(k => ("update_preimage", k, 2 * k)))
    assert(feed.filter(_._1 == "update_postimage").sortBy(_._2) ==
      updated.toSeq.sorted.map(k => ("update_postimage", k, -1L)))
    assert(feed.filter(_._1 == "insert").sortBy(_._2) ==
      inserted.toSeq.sorted.map(k => ("insert", k, -1L)))
    assert(feed.length == 2 * updated.size + inserted.size)
    val c = TxLog.history(t).last
    val onDisk = walk(Paths.get(t)).map(_.getFileName.toString).toSet
    assert(failed.forall(n => !onDisk.contains(n)), "the failed attempt's files must be deleted")
    assert(failed.forall(n => !c.add.exists(_.endsWith(n))),
      "the failed attempt's files must not reach the log")
  }
}
