package graft.plans

import graft.TestSpark
import org.apache.spark.sql.functions.{col, input_file_name, udf}
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.{Files, Paths}
import java.util.concurrent.TimeUnit
import scala.jdk.CollectionConverters._

/** What TxLog's one write path ([[DirectParquet]]) guarantees under
  * faults a cluster produces and `local[N]` hides: a retried task, a
  * failed job, and a copy-on-write delete whose survivors must stay
  * where their input file put them. */
class TxLogWritePathSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def freshTable(name: String): String =
    Files.createTempDirectory(s"graftwrite_$name").resolve("t").toString

  /** Table-relative paths of every regular file under `data/`. */
  private def dataFiles(t: String): Set[String] = {
    val root = Paths.get(t, "data")
    if (!Files.exists(root)) Set.empty
    else {
      val s = Files.walk(root)
      try s.iterator().asScala.filter(Files.isRegularFile(_))
        .map(p => Paths.get(t).relativize(p).toString).toSet
      finally s.close()
    }
  }

  private def commitDirs(t: String): Set[String] =
    Option(Paths.get(t, "data").toFile.list()).fold(Set.empty[String])(_.toSet)

  test("a retried write task commits one file per task with the input's rows and zone maps") {
    val t = freshTable("retry")
    val marker = Files.createTempDirectory("graftwrite_marker").resolve("failed").toString
    val log = Files.createTempFile("graftwrite_retry", ".log").toFile
    val p = ChildJvm.fork("graft.plans.WriteRetryChild", Seq(t, marker), log)
    assert(p.waitFor(300, TimeUnit.SECONDS), "retry child timed out")
    val out = Files.readString(log.toPath)
    assert(p.exitValue() == 0 && out.linesIterator.exists(_.startsWith("DONE")),
      s"retry child failed; tail:\n${out.linesIterator.toSeq.takeRight(25).mkString("\n")}")
    val failed = Files.readAllLines(Paths.get(marker)).asScala.toSeq
    assert(failed.nonEmpty, "attempt 0 of task 1 must have failed with its file open")
    val hist = TxLog.history(t)
    assert(hist.map(_.op) == Seq("append"))
    val added = hist.head.add
    assert(added.size == 4, s"one file per non-empty task, got $added")
    assert(added.map(f => Paths.get(f).getFileName.toString.take(10)).sorted ==
      (0 until 4).map(i => f"part-$i%05d"))
    assert(failed.forall(n => !added.exists(_.endsWith(n))),
      "the failed attempt's file must not reach the log")
    assert(dataFiles(t).filter(_.endsWith(".parquet")) == added.toSet,
      "the failed attempt's file must be deleted")
    val rows = TxLog.snapshot(spark, t)
    assert(rows.count() == 4000)
    assert(rows.exceptAll(spark.range(0, 4000).selectExpr(
      "id", "id * 2 AS v", "CONCAT('r', CAST(id AS STRING)) AS s")).isEmpty)
    val stats = TxLog.snapshotInfo(t).stats
    added.foreach(f => assert(stats(f) == TxLog.fileStats(Paths.get(t, f)), f))
  }

  test("a failed append leaves no file under its commit dir and no new version") {
    Seq(Nil, Seq("p")).foreach { parts =>
      val t = freshTable("abort")
      TxLog.append(spark.range(0, 30).selectExpr("id AS k", "CAST(id % 3 AS STRING) AS p"),
        t, parts)
      val (filesBefore, dirsBefore) = (dataFiles(t), commitDirs(t))
      // task 3 dies 50 rows into its file, after tasks 0-2 have written
      // and committed theirs
      val boom = udf { (k: Long) =>
        if (k == 800L) { Thread.sleep(1000); throw new IllegalStateException("injected") }
        k
      }
      val bad = spark.range(0, 1000, 1, 4)
        .select(boom(col("id")).as("k"), (col("id") % 3).cast("string").as("p"))
      intercept[Exception](TxLog.append(bad, t))
      assert(TxLog.latestVersion(t) == 1, s"partitionBy=$parts")
      assert(dataFiles(t) == filesBefore, s"partitionBy=$parts")
      assert(commitDirs(t) == dirsBefore, s"partitionBy=$parts")
    }
  }

  test("a delete cutting 3 key-range files writes each file's survivors to one file") {
    val t = freshTable("scatter")
    (0 until 6).foreach { b =>
      TxLog.append(spark.range(b * 100, b * 100 + 100, 1, 1).selectExpr("id AS k", "id * 2 AS v"), t)
    }
    TxLog.delete(spark, t, $"k" >= 100 && $"k" < 400 && $"k" % 100 < 30)
    val c = TxLog.history(t).last
    assert(c.op == "delete" && c.remove.size == 3)
    assert(c.add.size <= 3, s"survivors of 3 files written as ${c.add.size} files")
    val survivors = spark.read.parquet(c.add.map(f => Paths.get(t, f).toString): _*)
      .select(col("k"), input_file_name().as("f"))
      .as[(Long, String)].collect()
    assert(survivors.length == 3 * 70)
    survivors.groupBy(_._1 / 100).foreach { case (block, rows) =>
      assert(rows.map(_._2).distinct.length == 1, s"survivors of input file $block scattered")
    }
    val stats = TxLog.snapshotInfo(t).stats
    c.add.foreach { f =>
      val k = stats(f)("k")
      assert(k.max.toLong / 100 == k.min.toLong / 100, s"$f spans ${k.min}..${k.max}")
    }
    assert(TxLog.snapshot(spark, t).count() == 600 - 90)
  }

  test("a DateType-partitioned table appends, deletes and reads back") {
    val t = freshTable("datepart")
    def frame(lo: Int, hi: Int) = spark.range(lo, hi)
      .selectExpr("id AS k", "DATE_ADD(DATE'2024-01-01', CAST(id % 3 AS INT)) AS d")
    TxLog.append(frame(0, 30), t, partitionBy = Seq("d"))
    TxLog.append(frame(30, 60), t)
    TxLog.delete(spark, t, $"d" === java.sql.Date.valueOf("2024-01-02") && $"k" < 10)
    assert(TxLog.snapshotInfo(t).files.forall(_.contains("/d=2024-01-0")))
    val expected = frame(0, 60).filter(!($"d" === java.sql.Date.valueOf("2024-01-02") && $"k" < 10))
    val got = TxLog.snapshot(spark, t).select("k", "d")
    assert(got.schema("d").dataType == org.apache.spark.sql.types.DateType)
    assert(got.exceptAll(expected).isEmpty && expected.exceptAll(got).isEmpty)
  }
}
