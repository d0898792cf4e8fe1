package graft.plans

import graft.TestSpark
import graft.sources.GraftFileIndex
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.InputFileName
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files

/** Every TxLog read is one scan through the log-backed
  * [[GraftFileIndex]]: a partitioned snapshot is one scan, the DML
  * probes skip files by zone map, and the change feed attaches each
  * file's commit as partition values, with no join. */
class TxLogScanSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def freshTable(name: String): String =
    Files.createTempDirectory(s"graftscan_$name").resolve("t").toString

  private def fileScans(plan: SparkPlan): Seq[FileSourceScanExec] =
    collect(plan) { case f: FileSourceScanExec => f }

  /** The executed plans of the Dataset actions `body` runs. */
  private def actionPlans(body: => Unit): Seq[SparkPlan] = {
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, d: Long): Unit =
        plans.add(qe.executedPlan): Unit
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      body
      org.apache.spark.graftbridge.ListenerDrain.drain(spark.sparkContext)
    } finally spark.listenerManager.unregister(listener)
    plans.toArray(Array.empty[SparkPlan]).toSeq
  }

  test("a hive-partitioned snapshot built by 3 commits is one scan over the log's index") {
    val t = freshTable("part")
    def batch(lo: Int) = (lo until lo + 12).toDF("k")
      .withColumn("p", ($"k" % 3).cast("int"))
      .withColumn("v", concat(lit("v"), $"k"))
    Seq(0, 12, 24).foreach(lo => TxLog.append(batch(lo), t, partitionBy = Seq("p")))
    val snap = TxLog.snapshot(spark, t)
    val scans = fileScans(snap.queryExecution.executedPlan)
    assert(scans.length == 1, s"planned ${scans.length} file scans")
    assert(scans.head.relation.location.isInstanceOf[GraftFileIndex])
    assert(snap.columns.toSeq == Seq("k", "p", "v"))
    assert(snap.schema("p").dataType == org.apache.spark.sql.types.IntegerType)
    assert(snap.as[(Int, Int, String)].collect().sorted.toSeq ==
      (0 until 36).map(k => (k, k % 3, s"v$k")))
  }

  test("a delete probes only the files whose zone maps admit its condition") {
    val t = freshTable("probe")
    (0 until 6).foreach { b =>
      TxLog.append(spark.range(b * 100, b * 100 + 100, 1, 1)
        .selectExpr("id AS k", "id * 2 AS v"), t)
    }
    val plans = actionPlans(TxLog.delete(spark, t, $"k" < 250))
    val probed = plans.flatMap(fileScans).map(_.metrics("numFiles").value)
    assert(probed.nonEmpty, "the delete ran no file scan as a Dataset action")
    assert(probed.head == 3, s"the affected-file probe read $probed files")
    assert(TxLog.history(t).last.remove.length == 3)
    assert(TxLog.snapshot(spark, t).count() == 350)
  }

  test("the change feed attaches commits without a join or input_file_name") {
    val t = freshTable("feed")
    TxLog.append((0 until 20).toDF("k").withColumn("p", $"k" % 2), t, partitionBy = Seq("p"))
    TxLog.delete(spark, t, $"k" === 3)
    TxLog.overwrite((100 until 105).toDF("k").withColumn("p", $"k" % 2), t)
    val feed: DataFrame = TxLog.changeFeed(spark, t, 0, 3)
    val plan = feed.queryExecution.executedPlan
    assert(collect(plan) { case j: BroadcastHashJoinExec => j }.isEmpty, plan.toString)
    assert(!feed.queryExecution.optimizedPlan.exists(_.expressions.exists(
      _.exists(_.isInstanceOf[InputFileName]))), "input_file_name in the feed plan")
    assert(fileScans(plan).forall(_.relation.location.isInstanceOf[GraftFileIndex]))
    val counts = feed.groupBy("_commit_version", "_change_type").count()
      .as[(Long, String, Long)].collect().toSet
    assert(counts == Set((1L, "insert", 20L), (2L, "delete", 1L),
      (3L, "delete", 19L), (3L, "insert", 5L)), counts)
  }
}
