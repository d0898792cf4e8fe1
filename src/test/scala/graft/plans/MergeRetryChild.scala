package graft.plans

import org.apache.hadoop.fs.{FSDataOutputStream, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable
import org.apache.spark.TaskContext
import org.apache.spark.sql.SparkSession

import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicInteger
import scala.jdk.CollectionConverters._

/** Forked-JVM half of the merge task-retry spec: at `local[4,2]` (each
  * task may run twice) it appends keys 0–3999 (`v = 2k`) as 4 files to a
  * fresh TxLog table, then merges 40 existing keys (`k % 100 == 7`, one
  * in every 100) and 5 new ones (4000–4004), all with `v = -1`. Attempt 0
  * of classification task 1 fails half-way: it has written its data-class
  * file and dies opening its next one ([[FailOnceFs]]), after recording
  * in the marker file the part files that attempt has written. Args:
  * table dir, marker file. Prints `DONE` on success. */
object MergeRetryChild {
  def main(args: Array[String]): Unit = {
    val Array(table, marker) = args
    val spark = SparkSession.builder()
      .master("local[4,2]")
      .appName("graft-merge-retry")
      .config("spark.ui.enabled", "false")
      .config("spark.hadoop.fs.file.impl", classOf[FailOnceFs].getName)
      .config("spark.hadoop.fs.file.impl.disable.cache", "true")
      .getOrCreate()
    TxLog.append(spark.range(0, 4000, 1, 4).selectExpr("id AS k", "id * 2 AS v"), table)
    FailOnceFs.arm(Paths.get(table, "_change_data").toString, marker)
    val updates = spark.range(7, 4000, 100, 1).selectExpr("id AS k", "-1L AS v")
      .union(spark.range(4000, 4005, 1, 1).selectExpr("id AS k", "-1L AS v"))
    TxLog.merge(spark, table, updates, "k")
    println("DONE")
    spark.stop()
  }
}

/** The `file:` filesystem with one fault: once armed, attempt 0 of task 1
  * fails when it creates its second parquet file under the armed
  * directory, after writing the names of that attempt's part files found
  * there to the marker file. */
class FailOnceFs extends LocalFileSystem {
  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
      bufferSize: Int, replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream = {
    val tc = TaskContext.get()
    val armed = FailOnceFs.dir
    if (armed != null && tc != null && tc.partitionId() == 1 && tc.attemptNumber() == 0 &&
        f.toUri.getPath.startsWith(armed) && f.getName.endsWith(".parquet") &&
        FailOnceFs.created.getAndIncrement() == 1) {
      val s = Files.walk(Paths.get(armed))
      val written = try s.iterator().asScala.map(_.getFileName.toString)
        .filter(n => n.startsWith("part-00001-") && n.endsWith(".parquet")).toList
      finally s.close()
      Files.write(Paths.get(FailOnceFs.marker), written.asJava)
      throw new java.io.IOException("injected failure of attempt 0")
    }
    super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress)
  }
}

object FailOnceFs {
  @volatile private var dir: String = _
  @volatile private var marker: String = _
  private val created = new AtomicInteger

  def arm(dir: String, marker: String): Unit = {
    this.marker = marker
    this.dir = dir
  }
}
