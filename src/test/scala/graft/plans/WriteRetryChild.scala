package graft.plans

import org.apache.spark.TaskContext
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, concat, lit, udf}

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** Forked-JVM half of the task-retry spec: at `local[4,2]` (each task
  * may run twice) it appends 4,000 rows in 4 write tasks to a fresh
  * TxLog table, and attempt 0 of task 1 dies half-way through its file.
  * Before dying, the attempt records in the marker file the part files
  * task 1 has open, so the parent can check that none of them survives.
  * Args: table dir, marker file. Prints `DONE` on success. */
object WriteRetryChild {
  def main(args: Array[String]): Unit = {
    val Array(table, marker) = args
    val spark = SparkSession.builder()
      .master("local[4,2]")
      .appName("graft-write-retry")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    val failOnce = udf { (id: Long) =>
      val tc = TaskContext.get()
      if (tc.partitionId() == 1 && tc.attemptNumber() == 0 && id == 1500L) {
        val s = Files.walk(Paths.get(table, "data"))
        val open = try s.iterator().asScala.map(_.getFileName.toString)
          .filter(n => n.startsWith("part-00001-") && n.endsWith(".parquet")).toList
        finally s.close()
        Files.write(Paths.get(marker), open.asJava)
        throw new IllegalStateException("injected failure of attempt 0")
      }
      id * 2
    }
    val df = spark.range(0, 4000, 1, 4)
      .withColumn("v", failOnce(col("id")))
      .withColumn("s", concat(lit("r"), col("id").cast("string")))
    TxLog.append(df, table)
    println("DONE")
    spark.stop()
  }
}
