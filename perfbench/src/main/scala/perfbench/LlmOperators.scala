package perfbench

import graft.{QuerySpec, Registry}
import org.apache.spark.sql.Row
import org.apache.spark.sql.types.StructType

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import scala.collection.mutable

/** Repeated passes over a fixed mix of registry queries that declare a
  * DuckDB oracle, over the seeded sample of the sf0.1 documents gen.py wrote. Each query is timed
  * through a full `collect()`; every timed pass must return the same rows,
  * and the last pass's rows are written out after the timed region for
  * check.py to compare, through tools/check_oracle.py, with DuckDB's run of
  * the query's oracle. */
final class LlmOperators extends Workload {
  private val Mix = Seq("dedup_ngram_jaccard", "dedup_editdistance")
  override val warmupRounds = 6

  private var specs: Seq[QuerySpec] = Nil
  /** result fingerprint of each query's first timed pass; later passes must match */
  private val fingerprint = mutable.HashMap.empty[String, Int]
  /** the last timed pass's result of each query, written out for check.py */
  private val last = mutable.HashMap.empty[String, (Array[Row], StructType)]
  private val planS = mutable.HashMap.empty[String, mutable.ArrayBuffer[Double]]

  override def opKinds: Seq[String] = Mix

  override def setup(ctx: Ctx): Unit = {
    specs = Mix.map(Registry.byName)
    specs.foreach(s => require(s.oracle.isDefined && !s.cacheAssisted,
      s"${s.name}: the mix takes only oracle-checked queries without a session cache"))
  }

  private def run(ctx: Ctx, q: QuerySpec): Unit = {
    var rows: Array[Row] = null
    var df: org.apache.spark.sql.DataFrame = null
    ctx.op(q.name, s"query:${q.name}", 0) {
      df = q.run(ctx.spark, ctx.work)
      rows = df.collect()
    }
    if (rows != null && ctx.timing) {
      last(q.name) = (rows, df.schema)
      val fp = rows.toSeq.hashCode()
      ctx.check(fingerprint.getOrElseUpdate(q.name, fp) == fp,
        s"${q.name}: result differs between passes")
      val phases = df.queryExecution.tracker.phases
      planS.getOrElseUpdate(q.name, mutable.ArrayBuffer.empty) +=
        Seq("analysis", "optimization", "planning")
          .flatMap(phases.get).map(_.durationMs).sum / 1e3
    }
  }


  override def round(ctx: Ctx): Unit = specs.foreach(run(ctx, _))

  override def verify(ctx: Ctx): Unit = {
    last.foreach { case (name, (rows, schema)) =>
      ctx.spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
        .coalesce(1).write.mode("overwrite").parquet(s"${ctx.work}/results/$name")
    }
    val oracle = specs.map(q => s"${Json.str(q.name)}:${Json.str(q.oracle.get)}")
      .mkString("{", ",", "}")
    Files.createDirectories(Paths.get(ctx.work, "results"))
    Files.write(Paths.get(ctx.work, "results", "oracle_sql.json"), oracle.getBytes(UTF_8))
  }

  override def layerMetrics(ctx: Ctx, rounds: Int): Seq[(String, Double, String)] = {
    val passes = ctx.ops.grouped(Mix.length).map(_.map(_.seconds).sum).toSeq
    ("operators.pass_s", Stats.median(passes), "s") +: Mix.flatMap { q =>
      val c = ctx.listener.total(_ == s"query:$q")
      Seq(
        (s"operators.${q}_s", Stats.median(ctx.ops.filter(_.kind == q).map(_.seconds).toSeq), "s"),
        (s"operators.$q.plan_s", Stats.median(planS.getOrElse(q, Nil).toSeq), "s"),
        (s"operators.$q.jobs", c.jobs.toDouble / rounds, "count"),
        (s"operators.$q.shuffle_bytes", (c.shuffleReadBytes + c.shuffleWriteBytes).toDouble / rounds, "bytes"),
        (s"operators.$q.spill_bytes", c.spillBytes.toDouble / rounds, "bytes"),
        (s"operators.$q.gc_s", c.gcMs / 1e3 / rounds, "s"))
    }
  }
}
