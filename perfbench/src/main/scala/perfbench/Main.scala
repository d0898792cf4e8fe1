package perfbench

import org.apache.spark.sql.SparkSession

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import scala.collection.mutable

/** One timed operation: its kind (which median it feeds), wall time, the
  * rows it moved, and whether it failed. */
final case class Op(kind: String, seconds: Double, rows: Long, ok: Boolean)

/** Shared state of one benchmark process. */
final class Ctx(
    val spark: SparkSession,
    val work: String,
    val seed: Long,
    val tracer: Tracer,
    val listener: EngineListener) {
  val ops = mutable.ArrayBuffer.empty[Op]
  val warmupOps = mutable.ArrayBuffer.empty[Op]
  val errors = mutable.ArrayBuffer.empty[String]
  /** Set while the timed region runs; warm-up operations are not recorded. */
  var timing = false

  /** Run one operation, timed and labelled for the engine counters. A
    * failure is counted, not thrown: a run reports what it attempted. */
  def op(kind: String, label: String, rows: Long)(body: => Unit): Unit = {
    val t0 = System.nanoTime()
    val ok =
      try {
        Engine.label(spark.sparkContext, if (timing) label else s"warmup:$label")(
          tracer.span(kind)(body))
        true
      }
      catch {
        case e: Throwable =>
          errors += s"$label failed: ${e.getClass.getSimpleName}: ${e.getMessage}"
          false
      }
    (if (timing) ops else warmupOps) += Op(kind, (System.nanoTime() - t0) / 1e9, rows, ok)
  }

  def check(cond: Boolean, what: => String): Unit = if (!cond) errors += what
}

/** A workload: untimed set-up and warm-up, then whole rounds of the same
  * operations until the measuring time is used, then checks and metrics. */
trait Workload {
  def setup(ctx: Ctx): Unit
  /** Untimed rounds run before the timed region, to bring JIT-compiled
    * code, Spark's codegen cache and the OS page cache to steady state. */
  def warmupRounds: Int
  def round(ctx: Ctx): Unit
  /** Checks against values computed apart from the engine; adds to ctx.errors. */
  def verify(ctx: Ctx): Unit
  /** Operation kinds whose per-kind medians average into `op_p50_s`. */
  def opKinds: Seq[String]
  /** Per-layer metrics of the traced run (name → (value, unit)). */
  def layerMetrics(ctx: Ctx, rounds: Int): Seq[(String, Double, String)]
}

object Main {
  def main(args: Array[String]): Unit = {
    val Array(workload, work, seedArg, secondsArg, traceArg, setupStartMs) = args
    val seconds = secondsArg.toDouble
    val cores = math.min(4, Runtime.getRuntime.availableProcessors()).toString
    val sessionT0 = System.nanoTime()
    val spark = graft.GraftSession.builder(cores, cores).getOrCreate()
    val sessionStartS = (System.nanoTime() - sessionT0) / 1e9
    spark.sparkContext.setLogLevel("ERROR")
    val listener = new EngineListener
    spark.sparkContext.addSparkListener(listener)
    val ctx = new Ctx(spark, work, seedArg.toLong, new Tracer(traceArg == "1"), listener)
    if (workload == "prime") {
      // loads the classes every workload needs, for the build's
      // class-data-sharing archive; measures nothing
      Seq(new IngestFiles, new TableDml, new LlmOperators).foreach { w =>
        w.setup(ctx); w.round(ctx)
      }
      spark.stop()
      return
    }
    val w: Workload = workload match {
      case "ingest_files" => new IngestFiles
      case "table_dml" => new TableDml
      case "llm_operators" => new LlmOperators
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val jvmReadyMs = System.currentTimeMillis()
    Engine.label(spark.sparkContext, "setup")(w.setup(ctx))
    val setupDoneMs = System.currentTimeMillis()
    val warmupSeconds = (1 to w.warmupRounds).map { _ =>
      val r0 = System.nanoTime()
      Engine.label(spark.sparkContext, "warmup")(w.round(ctx))
      (System.nanoTime() - r0) / 1e9
    }
    System.gc()

    val firstTimedMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val roundSeconds = mutable.ArrayBuffer.empty[Double]
    ctx.tracer.spans.clear() // the traced metrics cover the timed rounds only
    ctx.timing = true
    while ((System.nanoTime() - t0) / 1e9 < seconds) {
      val r0 = System.nanoTime()
      w.round(ctx)
      roundSeconds += (System.nanoTime() - r0) / 1e9
    }
    ctx.timing = false
    val timedS = (System.nanoTime() - t0) / 1e9

    Engine.label(spark.sparkContext, "verify")(w.verify(ctx))
    Engine.drain(spark.sparkContext)

    val ops = ctx.ops.toSeq
    val kindMedians = w.opKinds.map(k => Stats.median(ops.filter(o => o.kind == k && o.ok).map(_.seconds)))
    val e2e = Seq(
      ("setup_s", (firstTimedMs - setupStartMs.toLong) / 1e3, "s"),
      ("round_s", Stats.median(roundSeconds.toSeq), "s"),
      ("op_p50_s", kindMedians.sum / kindMedians.length, "s"))
    val layer =
      if (!ctx.tracer.enabled) Seq.empty
      else {
        val engine = listener.total(Engine.timed)
        val n = roundSeconds.length.toDouble
        Seq(
          ("session.start_s", sessionStartS, "s"),
          (s"$workload.executor_cpu_s", engine.executorCpuNs / 1e9 / n, "s"),
          (s"$workload.executor_run_s", engine.executorRunMs / 1e3 / n, "s"),
          (s"$workload.gc_s", engine.gcMs / 1e3 / n, "s"),
          (s"$workload.jobs", engine.jobs / n, "count"),
          (s"$workload.shuffle_bytes", (engine.shuffleReadBytes + engine.shuffleWriteBytes) / n, "bytes"),
          (s"$workload.spill_bytes", engine.spillBytes / n, "bytes")) ++
          w.layerMetrics(ctx, roundSeconds.length)
      }
    if (ctx.tracer.enabled)
      Files.write(Paths.get(work, "spans.json"), ctx.tracer.toJson.getBytes(UTF_8))
    val json =
      s"""{"attempted":${ops.length},"failed":${ops.count(!_.ok)},""" +
        s""""rounds":${roundSeconds.length},"timed_s":${Json.num(timedS)},""" +
        s""""warmup_rounds_s":${warmupSeconds.map(Json.num).mkString("[", ",", "]")},""" +
        s""""timed_rounds_s":${roundSeconds.map(Json.num).mkString("[", ",", "]")},""" +
        s""""ops":${ops.map(o => s"[${Json.str(o.kind)},${Json.num(o.seconds)}]").mkString("[", ",", "]")},""" +
        s""""warmup_ops":${ctx.warmupOps.map(o => s"[${Json.str(o.kind)},${Json.num(o.seconds)}]").mkString("[", ",", "]")},""" +
        s""""phases_s":{"to_session":${(jvmReadyMs - setupStartMs.toLong) / 1e3},""" +
        s""""setup":${(setupDoneMs - jvmReadyMs) / 1e3},"warmup":${(firstTimedMs - setupDoneMs) / 1e3},""" +
        s""""verify":${(System.currentTimeMillis() - firstTimedMs) / 1e3 - timedS}},""" +
        s""""errors":${ctx.errors.map(Json.str).mkString("[", ",", "]")},""" +
        s""""e2e":${Json.metrics(e2e)},"layer":${Json.metrics(layer)}}"""
    Files.write(Paths.get(work, "result.json"), json.getBytes(UTF_8))
    spark.stop()
  }
}

object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val m = s.length / 2
      if (s.length % 2 == 1) s(m) else (s(m - 1) + s(m)) / 2
    }
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)

  def metrics(ms: Seq[(String, Double, String)]): String =
    ms.map { case (n, v, u) => s"""${str(n)}:{"value":${num(v)},"unit":${str(u)}}""" }
      .mkString("{", ",", "}")
}
