package graft.plans

import graft.TestSpark
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files
import java.util.concurrent.TimeUnit

/** CROSS-PROCESS optimistic-concurrency proof: two real JVMs (not
  * threads — a JVM serializes some filesystem calls that two processes
  * genuinely race) hammer one table directory through
  * [[graft.tools.TxLogRaceChild]]. The hard-link create-if-absent CAS is
  * the only coordination. Done-bar: a serializable history (contiguous
  * versions, every append exactly once, compaction never loses or
  * duplicates a row) across 110+ racing commits. */
class TxLogCrossProcessSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  private def fork(args: Seq[String], out: java.io.File): Process =
    ChildJvm.fork("graft.tools.TxLogRaceChild", args, out)

  test("two JVMs racing 110+ appends and compactions: serializable history, " +
      "zero lost commits") {
    val t = Files.createTempDirectory("graftrace").toString
    val n = 55
    val outA = Files.createTempFile("race_a", ".log").toFile
    val outB = Files.createTempFile("race_b", ".log").toFile
    val pa = fork(Seq(t, "A", n.toString, "append"), outA)
    val pb = fork(Seq(t, "B", n.toString, "mixed"), outB)
    def finish(p: Process, out: java.io.File, who: String): String = {
      assert(p.waitFor(300, TimeUnit.SECONDS), s"writer $who timed out")
      val log = Files.readString(out.toPath)
      assert(p.exitValue() == 0,
        s"writer $who failed (exit ${p.exitValue()}); tail:\n" +
          log.linesIterator.toSeq.takeRight(25).mkString("\n"))
      log.linesIterator.find(_.startsWith("DONE")).getOrElse(
        fail(s"writer $who printed no DONE line"))
    }
    val doneA = finish(pa, outA, "A")
    val doneB = finish(pb, outB, "B")
    def field(done: String, k: String): Int =
      done.split(" ").collectFirst {
        case s if s.startsWith(s"$k=") => s.drop(k.length + 1).toInt
      }.get
    assert(field(doneA, "appends") == n && field(doneB, "appends") == n)
    val compacts = field(doneB, "compacts")
    // serializable history: contiguous versions, no gap, no duplicate
    val hist = TxLog.history(t)
    assert(hist.map(_.version) == (1L to hist.length),
      s"history has gaps or duplicates: ${hist.map(_.version)}")
    assert(hist.count(_.op == "append") == 2 * n,
      "every append from both processes must have landed exactly once")
    assert(hist.count(_.op == "compact") == compacts,
      "exactly the compactions that reported success may appear in the log")
    assert(hist.length == 2 * n + compacts)
    // zero lost/duplicated rows through all the rewrites
    val rows = TxLog.snapshot(spark, t)
      .groupBy("writer", "seq").count().collect()
    assert(rows.length == 2 * n, s"expected ${2 * n} distinct rows, got ${rows.length}")
    assert(rows.forall(_.getLong(2) == 1L),
      "compaction raced with appends must never duplicate a row")
    // the race was real: at least one CAS round was lost and retried
    // (probabilistic but with 110+ commits effectively certain; the
    // assertion is on history INTEGRITY above, this is a sanity print)
    info(s"history: ${hist.length} commits, $compacts compactions, " +
      s"${field(doneB, "aborted")} aborted compaction(s)")
  }
}
