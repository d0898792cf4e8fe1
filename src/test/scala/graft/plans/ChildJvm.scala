package graft.plans

import java.nio.file.Paths

/** Starts `mainClass` in a fresh JVM on this test JVM's classpath (the
  * build's classes and the Spark jars) — for specs that need their own
  * SparkContext (a second process, or a master other than the shared
  * session's). */
object ChildJvm {
  private val addOpens = Seq(
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"
  ).flatMap(p => Seq("--add-opens", s"$p=ALL-UNNAMED"))

  def fork(mainClass: String, args: Seq[String], out: java.io.File): Process = {
    val javaBin = Paths.get(System.getProperty("java.home"), "bin", "java").toString
    val cmd = Seq(javaBin) ++ addOpens ++ Seq("-Xmx2g", "-Dspark.ui.enabled=false",
      "-cp", System.getProperty("java.class.path"), mainClass) ++ args
    new ProcessBuilder(cmd: _*)
      .redirectErrorStream(true)
      .redirectOutput(out)
      .start()
  }
}
