package graft

/** Shared plumbing for the multi-JVM (local-cluster) harnesses —
  * the test-scope LocalClusterStreamSmoke / LocalClusterParity /
  * ExecutorLossSmoke / LocalClusterSpec. One home
  * so the JDK-17 module-opens list, the executor-classpath
  * absolutization, and the victim-pid discovery cannot drift apart
  * copy by copy (when build.sbt's jdk17AddOpens next grows an entry,
  * this is the only other place it must be added).
  */
object LocalClusterEnv {

  /** Same list as build.sbt's jdk17AddOpens (which matches Spark's own
    * JavaModuleOptions.defaultModuleOptions) — executor JVMs are forked
    * by the standalone Worker, which does not inject spark-submit's
    * module options for us. */
  val addOpens: Seq[String] = Seq(
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
  )

  /** One-string form for `spark.executor.extraJavaOptions`: the module
    * opens plus this JVM's `java.io.tmpdir`. RocksDB and lz4-java unpack
    * their native libraries (15 MB) into the tmpdir and delete them in a
    * JVM exit hook, which an executor killed with `kill -9` never runs;
    * with the driver's tmpdir the files go when the driver's own does (a
    * `forkSmoke` child's tmpdir is deleted after it exits). */
  def executorJavaOptions: String =
    (addOpens.map(p => s"--add-opens=$p=ALL-UNNAMED") :+
      s"-Djava.io.tmpdir=${System.getProperty("java.io.tmpdir")}").mkString(" ")

  /** Argv form for forking a child JVM directly. */
  def addOpensArgs: Seq[String] =
    addOpens.flatMap(p => Seq("--add-opens", s"$p=ALL-UNNAMED"))

  /** This JVM's classpath with every entry absolutized, for
    * `spark.executor.extraClassPath`: the executor's cwd is the
    * Worker's app work dir, so a relative sbt classes-dir entry would
    * silently drop the application classes there (glob entries keep
    * their trailing wildcard). */
  def absoluteClasspath: String =
    absolutize(System.getProperty("java.class.path"))

  private[graft] def absolutize(cp: String): String =
    cp.split(":").map { e =>
      if (e.endsWith("/*"))
        new java.io.File(e.dropRight(2)).getAbsolutePath + "/*"
      else new java.io.File(e).getAbsolutePath
    }.mkString(":")

  /** Live executor JVM pids OF THIS DRIVER. `pgrep -f` rather than
    * ProcessHandle children because the executor argv exceeds the
    * kernel's cmdline snapshot ProcessHandle.info exposes in this
    * container (the child filter came back empty); `-P <own pid>`
    * scopes to our children so a concurrent local-cluster tool on the
    * same host can never become a kill victim. */
  def executorPids(): Seq[Long] = {
    import scala.sys.process._
    val out = new StringBuilder
    Seq("pgrep", "-P", ProcessHandle.current().pid().toString,
        "-f", "CoarseGrainedExecutorBackend")
      .!(ProcessLogger(l => { out.append(l).append('\n'); () }, _ => ()))
    out.toString.linesIterator.flatMap(_.trim.toLongOption).toSeq
  }
}
