package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for specs (small parallelism — fast startup). */
trait SparkTestBase extends AnyFunSuite with BeforeAndAfterAll {
  @transient lazy val spark: SparkSession = SparkTestBase.session

  /** Fork a smoke `main` in a fresh JVM and return its exit code. Spark
    * 4.1's stateful exec nodes NPE (PythonSQLMetrics / null session) when
    * timer batches are planned under the sbt test harness's thread
    * context; the engine is fine in a plain JVM, so stateful checks run
    * through this: the stream/batch parity groups (one child per group,
    * see `graft.streaming.Parity`) and the smokes that need a JVM of their
    * own (ExtensionsSmoke, the local-cluster and broker smokes). */
  def forkSmoke(mainClass: String): Int = forkSmoke(mainClass, Nil)

  /** [[forkSmoke]] with extra classpath entries appended to the child JVM
    * (a directory entry gets a jar-glob suffix — the JVM expands it). Used
    * by the env-gated Kafka broker IT to add the connector + broker jars
    * the compile classpath deliberately lacks. `env` entries are exported
    * to the child and `args` follow the main class — the local-cluster
    * smokes pass SPARK_HOME this way. ONE fork recipe (module opens from
    * [[graft.LocalClusterEnv]], the same list build.sbt forks with), so
    * the copies cannot drift. The child's `java.io.tmpdir` is a fresh dir,
    * deleted after the child exits, pass or fail, so the checkpoints and
    * stores a smoke makes there go with it. */
  def forkSmoke(mainClass: String, extraClasspath: Seq[String],
                env: Seq[(String, String)] = Nil,
                args: Seq[String] = Nil,
                jvmArgs: Seq[String] = Nil): Int = {
    import scala.sys.process._
    val javaBin = System.getProperty("java.home") + "/bin/java"
    val extras = extraClasspath.map { p =>
      if (new java.io.File(p).isDirectory) s"$p/*" else p
    }
    val cp = (System.getProperty("java.class.path") +: extras).mkString(":")
    val tmp = java.nio.file.Files.createTempDirectory("smoke")
    val cmd = Seq(javaBin) ++ graft.LocalClusterEnv.addOpensArgs ++
      Seq(s"-Djava.io.tmpdir=$tmp") ++ jvmArgs ++
      Seq("-Dspark.ui.enabled=false", "-cp", cp, mainClass) ++ args
    try Process(cmd, cwd = None, env: _*).!
    finally if (!org.apache.commons.io.FileUtils.deleteQuietly(tmp.toFile))
      System.err.println(s"forkSmoke: could not delete $tmp")
  }

  /** Deterministic pseudo-random text (xorshift64) — high-entropy by
    * construction, unlike periodic `i*K%m` patterns which compress /
    * collide trivially. `span` chars starting at `'a'` (e.g. span=26 →
    * lowercase letters, span=91 from ' ' → printable ASCII via `from`). */
  def noiseText(n: Int, seed: Long = 0x9e3779b97f4a7c15L,
                from: Char = 'a', span: Int = 26): String = {
    var x = seed
    val sb = new StringBuilder(n)
    (0 until n).foreach { _ =>
      x ^= x << 13; x ^= x >>> 7; x ^= x << 17
      sb.append((from + java.lang.Long.remainderUnsigned(x, span)).toChar)
    }
    sb.toString
  }

  private val tempDirs = new java.util.concurrent.ConcurrentLinkedQueue[java.io.File]()

  /** A fresh temp dir that is deleted, with everything in it, after the
    * suite's last test. */
  def tempDir(prefix: String): java.nio.file.Path = {
    val d = java.nio.file.Files.createTempDirectory(prefix)
    tempDirs.add(d.toFile)
    d
  }

  override def afterAll(): Unit =
    try tempDirs.forEach(d => org.apache.commons.io.FileUtils.deleteDirectory(d))
    finally super.afterAll()
}

object SparkTestBase {
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
