package graft.sources

import graft.{SparkTestBase, Tables}
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.graft.ListenerDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger
import scala.jdk.CollectionConverters._
import scala.util.Using

/** The `Tables` schema memo: a table's schema is inferred once, later reads
  * reuse it until the table's files change. */
class TablesSpec extends SparkTestBase {
  import spark.implicits._

  /** (Over)writes `dir/orders.parquet` from `df`, as one file. */
  private def write(dir: String, df: org.apache.spark.sql.DataFrame): Unit =
    df.coalesce(1).write.mode("overwrite").parquet(s"$dir/orders.parquet")

  /** Spark jobs started while `body` runs. */
  private def jobsDuring[T](body: => T): Int = {
    val jobs = new AtomicInteger
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    ListenerDrain.drain(spark.sparkContext)
    spark.sparkContext.addSparkListener(l)
    try { body; ListenerDrain.drain(spark.sparkContext); jobs.get }
    finally spark.sparkContext.removeSparkListener(l)
  }

  test("a repeated Tables read starts no Spark job before an action") {
    val dir = tempDir("tables-memo").toString
    write(dir, (1 to 100).map(i => (i, s"o$i")).toDF("o_orderkey", "o_comment"))
    assert(jobsDuring(Tables(spark, dir, "orders")) >= 1, "first read infers the schema")
    val again = jobsDuring(Tables(spark, dir, "orders"))
    assert(again == 0, s"a repeated read ran $again inference jobs")
    assert(Tables(spark, dir, "orders").count() == 100)
  }

  test("a table rewritten at the same path with a changed schema is re-inferred") {
    val dir = tempDir("tables-rewrite").toString
    write(dir, Seq((1, "a")).toDF("o_orderkey", "o_comment"))
    assert(Tables(spark, dir, "orders").columns.toSeq == Seq("o_orderkey", "o_comment"))
    write(dir, Seq((1L, 2.5, "x")).toDF("o_orderkey", "o_totalprice", "o_comment"))
    val df = Tables(spark, dir, "orders")
    assert(df.columns.toSeq == Seq("o_orderkey", "o_totalprice", "o_comment"))
    assert(df.schema("o_orderkey").dataType == org.apache.spark.sql.types.LongType)
    assert(df.as[(Long, Double, String)].collect().toSeq == Seq((1L, 2.5, "x")))
  }

  test("a self-join of two Tables reads of one table resolves") {
    val dir = tempDir("tables-selfjoin").toString
    write(dir, (1 to 10).map(i => (i, i % 3)).toDF("o_orderkey", "o_custkey"))
    val l = Tables(spark, dir, "orders")
    val r = Tables(spark, dir, "orders")
    val pairs = l.join(r, l("o_custkey") === r("o_custkey") && l("o_orderkey") < r("o_orderkey"))
    // custkey groups of sizes 3, 4, 3 give 3 + 6 + 3 ordered pairs
    assert(pairs.count() == 12)
  }

  /** The fingerprint as a `listFiles` walk made it before. */
  private def listFilesFingerprint(fs: FileSystem, path: Path): String = {
    val leaves = fs.listFiles(path, true)
    val out = Seq.newBuilder[String]
    while (leaves.hasNext) {
      val f = leaves.next()
      out += s"${f.getPath}:${f.getLen}:${f.getModificationTime}"
    }
    out.result().sorted.mkString("|")
  }

  test("the fingerprint equals the listFiles one and a read starts no process per file") {
    val dir = tempDir("tables-fingerprint").toRealPath()
    val table = dir.resolve("orders.parquet")
    (1 to 40).map(i => (i, i % 4)).toDF("o_orderkey", "o_shard")
      .write.partitionBy("o_shard").parquet(table.toString)
    val names = Using.resource(Files.walk(table))(_.iterator.asScala.toVector)
    assert(names.exists(_.endsWith("_SUCCESS")) && names.exists(_.toString.endsWith(".crc")) &&
      names.exists(p => p != table && Files.isDirectory(p)), "a table with every kind of entry")
    val path = new Path(table.toString)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(Tables.fingerprint(fs, path) == listFilesFingerprint(fs, path))
    val file = new Path(names.find(p => Files.isRegularFile(p) && p.toString.endsWith(".parquet")).get.toString)
    assert(Tables.fingerprint(fs, file) == listFilesFingerprint(fs, file), "a single file")

    def naming(starts: Vector[String]) = starts.filter(_.contains(dir.toString))
    val forked = naming(processStarts {
      assert(Tables.parquet(spark, table.toString).count() == 40)
      assert(Tables.parquet(spark, table.toString).count() == 40)
    })
    assert(forked.isEmpty, s"${forked.size} process starts name the table, first ${forked.take(3)}")
    assert(org.apache.hadoop.util.NativeCodeLoader.isNativeCodeLoaded ||
      naming(processStarts(listFilesFingerprint(fs, path))).nonEmpty,
      "control: without libhadoop a listFiles walk starts a process per file")
  }
}
