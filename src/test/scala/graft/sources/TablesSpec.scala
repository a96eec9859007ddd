package graft.sources

import graft.{SparkTestBase, Tables}
import org.apache.spark.graft.ListenerDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

import java.util.concurrent.atomic.AtomicInteger

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
}
