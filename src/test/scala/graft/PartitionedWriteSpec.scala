package graft

import org.apache.spark.sql.functions._

/** Partitioned-table write semantics: directory layout, partition-pruned
  * reads, and DYNAMIC partition overwrite (an incremental re-crawl must
  * replace only the partitions it touches — static mode would silently
  * drop every other source's data). */
class PartitionedWriteSpec extends SparkTestBase {

  test("dynamic partition overwrite replaces only the touched partitions") {
    val tmp = tempDir("pwrite").toString
    val docs = Tables(spark, "/root/testdata/sf0.001", "documents")
      .select("doc_id", "source", "n_chars")

    docs.write.partitionBy("source").mode("overwrite").parquet(s"$tmp/t")
    val sources = docs.select("source").distinct().collect().map(_.getString(0))
    sources.foreach { s =>
      assert(new java.io.File(s"$tmp/t/source=$s").isDirectory, s"missing dir for $s")
    }
    val before = spark.read.parquet(s"$tmp/t").count()

    // re-crawl of ONE source: its docs double their n_chars
    val src0 = sources.min
    val recrawl = docs.filter(col("source") === src0)
      .withColumn("n_chars", col("n_chars") * 2)
    val prev = spark.conf.getOption("spark.sql.sources.partitionOverwriteMode")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try recrawl.write.partitionBy("source").mode("overwrite").parquet(s"$tmp/t")
    finally prev match {
      case Some(v) => spark.conf.set("spark.sql.sources.partitionOverwriteMode", v)
      case None => spark.conf.unset("spark.sql.sources.partitionOverwriteMode")
    }

    val after = spark.read.parquet(s"$tmp/t")
    assert(after.count() === before, "untouched partitions must survive")
    // the touched partition carries the re-crawled values...
    val touched = after.filter(col("source") === src0)
      .agg(sum("n_chars")).head().getLong(0)
    val expected = docs.filter(col("source") === src0)
      .agg(sum(col("n_chars") * 2)).head().getLong(0)
    assert(touched === expected)
    // ...and an untouched one is bit-identical to the original write
    val other = sources.max
    val untouched = after.filter(col("source") === other)
      .agg(sum("n_chars")).head().getLong(0)
    val orig = docs.filter(col("source") === other)
      .agg(sum("n_chars")).head().getLong(0)
    assert(untouched === orig)

    // reads prune to the partition directory
    val plan = after.filter(col("source") === src0)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [isnotnull(source"))
  }
}
