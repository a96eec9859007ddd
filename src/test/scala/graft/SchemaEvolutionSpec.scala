package graft

import org.apache.spark.sql.functions._

/** Additive schema evolution across parquet snapshot generations — the
  * intake reality of any long-lived 100 TB table: older files lack the
  * newer columns and must read as nulls under one unified schema, with
  * column pruning still reaching both generations' scans. */
class SchemaEvolutionSpec extends SparkTestBase {
  import spark.implicits._

  test("mergeSchema unifies generations; old files read new columns as null") {
    val tmp = tempDir("schema-evo").toString
    // generation 1: (id, v)
    Seq((1L, "a"), (2L, "b")).toDF("id", "v")
      .write.mode("overwrite").parquet(s"$tmp/t/gen=1")
    // generation 2 adds a quality score
    Seq((3L, "c", 0.9), (4L, "d", 0.5)).toDF("id", "v", "score")
      .write.mode("overwrite").parquet(s"$tmp/t/gen=2")

    val df = spark.read.option("mergeSchema", "true").parquet(s"$tmp/t")
    assert(df.columns.toSet === Set("id", "v", "score", "gen"))
    val rows = df.select("id", "score").collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getDouble(1))))
      .toMap
    assert(rows(1L).isEmpty && rows(2L).isEmpty) // old files: null score
    assert(rows(3L).contains(0.9) && rows(4L).contains(0.5))

    // aggregates over the evolved column ignore the null generation
    val avg = df.agg(sum(col("score").cast("decimal(18,2)")).cast("double")).head().getDouble(0)
    assert(math.abs(avg - 1.4) < 1e-12)

    // partition pruning still works on the directory column
    val pruned = df.filter(col("gen") === 2).queryExecution.executedPlan.toString
    assert(pruned.contains("PartitionFilters: [isnotnull(gen"))
  }

  test("missing-column read with an explicit schema yields typed nulls") {
    val tmp = tempDir("schema-evo2").toString
    Seq((1L, "a")).toDF("id", "v").write.mode("overwrite").parquet(s"$tmp/old")
    val withNew = spark.read
      .schema("id LONG, v STRING, score DOUBLE")
      .parquet(s"$tmp/old")
    val r = withNew.head()
    assert(r.getLong(0) === 1L && r.isNullAt(2))
  }
}
