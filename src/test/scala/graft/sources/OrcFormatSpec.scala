package graft.sources

import graft.{SparkTestBase, Tables}
import org.apache.spark.sql.functions._

/** ORC as a second columnar source/sink format: byte-faithful round trip
  * plus the two scan properties the 100 TB story needs — predicate
  * pushdown and column pruning reach the ORC reader exactly like the
  * parquet path the rest of the suite audits.
  */
class OrcFormatSpec extends SparkTestBase {

  private lazy val dir = tempDir("orc").toString

  test("parquet -> ORC -> read round-trips row-identically") {
    val src = Tables(spark, "/root/testdata/sf0.001", "lineitem")
      .select("l_orderkey", "l_partkey", "l_quantity", "l_extendedprice", "l_returnflag")
    src.write.mode("overwrite").orc(s"$dir/li")
    val back = spark.read.orc(s"$dir/li")
    assert(back.count() == src.count())
    val a = src.collect().map(_.toSeq).toSet
    val b = back.collect().map(_.toSeq).toSet
    assert(a == b, "ORC round trip changed rows")
  }

  test("predicate pushdown and column pruning reach the ORC scan") {
    spark.read.orc(s"$dir/li").count() // ensure written by previous test
    val q = spark.read.orc(s"$dir/li")
      .filter(col("l_quantity") <= 10)
      .select("l_orderkey", "l_quantity")
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [IsNotNull(l_quantity), LessThanOrEqual(l_quantity,10"),
      s"quantity filter not pushed to ORC scan:\n${plan.take(800)}")
    assert(plan.contains("ReadSchema: struct<l_orderkey:bigint,l_quantity:double>"),
      s"ORC scan did not prune columns:\n${plan.take(800)}")
    // and the filtered result is consistent with the parquet truth
    val expect = Tables(spark, "/root/testdata/sf0.001", "lineitem")
      .filter(col("l_quantity") <= 10).count()
    assert(q.count() == expect)
  }
}
