package graft

import graft.sources.Ingest
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import java.nio.file.Files

/** CSV/JSONL round trip against the parquet source of truth, with
  * injected corrupt lines that must land in the reject leg — not as
  * silent nulls in the good leg. */
class IngestSpec extends SparkTestBase {

  private val dir = "/root/testdata/sf0.001"
  private val schema = new StructType()
    .add("event_id", LongType).add("user_id", LongType)
    .add("event_type", StringType).add("value", DoubleType)

  private def truth = Tables(spark, dir, "events")
    .select("event_id", "user_id", "event_type", "value")

  private def asSortedSeq(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getDouble(3)))
      .sortBy(t => (t._1, t._2)).toSeq

  test("CSV round trip: good rows exact, corrupt lines rejected with raw text") {
    val tmp = tempDir("ingest-csv").toString
    truth.coalesce(1).write.option("header", "true").mode("overwrite").csv(s"$tmp/csv")
    // inject malformed lines (bad type, non-csv garbage) into a second
    // file; header line first — Spark consumes line 1 of EVERY file when
    // header=true
    Files.writeString(java.nio.file.Paths.get(s"$tmp/csv/extra.csv"),
      "event_id,user_id,event_type,value\n" +
        "999999,42,view,not_a_double\nthis line is not csv at all\n")
    val (good, bad) = Ingest.csvWithRejects(spark, s"$tmp/csv", schema)
    assert(asSortedSeq(good) === asSortedSeq(truth))
    val rejects = bad.collect().map(_.getString(0)).sorted
    assert(rejects.length === 2)
    assert(rejects.exists(_.contains("not_a_double")))
    assert(rejects.exists(_.contains("not csv at all")))
  }

  test("JSONL round trip: good rows exact, unparsable lines rejected") {
    val tmp = tempDir("ingest-json").toString
    truth.coalesce(1).write.mode("overwrite").json(s"$tmp/json")
    Files.writeString(java.nio.file.Paths.get(s"$tmp/json/extra.json"),
      """{"event_id": 7, "user_id": broken}""" + "\nnot json\n")
    val (good, bad) = Ingest.jsonlWithRejects(spark, s"$tmp/json", schema)
    assert(asSortedSeq(good) === asSortedSeq(truth))
    assert(bad.count() === 2)
  }

  test("reject leg is empty on clean input") {
    val tmp = tempDir("ingest-clean").toString
    truth.limit(100).write.mode("overwrite").json(s"$tmp/j")
    val (good, bad) = Ingest.jsonlWithRejects(spark, s"$tmp/j", schema)
    assert(good.count() === 100 && bad.count() === 0)
  }
}
