package graft.streaming

import graft.SparkTestBase
import graft.fold.FoldOption
import graft.model.Record
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import java.sql.Timestamp

/** Runtime evidence for the Kafka-source surface WITHOUT a broker — this
  * environment ships zero Kafka artifacts (no kafka jars in
  * /opt/spark/jars, none in any dependency cache, zero egress), so the
  * reference's `StatefulProcessingWithKafkaSpec` golden e2e
  * (persistence-kafka-it-tests/.../StatefulProcessingWithKafkaSpec.scala:
  * 123-140) cannot run against a real broker here. What CAN be proven is
  * everything on our side of the wire, and this spec does exactly that:
  *
  *  1. the option map `fromKafka`/`fromKafkaBatch` hand the source
  *     (subscription, offsets, headers, consumer passthrough — O24);
  *  2. `decodeKafka` over rows with the EXACT Kafka source wire schema
  *     (binary key/value, `headers array<struct<key:string,value:binary>>`,
  *     timestampType) — nulls, empty headers, non-UTF-8 bytes;
  *  3. the reference's golden produce → fold → stop → produce more →
  *     restart-from-checkpoint → continue pattern, with the Kafka-schema
  *     stream feeding `decodeKafka` → `KeyFlowTws.flow` — i.e. the complete
  *     pipeline downstream of `.load()`;
  *  4. `fromKafka` itself executes to Spark's data-source resolver and
  *     fails ONLY on the missing connector artifact — documenting that the
  *     unreachable piece is the jar, not this code.
  */
class KafkaSurfaceSpec extends SparkTestBase {
  import KafkaSurfaceSpec.{KHeader, KRow}

  private def krow(key: String, offset: Long, value: String = "v",
                   headers: Array[KHeader] = Array.empty): KRow =
    KRow(if (key == null) null else key.getBytes("UTF-8"),
      value.getBytes("UTF-8"), "t", 0, offset,
      new Timestamp(1000 + offset), 0, headers)

  test("kafkaOptions: subscription, offset range, headers, consumer passthrough; " +
    "explicit args win over extra (O24)") {
    val stream = KafkaFlowSpark.kafkaOptions("b1:9092,b2:9092", "orders,events")
    assert(stream == Map(
      "kafka.bootstrap.servers" -> "b1:9092,b2:9092",
      "subscribe" -> "orders,events",
      "startingOffsets" -> "earliest",
      "includeHeaders" -> "true"))
    val batch = KafkaFlowSpark.kafkaOptions("b:9092", "t",
      startingOffsets = """{"t":{"0":5}}""", endingOffsets = Some("latest"),
      extra = Map(
        "maxOffsetsPerTrigger" -> "10000",
        "failOnDataLoss" -> "false",
        "kafka.security.protocol" -> "SASL_SSL",
        "subscribe" -> "evil-override"))
    assert(batch("subscribe") == "t") // explicit beats extra
    assert(batch("endingOffsets") == "latest")
    assert(batch("startingOffsets") == """{"t":{"0":5}}""")
    assert(batch("maxOffsetsPerTrigger") == "10000")
    assert(batch("kafka.security.protocol") == "SASL_SSL")
    // a batch-tuning map reused for a streaming read must NOT leak the
    // batch-only endingOffsets into the streaming source
    val stream2 = KafkaFlowSpark.kafkaOptions("b:9092", "t",
      extra = Map("endingOffsets" -> "latest", "failOnDataLoss" -> "false"))
    assert(!stream2.contains("endingOffsets"))
    assert(stream2("failOnDataLoss") == "false")
  }

  test("decodeKafka: wire schema round-trips — UTF-8 keys, binary values, " +
    "header entries to map, null/empty headers, null key preserved") {
    import spark.implicits._
    val rows = Seq(
      krow("k1", 0, "payload",
        Array(KHeader("h1", "v1".getBytes("UTF-8")), KHeader("h2", "v2".getBytes("UTF-8")))),
      krow("k2", 1, "x", Array.empty),
      krow(null, 2, "tomb"),
      KRow("k3".getBytes("UTF-8"), Array[Byte](0, -1, 127), "t2", 3, 7,
        new Timestamp(9), 1, null)) // null headers array + non-UTF-8 value
    val out = KafkaFlowSpark.decodeKafka(rows.toDF()).collect()
      .map(r => r.offset -> r).toMap
    assert(out(0).key == "k1" && out(0).topic == "t" && out(0).partition == 0)
    assert(new String(out(0).value, "UTF-8") == "payload")
    assert(out(0).headers == Map("h1" -> "v1", "h2" -> "v2"))
    assert(out(1).headers == Map.empty[String, String])
    assert(out(2).key == null) // engine drops null keys downstream
    assert(out(7).key == "k3" && out(7).partition == 3 &&
      out(7).timestampType == 1 && out(7).headers == Map.empty[String, String])
    assert(out(7).value.toSeq == Seq[Byte](0, -1, 127))
  }

  test("golden e2e over the Kafka wire schema: produce -> decode -> fold -> " +
    "stop -> produce -> restart from checkpoint -> continue (incl. null-key drop)") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val input = MemoryStream[KRow]
    val records = KafkaFlowSpark.decodeKafka(input.toDF())
    val countFold = FoldOption.of[Long, Record](_ => 1L)((n, _) => n + 1)
    val out = KeyFlowTws.flow(records, countFold)
    val ckpt = tempDir("kafka-schema-e2e").toString
    KafkaSurfaceSpec.golden.clear()
    def start() = out.writeStream
      .outputMode("update").option("checkpointLocation", ckpt)
      .foreachBatch { (ds: org.apache.spark.sql.Dataset[KeyOutput[Long]], _: Long) =>
        ds.collect().foreach(o => KafkaSurfaceSpec.golden.put(o.key, o.state))
      }
      .start()
    import scala.jdk.CollectionConverters._

    val q1 = start()
    input.addData(krow("k1", 0,
      headers = Array(KHeader("trace", "abc".getBytes("UTF-8")))),
      krow("k1", 1), krow("k2", 2), krow(null, 3))
    q1.processAllAvailable()
    assert(KafkaSurfaceSpec.golden.asScala.toMap ==
      Map("k1" -> Some(2L), "k2" -> Some(1L))) // null key dropped
    q1.stop()

    val q2 = start() // recovered, not rebuilt
    input.addData(krow("k1", 4), krow("k3", 5))
    q2.processAllAvailable()
    assert(KafkaSurfaceSpec.golden.asScala.toMap ==
      Map("k1" -> Some(3L), "k2" -> Some(1L), "k3" -> Some(1L)))
    q2.stop()
  }

  test("fromKafka reaches Spark's data-source resolver; the only missing " +
    "piece in this environment is the connector artifact") {
    val e = intercept[Exception] {
      KafkaFlowSpark.fromKafka(spark, "localhost:9092", "t")
    }
    def msgs(t: Throwable): String = {
      var c: Throwable = t; val sb = new StringBuilder
      while (c != null) { sb.append(c.getMessage).append('\n'); c = c.getCause }
      sb.toString.toLowerCase
    }
    assert(msgs(e).contains("kafka"), msgs(e).take(300))
  }

  test("REAL-BROKER e2e gate (env-activated): produce -> fold -> restart -> " +
    "recovered counts continue; SKIPPED-green when no Kafka artifact is supplied") {
    // activates when SPARK_GRAFT_KAFKA_JARS points at the connector +
    // clients (+ server libs) jars — the forked JVM gets them appended to
    // its classpath; optionally SPARK_GRAFT_KAFKA_BOOTSTRAP names a
    // running broker (otherwise the smoke formats + starts a KRaft child
    // process). Without the env the smoke prints a visible SKIPPED line
    // and exits 0 — this sandbox has no Kafka artifact anywhere (r9-
    // verified), so the gate is the readiness artifact: the surface
    // self-proves the day artifacts appear.
    val extra = sys.env.get("SPARK_GRAFT_KAFKA_JARS").toSeq
      .flatMap(_.split(":").filter(_.nonEmpty))
    assert(forkSmoke("graft.streaming.KafkaBrokerSmoke", extra) == 0,
      "KafkaBrokerSmoke failed (activated run red, or skip path broken)")
  }
}

object KafkaSurfaceSpec {
  /** The Kafka source's wire row (spark-sql-kafka's fixed output schema). */
  case class KHeader(key: String, value: Array[Byte])
  case class KRow(key: Array[Byte], value: Array[Byte], topic: String,
                  partition: Int, offset: Long, timestamp: Timestamp,
                  timestampType: Int, headers: Array[KHeader])

  /** Cross-query golden map (foreachBatch closures run on executors in the
    * same JVM under local mode). */
  val golden = new java.util.concurrent.ConcurrentHashMap[String, Option[Long]]()
}
