package graft.streaming

import graft.SparkTestBase
import org.apache.spark.sql.Dataset
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.StreamingQuery

import java.util.concurrent.atomic.{AtomicInteger, AtomicReference}
import scala.concurrent.duration._

object QuerySupervisorSpec {
  // shared with executor-side foreachBatch closures (local mode: same JVM)
  val failuresLeft = new AtomicInteger(0)
  val seen = java.util.concurrent.ConcurrentHashMap.newKeySet[Long]()
}

/** The retryOnError analogue: a query killed by a failing sink restarts
  * from its checkpoint with backoff and completes once the fault clears. */
class QuerySupervisorSpec extends SparkTestBase {
  import QuerySupervisorSpec._

  test("failed query restarts from checkpoint and completes after the fault clears") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val input = MemoryStream[Long]
    val ckpt = tempDir("sup").toString
    failuresLeft.set(2) // poison the first two batch attempts
    seen.clear()
    val active = new AtomicReference[StreamingQuery]()

    val startQuery = () => {
      val q = input.toDS().writeStream
        .option("checkpointLocation", ckpt) // foreachBatch: the recovery-capable test sink
        .foreachBatch { (ds: Dataset[Long], _: Long) =>
          if (failuresLeft.getAndDecrement() > 0) throw new RuntimeException("sink poison")
          ds.collect().foreach(v => seen.add(v)) // test sink only
        }
        .start()
      active.set(q)
      q
    }

    input.addData(1L, 2L, 3L)
    var result = -1
    val supervisor = new Thread(() => {
      result = QuerySupervisor.superviseBlocking(startQuery,
        QuerySupervisor.RetryConfig(minBackoff = 50.millis, maxBackoff = 1.second))
    })
    supervisor.start()

    val deadline = System.currentTimeMillis() + 60000
    while (!seen.containsAll(java.util.List.of(1L, 2L, 3L)) &&
        System.currentTimeMillis() < deadline) {
      Thread.sleep(100)
    }
    assert(seen.containsAll(java.util.List.of(1L, 2L, 3L)),
      s"data never arrived after restarts; seen=$seen")
    assert(failuresLeft.get() <= 0, "the poison batches never ran")

    active.get().stop() // clean stop ends supervision
    supervisor.join(30000)
    assert(!supervisor.isAlive, "supervisor did not return after clean stop")
    assert(result >= 2, s"expected at least 2 restarts, got $result")
  }

  test("maxRestarts exhausts and rethrows") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val input = MemoryStream[Long]
    val ckpt = tempDir("sup2").toString
    failuresLeft.set(Int.MaxValue) // never heals
    input.addData(1L)
    val ex = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      QuerySupervisor.superviseBlocking(
        () => input.toDS().writeStream
          .option("checkpointLocation", ckpt)
          .foreachBatch { (_: Dataset[Long], _: Long) =>
            if (failuresLeft.getAndDecrement() > 0) throw new RuntimeException("sink poison")
            ()
          }
          .start(),
        QuerySupervisor.RetryConfig(minBackoff = 10.millis, maxRestarts = 2))
    }
    assert(ex.getMessage.contains("sink poison"))
  }
}
