package graft.streaming

import graft.fold.FoldOption
import graft.model.Record
import org.apache.spark.sql.Dataset

/** The `planted` group: cases whose outcome is known, so the harness
  * itself is under test. */
object PlantedCases {
  private def counted(truthOffBy: Long): ParityCtx => Replay[_, _, _] = { c =>
    import c.spark.implicits._
    val feed = (0 until 30).map(i => Parity.rec("t", i.toLong, "k" + (i % 3), ""))
    val countFold = FoldOption.of[Long, Record](_ => 1L)((n, _) => n + 1)
    Replay(Parity.split(feed, 3, overlap = 4), (ds: Dataset[Record]) => KeyFlow.flow(ds, countFold),
      Map("k0" -> (10L + truthOffBy), "k1" -> 10L, "k2" -> 10L), identity[Map[String, Long]])
  }

  val all: Seq[ParityCase] = Seq(
    ParityCase.replay("planted: a wrong truth")(counted(truthOffBy = 1L)),
    // the message's newline and backslash-n pin the result line's escaping
    ParityCase("planted: a throw")(_ => throw new IllegalStateException("planted failure\n\\n")),
    ParityCase.replay("planted: a pass after the throw")(counted(truthOffBy = 0L)),
    ParityCase("planted: the child halts") { _ => Runtime.getRuntime.halt(7); Nil },
    ParityCase.replay("planted: a case after the halt")(counted(truthOffBy = 0L)))
}

class ParityHarnessSpec extends ForkedParity {
  test("the harness reports a wrong truth, a throw and a crash per case") {
    val (exit, results) = forkGroup("planted")
    assert(exit == 7, "the child's exit code is the halt's")
    val wrong = results("planted: a wrong truth")
    assert(wrong.exists(_.contains("MISMATCH k0 stream=Some(10) batch=Some(11)")), wrong)
    val threw = results("planted: a throw")
    assert(threw.exists(_.contains("planted failure\n\\n")), threw)
    assert(results("planted: a pass after the throw").isEmpty, "a throw fails only its own case")
    assert(!results.contains("planted: the child halts"))
    assert(!results.contains("planted: a case after the halt"))
  }
}
