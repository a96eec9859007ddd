package graft.streaming

import graft.SparkTestBase

/** `KeyFlowTws`'s per-batch state work: one idle timer per live key, and
  * changelog commits by default. Each case forks a smoke, because timer
  * batches do not plan under sbt's test threads (see TimerSmoke). */
class KeyFlowTwsStateSpec extends SparkTestBase {

  private def smoke(main: String, args: String*): Int =
    forkSmoke(s"graft.streaming.$main", Nil, args = args)

  test("steady batches of live keys register and delete no timer; removed keys keep none (forked)") {
    assert(smoke("TimerArmSmoke", "count", tempDir("timerarm").toString) == 0)
  }

  test("an event-time jump past the deadline ticks once, where a timer at the deadline would (forked)") {
    assert(smoke("TimerArmSmoke", "jump", tempDir("timerarm").toString) == 0)
  }

  test("a checkpoint written by the engine before one-shot timers resumes with exact state (forked)") {
    // batches 0-2 of CheckpointIoSmoke's query, written with snapshot
    // commits by the engine that moved every active key's timer each batch
    val zip = getClass.getResource("/graft/streaming/ckpt-rearm-snapshot.zip").getPath
    assert(smoke("CheckpointIoSmoke", "resume", zip, tempDir("ckptio").toString) == 0)
  }

  test("a checkpoint moved changelog off -> on -> off resumes exactly; a user's false is kept (forked)") {
    assert(smoke("CheckpointIoSmoke", "commitmode", tempDir("ckptio").toString) == 0)
  }
}
