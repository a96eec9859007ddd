package graft.streaming

import graft.SparkTestBase

/** Forks [[LocalClusterStreamSmoke]] — the multi-executor streaming parity
  * gate. Needs a real Spark distro for the cluster Worker to spawn
  * executor JVMs from; self-skips (green) when none is present, same
  * discipline as KafkaBrokerSmoke. Forked because the smoke builds its
  * own sessions with non-test masters.
  */
class LocalClusterSpec extends SparkTestBase {

  private val sparkHome = sys.env.getOrElse("SPARK_HOME", "/opt/spark")

  private def forkWithSparkHome(main: String, args: String*): Int =
    forkSmoke(main, Nil,
      env = Seq("SPARK_HOME" -> sparkHome, "SPARK_SCALA_VERSION" -> "2.13"),
      args = args, jvmArgs = Seq("-Xmx4g"))

  test("KeyFlowTws changelog is bit-exact on a 2-executor local-cluster") {
    assume(new java.io.File(s"$sparkHome/jars").isDirectory,
      s"no Spark distro at $sparkHome — multi-executor smoke skipped")
    val exit = forkWithSparkHome("graft.streaming.LocalClusterStreamSmoke")
    assert(exit == 0, "LocalClusterStreamSmoke failed — multi-executor " +
      "changelog parity broken (see stdout above)")
  }

  test("the batch parity gate catches a planted JVM-singleton divergence") {
    assume(new java.io.File(s"$sparkHome/jars").isDirectory,
      s"no Spark distro at $sparkHome — multi-executor smoke skipped")
    // inverted verdict inside the tool: exit 0 only if the planted
    // driver-static read is flagged as a cross-master MISMATCH — the
    // gate's sensitivity is itself under test here
    val exit = forkWithSparkHome("graft.tools.LocalClusterParity",
      "--negative-control", "/root/testdata/sf0.001")
    assert(exit == 0, "LocalClusterParity --negative-control failed — " +
      "either the gate missed the planted divergence or the cluster " +
      "did not come up (see stdout above)")
  }
}
