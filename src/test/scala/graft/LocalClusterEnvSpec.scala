package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pins the executor-classpath absolutization every local-cluster
  * harness rides on: a regression here silently drops the application
  * classes from forked executor JVMs (whose cwd is the Worker's app
  * work dir), which surfaces only as a SerializedLambda ClassCast at
  * runtime — the bug absolutize() exists to prevent. */
class LocalClusterEnvSpec extends AnyFunSuite {

  private val cwd = new java.io.File(".").getAbsoluteFile.getParentFile.getPath

  test("relative entries become absolute against the driver's cwd") {
    assert(LocalClusterEnv.absolutize("target/scala-2.13/classes") ==
      s"$cwd/target/scala-2.13/classes")
  }

  test("glob entries keep their trailing wildcard") {
    assert(LocalClusterEnv.absolutize("jars/*") == s"$cwd/jars/*")
    assert(LocalClusterEnv.absolutize("/opt/spark/jars/*") ==
      "/opt/spark/jars/*")
  }

  test("already-absolute entries and ordering are preserved") {
    assert(LocalClusterEnv.absolutize("/a/b.jar:rel/c.jar:/d/*") ==
      s"/a/b.jar:$cwd/rel/c.jar:/d/*")
  }

  test("the add-opens list matches build.sbt's jdk17AddOpens") {
    // the forked-executor JVMs get exactly the module opens the sbt
    // fork gets — count + the two entries that have historically been
    // forgotten when lists drift
    assert(LocalClusterEnv.addOpens.size == 13)
    assert(LocalClusterEnv.addOpens.contains("java.base/sun.nio.ch"))
    assert(LocalClusterEnv.addOpens.contains("java.base/sun.util.calendar"))
    assert(LocalClusterEnv.executorJavaOptions.startsWith(
      "--add-opens=java.base/java.lang=ALL-UNNAMED"))
    assert(LocalClusterEnv.addOpensArgs.size == 26)
  }
}
