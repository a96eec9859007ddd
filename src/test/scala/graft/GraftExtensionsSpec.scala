package graft

/** Extension registration binds at session construction, so this forks
  * [[ExtensionsSmoke]] in a fresh JVM. */
class GraftExtensionsSpec extends SparkTestBase {
  test("GraftExtensions registers SQL functions in a fresh session") {
    assert(forkSmoke("graft.ExtensionsSmoke") == 0, "ExtensionsSmoke forked JVM failed")
  }
}
