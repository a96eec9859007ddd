package org.apache.spark.graft

import org.apache.spark.SparkConf
import org.apache.spark.util.Utils

/** `private[spark]` access shim: Spark's own resolution of the local
  * scratch dirs (`Utils.getConfiguredLocalDirs`), so callers follow
  * Spark's order instead of a copy of it that must track every upgrade. */
object LocalDirs {
  /** The dirs Spark would configure from `conf`, reading `env` in place of
    * the process environment and `tmpDir` in place of `java.io.tmpdir`. */
  def configured(conf: SparkConf, env: Map[String, String],
                 tmpDir: String): Array[String] = {
    val pinned = new SparkConf(false) {
      override def getenv(name: String): String = env.getOrElse(name, null)
    }
    pinned.setAll(conf.getAll.toSeq).setIfMissing("spark.local.dir", tmpDir)
    Utils.getConfiguredLocalDirs(pinned)
  }
}
