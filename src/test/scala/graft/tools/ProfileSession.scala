package graft.tools

import org.apache.spark.sql.SparkSession

/** The session every query profiler (WarmBench, JobProfile, StageProfile)
  * times on (test scope — never ships): `SPARK_GRAFT_MASTER` (default
  * local[32]), 32 shuffle partitions, no UI, ERROR logging, plus the
  * `SPARK_GRAFT_CONF="k=v;k2=v2"` extras, e.g. spark.graft.checkpoint.dir
  * to A/B the reliable-lineage trade.
  *
  * A malformed extra FAILS LOUDLY: a silently-dropped typo makes the A/B
  * measure the default configuration and record a fabricated delta —
  * worse than no measurement.
  */
object ProfileSession {
  private def extraConf: Seq[(String, String)] = sys.env.get("SPARK_GRAFT_CONF").toSeq
    .flatMap(_.split(";")).map(_.trim).filter(_.nonEmpty)
    .map { kv =>
      require(kv.contains("="), s"SPARK_GRAFT_CONF entry '$kv' is not k=v")
      val Array(k, v) = kv.split("=", 2)
      require(k.trim.nonEmpty && v.trim.nonEmpty,
        s"SPARK_GRAFT_CONF entry '$kv' has an empty key or value")
      (k.trim, v.trim)
    }

  def apply(): SparkSession = {
    val spark = extraConf.foldLeft(SparkSession.builder()
        .master(sys.env.getOrElse("SPARK_GRAFT_MASTER", "local[32]"))
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.ui.enabled", "false")) {
      case (b, (k, v)) => b.config(k, v)
    }.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }
}
