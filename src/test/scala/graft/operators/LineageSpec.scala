package graft.operators

import graft.SparkTestBase

/** Pins the [[Lineage]] seam: default cut = local checkpoint (no files
  * anywhere), `spark.graft.checkpoint.dir` = reliable checkpoint files
  * under the configured directory, with identical results either way —
  * including through the iterative connected-components path whose
  * executor-loss safety is the conf's whole reason to exist. */
class LineageSpec extends SparkTestBase {
  import Lineage.LineageOps

  private def rListFiles(d: java.io.File): Seq[java.io.File] = {
    val (dirs, files) =
      Option(d.listFiles()).getOrElse(Array.empty).toSeq.partition(_.isDirectory)
    files ++ dirs.flatMap(rListFiles)
  }

  test("default cut truncates lineage without touching durable storage") {
    import spark.implicits._
    assert(spark.conf.getOption(Lineage.ConfKey).isEmpty)
    val out = (1 to 100).toDF("n").lineageCut()
    assert(out.agg(org.apache.spark.sql.functions.sum("n"))
      .head().getLong(0) == 5050L)
  }

  test("conf switches every cut to reliable checkpoint files; results equal") {
    import spark.implicits._
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L), (11L, 12L))
      .toDF("doc1", "doc2")
    val defaultLabels = Dedup.connectedComponents(edges, "doc1", "doc2")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

    val dir = java.nio.file.Files.createTempDirectory("lineage_spec").toFile
    spark.conf.set(Lineage.ConfKey, dir.getPath)
    try {
      val reliableLabels = Dedup.connectedComponents(edges, "doc1", "doc2")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(reliableLabels == defaultLabels,
        "reliable-checkpoint CC must label identically to the default path")
      assert(reliableLabels(4L) == 1L && reliableLabels(12L) == 10L)
      val files = rListFiles(dir)
      assert(files.nonEmpty,
        s"reliable mode must write checkpoint files under $dir")
    } finally {
      spark.conf.unset(Lineage.ConfKey)
      // the whole tree, not just its files
      scala.reflect.io.Path(dir).deleteRecursively()
    }
  }
}
