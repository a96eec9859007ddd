package graft.queries

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files

class JournalFixtureSpec extends AnyFunSuite {
  test("a new fixture deletes the same dir's older ones and old-style names, not other dirs'") {
    val root = Files.createTempDirectory("graft_fixtures")
    try {
      val names = Seq("journal_aaaa_1111", "journal_aaaa_2222", "journal_bbbb_1111",
        "journal_0123456789abcdef", "readme")
      names.foreach(n => Files.createDirectories(root.resolve(n).resolve("part")))
      val fs = FileSystem.getLocal(new Configuration())
      JournalFixture.dropStale(fs, new Path(root.resolve("journal_aaaa_2222").toString))
      val left = Files.list(root).map(_.getFileName.toString).toArray.toSet
      assert(left == Set("journal_aaaa_2222", "journal_bbbb_1111", "readme"))
    } finally org.apache.commons.io.FileUtils.deleteDirectory(root.toFile)
  }
}
