package perfbench

import java.io.File
import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite

class ImdbGenSpec extends AnyFunSuite {
  private def generate(seed: Long): (File, ImdbGen.Summary) = {
    val dir = Files.createTempDirectory("imdbgen").toFile
    (dir, ImdbGen.write(dir, seed, titles = 400))
  }
  private def bytes(dir: File, t: String) = Files.readAllBytes(new File(dir, s"$t.tsv").toPath)

  test("the same seed gives byte-identical files; another seed gives different ones") {
    val (a, sa) = generate(7)
    val (b, sb) = generate(7)
    val (c, _) = generate(8)
    assert(sa == sb)
    ImdbGen.Tables.foreach { t =>
      assert(java.util.Arrays.equals(bytes(a, t), bytes(b, t)), s"$t differs under one seed")
      assert(!java.util.Arrays.equals(bytes(a, t), bytes(c, t)), s"$t equal under two seeds")
    }
  }

  test("the summary counts match the files") {
    val (dir, s) = generate(3)
    def rows(t: String) = scala.io.Source.fromFile(new File(dir, s"$t.tsv")).getLines().drop(1)
      .map(_.split("\t", -1)).toList
    val movieFacts = rows("title_basics").filter(r =>
      r(1) == "movie" && r(5) != "\\N" && r(8) != "\\N").map(_(8).split(',').length).sum
    assert(s.movieFactRows == movieFacts)
    assert(s.episodeRows == rows("title_episode").size)
    // the shapes the workload promises are present
    val basics = rows("title_basics")
    assert(basics.exists(r => r(1) == "movie" && r(7) == "\\N"))
    assert(basics.exists(_(8) == "\\N"))
    assert(rows("title_episode").exists(_(2) == "\\N"))
    assert(rows("title_principals").exists(r => Set("director", "writer", "producer")(r(3))))
    assert(rows("title_akas").exists(_(2).toLowerCase.contains("oscar")))
  }
}
