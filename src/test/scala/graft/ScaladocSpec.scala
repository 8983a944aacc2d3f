package graft

import org.scalatest.funsuite.AnyFunSuite

/** Source hygiene for the library's generated docs: a scaladoc
  * followed, after blank lines only, by another scaladoc attaches to
  * nothing — the first comment silently drops out of the docs, or
  * reads as the doc of the wrong definition once code moves.
  */
class ScaladocSpec extends AnyFunSuite {

  /** 1-based line of every scaladoc in `src` that is followed, after
    * whitespace only, by another scaladoc. */
  private def stacked(src: String): Seq[Int] = {
    val out = Seq.newBuilder[Int]
    var i = src.indexOf("/**")
    while (i >= 0) {
      val end = src.indexOf("*/", i + 3)
      if (end < 0) i = -1
      else {
        var j = end + 2
        while (j < src.length && src(j).isWhitespace) j += 1
        if (src.startsWith("/**", j)) out += src.substring(0, i).count(_ == '\n') + 1
        i = src.indexOf("/**", end + 2)
      }
    }
    out.result()
  }

  test("no scaladoc in src/main is directly followed by another scaladoc") {
    import scala.jdk.CollectionConverters._
    val files = java.nio.file.Files
      .walk(java.nio.file.Paths.get("src/main"))
      .iterator()
      .asScala
      .filter(_.toString.endsWith(".scala"))
      .toSeq
    assert(files.nonEmpty, "no sources under src/main")
    val sites = for {
      f <- files.sorted
      line <- stacked(new String(java.nio.file.Files.readAllBytes(f), "UTF-8"))
    } yield s"$f:$line"
    assert(sites.isEmpty, sites.mkString("stacked scaladocs:\n", "\n", ""))
  }

  test("the stacked-scaladoc scan finds what it should and nothing else") {
    assert(stacked("/** a */\n\n  /** b */\ndef f = 1") == Seq(1))
    assert(stacked("x\n/** a\n  */\n/** b */ /** c */\nval v = 0") == Seq(2, 4))
    assert(stacked("/** a */\ndef f = 1\n/** b */\ndef g = 2").isEmpty)
    assert(stacked("/** a */\n// note\n/** b */").isEmpty)
  }
}
