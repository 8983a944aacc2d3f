package graft

import org.scalatest.funsuite.AnyFunSuite

/** Source hygiene for the library's generated docs: a scaladoc
  * followed, after blank lines only, by another scaladoc attaches to
  * nothing — the first comment silently drops out of the docs, or
  * reads as the doc of the wrong definition once code moves; and a
  * `[[link]]` whose target was renamed or deleted points nowhere.
  */
class ScaladocSpec extends AnyFunSuite {

  /** (start, end) of every scaladoc in `src`: `end` indexes its
    * closing star-slash, or is src.length for an unterminated one. */
  private def scaladocs(src: String): Seq[(Int, Int)] = {
    val out = Seq.newBuilder[(Int, Int)]
    var i = src.indexOf("/**")
    while (i >= 0) {
      val end = src.indexOf("*/", i + 3)
      out += ((i, if (end < 0) src.length else end))
      i = if (end < 0) -1 else src.indexOf("/**", end + 2)
    }
    out.result()
  }

  private def lineOf(src: String, i: Int): Int = src.substring(0, i).count(_ == '\n') + 1

  /** 1-based line of every scaladoc in `src` that is followed, after
    * whitespace only, by another scaladoc. */
  private def stacked(src: String): Seq[Int] =
    scaladocs(src).collect {
      case (i, end) if end < src.length &&
          src.startsWith("/**", src.indexWhere(!_.isWhitespace, end + 2)) =>
        lineOf(src, i)
    }

  /** Names declared in `src` outside its comments: every
    * def/val/var/class/object/trait/type identifier and every
    * component of a `package` clause. */
  private def declared(src: String): Set[String] = {
    val code = src.replaceAll("(?s)/\\*.*?\\*/", " ").replaceAll("//[^\n]*", " ")
    val defs = """\b(?:def|val|var|class|object|trait|type)\s+([A-Za-z_][A-Za-z0-9_]*)""".r
    val pkgs = """(?m)^\s*package\s+([A-Za-z_][\w.]*)""".r
    (defs.findAllMatchIn(code).map(_.group(1)) ++
      pkgs.findAllMatchIn(code).flatMap(_.group(1).split('.'))).toSet
  }

  /** (1-based line, target) of every `[[target]]` or `[[target text]]`
    * inside a scaladoc of `src`. */
  private def links(src: String): Seq[(Int, String)] = {
    val link = """\[\[([^\]\s]+)[^\]]*\]\]""".r
    for {
      (i, end) <- scaladocs(src)
      m <- link.findAllMatchIn(src.substring(i, end)).toSeq
    } yield (lineOf(src, i + m.start), m.group(1))
  }

  /** (source index, line, target) of every link in `srcs` with a
    * dot- or #-separated segment that no source declares. */
  private def deadLinks(srcs: Seq[String]): Seq[(Int, Int, String)] = {
    val names = srcs.flatMap(declared).toSet
    for {
      (src, k) <- srcs.zipWithIndex
      (line, target) <- links(src)
      if !target.split("[.#]").forall(names)
    } yield (k, line, target)
  }

  private lazy val mainSources: Seq[java.nio.file.Path] = {
    import scala.jdk.CollectionConverters._
    java.nio.file.Files
      .walk(java.nio.file.Paths.get("src/main"))
      .iterator()
      .asScala
      .filter(_.toString.endsWith(".scala"))
      .toSeq
      .sorted
  }

  private def read(f: java.nio.file.Path): String =
    new String(java.nio.file.Files.readAllBytes(f), "UTF-8")

  test("no scaladoc in src/main is directly followed by another scaladoc") {
    assert(mainSources.nonEmpty, "no sources under src/main")
    val sites = for {
      f <- mainSources
      line <- stacked(read(f))
    } yield s"$f:$line"
    assert(sites.isEmpty, sites.mkString("stacked scaladocs:\n", "\n", ""))
  }

  test("every [[link]] in src/main names a definition in src/main") {
    val srcs = mainSources.map(read)
    assert(srcs.flatMap(links).nonEmpty, "no scaladoc links found")
    val dead = deadLinks(srcs).map { case (k, line, t) => s"${mainSources(k)}:$line [[$t]]" }
    assert(dead.isEmpty, dead.mkString("dead scaladoc links:\n", "\n", ""))
  }

  test("the link scan resolves what it should and flags the rest") {
    assert(deadLinks(Seq("/** see [[f]] */\ndef f = 1")).isEmpty)
    assert(deadLinks(Seq("/** see [[g]] */\ndef f = 1")) == Seq((0, 1, "g")))
    // qualified targets: packages, owners and members all resolve
    assert(deadLinks(Seq("package a.b\n/** [[a.b.C.m]] */\nobject C { def m = 1 }")).isEmpty)
    assert(deadLinks(Seq("object C {\n  /** [[C.n]] */\n  def m = 1\n}")) == Seq((0, 2, "C.n")))
    // display text after the target, and a target declared in another file
    assert(deadLinks(Seq("/** [[T the trait]] */\nval v = 0", "trait T")).isEmpty)
    assert(deadLinks(Seq("/** [[X the type]] */\nval v = 0", "trait T")) == Seq((0, 1, "X")))
    // only scaladocs are scanned, and a name only in a comment is not declared
    assert(deadLinks(Seq("// [[gone]]\nval s = \"[[gone]]\"")).isEmpty)
    assert(deadLinks(Seq("/** [[h]] */\n// def h = 1\nval v = 0")) == Seq((0, 1, "h")))
  }

  test("the stacked-scaladoc scan finds what it should and nothing else") {
    assert(stacked("/** a */\n\n  /** b */\ndef f = 1") == Seq(1))
    assert(stacked("x\n/** a\n  */\n/** b */ /** c */\nval v = 0") == Seq(2, 4))
    assert(stacked("/** a */\ndef f = 1\n/** b */\ndef g = 2").isEmpty)
    assert(stacked("/** a */\n// note\n/** b */").isEmpty)
  }
}
