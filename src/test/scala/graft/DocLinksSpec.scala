package graft

import org.scalatest.funsuite.AnyFunSuite

/** Comment hygiene, Spark-free: every `[[...]]` link in a comment line
  * under `src/main/scala` must name something defined there, and so
  * must every plain-text `Obj.member` mention whose `Obj` is an object
  * defined there (`X.scala` file names aside). Both checks resolve by
  * the LAST name segment (`[[AnnIndex.topK]]` → `topK`,
  * `Streams.entityStream` → `entityStream`): a definition is any def,
  * val, var, object, class, trait or type name, or a parameter name. A
  * rename or deletion that leaves a pointer behind fails here, listing
  * each offender as `file:line <mention>`.
  */
class DocLinksSpec extends AnyFunSuite {

  private val Definition = raw"\b(?:def|val|var|object|class|trait|type)\s+([A-Za-z_][A-Za-z0-9_]*)".r
  private val Parameter = raw"(?:^|[(,])\s*(?:(?:private|protected|override|implicit|final|val|var)\s+)*([A-Za-z_][A-Za-z0-9_]*)\s*:".r
  private val Link = raw"\[\[([^\[\]]+)\]\]".r
  private val ObjectDef = raw"\bobject\s+([A-Za-z_][A-Za-z0-9_]*)".r
  private val Mention = raw"\b([A-Z][A-Za-z0-9_]*)\.([A-Za-z_][A-Za-z0-9_]*)".r

  /** `pkg.Obj.member(args)` → `member`; a trailing `$` or `!` (the
    * scaladoc object/type disambiguators) is not part of the name.
    */
  private def lastSegment(link: String): String =
    link.trim.replaceAll(raw"\(.*\)$$", "").split("[.#]").last
      .stripSuffix("$").stripSuffix("!")

  private lazy val lines: Seq[(java.nio.file.Path, Int, String)] = {
    val root = java.nio.file.Paths.get("src", "main", "scala")
    assert(java.nio.file.Files.isDirectory(root),
      s"run from the repository root: no $root under " +
        sys.props("user.dir"))
    import scala.jdk.CollectionConverters._
    val files = {
      val s = java.nio.file.Files.walk(root)
      try s.iterator().asScala.toSeq
        .filter(_.toString.endsWith(".scala")).sortBy(_.toString)
      finally s.close()
    }
    files.flatMap { f =>
      java.nio.file.Files.readAllLines(f).asScala.toSeq
        .zipWithIndex.map { case (l, i) => (f, i + 1, l) }
    }
  }

  private lazy val defined: Set[String] = lines.flatMap { case (_, _, l) =>
    Definition.findAllMatchIn(l).map(_.group(1)) ++
      Parameter.findAllMatchIn(l).map(_.group(1))
  }.toSet

  private def commentLines = lines.filter { case (_, _, l) =>
    val t = l.trim
    t.startsWith("*") || t.startsWith("/*") || t.startsWith("//")
  }

  test("every scaladoc [[link]] in src/main/scala names a definition " +
    "in src/main/scala") {
    val links = for {
      (f, n, l) <- commentLines
      m <- Link.findAllMatchIn(l)
    } yield (f, n, m.group(1))
    assert(links.size > 100, s"found only ${links.size} links — scan broken?")
    val dangling = links.filterNot { case (_, _, link) =>
      defined.contains(lastSegment(link)) }
    assert(dangling.isEmpty,
      s"${dangling.size} of ${links.size} scaladoc links name nothing " +
        "defined in src/main/scala:\n" + dangling.map { case (f, n, link) =>
          s"  $f:$n [[$link]]" }.mkString("\n"))
  }

  test("every plain-text Obj.member mention in a src/main/scala comment " +
    "names a definition in src/main/scala") {
    val objects = lines.flatMap { case (_, _, l) =>
      ObjectDef.findAllMatchIn(l).map(_.group(1)) }.toSet
    val mentions = for {
      (f, n, l) <- commentLines
      m <- Mention.findAllMatchIn(l)
      if objects.contains(m.group(1)) && m.group(2) != "scala"
    } yield (f, n, m.matched, m.group(2))
    assert(mentions.size > 100,
      s"found only ${mentions.size} mentions — scan broken?")
    val dangling = mentions.filterNot { case (_, _, _, member) =>
      defined.contains(member) }
    assert(dangling.isEmpty,
      s"${dangling.size} of ${mentions.size} Obj.member mentions name " +
        "nothing defined in src/main/scala:\n" +
        dangling.map { case (f, n, m, _) => s"  $f:$n $m" }.mkString("\n"))
  }
}
