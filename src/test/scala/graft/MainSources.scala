package graft

/** Every line of every `.scala` file under `src/main/scala`, as
  * (file, 1-based line number, text), files in path order — the walk
  * the Spark-free source laws ([[DocLinksSpec]], [[SourceShapeSpec]])
  * share. Tests run from the repository root.
  */
object MainSources {

  lazy val lines: Seq[(java.nio.file.Path, Int, String)] = {
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

  /** True for a line that is only comment: scaladoc, block or line. */
  def isComment(line: String): Boolean = {
    val t = line.trim
    t.startsWith("*") || t.startsWith("/*") || t.startsWith("//")
  }
}
