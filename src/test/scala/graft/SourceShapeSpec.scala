package graft

import org.scalatest.funsuite.AnyFunSuite

/** Commit-shape hygiene, Spark-free: each commit shape has one
  * definition in `graft.ingest`, so the spellings that give a copy away
  * may appear only there. A temp-file name (`.tmp-`) only in
  * `SmallFile`; the batch marker (`_SUCCESS`) only in `Snapshots`,
  * comments aside; a `.rename(` only in `SmallFile.install`, in
  * `StoreLayout.Path.stageIn` (a per-file move) and in
  * `Warehouse.recordStatuses` (the control-table swap). Any other site
  * fails here as `file:line`.
  */
class SourceShapeSpec extends AnyFunSuite {

  private val Def = raw"\bdef\s+([A-Za-z_][A-Za-z0-9_]*)".r

  /** (file, line, text, name of the nearest `def` above or on it). */
  private lazy val sites = MainSources.lines.groupBy(_._1).values.toSeq
    .flatMap { ls =>
      var d = ""
      ls.map { case (f, n, l) =>
        Def.findFirstMatchIn(l).foreach(m => d = m.group(1))
        (f, n, l, d)
      }
    }

  private def file(f: java.nio.file.Path): String =
    f.toString.replace('\\', '/').split("src/main/scala/").last

  /** Every line holding `needle` (in code only when `codeOnly`) must sit
    * in one of `allowed`: (file under `src/main/scala`, enclosing def
    * or "" for anywhere in the file). Each allowed site must be found,
    * so the law cannot pass by matching nothing.
    */
  private def only(needle: String, codeOnly: Boolean,
      allowed: Set[(String, String)]): Unit = {
    val hits = sites.filter { case (_, _, l, _) =>
      val code = if (!codeOnly) l
        else if (MainSources.isComment(l)) ""
        else l.replaceAll(raw"\s//.*$$", "")
      code.contains(needle)
    }
    def ok(f: String, d: String) =
      allowed.contains((f, d)) || allowed.contains((f, ""))
    val stray = hits.filterNot { case (f, _, _, d) => ok(file(f), d) }
    if (stray.nonEmpty)
      fail(s"${stray.size} site(s) spell `$needle` outside its one " +
        "definition:\n" + stray.map { case (f, n, l, _) =>
          s"  $f:$n ${l.trim}" }.mkString("\n"))
    val found = hits.map { case (f, _, _, d) => (file(f), d) }
    val missing = allowed.filterNot { case (f, d) =>
      found.exists(h => h._1 == f && (d.isEmpty || h._2 == d)) }
    assert(missing.isEmpty, s"`$needle` not found at $missing — scan broken?")
  }

  test("a temp-file name appears only in the install primitive") {
    only(".tmp-", codeOnly = false, Set(("graft/ingest/SmallFile.scala", "")))
  }

  test("the _SUCCESS marker appears in code only in ingest.Snapshots") {
    only("_SUCCESS", codeOnly = true,
      Set(("graft/ingest/Snapshots.scala", "")))
  }

  test("a rename appears only in the install primitive, a path store's " +
    "per-file move and the control-table swap") {
    only(".rename(", codeOnly = false, Set(
      ("graft/ingest/SmallFile.scala", "install"),
      ("graft/ingest/StoreLayout.scala", "stageIn"),
      ("graft/ingest/Warehouse.scala", "recordStatuses")))
  }
}
