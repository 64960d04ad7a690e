package graft

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

import graft.table.MetadataTables

/** Source-level guard: the metadata-table family is declared once, in
  * `graft.table.MetadataTables`, and both catalogs resolve suffixed names
  * through its lookup. Elsewhere under `src/main` no suffix literal
  * appears and no `endsWith`/`stripSuffix` dispatches over a suffix. */
class MetadataTablesGuardSpec extends AnyFunSuite {

  private val Registry = "MetadataTables.scala"

  private val Literals = MetadataTables.all.map(m => "\"" + m.suffix + "\"")

  /** A suffix test or strip whose argument names a suffix: a literal, a
    * `…Suffix` constant or an entry's `.suffix`. */
  private val Dispatch =
    """\.(endsWith|stripSuffix|dropRight)\(([^)]*)\)""".r

  private def dispatches(line: String): Boolean =
    Dispatch.findAllMatchIn(line).exists { m =>
      val arg = m.group(2)
      arg.contains("Suffix") || arg.contains(".suffix") ||
        Literals.exists(arg.contains)
    }

  private def mainSources: Seq[java.nio.file.Path] =
    scala.util.Using.resource(Files.walk(SourceTree.resolve("src", "main"))) {
      _.iterator().asScala
        .filter(p => Files.isRegularFile(p) && p.toString.endsWith(".scala"))
        .toSeq
    }

  private def isComment(line: String): Boolean = {
    val t = line.trim
    t.startsWith("*") || t.startsWith("/*") || t.startsWith("//")
  }

  /** `file:line` of every code line outside the registry matching `bad`. */
  private def offenders(bad: String => Boolean): Seq[String] =
    mainSources.filter(_.getFileName.toString != Registry).flatMap { p =>
      val lines = Files.readString(p).linesIterator.toSeq
      lines.indices.filter(i => !isComment(lines(i)) && bad(lines(i)))
        .map(i => s"${p.getFileName}:${i + 1}")
    }

  test("each metadata-table suffix literal appears once, in the registry") {
    val registry = Files.readString(SourceTree.resolve(
      "src", "main", "scala", "graft", "table", Registry))
    Literals.foreach { l =>
      assert(registry.split(java.util.regex.Pattern.quote(l), -1).length == 2,
        s"$l is not declared exactly once in $Registry")
    }
    val found = offenders(line => Literals.exists(line.contains))
    assert(found.isEmpty, s"suffix literals outside $Registry: ${found.mkString(", ")}")
  }

  test("no endsWith/stripSuffix dispatch over metadata suffixes outside the registry") {
    val found = offenders(dispatches)
    assert(found.isEmpty,
      s"suffix dispatch outside $Registry: ${found.mkString(", ")}")
    val graftTable = Files.readString(SourceTree.resolve(
      "src", "main", "scala", "graft", "table", "GraftTable.scala"))
    assert("""\bval \w+Suffix\b""".r.findFirstIn(graftTable).isEmpty,
      "GraftTable declares a *Suffix constant")
  }

  test("the guard recognises the dispatch shapes") {
    assert(dispatches("""if (identifier.endsWith(GraftTable.FilesSuffix)) {"""))
    assert(dispatches("""ident.name().stripSuffix("__refs")"""))
    assert(dispatches("""name.dropRight(m.suffix.length)"""))
    assert(!dispatches("""sourceTable.endsWith("__changes")"""))
    assert(!dispatches("""d.toString.stripSuffix(".rb")"""))
  }
}
