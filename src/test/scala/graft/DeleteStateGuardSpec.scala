package graft

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Source-level guard: the merge-on-read delete summary entries have one
  * reader and writer, `graft.table.DeleteState`, and the copy-on-write
  * paths settle pending deletes through it rather than by hand. Besides
  * `DeleteState.scala`, only the key declarations and the `CarriedKeys`
  * list in `GraftTable.scala` may name the keys. */
class DeleteStateGuardSpec extends AnyFunSuite {

  private val Keys = Seq("SummaryPendingDeletes", "SummaryPositionalDeletes",
    "SummaryEqualityDeletes", "\"pending-deletes\"", "\"positional-deletes\"",
    "\"equality-deletes\"")

  private val CowMethods = Seq("overwriteWhere", "overwritePartitionsDynamic",
    "delete", "deleteByKeys", "update", "merge", "mergeActions")

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

  /** Lines of `src` allowed to name a key: the `val Summary…Deletes =`
    * declarations and the `CarriedKeys` declaration (through its `)`). */
  private def declarationLines(lines: Seq[String]): Set[Int] = {
    val decls = lines.indices.filter(i =>
      lines(i).trim.matches("""val Summary\w+Deletes = "[a-z-]+"""")).toSet
    val carried = lines.indexWhere(_.trim.startsWith("val CarriedKeys"))
    val carriedEnd =
      if (carried < 0) -1 else lines.indexWhere(_.contains(")"), carried)
    decls ++ (if (carried < 0) Nil else carried to carriedEnd)
  }

  /** Source of `def name(` in `src` up to the next member at the same
    * indentation. */
  private def body(src: String, name: String): String = {
    val start = src.indexOf(s"\n  def $name(")
    assert(start >= 0, s"no method $name")
    val next = """\n  (?:private |override |final |lazy )*(?:def |val |/\*\*)""".r
      .findFirstMatchIn(src.substring(start + 1)).map(_.start + start + 1)
      .getOrElse(src.length)
    src.substring(start, next)
  }

  test("only DeleteState and the key declarations name the delete summary keys") {
    val offenders = mainSources.flatMap { p =>
      val name = p.getFileName.toString
      val lines = Files.readString(p).linesIterator.toSeq
      val allowed =
        if (name == "DeleteState.scala") lines.indices.toSet
        else if (name == "GraftTable.scala") declarationLines(lines)
        else Set.empty[Int]
      lines.indices.filter(i => !allowed(i) && !isComment(lines(i)) &&
        Keys.exists(lines(i).contains)).map(i => s"$name:${i + 1}")
    }
    assert(offenders.isEmpty,
      s"delete summary keys named outside DeleteState: ${offenders.mkString(", ")}")
  }

  test("copy-on-write paths settle pending deletes through DeleteState") {
    val src = Files.readString(
      SourceTree.resolve("src", "main", "scala", "graft", "table", "GraftTable.scala"))
    val byHand = """\b(degrade\w*|strip(Positional|Targets|Dvs)\w*|\w*Json)\s*\(""".r
    CowMethods.foreach { m =>
      val b = body(src, m)
      assert(b.contains("DeleteState.of(") && b.contains(".afterRewrite("),
        s"$m does not settle its delete state through DeleteState")
      val calls = byHand.findAllIn(b).toSeq
      assert(calls.isEmpty, s"$m settles pending deletes by hand: $calls")
    }
  }

  test("the guard recognises the declaration and method shapes") {
    val lines = Seq("  val SummaryPendingDeletes = \"pending-deletes\"",
      "  val CarriedKeys: Seq[String] = Seq(SummaryPendingDeletes,",
      "    SummaryEqualityDeletes)", "  x(SummaryPendingDeletes)")
    assert(declarationLines(lines) == Set(0, 1, 2))
    val src = "\n  def delete(a: Int) = {\n    a\n  }\n\n  def deleteByKeys(b: Int) = b\n"
    assert(body(src, "delete").contains("a\n") &&
      !body(src, "delete").contains("deleteByKeys"))
  }
}
