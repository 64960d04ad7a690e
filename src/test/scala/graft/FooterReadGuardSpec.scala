package graft

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Source-level guard: `ParquetFileReader.open(InputFile)` with no read
  * options wraps a fresh Hadoop `Configuration`, which re-parses every
  * `*-default.xml` on the classpath — ~10 ms per footer. Main code passes
  * `HadoopReadOptions` built from the caller's conf instead. */
class FooterReadGuardSpec extends AnyFunSuite {

  private val Call = "ParquetFileReader.open("

  /** Argument count of the call whose `(` sits just before `from`. */
  private def arity(src: String, from: Int): Int = {
    var depth = 0
    var commas = 0
    var i = from
    while (depth >= 0 && i < src.length) {
      src.charAt(i) match {
        case '(' | '[' | '{' => depth += 1
        case ')' | ']' | '}' => depth -= 1
        case ',' if depth == 0 => commas += 1
        case _ =>
      }
      i += 1
    }
    commas + 1
  }

  /** Whether the line holding `at` is a comment line (scaladoc may name
    * the call it warns against). */
  private def inComment(src: String, at: Int): Boolean = {
    val line = src.substring(src.lastIndexOf('\n', at) + 1, at).trim
    line.startsWith("*") || line.startsWith("/*") || line.startsWith("//")
  }

  test("no main source opens a parquet footer without read options") {
    val main = SourceTree.resolve("src", "main")
    val offenders = scala.util.Using.resource(Files.walk(main)) { files =>
      files.iterator().asScala
        .filter(p => Files.isRegularFile(p) && p.toString.endsWith(".scala"))
        .toSeq
    }.flatMap { p =>
      val src = Files.readString(p)
      Iterator.iterate(src.indexOf(Call))(i => src.indexOf(Call, i + 1))
        .takeWhile(_ >= 0)
        .filter(i => !inComment(src, i) && arity(src, i + Call.length) == 1)
        .map(i => s"${main.relativize(p)}:${src.take(i).count(_ == '\n') + 1}")
    }
    assert(offenders.isEmpty,
      s"one-argument ParquetFileReader.open at ${offenders.mkString(", ")}")
  }

  test("the guard recognises the call forms") {
    assert(arity("in)", 0) == 1)
    assert(arity("HadoopInputFile.fromPath(new Path(p), conf))", 0) == 1)
    assert(arity("\n  in(a, b),\n  opts)", 0) == 2)
  }
}
