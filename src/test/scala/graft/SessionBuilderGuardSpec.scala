package graft

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Source-level guard: main code builds its local session only through
  * [[GraftSession.local]], so Bench, Verify and the tools cannot drift
  * apart (a probe that lacked the SQL extensions once timed a different
  * plan than the bench it claimed to match). `Versioned.dmlSession` is
  * the one other builder: a secondary session on the running context. */
class SessionBuilderGuardSpec extends AnyFunSuite {

  private val Allowed = Set("GraftSession.scala", "Versioned.scala")

  test("SparkSession.builder appears only in GraftSession and Versioned") {
    val main = SourceTree.resolve("src", "main")
    val builders = scala.util.Using.resource(Files.walk(main)) { files =>
      files.iterator().asScala
        .filter(p => Files.isRegularFile(p) && p.toString.endsWith(".scala"))
        .filter(p => Files.readString(p).contains("SparkSession.builder"))
        .map(_.getFileName.toString).toSet
    }
    assert(builders.contains("GraftSession.scala"))
    assert(builders.subsetOf(Allowed),
      s"SparkSession.builder outside GraftSession: ${builders -- Allowed}")
  }
}
