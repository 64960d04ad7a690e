package graft

import java.nio.file.{Files, Path, Paths}

/** The checkout's source tree, found by walking up from where the test
  * classes were loaded, so source-level guards do not depend on the test
  * JVM's working directory. */
object SourceTree {
  def resolve(first: String, more: String*): Path = {
    val rel = Paths.get(first, more: _*)
    val classes = Paths.get(
      getClass.getProtectionDomain.getCodeSource.getLocation.toURI)
    Iterator.iterate(classes)(_.getParent).takeWhile(_ != null)
      .map(_.resolve(rel)).find(Files.exists(_))
      .getOrElse(throw new IllegalStateException(s"no $rel above $classes"))
  }
}
