package graft.util

import com.fasterxml.jackson.databind.ObjectMapper
import scala.jdk.CollectionConverters._

/** Minimal JSON bridge for the graft table metadata files.
  *
  * Parsing rides on Jackson (ships with Spark at /opt/spark/jars);
  * serialization is hand-rolled so the on-disk layout is stable and
  * independent of Jackson configuration. Values round-trip as plain Scala
  * structures: Map[String, Any] / Seq[Any] / String / Long / Double /
  * Boolean / null.
  */
object Json {

  private val mapper = new ObjectMapper()

  /** Write `content` to `absPath` atomically (unique temp file + rename):
    * a concurrent reader sees either the old or the new file, never a
    * truncated half-write, and concurrent writers cannot install each
    * other's partial temp files. Metadata files (snapshot log, manifests,
    * feed cursors) are replaced through this. */
  def writeFileAtomic(absPath: String, content: String): Unit =
    writeFileAtomic(absPath,
      content.getBytes(java.nio.charset.StandardCharsets.UTF_8))

  def writeFileAtomic(absPath: String, bytes: Array[Byte]): Unit = {
    val target = java.nio.file.Paths.get(absPath)
    if (target.getParent != null) java.nio.file.Files.createDirectories(target.getParent)
    val tmp = java.nio.file.Files.createTempFile(
      target.getParent, target.getFileName.toString + ".", ".tmp")
    try {
      java.nio.file.Files.write(tmp, bytes)
      java.nio.file.Files.move(tmp, target,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    } finally java.nio.file.Files.deleteIfExists(tmp)
  }

  def parse(s: String): Any = fromJava(mapper.readValue(s, classOf[Object]))

  def parseObject(s: String): Map[String, Any] =
    parse(s).asInstanceOf[Map[String, Any]]

  private def fromJava(v: Any): Any = v match {
    case m: java.util.Map[_, _] =>
      m.asScala.map { case (k, x) => k.toString -> fromJava(x) }.toMap
    case l: java.util.List[_] => l.asScala.map(fromJava).toSeq
    case i: java.lang.Integer => i.longValue()
    case i: java.lang.Long => i.longValue()
    case d: java.lang.Double => d.doubleValue()
    case f: java.lang.Float => f.doubleValue()
    case b: java.math.BigInteger => b.longValue()
    case b: java.math.BigDecimal => b.doubleValue()
    case other => other // String, Boolean, null
  }

  def write(v: Any): String = {
    val sb = new StringBuilder
    writeTo(v, sb)
    sb.toString
  }

  private def writeTo(v: Any, sb: StringBuilder): Unit = v match {
    case null => sb.append("null")
    case None => sb.append("null")
    case Some(x) => writeTo(x, sb)
    case s: String => writeString(s, sb)
    case b: Boolean => sb.append(b)
    case i: Int => sb.append(i)
    case l: Long => sb.append(l)
    case f: Float => sb.append(f)
    case d: Double => sb.append(d)
    case m: scala.collection.Map[_, _] =>
      sb.append('{')
      var first = true
      m.foreach { case (k, x) =>
        if (!first) sb.append(',')
        first = false
        writeString(k.toString, sb)
        sb.append(':')
        writeTo(x, sb)
      }
      sb.append('}')
    case it: Iterable[_] =>
      sb.append('[')
      var first = true
      it.foreach { x =>
        if (!first) sb.append(',')
        first = false
        writeTo(x, sb)
      }
      sb.append(']')
    case other =>
      throw new IllegalArgumentException(
        s"not JSON-serializable: ${other.getClass}")
  }

  private def writeString(s: String, sb: StringBuilder): Unit = {
    sb.append('"')
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case '\n' => sb.append("\\n")
      case '\r' => sb.append("\\r")
      case '\t' => sb.append("\\t")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append('"')
  }
}
