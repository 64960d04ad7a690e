package graft

import org.scalatest.funsuite.AnyFunSuite

/** Guards the driver contract on the bench output: ONE stdout line of
  * valid JSON, short enough to survive the driver's bounded tail read
  * (round 1 shipped a ~3.5 KB line that got truncated mid-JSON and
  * produced BENCH parsed:null). */
class BenchLineSpec extends AnyFunSuite {

  private val allQueries = SparkEntry.queries.keys.toSeq.sorted.map(_ -> 0.123)

  /** `Bench.scala` found from where this spec's classes were loaded
    * (walking up to the checkout that holds the source), so the guard
    * does not depend on the test JVM's working directory. */
  private def benchSource: java.nio.file.Path = {
    val rel = java.nio.file.Paths.get("src", "main", "scala", "graft", "Bench.scala")
    val classes = java.nio.file.Paths.get(
      classOf[BenchLineSpec].getProtectionDomain.getCodeSource.getLocation.toURI)
    Iterator.iterate(classes)(_.getParent).takeWhile(_ != null)
      .map(_.resolve(rel)).find(java.nio.file.Files.isRegularFile(_))
      .getOrElse(fail(s"no $rel above $classes"))
  }

  test("stdout summary line parses as JSON and stays under the tail budget") {
    val headline = allQueries.take(10)
    val line = Bench.summaryLine(12.345, headline, allQueries, "/tmp/sf")
    assert(!line.contains("\n"))
    // sbt forwards the forked main's stdout unprefixed (run /
    // outputStrategy): the last stdout line is the JSON itself
    assert(line.startsWith("{"), s"summary does not start with '{': $line")
    assert(line.length < 1500, s"line too long for the driver tail: ${line.length}")
    val parsed = graft.util.Json.parseObject(line)
    assert(parsed("metric") == "total")
    assert(parsed("value") == 12.345)
    assert(parsed("n") == allQueries.size.toLong)
    assert(parsed("queries").asInstanceOf[Map[String, Any]].size == 10)
  }

  test("full map (file form) is also valid JSON") {
    val line = Bench.summaryLine(12.345, allQueries, allQueries, "/tmp/sf")
    val parsed = graft.util.Json.parseObject(line)
    assert(parsed("queries").asInstanceOf[Map[String, Any]].size ==
      allQueries.size)
  }

  test("full map never reaches stdout OR stderr (driver tail is merged)") {
    // The driver captures a bounded tail of the MERGED streams: a ~3.5 KB
    // full-map line echoed to stderr truncates mid-JSON directly above the
    // summary and the tail fails to parse (BENCH_r16/r17 parsed:null).
    // Guard at the source level: the only print of `fullJson` is the
    // bench_full.json file write.
    val src = java.nio.file.Files.readString(benchSource)
    assert(!src.contains("System.err.println(fullJson"),
      "full map echoed to stderr — driver tail parse breaks")
    assert(!src.contains("println(fullJson"),
      "full map printed to stdout — driver tail parse breaks")
  }
}
