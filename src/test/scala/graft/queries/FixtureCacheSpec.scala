package graft.queries

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

import graft.SparkSpecBase
import graft.table.GraftTable

/** The tmpdir fixture cache ([[Versioned.cachedFixture]]) reuses only a
  * table this code can load with the expected snapshots and data files;
  * a fixture left by an older metadata format is torn down and rebuilt
  * instead of failing the query that needs it.
  */
class FixtureCacheSpec extends SparkSpecBase {

  private val schema = StructType(Seq(
    StructField("id", LongType, nullable = false)))

  test("cachedFixture reuses an intact fixture and rebuilds a format-1 one") {
    // already in the cache's sanitized key form, so `root` is its dir
    val sfKey = "fixture_cache_spec_" +
      java.util.UUID.randomUUID().toString.replace("-", "")
    val root = Paths.get(sys.props("java.io.tmpdir"), "graft_fixtures", sfKey)
    var builds = 0
    def fixture(): GraftTable = Versioned.cachedFixture(sfKey, "t", 1) { dir =>
      builds += 1
      val t = GraftTable.create(dir, schema)
      t.append(spark.createDataFrame(spark.sparkContext.parallelize(
        Seq(Row(1L), Row(2L)), 1), schema), Some(1000L))
      t
    }
    try {
      val dir = fixture().dir
      assert(builds == 1)
      assert(fixture().read(spark).count() == 2L)
      assert(builds == 1, "an intact fixture was rebuilt")
      // the same fixture as an older build left it
      val metaPath = Paths.get(dir, "metadata.json")
      val meta = graft.util.Json.parseObject(Files.readString(metaPath))
      graft.util.Json.writeFileAtomic(metaPath.toString,
        graft.util.Json.write(meta + ("format_version" -> 1L)))
      intercept[IllegalStateException](GraftTable.load(dir))
      val rebuilt = fixture()
      assert(builds == 2, "a format-1 fixture was not rebuilt")
      assert(rebuilt.dir == dir)
      assert(rebuilt.read(spark).count() == 2L)
      assert(GraftTable.load(dir).log.snapshots.size == 1)
    } finally GraftTable.deleteRecursively(root)
  }
}
