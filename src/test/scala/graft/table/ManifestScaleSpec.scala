package graft.table

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkSpecBase

/** The two-level manifest design (segments + manifest list): a commit
  * against an N-file table writes O(batch) manifest bytes — prior
  * segments carry over BY REF — instead of re-serializing all N entries
  * per snapshot (O(snapshots × files) metadata growth, the round-6
  * verdict's one 100×-scale debt).
  */
class ManifestScaleSpec extends SparkSpecBase {

  private val schema = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("data", StringType, nullable = true)))

  private def mkDf(rows: (Long, String)*) = {
    val rdd = spark.sparkContext.parallelize(rows.map(r => Row(r._1, r._2)), 1)
    spark.createDataFrame(rdd, schema)
  }

  private def tmp(): String =
    java.nio.file.Files.createTempDirectory("graft-mscale").toString

  /** name → size of every file under <dir>/manifests. */
  private def manifestFiles(dir: String): Map[String, Long] = {
    val p = java.nio.file.Paths.get(s"$dir/manifests")
    if (!java.nio.file.Files.exists(p)) return Map.empty
    scala.util.Using.resource(java.nio.file.Files.list(p)) { st =>
      val b = Map.newBuilder[String, Long]
      st.iterator().forEachRemaining { f =>
        if (java.nio.file.Files.isRegularFile(f))
          b += f.getFileName.toString -> java.nio.file.Files.size(f)
      }
      b.result()
    }
  }

  private def newlyWritten(
      before: Map[String, Long], after: Map[String, Long]): Map[String, Long] =
    after.filter { case (n, _) => !before.contains(n) }

  test("append to an N-file table writes O(batch) manifest bytes") {
    val dir = s"${tmp()}/t"
    val t = GraftTable.create(dir, schema)
    // 8 appends × 4 files = 32 data files across 8 segments
    for (i <- 0 until 8)
      t.append(mkDf((0L until 8L).map(j => (i * 100L + j) -> s"v$i-$j"): _*)
        .repartition(4), Some(1000L + i))
    val m8 = Manifest.read(s"$dir/${t.log.current.get.manifestList}")
    assert(m8.totalFiles == 32L, s"fixture built ${m8.totalFiles} files")
    assert(m8.segmentRefs.size == 8, "one segment per append expected")

    val before = manifestFiles(dir)
    t.append(mkDf(9999L -> "one"), Some(9000L)) // ONE new file
    val after = manifestFiles(dir)
    val fresh = newlyWritten(before, after)

    // structurally O(batch): one new manifest list + ONE new segment
    // holding exactly the appended file; all 8 prior segments shared
    val m9 = Manifest.read(s"$dir/${t.log.current.get.manifestList}")
    assert(m9.segmentRefs.size == 9)
    assert(m8.segmentRefs.forall(m9.segmentRefs.contains),
      "append dropped a prior segment ref")
    val newSegs = fresh.keys.filter(_.startsWith("seg-")).toSeq
    assert(newSegs.size == 1, s"append wrote segments $newSegs")
    assert(m9.segments.find(_.ref.exists(r => r.endsWith(newSegs.head)))
      .get.fileCount == 1L)

    // byte assertion: the new metadata is a fraction of what a full
    // re-serialization costs (the 32-entry history ≈ sum of prior segs)
    val priorSegBytes = before.filter(_._1.startsWith("seg-")).values.sum
    val newBytes = fresh.values.sum
    assert(newBytes < priorSegBytes / 3,
      s"append wrote $newBytes manifest bytes vs $priorSegBytes of " +
        "history — not O(batch)")

    // and the table still reads every row
    assert(t.read(spark).count() == 65L)
  }

  test("metadata-only commits write a list and zero segments") {
    val dir = s"${tmp()}/t"
    val t = GraftTable.create(dir, schema)
    t.append(mkDf((0L until 20L).map(j => j -> s"v$j"): _*)
      .repartition(4), Some(1000L))
    val before = manifestFiles(dir)
    t.rollbackTo(1L, Some(2000L)) // reuses the target's manifest
    val fresh = newlyWritten(before, manifestFiles(dir))
    assert(fresh.keys.forall(_.startsWith("snap-")),
      s"metadata-only commit wrote segments: ${fresh.keys}")
    assert(t.read(spark).count() == 20L)
  }

  test("partial DML rewrites only the segments it touches") {
    val dir = s"${tmp()}/t"
    val t = GraftTable.create(dir, schema)
    // three appends with DISJOINT id ranges → per-append segments whose
    // stats prune cleanly
    t.append(mkDf((0L until 10L).map(j => j -> "a"): _*), Some(1000L))
    t.append(mkDf((100L until 110L).map(j => j -> "b"): _*), Some(2000L))
    t.append(mkDf((200L until 210L).map(j => j -> "c"): _*), Some(3000L))
    val segsBefore = Manifest.read(s"$dir/${t.log.current.get.manifestList}")
      .segmentRefs
    assert(segsBefore.size == 3)

    // delete rows inside the MIDDLE range only
    t.delete(spark, col("id").between(100L, 104L), Some(4000L))
    val m = Manifest.read(s"$dir/${t.log.current.get.manifestList}")
    // the untouched first and third segments carry over by ref
    assert(m.segmentRefs.contains(segsBefore.head),
      "delete rewrote an untouched segment")
    assert(m.segmentRefs.contains(segsBefore(2)),
      "delete rewrote an untouched segment")
    assert(!m.segmentRefs.contains(segsBefore(1)),
      "delete kept the punched segment's ref")
    assert(t.read(spark).count() == 25L)
  }

  test("segment envelopes: predicate-scoped DML and scans parse only touched segments") {
    val dir = s"${tmp()}/t"
    val t = GraftTable.create(dir, schema)
    // three appends with DISJOINT id ranges → three segments whose
    // manifest-list envelopes separate cleanly
    t.append(mkDf((0L until 10L).map(j => j -> "a"): _*), Some(1000L))
    t.append(mkDf((100L until 110L).map(j => j -> "b"): _*), Some(2000L))
    t.append(mkDf((200L until 210L).map(j => j -> "c"): _*), Some(3000L))
    val segs = Manifest.read(s"$dir/${t.log.current.get.manifestList}")
      .segmentRefs
    assert(segs.size == 3)
    def parsed(ref: String): Boolean =
      Manifest.parsedSegmentPaths.contains(s"$dir/$ref")
    assert(segs.forall(r => !parsed(r)),
      "freshly written segments should not have been read back yet")

    // a predicate-scoped DELETE inside the middle range parses ONLY the
    // middle segment — the outer two carry over by ref, unread
    t.delete(spark, col("id").between(100L, 104L), Some(4000L))
    assert(parsed(segs(1)), "the touched segment must be parsed")
    assert(!parsed(segs.head) && !parsed(segs(2)),
      "predicate-scoped delete parsed untouched segments " +
        "(envelope skip regressed)")
    assert(t.read(spark).count() == 25L)

    // a predicate-scoped SCAN likewise: rebuild a fresh table (the read
    // above parsed everything) and scan one range
    val dir2 = s"${tmp()}/t2"
    val t2 = GraftTable.create(dir2, schema)
    t2.append(mkDf((0L until 10L).map(j => j -> "a"): _*), Some(1000L))
    t2.append(mkDf((100L until 110L).map(j => j -> "b"): _*), Some(2000L))
    val segs2 = Manifest.read(s"$dir2/${t2.log.current.get.manifestList}")
      .segmentRefs
    assert(t2.scan(spark, Some(col("id") >= 100L)).count() == 10L)
    assert(Manifest.parsedSegmentPaths.contains(s"$dir2/${segs2(1)}"))
    assert(!Manifest.parsedSegmentPaths.contains(s"$dir2/${segs2.head}"),
      "range scan parsed a segment its envelope rules out")
  }

  test("expiration reclaims unshared segments, keeps shared ones") {
    val dir = s"${tmp()}/t"
    val t = GraftTable.create(dir, schema)
    t.append(mkDf(1L -> "a"), Some(1000L))
    t.append(mkDf(2L -> "b"), Some(2000L))
    // CoW delete of row 1 rewrites snapshot 1's segment; snapshot 2's
    // second segment is shared by snapshots 2 and 3
    t.delete(spark, col("id") === 1L, Some(3000L))
    val seg1 = Manifest.read(
      s"$dir/${t.log.byId(1L).get.manifestList}").segmentRefs
    val seg3 = Manifest.read(
      s"$dir/${t.log.current.get.manifestList}").segmentRefs
    val unshared = seg1.filterNot(seg3.contains)
    assert(unshared.nonEmpty, "fixture needs an unshared segment")

    t.expireSnapshots(olderThanMillis = 2500L)
    // snapshots 1 and 2 expired; their unshared segments are gone,
    // shared ones survive
    unshared.foreach(r => assert(
      !java.nio.file.Files.exists(java.nio.file.Paths.get(dir, r)),
      s"expire leaked unshared segment $r"))
    seg3.foreach(r => assert(
      java.nio.file.Files.exists(java.nio.file.Paths.get(dir, r)),
      s"expire reclaimed a live segment $r"))
    assert(t.read(spark).select("id").collect().map(_.getLong(0)).toSeq ==
      Seq(2L))
  }

  test("segment coalescing bounds list length over many small commits") {
    val dir = s"${tmp()}/t"
    val t = GraftTable.create(dir, schema)
    for (i <- 0 until 40)
      t.append(mkDf(i.toLong -> s"v$i"), Some(1000L + i))
    val m = Manifest.read(s"$dir/${t.log.current.get.manifestList}")
    assert(m.totalFiles == 40L)
    assert(m.segments.size <= Manifest.coalesceMaxSegments + 1,
      s"list grew to ${m.segments.size} segments over 40 commits")
    assert(t.read(spark).count() == 40L)
  }

  test("rewriteManifests re-shards without touching data") {
    val dir = s"${tmp()}/t"
    val t = GraftTable.create(dir, schema)
    for (i <- 0 until 10)
      t.append(mkDf(i.toLong -> s"v$i"), Some(1000L + i))
    val dataBefore = manifestFiles(dir) // includes segs; data under data/
    assert(Manifest.read(s"$dir/${t.log.current.get.manifestList}")
      .segments.size == 10)

    val snap = t.rewriteManifests(targetFiles = 512, Some(5000L))
    assert(snap.get.operation == "replace")
    val m = Manifest.read(s"$dir/${t.log.current.get.manifestList}")
    assert(m.segments.size == 1, s"re-shard left ${m.segments.size} segments")
    assert(m.totalFiles == 10L)
    assert(t.read(spark).count() == 10L)
    // bit-identical file set: the change feed skips it
    assert(t.changes(spark, 10L).count() == 0)
    // prior snapshots still read through their own lists
    assert(t.read(spark, Some(5L)).count() == 5L)
    // already-coarse manifest: no-op
    assert(t.rewriteManifests(targetFiles = 512).isEmpty)
  }

  test("20k-file manifest: an append writes orders of magnitude fewer bytes") {
    val dir = tmp()
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(s"$dir/manifests"))
    def entry(i: Int) = DataFileEntry(
      f"data/part-00001-synthetic-$i%06d.parquet", 100L, 1 << 20,
      Map("id" -> ColumnStats(
        Some((i * 100L).toString), Some((i * 100L + 99).toString),
        Some(0L), Some(100L))))
    val n = 20000
    // snapshot 1: the unavoidable one-time full write
    val (_, created1) = Manifest((1 to n).map(entry))
      .write(s"$dir/manifests/snap-00001.json")
    def bytes(rels: Seq[String], list: String): Long =
      rels.map(r => java.nio.file.Files.size(
        java.nio.file.Paths.get(dir, r))).sum +
        java.nio.file.Files.size(java.nio.file.Paths.get(list))
    val fullBytes = bytes(created1, s"$dir/manifests/snap-00001.json")

    // snapshot 2: append ONE file — carried segments never re-serialize
    val t0 = System.nanoTime()
    val m2 = Manifest.read(s"$dir/manifests/snap-00001.json")
      .append(Seq(entry(n + 1)))
    val (_, created2) = m2.write(s"$dir/manifests/snap-00002.json")
    val commitMs = (System.nanoTime() - t0) / 1e6
    val appendBytes = bytes(created2, s"$dir/manifests/snap-00002.json")

    assert(appendBytes * 100 < fullBytes,
      s"append wrote $appendBytes B vs $fullBytes B full — not O(batch)")
    // and the carried content is intact without parsing during commit
    assert(m2.totalFiles == n + 1L)
    assert(Manifest.read(s"$dir/manifests/snap-00002.json").files.size == n + 1)
    info(f"full=$fullBytes%,d B append=$appendBytes%,d B commit=$commitMs%.1f ms")
  }

  test("20k-entry manifest: predicate planning parses only matching segments") {
    import org.apache.spark.sql.catalyst.expressions.{AttributeReference, EqualTo, Literal}
    val dir = tmp()
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(s"$dir/manifests"))
    val schema20 = StructType(Seq(StructField("id", LongType)))
    def entry(i: Int) = DataFileEntry(
      f"data/part-00001-synthetic-$i%06d.parquet", 100L, 1 << 20,
      Map("id" -> ColumnStats(
        Some((i * 100L).toString), Some((i * 100L + 99).toString),
        Some(0L), Some(100L))))
    // 20 segments × 1000 entries with disjoint id ranges
    var m = Manifest.empty
    (0 until 20).foreach { k =>
      m = m.append((1 to 1000).map(i => entry(k * 1000 + i)))
    }
    m.write(s"$dir/manifests/snap-00001.json", Some(schema20))
    val loaded = Manifest.read(s"$dir/manifests/snap-00001.json")
    assert(loaded.segments.size == 20)
    assert(loaded.segments.forall(_.envelope.isDefined),
      "write did not record segment envelopes")
    // a point lookup inside segment 7's range
    val attr = AttributeReference("id", LongType)()
    val pred = EqualTo(attr, Literal(750000L, LongType)) // entry 7500
    val files = loaded.prunedFiles(
      seg => seg.envelope.forall(env => Pruning.mayMatch(pred, env, schema20)),
      f => Pruning.mayMatchFile(pred, f, schema20))
    assert(files.size == 1 && files.head.path.contains("007500"))
    val parsed = loaded.segmentRefs.filter(r =>
      Manifest.parsedSegmentPaths.contains(s"$dir/$r"))
    assert(parsed.size == 1,
      s"point lookup parsed ${parsed.size} of 20 segments (want 1)")
  }

  test("100k-entry manifest: planning cost bounds (time + driver allocation)") {
    import org.apache.spark.sql.catalyst.expressions.{AttributeReference, EqualTo, Literal}
    val dir = tmp()
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(s"$dir/manifests"))
    val schema1 = StructType(Seq(StructField("id", LongType)))
    def entry(i: Int) = DataFileEntry(
      f"data/part-00001-synthetic-$i%06d.parquet", 100L, 1 << 20,
      Map("id" -> ColumnStats(
        Some((i * 100L).toString), Some((i * 100L + 99).toString),
        Some(0L), Some(100L))))
    // 100 segments × 1000 entries = 1e5 files, disjoint id ranges
    var m = Manifest.empty
    (0 until 100).foreach { k =>
      m = m.append((1 to 1000).map(i => entry(k * 1000 + i)))
    }
    m.write(s"$dir/manifests/snap-00001.json", Some(schema1))
    val loaded = Manifest.read(s"$dir/manifests/snap-00001.json")
    assert(loaded.segments.size == 100 && loaded.totalFiles == 100000L)

    val attr = AttributeReference("id", LongType)()
    def plan(idVal: Long): Seq[DataFileEntry] = loaded.prunedFiles(
      seg => seg.envelope.forall(env => Pruning.mayMatch(
        EqualTo(attr, Literal(idVal, LongType)), env, schema1)),
      f => Pruning.mayMatchFile(EqualTo(attr, Literal(idVal, LongType)), f,
        schema1))
    def timeMs[A](body: => A): (A, Double) = {
      val t0 = System.nanoTime()
      val a = body
      (a, (System.nanoTime() - t0) / 1e6)
    }
    // SELECTIVE planning: the driver walks 100 envelopes, parses ONE
    // 1000-entry segment, keeps ONE file — O(matching), never O(table).
    // Warm once (JIT + list cache), then measure.
    plan(1500100L)
    val (kept, selMs) = timeMs(plan(5000100L)) // entry 50001, segment 50
    assert(kept.size == 1 && kept.head.path.contains("050001"))
    val parsed = loaded.segmentRefs.filter(r =>
      Manifest.parsedSegmentPaths.contains(s"$dir/$r"))
    assert(parsed.size <= 2,
      s"selective plan parsed ${parsed.size} of 100 segments")
    // generous ceiling (contended-CI safe; quiet-box measured ~1 ms) —
    // the guardrail catches an accidental O(all files) regression, which
    // would cost 100× this
    assert(selMs < 500.0, f"selective planning took $selMs%.1f ms")

    // FULL-LIST planning (no predicate): the inherent O(kept files)
    // driver cost — 1e5 entries materialize. Bound it generously so a
    // superlinear regression (re-parse per access, quadratic append)
    // fails loudly; record the measured figure for PERF.md.
    val (all, fullMs) = timeMs(loaded.files)
    assert(all.size == 100000)
    assert(fullMs < 10000.0, f"full-list planning took $fullMs%.1f ms")
    // repeat reads hit the lazy per-segment parse memo — no re-parse
    val (again, repeatMs) = timeMs(loaded.files.size)
    assert(again == 100000)
    assert(repeatMs < math.max(50.0, fullMs / 5),
      f"repeat full-list read re-parsed: $repeatMs%.1f ms vs $fullMs%.1f")
    info(f"1e5 entries: selective=$selMs%.1f ms (1 segment), " +
      f"full=$fullMs%.1f ms, repeat=$repeatMs%.2f ms")

    // an append against the 1e5-entry table stays O(batch)
    val (_, appendMs) = timeMs {
      loaded.append(Seq(entry(100001)))
        .write(s"$dir/manifests/snap-00002.json", Some(schema1))
    }
    assert(appendMs < 2000.0, f"append commit took $appendMs%.1f ms")
    info(f"1e5-entry append commit: $appendMs%.1f ms")
  }

  test("1e6-entry manifest: planning cost bounds (tier 2)") {
    import org.apache.spark.sql.catalyst.expressions.{AttributeReference, EqualTo, Literal}
    val dir = tmp()
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(s"$dir/manifests"))
    val schema1 = StructType(Seq(StructField("id", LongType)))
    def entry(i: Int) = DataFileEntry(
      f"data/part-00001-synthetic-$i%07d.parquet", 100L, 1 << 20,
      Map("id" -> ColumnStats(
        Some((i * 100L).toString), Some((i * 100L + 99).toString),
        Some(0L), Some(100L))))
    // 1000 segments × 1000 entries = 1e6 files, disjoint id ranges —
    // the design-target table size (a ~1 PB estate at 1 GB files)
    var m = Manifest.empty
    (0 until 1000).foreach { k =>
      m = m.append((1 to 1000).map(i => entry(k * 1000 + i)))
    }
    def timeMs[A](body: => A): (A, Double) = {
      val t0 = System.nanoTime()
      val a = body
      (a, (System.nanoTime() - t0) / 1e6)
    }
    val (_, writeMs) = timeMs(
      m.write(s"$dir/manifests/snap-00001.json", Some(schema1)))
    val loaded = Manifest.read(s"$dir/manifests/snap-00001.json")
    assert(loaded.segments.size == 1000 && loaded.totalFiles == 1000000L)

    val attr = AttributeReference("id", LongType)()
    def plan(idVal: Long): Seq[DataFileEntry] = loaded.prunedFiles(
      seg => seg.envelope.forall(env => Pruning.mayMatch(
        EqualTo(attr, Literal(idVal, LongType)), env, schema1)),
      f => Pruning.mayMatchFile(EqualTo(attr, Literal(idVal, LongType)), f,
        schema1))
    // SELECTIVE planning: 1000-envelope walk + ONE segment parse. The
    // round-13 extrapolation claimed low tens of ms at 1e6 — measure it.
    plan(1500100L) // warm (JIT + the one segment's parse memo)
    val (kept, selMs) = timeMs(plan(50000100L)) // entry 500001, segment 500
    assert(kept.size == 1 && kept.head.path.contains("0500001"))
    val parsed = loaded.segmentRefs.filter(r =>
      Manifest.parsedSegmentPaths.contains(s"$dir/$r"))
    assert(parsed.size <= 2,
      s"selective plan parsed ${parsed.size} of 1000 segments")
    // contended-CI generous ceiling; an O(all files) regression costs
    // ~1000× the envelope walk and fails loudly
    assert(selMs < 1500.0, f"selective planning took $selMs%.1f ms")

    // FULL-LIST planning: the inherent O(kept) driver cost at 1e6
    val (all, fullMs) = timeMs(loaded.files)
    assert(all.size == 1000000)
    assert(fullMs < 60000.0, f"full-list planning took $fullMs%.1f ms")
    val (again, repeatMs) = timeMs(loaded.files.size)
    assert(again == 1000000)
    assert(repeatMs < math.max(100.0, fullMs / 5),
      f"repeat full-list read re-parsed: $repeatMs%.1f ms vs $fullMs%.1f")

    // an append against the 1e6-entry table stays O(batch)
    val (_, appendMs) = timeMs {
      loaded.append(Seq(entry(1000001)))
        .write(s"$dir/manifests/snap-00002.json", Some(schema1))
    }
    assert(appendMs < 5000.0, f"append commit took $appendMs%.1f ms")
    info(f"1e6 entries: write=$writeMs%.0f ms, selective=$selMs%.1f ms " +
      f"(1 segment), full=$fullMs%.0f ms, repeat=$repeatMs%.2f ms, " +
      f"append=$appendMs%.1f ms")
  }

  test("__segments metadata table reflects the manifest list") {
    val dir = s"${tmp()}/t"
    val t = GraftTable.create(dir, schema)
    t.append(mkDf(1L -> "a", 2L -> "b"), Some(1000L))
    t.append(mkDf(3L -> "c"), Some(2000L))
    val segs = t.segmentsTable(spark).collect()
    assert(segs.length == 2)
    assert(segs.map(_.getLong(1)).sum == 2L) // file counts: 1 + 1
    assert(segs.map(_.getLong(2)).sum == 3L) // record counts: 2 + 1
    assert(segs.forall(_.getString(0).startsWith("manifests/seg-")))
    // catalog naming resolves <name>__segments like the other metadata tables
    val wh = tmpDir("graft-segtbl")
    val cat = new GraftCatalog(wh)
    val ct = cat.createTable("db.st", schema)
    ct.append(mkDf(1L -> "x"), Some(1000L))
    assert(cat.loadDataFrame(spark, "db.st__segments").count() == 1L)
  }

  test("__files/__partitions are DISTRIBUTED: segments parse in tasks") {
    val dir = s"${tmp()}/t"
    val t = GraftTable.create(dir, schema)
    // 4 appends × 2 files = 8 data files across 4 on-disk segments
    for (i <- 0 until 4)
      t.append(mkDf((0L until 4L).map(j => (i * 100L + j) -> s"v$i-$j"): _*)
        .repartition(2), Some(1000L + i))
    val m = Manifest.read(s"$dir/${t.log.current.get.manifestList}")
    assert(m.segmentRefs.size == 4)

    // one RDD partition per segment shard — the 1M-file posture: the
    // driver ships O(segments) refs, tasks parse and emit file rows
    val files = t.filesTable(spark)
    assert(files.rdd.getNumPartitions >= 4,
      s"__files collapsed to ${files.rdd.getNumPartitions} partition(s)")
    // row equality with a direct manifest parse
    val got = files.collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).sorted.toSeq
    val want = m.files
      .map(f => (f.path, f.recordCount, f.fileSizeBytes)).sorted
    assert(got == want, "distributed __files rows diverge from the manifest")
    // readable per-column metrics ride along (bounds + null counts)
    assert(files.collect().forall { r =>
      r.getAs[Map[String, String]]("min_values").contains("id") &&
        r.getAs[Map[String, String]]("max_values").contains("id") &&
        r.getAs[Map[String, Long]]("null_counts").get("id").contains(0L)
    }, "__files lost its per-column metrics")

    // __partitions aggregates distributed too (map-side combine over the
    // same shards) and equals a driver-side recompute
    val parts = t.partitionsTable(spark).collect()
    assert(parts.length == 1) // unpartitioned: one empty-map group
    assert(parts.head.getLong(1) == 8L && // n files
      parts.head.getLong(2) == m.totalRecords &&
      parts.head.getLong(3) == m.totalBytes)

    // the SQL path keeps the distribution (V1Scan, not a driver-local
    // row set): multi-partition scan + correct totals
    val wh = java.nio.file.Files.createTempDirectory("graft-distmeta").toString
    spark.conf.set("spark.sql.catalog.gdm", "graft.table.GraftSparkCatalog")
    spark.conf.set("spark.sql.catalog.gdm.warehouse", wh)
    val ct = new GraftCatalog(wh).createTable("db.dm", schema)
    for (i <- 0 until 3)
      ct.append(mkDf((0L until 4L).map(j => (i * 10L + j) -> "x"): _*)
        .repartition(2), Some(1000L + i))
    val sqlFiles = spark.sql("SELECT * FROM gdm.db.dm__files")
    assert(sqlFiles.rdd.getNumPartitions >= 3,
      "SQL over __files collapsed to a driver-local scan")
    assert(sqlFiles.count() == 6L)
    assert(spark.sql(
      "SELECT sum(record_count) FROM gdm.db.dm__files").collect()
      .head.getLong(0) == 12L)
    assert(spark.sql(
      "SELECT record_count FROM gdm.db.dm__partitions").collect()
      .map(_.getLong(0)).toSeq == Seq(12L))
  }

  test("DSv2 point query parses only the touched segment (lazy planning)") {
    val wh = tmp()
    val dir = s"$wh/db/seg_t"
    val t = GraftTable.create(dir, schema)
    (0 until 12).foreach(k => t.append(
      mkDf((k * 100L + 1) -> s"v$k", (k * 100L + 2) -> s"w$k"),
      Some(1000L * (k + 1))))
    val m = Manifest.read(s"$dir/${t.log.current.get.manifestList}")
    assert(m.segments.size == 12 &&
      m.segments.forall(_.envelope.isDefined))
    spark.conf.set("spark.sql.catalog.gms", "graft.table.GraftSparkCatalog")
    spark.conf.set("spark.sql.catalog.gms.warehouse", wh)
    val before = m.segmentRefs.filter(r =>
      Manifest.parsedSegmentPaths.contains(s"$dir/$r")).toSet
    val got = spark.sql("SELECT data FROM gms.db.seg_t WHERE id = 701")
      .collect().map(_.getString(0)).toSeq
    assert(got == Seq("v7"))
    val parsed = m.segmentRefs.filter(r =>
      Manifest.parsedSegmentPaths.contains(s"$dir/$r")).toSet -- before
    assert(parsed.size == 1,
      s"DSv2 point lookup parsed ${parsed.size} of 12 segments (want 1) " +
        "— lazy planning regressed to a full manifest materialization")
  }

  test("long-text string bounds are capped at write time, pruning intact") {
    val dir = s"${tmp()}/longtext"
    val t = GraftTable.create(dir, schema)
    // 200-byte document bodies: big enough that verbatim chunk stats
    // would bloat every manifest segment, small enough that parquet-mr
    // still records them (it silently DROPS stats for multi-KB values —
    // absent stats are the other, already-conservative path)
    val doc = ("lorem ipsum dolor sit amet " * 10).take(200)
    t.append(mkDf(
      1L -> (doc + "alpha"), 2L -> (doc + "omega"), 3L -> "short"),
      Some(1000L))
    val entries = Manifest.read(
      s"$dir/${t.log.current.get.manifestList}").files
    val st = entries.head.stats("data")
    assert(st.min.get.getBytes("UTF-8").length <=
      ColumnStats.StringBoundCapBytes, s"min not capped: ${st.min}")
    assert(st.max.get.getBytes("UTF-8").length <=
      ColumnStats.StringBoundCapBytes, s"max not capped: ${st.max}")
    // bounds stay usable: a matching long value keeps the file, a value
    // above the rounded-up max prunes it
    val attr = org.apache.spark.sql.catalyst.expressions
      .AttributeReference("data", StringType)()
    def lit(v: String) = org.apache.spark.sql.catalyst.expressions.Literal(
      org.apache.spark.unsafe.types.UTF8String.fromString(v), StringType)
    import org.apache.spark.sql.catalyst.expressions.{EqualTo, GreaterThan}
    assert(Pruning.mayMatchFile(
      EqualTo(attr, lit(doc + "alpha")), entries.head, schema))
    assert(!Pruning.mayMatchFile(
      GreaterThan(attr, lit("~~~~")), entries.head, schema),
      "capped max lost its pruning power entirely")
    // and the scan still answers exactly
    assert(t.scan(spark,
      Some(org.apache.spark.sql.functions.col("data") === (doc + "alpha")))
      .count() == 1L)
  }
}
