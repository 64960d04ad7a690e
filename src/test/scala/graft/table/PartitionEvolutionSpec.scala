package graft.table

import org.apache.spark.sql.functions._

import graft.SparkSpecBase
import org.apache.spark.sql.classic.GraftBridge

/** Partition-spec evolution: [[GraftTable.updatePartitionSpec]] changes the
  * layout for FUTURE writes only — existing files keep their own
  * `<col>=<value>/` (or flat) layout, reads union the eras through the
  * per-file spec recorded in the manifest, and pruning skips files of
  * BOTH eras (partition values synthesize stats in one era, footer min/max
  * covers the same column in the other). Mirrors Iceberg's metadata-only
  * partition evolution — the property that makes a layout change free at
  * 100 TB instead of a full rewrite.
  */
class PartitionEvolutionSpec extends SparkSpecBase {

  private def nation = spark.read.parquet(sf("nation"))

  private def keptFiles(t: GraftTable, pred: org.apache.spark.sql.Column) = {
    val resolved = GraftTable.resolveAgainst(spark, t.schema,
      GraftBridge.expr(pred))
    val manifest = Manifest.read(
      s"${t.dir}/${t.log.current.get.manifestList}")
    manifest.files.filter(f => Pruning.mayMatchFile(resolved, f, t.schema))
  }

  test("unpartitioned era + partitioned era read back as one table") {
    val dir = tmpDir("evo-spec")
    val t0 = GraftTable.create(dir, nation.schema)
    t0.append(nation.filter(col("n_nationkey") < 12), Some(1000L))
    val t1 = t0.updatePartitionSpec(Seq("n_regionkey"))
    t1.append(nation.filter(col("n_nationkey") >= 12), Some(2000L))

    // the manifest records each file's own spec
    val m = Manifest.read(s"$dir/${t1.log.current.get.manifestList}")
    val specs = m.files.map(_.partition.keySet).distinct.toSet
    assert(specs == Set(Set.empty[String], Set("n_regionkey")))

    // full-table parity with the plain source, partition values restored
    val got = t1.read(spark).drop("snapshot__id")
      .orderBy("n_nationkey").collect().map(_.toSeq)
    val want = nation.orderBy("n_nationkey").collect().map(_.toSeq)
    assert(got.toSeq == want.toSeq)
  }

  test("spec change between two partition columns; both eras prune") {
    val dir = tmpDir("evo-spec2")
    // era 1: partitioned by n_regionkey
    val t0 = GraftTable.create(dir, nation.schema,
      partitionBy = Seq("n_regionkey"))
    t0.append(nation.filter(col("n_nationkey") < 12), Some(1000L))
    // era 2: repartitioned by n_nationkey (hotter key in new queries)
    val t1 = t0.updatePartitionSpec(Seq("n_nationkey"))
    t1.append(nation.filter(col("n_nationkey") >= 12), Some(2000L))

    // read parity incl. a filter crossing both eras
    val got = t1.scan(spark, Some(col("n_regionkey") === 2))
      .drop("snapshot__id").orderBy("n_nationkey").collect().map(_.toSeq)
    val want = nation.filter(col("n_regionkey") === 2)
      .orderBy("n_nationkey").collect().map(_.toSeq)
    assert(got.toSeq == want.toSeq)

    // a predicate on the OLD spec's column prunes era-1 files by partition
    // value and era-2 files by footer stats; it must keep strictly fewer
    // files than the full manifest while never dropping a matching row
    val all = Manifest.read(s"$dir/${t1.log.current.get.manifestList}").files
    val keptOld = keptFiles(t1, col("n_regionkey") === 2)
    assert(keptOld.size < all.size, "predicate on old spec column pruned nothing")
    // and a predicate on the NEW spec's column prunes the other way round
    val keptNew = keptFiles(t1, col("n_nationkey") === 14)
    assert(keptNew.size < all.size, "predicate on new spec column pruned nothing")
  }

  test("re-parameterized transform eras never prune a matching file") {
    // bucket(4,id) era then bucket(8,id) era: both eras write derived
    // `id_bucket` directory values — under DIFFERENT moduli. A point
    // lookup derives the CURRENT era's bucket; comparing it against the
    // other era's synthesized stats would be an unsound skip (the
    // derived-stat key must therefore be parameter-qualified).
    val dir = tmpDir("evo-rebucket")
    val t0 = GraftTable.create(dir, nation.schema,
      partitionBy = Seq("bucket(4,n_nationkey)"))
    t0.append(nation.filter(col("n_nationkey") < 12), Some(1000L))
    val t1 = t0.updatePartitionSpec(Seq("bucket(8,n_nationkey)"))
    t1.append(nation.filter(col("n_nationkey") >= 12), Some(2000L))
    // every key must survive a point lookup through manifest pruning
    (0 until 25).foreach { k =>
      val rows = t1.scan(spark, Some(col("n_nationkey") === k))
        .select("n_nationkey").collect().map(_.getInt(0)).toSeq
      assert(rows == Seq(k),
        s"point lookup for key $k returned $rows — era-crossed bucket " +
          "stats pruned a matching file")
    }
    // and truncate width changes behave the same way
    val dir2 = tmpDir("evo-retrunc")
    val s0 = GraftTable.create(dir2, nation.schema,
      partitionBy = Seq("truncate(2,n_name)"))
    s0.append(nation.filter(col("n_nationkey") < 12), Some(1000L))
    val s1 = s0.updatePartitionSpec(Seq("truncate(4,n_name)"))
    s1.append(nation.filter(col("n_nationkey") >= 12), Some(2000L))
    val all = s1.scan(spark,
      Some(col("n_name").startsWith("NATION_1"))).count()
    val expect = nation.filter(col("n_name").startsWith("NATION_1")).count()
    assert(all == expect, s"truncate-era prefix scan lost rows ($all/$expect)")
  }

  test("compact() migrates the whole table to the current spec") {
    val dir = tmpDir("evo-compact")
    val t0 = GraftTable.create(dir, nation.schema)
    // two small files so the repack has something to bin-pack
    t0.append(nation.filter(col("n_nationkey") < 12), Some(1000L))
    t0.append(nation.filter(col("n_nationkey") >= 12), Some(2000L))
    val t1 = t0.updatePartitionSpec(Seq("n_regionkey"))
    assert(t1.compact(spark, smallerThanBytes = 1L << 30, Some(3000L)).isDefined)

    val m = Manifest.read(s"$dir/${t1.log.current.get.manifestList}")
    assert(m.files.nonEmpty &&
      m.files.forall(_.partition.keySet == Set("n_regionkey")),
      "compaction must rewrite every file under the current spec")
    val got = t1.read(spark).drop("snapshot__id")
      .orderBy("n_nationkey").collect().map(_.toSeq)
    val want = nation.orderBy("n_nationkey").collect().map(_.toSeq)
    assert(got.toSeq == want.toSeq)
  }

  test("evolving to unpartitioned and validation of bad specs") {
    val dir = tmpDir("evo-unpart")
    val t0 = GraftTable.create(dir, nation.schema,
      partitionBy = Seq("n_regionkey"))
    t0.append(nation.filter(col("n_nationkey") < 5), Some(1000L))
    val t1 = t0.updatePartitionSpec(Nil)
    t1.append(nation.filter(col("n_nationkey") >= 5), Some(2000L))
    assert(t1.read(spark).count() == nation.count())
    // reload from disk sees the evolved spec
    assert(GraftTable.load(dir).partitionColumns.isEmpty)

    intercept[IllegalArgumentException] {
      t1.updatePartitionSpec(Seq("no_such_column"))
    }
  }

  test("appends through a STALE pre-evolution handle stay readable") {
    // updatePartitionSpec returns a new immutable handle; a writer still
    // holding the old one (the realistic race after a spec change) writes
    // the old layout — the manifest records each file's own spec, so the
    // table stays consistent and both eras read back
    val dir = tmpDir("evo-stale")
    val t0 = GraftTable.create(dir, nation.schema,
      partitionBy = Seq("n_regionkey"))
    val t1 = t0.updatePartitionSpec(Seq("n_nationkey"))
    t1.append(nation.filter(col("n_nationkey") < 12), Some(1000L))
    t0.append(nation.filter(col("n_nationkey") >= 12), Some(2000L)) // stale

    val fresh = GraftTable.load(dir)
    assert(fresh.partitionColumns == Seq("n_nationkey"))
    val got = fresh.read(spark).drop("snapshot__id")
      .orderBy("n_nationkey").collect().map(_.toSeq)
    val want = nation.orderBy("n_nationkey").collect().map(_.toSeq)
    assert(got.toSeq == want.toSeq)
    val specs = Manifest.read(s"$dir/${fresh.log.current.get.manifestList}")
      .files.map(_.partition.keySet).distinct.toSet
    assert(specs == Set(Set("n_regionkey"), Set("n_nationkey")))
  }

  test("SQL spec evolution: ALTER TABLE ADD/DROP/REPLACE PARTITION FIELD + CALL set_partition_spec") {
    val wh = tmpDir("evo-sql-wh")
    // the DDL statements need the parser extension (Spark's grammar has
    // no PARTITION FIELD spelling) — secondary session, never stop()ed
    val sE = org.apache.spark.sql.SparkSession.builder()
      .master("local[4]")
      .withExtensions(new GraftExtensions)
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .create()
    sE.conf.set("spark.sql.catalog.gevo", "graft.table.GraftSparkCatalog")
    sE.conf.set("spark.sql.catalog.gevo.warehouse", wh)
    val t0 = GraftTable.create(s"$wh/db/t", nation.schema)
    t0.append(nation.filter(col("n_nationkey") < 12), Some(1000L))
    // ADD: future writes take the new layout
    val add = sE.sql(
      "ALTER TABLE gevo.db.t ADD PARTITION FIELD n_regionkey").collect()
    assert(add.head.getString(0) == "" &&
      add.head.getString(1) == "n_regionkey", add.mkString(","))
    GraftTable.load(s"$wh/db/t")
      .append(nation.filter(col("n_nationkey") >= 12), Some(2000L))
    // both eras read as one table through the catalog
    assert(sE.sql("SELECT count(*) FROM gevo.db.t").head().getLong(0) ==
      nation.count())
    // REPLACE swaps a field; DROP empties the spec
    val rep = sE.sql("ALTER TABLE gevo.db.t REPLACE PARTITION FIELD " +
      "n_regionkey WITH bucket(4, n_nationkey)").collect()
    assert(rep.head.getString(1) == "bucket(4, n_nationkey)",
      rep.mkString(","))
    val drp = sE.sql("ALTER TABLE gevo.db.t DROP PARTITION FIELD " +
      "bucket(4,  n_nationkey)").collect() // whitespace-insensitive match
    assert(drp.head.getString(1) == "", drp.mkString(","))
    // refusals: unknown field, duplicate add, non-graft statement text
    intercept[Exception] { sE.sql(
      "ALTER TABLE gevo.db.t DROP PARTITION FIELD days(n_name)") }
    sE.sql("ALTER TABLE gevo.db.t ADD PARTITION FIELD n_regionkey").collect()
    intercept[Exception] { sE.sql(
      "ALTER TABLE gevo.db.t ADD PARTITION FIELD n_regionkey") }
    // a genuinely malformed statement still fails with a parse error
    intercept[Exception] { sE.sql("ALTER TABLE gevo.db.t FROBNICATE") }
    // CALL works on the PLAIN session (no parser extension needed)
    spark.conf.set("spark.sql.catalog.gevo", "graft.table.GraftSparkCatalog")
    spark.conf.set("spark.sql.catalog.gevo.warehouse", wh)
    val call = spark.sql("CALL gevo.system.set_partition_spec('db.t', " +
      "'n_regionkey, bucket(4, n_nationkey)')").collect()
    assert(call.head.getString(0) == "n_regionkey" &&
      call.head.getString(1) == "n_regionkey, bucket(4, n_nationkey)",
      call.mkString(","))
    assert(GraftTable.load(s"$wh/db/t").partitionColumns ==
      Seq("n_regionkey", "bucket(4, n_nationkey)"))
  }

  test("write-order DDL: ALTER TABLE WRITE ORDERED BY / DISTRIBUTED BY PARTITION / UNORDERED") {
    val wh = tmpDir("wo-sql-wh")
    val sE = org.apache.spark.sql.SparkSession.builder()
      .master("local[4]")
      .withExtensions(new GraftExtensions)
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .create()
    sE.conf.set("spark.sql.catalog.gwo", "graft.table.GraftSparkCatalog")
    sE.conf.set("spark.sql.catalog.gwo.warehouse", wh)
    val t0 = GraftTable.create(s"$wh/db/t", nation.schema)
    // ORDERED BY round-trips to graft.write.sort, and the NEXT write
    // honors it: files land range-disjoint on the sort prefix
    val ord = sE.sql(
      "ALTER TABLE gwo.db.t WRITE ORDERED BY (n_nationkey)").collect()
    assert(ord.head.getString(0) == "none" &&
      ord.head.getString(1) == "n_nationkey", ord.mkString(","))
    val t1 = GraftTable.load(s"$wh/db/t")
    assert(t1.properties(GraftTable.PropWriteSort) == "n_nationkey")
    t1.append(nation.repartition(4), Some(1000L))
    val files = Manifest.read(
      s"${t1.dir}/${GraftTable.load(t1.dir).log.current.get.manifestList}")
      .files
    val bounds = files.flatMap(f => f.stats.get("n_nationkey")
      .flatMap(s => s.min.zip(s.max))).map { case (lo, hi) =>
      (lo.toLong, hi.toLong) }.sortBy(_._1)
    assert(bounds.size >= 2, s"expected several sorted files: $bounds")
    bounds.sliding(2).foreach { case Seq((_, hi), (lo, _)) =>
      assert(hi <= lo, s"files not range-disjoint: $bounds")
    case _ => () }
    // the combined form sets both levers
    val both = sE.sql("ALTER TABLE gwo.db.t WRITE DISTRIBUTED BY " +
      "PARTITION LOCALLY ORDERED BY n_name").collect()
    assert(both.head.getString(0) == "hash" &&
      both.head.getString(1) == "n_name", both.mkString(","))
    // UNORDERED clears both
    val un = sE.sql("ALTER TABLE gwo.db.t WRITE UNORDERED").collect()
    assert(un.head.getString(0) == "none" && un.head.getString(1) == "",
      un.mkString(","))
    val t2 = GraftTable.load(s"$wh/db/t")
    assert(!t2.properties.contains(GraftTable.PropWriteSort) &&
      !t2.properties.contains(GraftTable.PropWriteDistribution))
    // refusals: DESC modifier, unknown column; malformed text keeps the
    // delegate's parse error
    intercept[Exception] { sE.sql(
      "ALTER TABLE gwo.db.t WRITE ORDERED BY n_nationkey DESC") }
    intercept[Exception] { sE.sql(
      "ALTER TABLE gwo.db.t WRITE ORDERED BY nope") }
    intercept[Exception] { sE.sql("ALTER TABLE gwo.db.t WRITE SIDEWAYS") }
  }

  test("time travel into the pre-evolution era still reads its layout") {
    val dir = tmpDir("evo-tt")
    val t0 = GraftTable.create(dir, nation.schema,
      partitionBy = Seq("n_regionkey"))
    val s1 = t0.append(nation.filter(col("n_nationkey") < 12), Some(1000L))
    val t1 = t0.updatePartitionSpec(Seq("n_nationkey"))
    t1.append(nation.filter(col("n_nationkey") >= 12), Some(2000L))

    val got = t1.read(spark, Some(s1.snapshotId)).drop("snapshot__id")
      .orderBy("n_nationkey").collect().map(_.toSeq)
    val want = nation.filter(col("n_nationkey") < 12)
      .orderBy("n_nationkey").collect().map(_.toSeq)
    assert(got.toSeq == want.toSeq)
  }
}
