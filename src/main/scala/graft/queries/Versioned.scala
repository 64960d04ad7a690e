package graft.queries

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.table.{GraftCatalog, GraftTable}

/** The reference's distinctive surface — snapshot-versioned scans, time
  * travel, and the `__snapshots` system table (SURVEY.md §2.5 V1-V4) —
  * exposed as driver-checkable queries with DuckDB oracles.
  *
  * A deterministic fixture table is built from the (tiny) `region` table:
  * snapshot 1 = one copy of region, snapshot 2 = a second copy appended.
  * Commit timestamps are fixed (1000/2000), so every result is exactly
  * expressible in ANSI SQL over the same source parquet.
  */
object Versioned extends QueryPack {

  /** Load-or-rebuild guard shared by every tmpdir fixture: reuse only an
    * [[intactFixture]]; anything else is torn down and rebuilt. One
    * definition, so fixture hygiene can't drift per site. */
  private[queries] def cachedFixture(
      sfDir: String, name: String, expectedSnapshots: Int)(
      build: String => GraftTable): GraftTable = synchronized {
    val key = sfDir.replaceAll("[^A-Za-z0-9.]", "_")
    val dir = s"${sys.props("java.io.tmpdir")}/graft_fixtures/$key/$name"
    intactFixture(dir, expectedSnapshots).getOrElse {
      GraftTable.deleteRecursively(Paths.get(dir))
      build(dir)
    }
  }

  /** The table at `dir` when a cached fixture there is reusable: this
    * code loads it (a table in an older metadata format refuses), it has
    * the EXPECTED snapshot count, and its data files all still exist (a
    * tmp cleaner can reap aged data files while the newer log JSON
    * survives — a count-only check would then crash mid-scan). */
  private def intactFixture(
      dir: String, expectedSnapshots: Int): Option[GraftTable] =
    if (!GraftTable.exists(dir)) None
    else {
      val tb =
        try GraftTable.load(dir)
        catch { case _: IllegalStateException => return None }
      val intact = tb.log.snapshots.size == expectedSnapshots &&
        tb.log.current.forall(sn =>
          graft.table.Manifest.read(s"$dir/${sn.manifestList}").files
            .forall(f => Files.exists(Paths.get(s"$dir/${f.path}"))))
      if (intact) Some(tb) else None
    }

  /** Build (or reuse) the two-snapshot fixture for `sfDir`; returns table. */
  private def fixture(spark: SparkSession, sfDir: String): GraftTable =
    cachedFixture(sfDir, "region_v", 2) { dir =>
      val region = t(spark, sfDir, "region")
      val tbl = GraftTable.create(dir, region.schema)
      tbl.append(region, committedAt = Some(1000L))
      tbl.append(region, committedAt = Some(2000L))
      tbl
    }

  /** Identity-partitioned fixture: nation partitioned by n_regionkey
    * (5 partitions), one snapshot. Scans with a region predicate read only
    * that partition's files (manifest partition pruning — no listing). */
  private def partFixture(spark: SparkSession, sfDir: String): GraftTable =
    cachedFixture(sfDir, "nation_p", 1) { dir =>
      val nation = t(spark, sfDir, "nation")
      val tbl = GraftTable.create(dir, nation.schema,
        partitionBy = Seq("n_regionkey"))
      tbl.append(nation, committedAt = Some(1000L))
      tbl
    }

  /** VOLUME fixture: the whole lineitem table as an identity-partitioned
    * graft table (ship month, ~83 partitions) — the one v-fixture at DATA
    * scale rather than demo scale, so partition pruning, manifest stats,
    * and scan parity are exercised on real row counts (600k rows at the
    * sf0.01 gate, 6M at the bench SF). Built once per sfDir; Bench's
    * warmup pays the write. */
  private def bigFixture(spark: SparkSession, sfDir: String): GraftTable =
    cachedFixture(sfDir, "lineitem_p", 1) { dir =>
      val li = t(spark, sfDir, "lineitem")
        .withColumn("ship_month", date_format(col("l_shipdate"), "yyyy-MM"))
      val tb = GraftTable.create(dir, li.schema,
        partitionBy = Seq("ship_month"))
      tb.append(li, committedAt = Some(1000L))
      tb
    }

  /** Write–audit–publish fixture: snapshot 1 = region; a branch then
    * stages a shifted copy (+100 keys), the audit step deletes the bad
    * row (key 102) ON THE BRANCH, and publish fast-forwards the audited
    * state into the table as ONE atomic commit (snapshot 2). The fork
    * and the publish are both metadata-only — no data byte is copied at
    * any scale. The branch is dropped after publish (its data dir now
    * belongs to the table's manifests). */
  private def wapFixture(spark: SparkSession, sfDir: String): GraftTable =
    cachedFixture(sfDir, "region_wap", 2) { dir =>
      val region = t(spark, sfDir, "region")
      val tb = GraftTable.create(dir, region.schema)
      tb.append(region, committedAt = Some(1000L))
      val br = tb.createBranch("audit", committedAt = Some(1500L))
      br.append(region.withColumn("r_regionkey", col("r_regionkey") + 100),
        committedAt = Some(2000L))
      br.delete(spark, col("r_regionkey") === 102, committedAt = Some(2500L))
      tb.publishBranch("audit", committedAt = Some(3000L))
      tb.dropBranch("audit")
      tb
    }

  /** Schema-evolution fixture: snapshot 1 = region as-is; then an
    * `r_extra` BIGINT column is added and snapshot 2 appends region again
    * with `r_extra = r_regionkey * 10`. Pre-evolution files read the new
    * column as NULL — no rewrite. */
  private def evoFixture(spark: SparkSession, sfDir: String): GraftTable =
    cachedFixture(sfDir, "region_evo", 2) { dir =>
      val region = t(spark, sfDir, "region")
      val t0 = GraftTable.create(dir, region.schema)
      t0.append(region, committedAt = Some(1000L))
      val t1 = t0.addColumn("r_extra", org.apache.spark.sql.types.LongType)
      t1.append(region.withColumn("r_extra", col("r_regionkey") * 10L),
        committedAt = Some(2000L))
      t1
    }

  /** Partition-spec EVOLUTION fixture (Iceberg's signature metadata-only
    * layout change): snapshot 1 appends nations < 12 under the original
    * `n_regionkey` spec; the spec then evolves to `n_nationkey` and
    * snapshot 2 appends the rest under the NEW layout — no existing byte
    * rewritten. Reads union both eras (per-file spec from the manifest);
    * predicates on either column prune files of both eras. */
  private def evoSpecFixture(spark: SparkSession, sfDir: String): GraftTable =
    cachedFixture(sfDir, "nation_pevo", 2) { dir =>
      val nation = t(spark, sfDir, "nation")
      val t0 = GraftTable.create(dir, nation.schema,
        partitionBy = Seq("n_regionkey"))
      t0.append(nation.filter(col("n_nationkey") < 12), Some(1000L))
      val t1 = t0.updatePartitionSpec(Seq("n_nationkey"))
      t1.append(nation.filter(col("n_nationkey") >= 12), Some(2000L))
      t1
    }

  /** INVERTED-INDEX fixture: the distinct (token, doc_id) posting list
    * of the documents corpus as a GraftTable laid out by
    * `bucket(16, tok)` with hash write distribution — each bucket slice
    * is written by one task and a keyword probe's IN-list prunes to its
    * buckets' files via the manifest (t27). */
  private[queries] def invertedIndexFixture(
      spark: SparkSession, sfDir: String): GraftTable =
    cachedFixture(sfDir, "docs_inv", 3) { dir =>
      val posts = t(spark, sfDir, "documents")
        .select(col("doc_id"),
          explode(array_distinct(graft.functions.TextOps.tokens(col("text"))))
            .as("tok"))
        .select(col("tok"), col("doc_id"))
      val tb = GraftTable.create(dir, posts.schema,
        partitionBy = Seq("bucket(16,tok)"),
        properties = Map(GraftTable.PropWriteDistribution -> "hash"))
      tb.append(posts, committedAt = Some(1000L))
      // corpus-curation maintenance (snapshot 2): deleting a doc from
      // the corpus retracts EVERY posting of the victim with ONE
      // equality tombstone on doc_id — O(deleted docs) metadata against
      // a posting table keyed (tok, doc_id), no slice rewritten, no
      // rebuild (the partial-key equality delete is exactly what a
      // token-exploded index needs: the fan-out stays in the reader).
      // The victim is PLANTED as the smallest doc matching the t27
      // probe terms, so the deletion is observable in the query result
      // at every SF (the natural-victims trap).
      val toks = array_distinct(graft.functions.TextOps.tokens(col("text")))
      val victim = t(spark, sfDir, "documents")
        .select(col("doc_id"), toks.as("tk"))
        .filter(array_contains(col("tk"), "spark") &&
          array_contains(col("tk"), "join"))
        .agg(org.apache.spark.sql.functions.min("doc_id").as("doc_id"))
        .filter(col("doc_id").isNotNull)
      tb.deleteEquality(spark, victim, Seq("doc_id"), Some(2000L)): Unit
      // probe-side debt bound (snapshot 3): a posting index is probed far
      // more often than it is curated, and every probe would otherwise pay
      // the tombstone anti-join (measured t27 0.52→0.69 s after ONE delete
      // window) — fold immediately (row-preserving replace; bucket layout
      // preserved by the partitioned rewrite, so probe pruning is intact)
      tb.foldDeleteDebt(spark, every = 1, Some(3000L)): Unit
      tb
    }

  /** HIDDEN-partitioning fixture: documents laid out by `bucket(8,
    * doc_id)` (xxhash64 mod 8 directory key). Point lookups on doc_id
    * prune to the matching buckets' files — the pruning power footer
    * min/max cannot give for a hash-distributed id — while doc_id stays a
    * normal data column (the layout is invisible to readers). */
  private def bucketFixture(spark: SparkSession, sfDir: String): GraftTable =
    cachedFixture(sfDir, "docs_bucket", 1) { dir =>
      val docs = t(spark, sfDir, "documents")
      val tb = GraftTable.create(dir, docs.schema,
        partitionBy = Seq("bucket(8,doc_id)"))
      tb.append(docs, Some(1000L))
      tb
    }

  /** `days(ts)` hidden-partitioning fixture: the events table laid out in
    * UTC day slices (~30 directories for the Jan-2024 corpus). Time-range
    * predicates on `ts` itself prune to their slice — no materialized
    * date column, the warehouse time-partitioning pattern with the
    * partitioning hidden from readers. */
  private def dayFixture(spark: SparkSession, sfDir: String): GraftTable =
    cachedFixture(sfDir, "events_day", 1) { dir =>
      val ev = eventsTable(spark, sfDir)
      val tb = GraftTable.create(dir, ev.schema, partitionBy = Seq("days(ts)"))
      tb.append(ev, Some(1000L))
      tb
    }

  /** Compaction fixture: two appended copies of region, then the small
    * files bin-packed by a `"replace"` snapshot (snapshot 3). */
  private def compactFixture(spark: SparkSession, sfDir: String): GraftTable =
    cachedFixture(sfDir, "region_c", 3) { dir =>
      val region = t(spark, sfDir, "region")
      val tb = GraftTable.create(dir, region.schema)
      tb.append(region, committedAt = Some(1000L))
      tb.append(region, committedAt = Some(2000L))
      tb.compact(spark, smallerThanBytes = 1L << 30, Some(3000L))
      tb
    }

  /** Copy-on-write-delete fixture: nation appended (snapshot 1), then
    * regions 2 and 4 deleted (snapshot 2, operation "delete"). */
  private def deleteFixture(spark: SparkSession, sfDir: String): GraftTable =
    cachedFixture(sfDir, "nation_del", 2) { dir =>
      val nation = t(spark, sfDir, "nation")
      val tb = GraftTable.create(dir, nation.schema)
      tb.append(nation, committedAt = Some(1000L))
      tb.delete(spark, col("n_regionkey").isin(2, 4), Some(2000L))
      tb
    }

  /** Deferred-delete fixture: nation appended (snapshot 1), regions 2/4
    * DEFERRED-deleted (snapshot 2, metadata-only), then the region-2 rows
    * RE-appended (snapshot 3). The current read must hide the snapshot-1
    * copies but keep the snapshot-3 ones — the predicate is scoped to the
    * files that existed when it committed. */
  private def morFixture(spark: SparkSession, sfDir: String): GraftTable =
    cachedFixture(sfDir, "nation_mor", 3) { dir =>
      val nation = t(spark, sfDir, "nation")
      val tb = GraftTable.create(dir, nation.schema)
      tb.append(nation, committedAt = Some(1000L))
      tb.deleteDeferred(spark, col("n_regionkey").isin(2, 4), Some(2000L))
      tb.append(nation.filter(col("n_regionkey") === 2), committedAt = Some(3000L))
      tb
    }

  /** POSITIONAL-delete fixture: nation appended (snapshot 1), regions
    * 2/4 deleted as POSITIONS (snapshot 2 — no data file touched), the
    * region-2 rows re-appended (snapshot 3 — positions pin exact files,
    * so the new copies live), then the 'A…' nations deleted BY KEY
    * through the curation entry point (snapshot 4). */
  private def posFixture(spark: SparkSession, sfDir: String): GraftTable =
    cachedFixture(sfDir, "nation_posdel", 4) { dir =>
      val nation = t(spark, sfDir, "nation")
      val tb = GraftTable.create(dir, nation.schema)
      tb.append(nation, committedAt = Some(1000L))
      tb.deletePositional(spark, col("n_regionkey").isin(2, 4), Some(2000L))
      tb.append(nation.filter(col("n_regionkey") === 2), committedAt = Some(3000L))
      // key-addressed deletes hit EVERY live copy, old files and the
      // re-append alike
      val keys = nation.filter(col("n_nationkey") % 5 === 1).select("n_nationkey")
      tb.deletePositionalByKeys(spark, keys, Seq("n_nationkey"), Some(4000L))
      tb
    }

  /** POSITIONAL-update fixture: nation appended (snapshot 1), region-3
    * names retagged through the merge-on-read UPDATE (snapshot 2 — old
    * files untouched, superseding rows in a new file), then a key-set
    * deleted positionally (snapshot 3 — hits original AND superseding
    * copies alike). */
  private def posUpdFixture(spark: SparkSession, sfDir: String): GraftTable =
    cachedFixture(sfDir, "nation_posupd", 3) { dir =>
      val nation = t(spark, sfDir, "nation")
      val tb = GraftTable.create(dir, nation.schema)
      tb.append(nation, committedAt = Some(1000L))
      tb.updatePositional(spark, col("n_regionkey") === 3,
        Map("n_name" -> concat(col("n_name"), lit("_X"))), Some(2000L))
      val keys = nation.filter(col("n_nationkey") % 7 === 2).select("n_nationkey")
      tb.deletePositionalByKeys(spark, keys, Seq("n_nationkey"), Some(3000L))
      tb
    }

  /** MERGE-ON-READ upsert fixture: nation appended (snapshot 1), then an
    * upsert batch — region-2 names retagged plus one brand-new key —
    * lands as ONE O(source) commit (appended rows + key tombstone;
    * snapshot 2). */
  private def morMergeFixture(spark: SparkSession, sfDir: String): GraftTable =
    cachedFixture(sfDir, "nation_mormerge", 2) { dir =>
      val nation = t(spark, sfDir, "nation")
      val tb = GraftTable.create(dir, nation.schema)
      tb.append(nation, committedAt = Some(1000L))
      val retag = nation.filter(col("n_regionkey") === 2)
        .withColumn("n_name", concat(col("n_name"), lit("_M")))
      val fresh = spark.range(1).select(
        lit(999L).cast(nation.schema("n_nationkey").dataType).as("n_nationkey"),
        lit("NEWLAND").as("n_name"),
        lit(2L).cast(nation.schema("n_regionkey").dataType).as("n_regionkey"))
      tb.mergeEquality(spark, retag.unionByName(fresh), Seq("n_nationkey"),
        Some(2000L))
      tb
    }

  /** CDC fixture: nation appended (snapshot 1), region-1 names retagged
    * by copy-on-write UPDATE (snapshot 2), then a key set positionally
    * deleted (snapshot 3) — the retraction-carrying change feed over a
    * mixed DML chain. */
  private def cdcFixture(spark: SparkSession, sfDir: String): GraftTable =
    cachedFixture(sfDir, "nation_cdc", 3) { dir =>
      val nation = t(spark, sfDir, "nation")
      val tb = GraftTable.create(dir, nation.schema)
      tb.append(nation, committedAt = Some(1000L))
      tb.update(spark, col("n_regionkey") === 1,
        Map("n_name" -> concat(col("n_name"), lit("_U"))), Some(2000L))
      val keys = nation.filter(col("n_nationkey") % 4 === 1).select("n_nationkey")
      tb.deletePositionalByKeys(spark, keys, Seq("n_nationkey"), Some(3000L))
      tb
    }

  /** Retraction-aware streaming-aggregate fixture (st10): a grouped
    * COUNT/SUM aggregate table maintained from the source's CDC feed
    * through a mixed DML chain (append → CoW name retag, whose
    * retract+insert delta nets to ZERO on these measures — the fold must
    * handle it — → positional key delete), applied batch-per-snapshot
    * via [[graft.table.GraftCdcAggregate.applyBatch]] exactly like the
    * foreachBatch stream (same contract, deterministic replay). */
  private def cdcAggFixture(spark: SparkSession, sfDir: String): GraftTable =
    cachedFixture(sfDir, "nation_stagg", 4) { dir =>
      val nation = t(spark, sfDir, "nation")
      val srcDir = s"${dir}__src"
      if (Files.exists(Paths.get(srcDir)))
        GraftTable.deleteRecursively(Paths.get(srcDir))
      val src = GraftTable.create(srcDir, nation.schema)
      src.append(nation, committedAt = Some(1000L))
      src.update(spark, col("n_regionkey") === 1,
        Map("n_name" -> concat(col("n_name"), lit("_U"))), Some(2000L))
      src.deletePositionalByKeys(spark,
        nation.filter(col("n_nationkey") % 4 === 1).select("n_nationkey"),
        Seq("n_nationkey"), Some(3000L))
      val aggSchema = org.apache.spark.sql.types.StructType(Seq(
        nation.schema("n_regionkey"),
        org.apache.spark.sql.types.StructField("cnt",
          org.apache.spark.sql.types.LongType, nullable = false),
        org.apache.spark.sql.types.StructField("sum_key",
          org.apache.spark.sql.types.LongType, nullable = false)))
      val agg = GraftTable.create(dir, aggSchema)
      val apply = graft.table.GraftCdcAggregate.applyBatch(agg,
        Seq("n_regionkey"), Seq("n_nationkey" -> "sum_key"), "st10") _
      apply(src.changesCdc(spark, 0L, Some(1L)), 0L)
      apply(src.changesCdc(spark, 1L, Some(2L)), 1L)
      apply(src.changesCdc(spark, 2L, Some(3L)), 2L)
      agg
    }

  /** CoW-on-equality fixture (v63): copy-on-write DML stacked on a
    * PENDING equality tombstone — the full matrix's last composition.
    * Equality kills every third key (snapshot 2, O(keys), no scan); a
    * CoW UPDATE then retags region 2 (snapshot 3 — its rewrite reads
    * VISIBLE rows only, materializing the tombstone for its files,
    * never resurrecting a dead key; touched entries degrade their dead
    * counts, honest over exact); a CoW DELETE removes %5=4 from the
    * stacked state (snapshot 4). */
  private def cowEqFixture(spark: SparkSession, sfDir: String): GraftTable =
    cachedFixture(sfDir, "nation_coweq", 4) { dir =>
      val nation = t(spark, sfDir, "nation")
      val tb = GraftTable.create(dir, nation.schema)
      tb.append(nation, committedAt = Some(1000L))
      tb.deleteEquality(spark,
        nation.filter(col("n_nationkey") % 3 === 0).select("n_nationkey"),
        Seq("n_nationkey"), Some(2000L))
      tb.update(spark, col("n_regionkey") === 2,
        Map("n_name" -> concat(col("n_name"), lit("_C"))), Some(3000L))
      tb.delete(spark, col("n_nationkey") % 5 === 4, Some(4000L))
      tb
    }

  /** FULL-TRIAD merge-on-read fixture (v64): all THREE deferred delete
    * forms pending on one table at once — the completed MoR matrix.
    * A predicate-deferred retention rule lands first (snapshot 2,
    * O(1) commit: region 4 expires), a positional curation job stacks
    * on it (snapshot 3 — victims are predicate-VISIBLE rows only, so
    * an already-expired row is never re-vectored), a CDC equality
    * upsert stacks on both (snapshot 4 — retags region 3, inserts key
    * 997), and a SECOND predicate rule lands on the whole stack
    * (snapshot 5 — covering the upsert's fresh file too). No compact()
    * anywhere; one read plan resolves covering predicate filters, the
    * in-reader DV filter and the scoped key anti-join, and
    * `totalRecords − pred − dv − eq` stays metadata-exact throughout. */
  private def morTriadFixture(spark: SparkSession, sfDir: String): GraftTable =
    cachedFixture(sfDir, "nation_triad", 5) { dir =>
      val nation = t(spark, sfDir, "nation")
      val tb = GraftTable.create(dir, nation.schema)
      tb.append(nation, committedAt = Some(1000L))
      tb.deleteDeferred(spark, col("n_regionkey") === 4, Some(2000L))
      tb.deletePositional(spark, col("n_nationkey") % 5 === 1, Some(3000L))
      val retag = nation
        .filter(col("n_regionkey") === 3 && col("n_nationkey") % 5 =!= 1)
        .withColumn("n_name", concat(col("n_name"), lit("_T")))
      val fresh = spark.range(1).select(
        lit(997L).cast(nation.schema("n_nationkey").dataType)
          .as("n_nationkey"),
        lit("TRIAD").as("n_name"),
        lit(3L).cast(nation.schema("n_regionkey").dataType)
          .as("n_regionkey"))
      tb.mergeEquality(spark, retag.unionByName(fresh), Seq("n_nationkey"),
        Some(4000L))
      tb.deleteDeferred(spark, col("n_nationkey") % 7 === 6, Some(5000L))
      tb
    }

  /** Column-DEFAULT fixture (v65, Iceberg v3 initial/write-default
    * parity): nation lands (snapshot 1), `n_tier` is added with DEFAULT
    * 'standard' (metadata-only — pre-add rows READ the default, no
    * rewrite), a batch with explicit tiers appends (snapshot 2), and a
    * batch LACKING the column appends (snapshot 3 — the write default
    * fills it). One read serves all three eras. */
  private def defaultColFixture(spark: SparkSession, sfDir: String): GraftTable =
    cachedFixture(sfDir, "nation_default", 3) { dir =>
      val nation = t(spark, sfDir, "nation")
      val tb0 = GraftTable.create(dir, nation.schema)
      tb0.append(nation, committedAt = Some(1000L))
      val tb = tb0.addColumn("n_tier",
        org.apache.spark.sql.types.StringType, Some("'standard'"))
      tb.append(nation.filter(col("n_regionkey") === 0)
        .withColumn("n_nationkey", col("n_nationkey") + lit(100))
        .withColumn("n_tier", lit("premium")), Some(2000L))
      tb.append(nation.filter(col("n_regionkey") === 1)
        .withColumn("n_nationkey", col("n_nationkey") + lit(200)),
        Some(3000L))
      tb
    }

  /** ROW-LINEAGE fixture (v67, Iceberg v3 row-lineage parity): nation
    * lands with `graft.row-lineage = true` (snapshot 1 — each row's
    * `_row_id` = its band position, here equal to n_nationkey since the
    * input file is key-ordered), a CoW UPDATE retags region 2 (snapshot
    * 2 — ids PRESERVED through the rewrite via the materialized carry
    * columns; only modified rows bump `_last_updated_snapshot_id`), and
    * a full compaction repacks everything (snapshot 3 — identity
    * preserving: both lineage columns ride through unchanged). */
  private def rowLineageFixture(spark: SparkSession, sfDir: String): GraftTable =
    cachedFixture(sfDir, "nation_lineage", 3) { dir =>
      val nation = t(spark, sfDir, "nation")
      val tb = GraftTable.create(dir, nation.schema,
        properties = Map(GraftTable.PropRowLineage -> "true"))
      tb.append(nation, committedAt = Some(1000L))
      tb.update(spark, col("n_regionkey") === 2,
        Map("n_name" -> concat(col("n_name"), lit("_L"))), Some(2000L))
      tb.compact(spark, smallerThanBytes = Long.MaxValue, Some(3000L))
      tb
    }

  /** CHERRY-PICK fixture (v72): a batch append discarded by a rollback
    * comes back via `cherrypick` — same files, same row-id bands, no
    * write replay. nation is key-ordered with consecutive keys 0..24
    * and each append lands one band in input order, so after the pick
    * `_row_id == n_nationkey` for EVERY row and
    * `_last_updated_snapshot_id` still attributes each row to its
    * ORIGINAL committing snapshot (the re-added file keeps its name,
    * its band, and its era) — all oracle-provable from the raw table. */
  private def cherryFixture(spark: SparkSession, sfDir: String): GraftTable =
    cachedFixture(sfDir, "nation_cherry", 4) { dir =>
      val nation = t(spark, sfDir, "nation")
      val tb = GraftTable.create(dir, nation.schema)
      tb.append(nation.filter(col("n_nationkey") < 15), Some(1000L))
      val batch = tb.append(
        nation.filter(col("n_nationkey") >= 15), Some(2000L))
      tb.rollbackTo(1L, Some(3000L))
      tb.cherrypick(batch.snapshotId, Some(4000L))
      tb
    }

  /** DYNAMIC-OVERWRITE fixture (v73): nation identity-partitioned by
    * n_regionkey (5 slices), then ONE dynamic-partition overwrite whose
    * source holds recoded rows of regions 1 and 3 only — exactly those
    * two slices are replaced (metadata-only drops: the summary's
    * rewritten-data-files is baked into the result so the oracle hash
    * PROVES no untouched file was rewritten), regions 0/2/4 carry by
    * ref. The daily-ETL `INSERT OVERWRITE` spelling under
    * partitionOverwriteMode=dynamic. */
  private def dynOvrFixture(spark: SparkSession, sfDir: String): GraftTable =
    cachedFixture(sfDir, "nation_dynovr", 2) { dir =>
      val nation = t(spark, sfDir, "nation")
      val tb = GraftTable.create(dir, nation.schema,
        partitionBy = Seq("n_regionkey"))
      tb.append(nation, committedAt = Some(1000L))
      tb.overwritePartitionsDynamic(spark,
        nation.filter(col("n_regionkey").isin(1, 3))
          .withColumn("n_nationkey", col("n_nationkey") + lit(100))
          .withColumn("n_name", concat(col("n_name"), lit("_R"))),
        Some(2000L))
      tb
    }

  /** WAREHOUSE-TRANSACTION fixture (v71): a corpus table and its
    * derived per-region index refreshed in ONE atomic transaction —
    * the cross-table consistency event a materialized-index pipeline
    * needs. Snapshot 1 on both: the `n_nationkey < 15` slice + its
    * per-region counts. Then `GraftCatalog.transact`: the `>= 15`
    * slice appends to the corpus AND its count delta appends to the
    * index; MID-transaction, the build probes the PUBLISHED tables and
    * bakes the observations into the committed index rows
    * (`mid_corpus_rows` = published corpus rows while staged,
    * `mid_index_snaps` = published index snapshot count) — the oracle
    * hash then PROVES a reader between stage and publish saw neither
    * staged commit. */
  private def txnFixture(
      spark: SparkSession, sfDir: String): (GraftTable, GraftTable) =
    synchronized {
      val key = sfDir.replaceAll("[^A-Za-z0-9.]", "_")
      val wh = s"${sys.props("java.io.tmpdir")}/graft_fixtures/$key/txnwh"
      val cDir = s"$wh/db/corpus_tx"
      val iDir = s"$wh/db/index_tx"
      (intactFixture(cDir, 2), intactFixture(iDir, 2)) match {
        case (Some(c), Some(i)) => return (c, i)
        case _ => GraftTable.deleteRecursively(Paths.get(wh))
      }
      val nation = t(spark, sfDir, "nation")
      val cat = new GraftCatalog(wh)
      val corpus = cat.createTable("db.corpus_tx", nation.schema)
      corpus.append(nation.filter(col("n_nationkey") < 15), Some(1000L))
      def counts(pred: org.apache.spark.sql.Column, phase: Int,
          midRows: Long, midSnaps: Long): DataFrame =
        nation.filter(pred).groupBy("n_regionkey")
          .agg(count(lit(1)).as("cnt"))
          .withColumn("phase", lit(phase))
          .withColumn("mid_corpus_rows", lit(midRows))
          .withColumn("mid_index_snaps", lit(midSnaps))
      val index = cat.createTable("db.index_tx",
        counts(lit(true), 1, -1L, -1L).schema)
      index.append(counts(col("n_nationkey") < 15, 1, -1L, -1L), Some(1000L))
      cat.transact { txn =>
        txn.tableAt(cDir)
          .append(nation.filter(col("n_nationkey") >= 15), Some(2000L))
        // the staged corpus commit must be INVISIBLE on the published
        // name right now — bake the proof into the index refresh
        val midRows = GraftTable.load(cDir).read(spark).count()
        val midSnaps = GraftTable.load(iDir).log.snapshots.size.toLong
        txn.tableAt(iDir).append(
          counts(col("n_nationkey") >= 15, 2, midRows, midSnaps),
          Some(2000L))
      }
      (GraftTable.load(cDir), GraftTable.load(iDir))
    }

  /** REGISTER-TABLE fixture (v70, Iceberg register_table parity): a
    * graft table built OUTSIDE any warehouse (the relocated/restored
    * case) is catalog-registered by the `register_table` procedure —
    * a symbolic link at `<wh>/db/<name>`, never a copy — and then
    * served through the catalog name like any native table. The CALL
    * is guarded for repeat runs (Verify reruns, Bench reps): an
    * already-registered name is left alone. */
  private def registerFixture(spark: SparkSession, sfDir: String): GraftTable =
    cachedFixture(sfDir, "relocated/nation_moved", 1) { dir =>
      val nation = t(spark, sfDir, "nation")
      val tb = GraftTable.create(dir, nation.schema)
      tb.append(nation, committedAt = Some(1000L))
      tb
    }

  /** ROW-ID-CARRYING CHANGELOG fixture (v69, Iceberg v3 changelog
    * identity): nation under `graft.row-lineage = true` — snapshot 1
    * appends (each row's `_row_id` = n_nationkey, key-ordered single
    * input file), snapshot 2 CoW-updates region 2's names (ids carried
    * through the rewrite; only modified rows bump the version), and
    * snapshot 3 CoW-deletes `n_nationkey % 6 = 3`. The `__changes`
    * batch relation then serves every delta row WITH
    * `_row_id`/`_last_updated_snapshot_id`: the update nets to (same
    * `_row_id`, old seq) delete + (same `_row_id`, new seq) insert —
    * stable identity, never an unrelated retract+insert pair. */
  private def cdcLineageFixture(spark: SparkSession, sfDir: String): GraftTable =
    cachedFixture(sfDir, "db/nation_cdclin", 3) { dir =>
      val nation = t(spark, sfDir, "nation")
      val tb = GraftTable.create(dir, nation.schema,
        properties = Map(GraftTable.PropRowLineage -> "true"))
      tb.append(nation, committedAt = Some(1000L))
      tb.update(spark, col("n_regionkey") === 2,
        Map("n_name" -> concat(col("n_name"), lit("_L9"))), Some(2000L))
      tb.delete(spark, col("n_nationkey") % 6 === 3, Some(3000L))
      tb
    }

  /** VARIANT-column fixture (v68, Iceberg v3 VARIANT parity): the
    * events table's per-event JSON payload lands as a native
    * `VariantType` column (`parse_json` at ingest — binary-encoded
    * variant in the data files, not text), then a CoW DELETE whose
    * predicate reads a `variant_get` path rewrites the affected files —
    * the variant bytes round-trip through readVisible + the parquet
    * writer. Stats stance: parquet stores variant as a value/metadata
    * binary group, so files carry NO footer bounds for the column —
    * stats harvesting skips it (ParquetStats keeps top-level primitives
    * only) and every pruning/proof walk stays conservative on variant
    * predicates (sound keeps, like binary; the delete rewrites rather
    * than proving whole-file drops). */
  private def variantFixture(spark: SparkSession, sfDir: String): GraftTable =
    cachedFixture(sfDir, "events_variant", 2) { dir =>
      val ev = t(spark, sfDir, "events").select(
        col("event_id"),
        parse_json(to_json(struct(
          get_json_object(col("props"), "$.k").cast("int").as("k"),
          col("event_type").as("ty"),
          col("user_id").as("u")))).as("meta"))
      val tb = GraftTable.create(dir, ev.schema)
      tb.append(ev, committedAt = Some(1000L))
      tb.delete(spark,
        variant_get(col("meta"), "$.k", "int") < 10, Some(2000L))
      tb
    }

  /** write.format fixture (v62): snapshot 1 lands as parquet, then the
    * table switches `write.format=orc` and a CoW UPDATE rewrites region
    * 2's file IN ORC — a mixed parquet+ORC table whose one scan
    * dispatches per file (the v18 avro-mixing shape, now property-driven
    * for whole-estate format continuity under DML). */
  private def orcFormatFixture(spark: SparkSession, sfDir: String): GraftTable =
    cachedFixture(sfDir, "region_orcfmt", 2) { dir =>
      val region = t(spark, sfDir, "region")
      val t1 = GraftTable.create(dir, region.schema)
      t1.append(region, committedAt = Some(1000L))
      val t2 = t1.updateProperties(
        Map(GraftTable.PropWriteFormat -> "orc"))
      t2.update(spark, col("r_regionkey") === 2,
        Map("r_name" -> concat(col("r_name"), lit("_O"))), Some(2000L))
      t2
    }

  /** Batch-changelog fixture (v60): the cdcFixture chain — append, CoW
    * region-1 retag, positional key delete — laid out under `db/` so the
    * DSv2 catalog serves its `__changes` BATCH surface by name. */
  private def changelogFixture(spark: SparkSession, sfDir: String): GraftTable =
    cachedFixture(sfDir, "db/changelog_nation", 3) { dir =>
      val nation = t(spark, sfDir, "nation")
      val tb = GraftTable.create(dir, nation.schema)
      tb.append(nation, committedAt = Some(1000L))
      tb.update(spark, col("n_regionkey") === 1,
        Map("n_name" -> concat(col("n_name"), lit("_U"))), Some(2000L))
      val keys = nation.filter(col("n_nationkey") % 4 === 1).select("n_nationkey")
      tb.deletePositionalByKeys(spark, keys, Seq("n_nationkey"), Some(3000L))
      tb
    }

  /** Snapshot-procedure fixture (v61): a FOREIGN Hive-partitioned
    * parquet dump of nation (plain `write.partitionBy`, no graft
    * anywhere), turned into a zero-copy shadow graft table by
    * `CALL system.snapshot` — schema from footers, the partition
    * directory becomes an identity partition field, files hard-link.
    * The source dump is never touched. */
  private def snapshotBootFixture(
      spark: SparkSession, sfDir: String): GraftTable =
    cachedFixture(sfDir, "db/boot_nation", 1) { dir =>
      val src = s"${dir}__src"
      t(spark, sfDir, "nation")
        .write.partitionBy("n_regionkey").mode("overwrite").parquet(src)
      val wh = Paths.get(dir).getParent.getParent.toString
      spark.conf.set("spark.sql.catalog.g61boot", "graft.table.GraftSparkCatalog")
      spark.conf.set("spark.sql.catalog.g61boot.warehouse", wh)
      spark.sql(
        s"CALL g61boot.system.snapshot('$src', 'db.boot_nation')").collect()
      GraftTable.load(dir)
    }

  /** EQUALITY-delete fixture: nation appended (snapshot 1), every third
    * nationkey equality-deleted (snapshot 2 — an O(keys) commit, no scan,
    * no data file touched), then a subset of the SAME keys re-appended
    * (snapshot 3 — entries are snapshot-scoped, so the new copies live). */
  private def eqFixture(spark: SparkSession, sfDir: String): GraftTable =
    cachedFixture(sfDir, "nation_eqdel", 3) { dir =>
      val nation = t(spark, sfDir, "nation")
      val tb = GraftTable.create(dir, nation.schema)
      tb.append(nation, committedAt = Some(1000L))
      tb.deleteEquality(spark,
        nation.filter(col("n_nationkey") % 3 === 0).select("n_nationkey"),
        Seq("n_nationkey"), Some(2000L))
      tb.append(nation.filter(col("n_nationkey") % 6 === 0),
        committedAt = Some(3000L))
      tb
    }

  /** COMPOSED merge-on-read fixture (v59): positional and equality
    * entries STACKING on one table — the pipeline where a curation job
    * (deletion vectors) and a CDC equality-upsert mirror share a corpus
    * table with no compact() between them. Deletion vectors land first
    * (snapshot 2), an equality upsert stacks on the DV-pending table
    * (snapshot 3 — retags region 3, inserts key 998), then a second
    * positional key-delete stacks on both (snapshot 4 — hits surviving
    * originals AND the upsert's superseding copies; victims are always
    * FULLY VISIBLE rows, so the forms' dead sets stay disjoint and
    * counts exact). Reads resolve DV filter + scoped key anti-joins in
    * one plan. */
  private def morCompFixture(spark: SparkSession, sfDir: String): GraftTable =
    cachedFixture(sfDir, "nation_morcomp", 4) { dir =>
      val nation = t(spark, sfDir, "nation")
      val tb = GraftTable.create(dir, nation.schema)
      tb.append(nation, committedAt = Some(1000L))
      tb.deletePositional(spark, col("n_nationkey") % 5 === 1, Some(2000L))
      val retag = nation
        .filter(col("n_regionkey") === 3 && col("n_nationkey") % 5 =!= 1)
        .withColumn("n_name", concat(col("n_name"), lit("_E")))
      val fresh = spark.range(1).select(
        lit(998L).cast(nation.schema("n_nationkey").dataType)
          .as("n_nationkey"),
        lit("COMPOSED").as("n_name"),
        lit(3L).cast(nation.schema("n_regionkey").dataType)
          .as("n_regionkey"))
      tb.mergeEquality(spark, retag.unionByName(fresh), Seq("n_nationkey"),
        Some(3000L))
      tb.deletePositionalByKeys(spark,
        nation.filter(col("n_nationkey") % 7 === 2).select("n_nationkey"),
        Seq("n_nationkey"), Some(4000L))
      tb
    }

  /** Dedup-driven merge-on-read fixture: the documents corpus plus a
    * planted second copy of the low-id docs (snapshot 1/2), then the
    * keep-first exact-dedup LOSERS deleted as positions by key
    * (snapshot 3) — the 100 TB curation shape: identify victim rows
    * with a dedup job, delete them without rewriting a data file. */
  private def dedupMorFixture(spark: SparkSession, sfDir: String): GraftTable =
    cachedFixture(sfDir, "docs_mor", 3) { dir =>
      val docs = t(spark, sfDir, "documents")
        .select("doc_id", "text", "lang", "source", "n_chars")
      val tb = GraftTable.create(dir, docs.schema)
      tb.append(docs, committedAt = Some(1000L))
      tb.append(docs.filter(col("doc_id") < 50)
        .withColumn("doc_id", col("doc_id") + lit(1000000L)),
        committedAt = Some(2000L))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("text")).orderBy(col("doc_id"))
      val losers = tb.read(spark)
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") > 1).select("doc_id")
      tb.deletePositionalByKeys(spark, losers, Seq("doc_id"), Some(3000L))
      tb
    }

  /** Bloom-lookup fixture: nation appended TWICE with fully-overlapping
    * n_nationkey ranges (evens, then odds) and `graft.bloom.columns` on
    * the key — min/max can never separate the files, so a point lookup
    * exercises the manifest-bloom skip path under the oracle gate (an
    * unsound bloom that skipped a matching file would change results). */
  private def bloomFixture(spark: SparkSession, sfDir: String): GraftTable =
    cachedFixture(sfDir, "nation_bloom", 2) { dir =>
      val nation = t(spark, sfDir, "nation")
      val tb = GraftTable.create(dir, nation.schema,
        properties = Map(GraftTable.PropBloomColumns -> "n_nationkey,n_name"))
      tb.append(nation.filter(col("n_nationkey") % 2 === 0), Some(1000L))
      tb.append(nation.filter(col("n_nationkey") % 2 === 1), Some(2000L))
      tb
    }

  /** Session with [[graft.table.GraftExtensions]] for the SQL-DML fixture:
    * the analyzer rule routing UPDATE/MERGE INTO needs the extensions, and
    * some callers (plan-audit specs) run query closures on a session built
    * without them. One cached secondary session on the same SparkContext;
    * never stopped (it shares the context with every other session). */
  @volatile private var dmlSessionCache: SparkSession = _
  private def dmlSession(base: SparkSession): SparkSession = synchronized {
    if (dmlSessionCache == null) {
      dmlSessionCache = SparkSession.builder()
        .master(base.sparkContext.master)
        .withExtensions(new graft.table.GraftExtensions)
        .config("spark.sql.shuffle.partitions",
          base.conf.get("spark.sql.shuffle.partitions"))
        .config("spark.sql.session.timeZone", "UTC")
        .create()
    }
    dmlSessionCache
  }

  /** Three-snapshot fixture driven entirely through SQL DML on the DSv2
    * catalog: append nation, `UPDATE … WHERE n_regionkey = 0`, then the
    * canonical `MERGE INTO … SET * / INSERT *` upsert (keys ≤ 1 renamed,
    * keys +990 inserted) — the statements land on [[GraftTable.update]] /
    * [[GraftTable.merge]] via [[graft.table.ResolveGraftDml]]. */
  private def sqlDmlFixture(spark: SparkSession, sfDir: String): GraftTable =
    cachedFixture(sfDir, "db/nation_sqldml", 3) { dir =>
      val s2 = dmlSession(spark)
      val nation = t(s2, sfDir, "nation")
      val tb = GraftTable.create(dir, nation.schema)
      tb.append(nation, committedAt = Some(1000L))
      val wh = Paths.get(dir).getParent.getParent.toString
      s2.conf.set("spark.sql.catalog.g34", "graft.table.GraftSparkCatalog")
      s2.conf.set("spark.sql.catalog.g34.warehouse", wh)
      s2.sql("UPDATE g34.db.nation_sqldml " +
        "SET n_name = concat('U-', n_name) WHERE n_regionkey = 0")
      val keyType = nation.schema("n_nationkey").dataType
      nation.filter(col("n_nationkey") <= 1)
        .withColumn("n_name", concat(lit("M-"), col("n_name")))
        .unionByName(nation.filter(col("n_nationkey") <= 1)
          .withColumn("n_nationkey", (col("n_nationkey") + 990).cast(keyType))
          .withColumn("n_name", lit("NEWLAND")))
        .createOrReplaceTempView("nation_sqldml_src")
      s2.sql("MERGE INTO g34.db.nation_sqldml t USING nation_sqldml_src s " +
        "ON t.n_nationkey = s.n_nationkey " +
        "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *")
      tb
    }

  /** SQL-VIEW fixture (v66, Iceberg view parity): nation lands as a
    * catalog table (snapshot 1), then `CREATE VIEW` stores a per-region
    * aggregate as versioned view metadata in the warehouse — TEXT, not a
    * materialization: the read side re-plans the stored SQL against the
    * then-current table state ([[graft.table.GraftViews]]). */
  private def viewFixture(spark: SparkSession, sfDir: String): GraftTable =
    cachedFixture(sfDir, "db/nation_vw", 1) { dir =>
      val s2 = dmlSession(spark)
      val nation = t(s2, sfDir, "nation")
      val tb = GraftTable.create(dir, nation.schema)
      tb.append(nation, committedAt = Some(1000L))
      val wh = Paths.get(dir).getParent.getParent.toString
      s2.conf.set("spark.sql.catalog.g66", "graft.table.GraftSparkCatalog")
      s2.conf.set("spark.sql.catalog.g66.warehouse", wh)
      s2.sql("CREATE OR REPLACE VIEW g66.db.nation_vw_agg AS " +
        "SELECT n_regionkey, count(*) AS n_nations, " +
        "min(n_name) AS first_name " +
        "FROM g66.db.nation_vw GROUP BY n_regionkey")
      tb
    }

  /** CDC-apply fixture: ONE conditional-action SQL MERGE (the idiom a CDC
    * consumer writes) — `WHEN MATCHED AND s.op = 'D' THEN DELETE`, a
    * conditional partial UPDATE whose value references the TARGET row,
    * and a conditional INSERT that skips delete events for absent keys —
    * routed to the general copy-on-write [[GraftTable.mergeActions]]
    * rewrite in one atomic snapshot. Victims are planted: keys %5==0
    * deleted, keys 1-2 renamed in place, keys 991-992 inserted, and a
    * delete event for the absent key 993 no-ops. */
  private def sqlCdcFixture(spark: SparkSession, sfDir: String): GraftTable =
    cachedFixture(sfDir, "db/nation_cdc", 2) { dir =>
      val s2 = dmlSession(spark)
      val nation = t(s2, sfDir, "nation")
      val tb = GraftTable.create(dir, nation.schema)
      tb.append(nation, committedAt = Some(1000L))
      val wh = Paths.get(dir).getParent.getParent.toString
      s2.conf.set("spark.sql.catalog.g39", "graft.table.GraftSparkCatalog")
      s2.conf.set("spark.sql.catalog.g39.warehouse", wh)
      val keyType = nation.schema("n_nationkey").dataType
      nation.filter(col("n_nationkey") % 5 === 0).withColumn("op", lit("D"))
        .unionByName(nation
          .filter(col("n_nationkey") <= 2 && col("n_nationkey") % 5 =!= 0)
          .withColumn("op", lit("U")))
        .unionByName(nation.filter(col("n_nationkey").isin(1, 2))
          .withColumn("n_nationkey", (col("n_nationkey") + 990).cast(keyType))
          .withColumn("n_name", concat(lit("NEW-"), col("n_name")))
          .withColumn("op", lit("U")))
        .unionByName(nation.filter(col("n_nationkey") === 1)
          .withColumn("n_nationkey", (col("n_nationkey") + 992).cast(keyType))
          .withColumn("op", lit("D")))
        .createOrReplaceTempView("nation_cdc_src")
      s2.sql("MERGE INTO g39.db.nation_cdc t USING nation_cdc_src s " +
        "ON t.n_nationkey = s.n_nationkey " +
        "WHEN MATCHED AND s.op = 'D' THEN DELETE " +
        "WHEN MATCHED THEN UPDATE SET n_name = concat('C-', t.n_name) " +
        "WHEN NOT MATCHED AND s.op <> 'D' THEN INSERT " +
        "(n_nationkey, n_name, n_regionkey) " +
        "VALUES (s.n_nationkey, s.n_name, s.n_regionkey)")
      tb
    }

  /** Merge-on-read SQL ROUTING fixture: `write.update.mode` and
    * `write.delete.mode` = merge-on-read make plain SQL UPDATE/DELETE
    * statements commit positional deltas (v30/v28 library paths) instead
    * of copy-on-write rewrites — asserted here by the base data files
    * surviving in the final manifest untouched. */
  private def sqlMorRouteFixture(spark: SparkSession, sfDir: String): GraftTable =
    cachedFixture(sfDir, "db/nation_morroute", 3) { dir =>
      val s2 = dmlSession(spark)
      val nation = t(s2, sfDir, "nation")
      val tb = GraftTable.create(dir, nation.schema, properties = Map(
        "write.update.mode" -> "merge-on-read",
        "write.delete.mode" -> "merge-on-read"))
      tb.append(nation, committedAt = Some(1000L))
      val baseFiles = graft.table.Manifest
        .read(s"$dir/${tb.log.current.get.manifestList}").files.map(_.path).toSet
      val wh = Paths.get(dir).getParent.getParent.toString
      s2.conf.set("spark.sql.catalog.g40", "graft.table.GraftSparkCatalog")
      s2.conf.set("spark.sql.catalog.g40.warehouse", wh)
      s2.sql("UPDATE g40.db.nation_morroute " +
        "SET n_name = concat('P-', n_name) WHERE n_regionkey = 1")
      s2.sql("DELETE FROM g40.db.nation_morroute WHERE n_nationkey % 7 = 3")
      val t2 = GraftTable.load(dir)
      require(t2.positionalDeletes.nonEmpty,
        "SQL UPDATE/DELETE did not take the positional merge-on-read path")
      val live = graft.table.Manifest
        .read(s"$dir/${t2.log.current.get.manifestList}").files.map(_.path).toSet
      require(baseFiles.subsetOf(live),
        "merge-on-read SQL DML rewrote base data files")
      t2
    }

  /** CDC REPLICATION fixture — the full chain the round's DML surface
    * exists for: an upstream table takes DML (CoW update + positional
    * key delete, the v32 fixture), its [[GraftTable.changesCdc]] feed is
    * NETTED per key (last change wins; an update's retract+insert pair
    * nets to the new row), and the net batch is applied to a replica
    * seeded from upstream snapshot 1 with ONE conditional-action SQL
    * MERGE (`WHEN MATCHED AND _change_type='delete' THEN DELETE …`).
    * The fixture asserts replica ≡ upstream current state both ways. */
  private def cdcReplicationFixture(
      spark: SparkSession, sfDir: String): GraftTable =
    cachedFixture(sfDir, "db/nation_cdcrep", 2) { dir =>
      val s2 = dmlSession(spark)
      val up = cdcFixture(s2, sfDir)
      val cols = Seq("n_nationkey", "n_name", "n_regionkey")
      val tb = GraftTable.create(dir,
        org.apache.spark.sql.types.StructType(up.schema.fields))
      tb.append(up.read(s2, Some(1L)).select(cols.map(col): _*), Some(1000L))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("n_nationkey"))
        .orderBy(col("snapshot__id").desc, col("_change_type").desc)
      up.changesCdc(s2, fromSnapshotId = 1L)
        .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
        .select(col("n_nationkey"), col("n_name"), col("n_regionkey"),
          col("_change_type"))
        .createOrReplaceTempView("nation_cdcrep_feed")
      val wh = Paths.get(dir).getParent.getParent.toString
      s2.conf.set("spark.sql.catalog.g42", "graft.table.GraftSparkCatalog")
      s2.conf.set("spark.sql.catalog.g42.warehouse", wh)
      s2.sql("MERGE INTO g42.db.nation_cdcrep t USING nation_cdcrep_feed s " +
        "ON t.n_nationkey = s.n_nationkey " +
        "WHEN MATCHED AND s._change_type = 'delete' THEN DELETE " +
        "WHEN MATCHED THEN UPDATE SET n_name = s.n_name, " +
        "n_regionkey = s.n_regionkey " +
        "WHEN NOT MATCHED AND s._change_type <> 'delete' THEN INSERT " +
        "(n_nationkey, n_name, n_regionkey) " +
        "VALUES (s.n_nationkey, s.n_name, s.n_regionkey)")
      val replica = tb.read(s2).select(cols.map(col): _*)
      val upstream = up.read(s2).select(cols.map(col): _*)
      require(replica.exceptAll(upstream).isEmpty &&
        upstream.exceptAll(replica).isEmpty,
        "CDC replication drifted from the upstream state")
      tb
    }

  /** Subquery-delete fixture: `DELETE FROM t WHERE k IN (SELECT …)` —
    * the SQL spelling of "apply a curation job's loser set", which
    * Spark's own SupportsDelete path cannot serve (no subquery
    * pushdown). The subquery here reads the TARGET TABLE itself
    * (self-curation); routed to the copy-on-write anti-join rewrite
    * ([[GraftTable.deleteByKeys]]) in one atomic snapshot. */
  private def sqlDeleteInFixture(spark: SparkSession, sfDir: String): GraftTable =
    cachedFixture(sfDir, "db/nation_delin", 2) { dir =>
      val s2 = dmlSession(spark)
      val nation = t(s2, sfDir, "nation")
      val tb = GraftTable.create(dir, nation.schema)
      tb.append(nation, committedAt = Some(1000L))
      val wh = Paths.get(dir).getParent.getParent.toString
      s2.conf.set("spark.sql.catalog.g41", "graft.table.GraftSparkCatalog")
      s2.conf.set("spark.sql.catalog.g41.warehouse", wh)
      s2.sql("DELETE FROM g41.db.nation_delin WHERE n_nationkey IN " +
        "(SELECT n_nationkey FROM g41.db.nation_delin WHERE n_regionkey = 3)")
      val t2 = GraftTable.load(dir)
      require(t2.log.current.get.operation == "delete" &&
        t2.positionalDeletes.isEmpty,
        "subquery DELETE did not take the CoW key-delete path")
      t2
    }

  /** SQL ingest fixture: the table is built ENTIRELY by SQL statements —
    * CREATE TABLE through the catalog, INSERT INTO … SELECT (append
    * commit), then INSERT OVERWRITE … SELECT (atomic truncate-and-
    * replace). Final state = the overwrite's projection of nation. */
  private def sqlIngestFixture(spark: SparkSession, sfDir: String): GraftTable =
    cachedFixture(sfDir, "db/nation_sqlingest", 2) { dir =>
      val s2 = dmlSession(spark)
      val wh = Paths.get(dir).getParent.getParent.toString
      s2.conf.set("spark.sql.catalog.g35", "graft.table.GraftSparkCatalog")
      s2.conf.set("spark.sql.catalog.g35.warehouse", wh)
      t(s2, sfDir, "nation").createOrReplaceTempView("nation_sqlingest_src")
      s2.sql("CREATE TABLE g35.db.nation_sqlingest " +
        "(n_nationkey INT, n_name STRING, n_regionkey INT)")
      s2.sql("INSERT INTO g35.db.nation_sqlingest " +
        "SELECT n_nationkey, n_name, n_regionkey FROM nation_sqlingest_src")
      s2.sql("INSERT OVERWRITE g35.db.nation_sqlingest " +
        "SELECT n_nationkey, concat('O-', n_name), n_regionkey " +
        "FROM nation_sqlingest_src WHERE n_regionkey <> 3")
      GraftTable.load(dir)
    }

  /** Partitioned slice-replacement fixture: nation identity-partitioned
    * on n_regionkey; SQL `INSERT OVERWRITE … PARTITION (n_regionkey = 2)`
    * atomically replaces that region's rows (whole-partition files drop
    * metadata-only; the commit records zero rewrites) with a renamed,
    * re-keyed batch. */
  private def sqlSliceFixture(spark: SparkSession, sfDir: String): GraftTable =
    cachedFixture(sfDir, "db/nation_sqlslice", 2) { dir =>
      val s2 = dmlSession(spark)
      val wh = Paths.get(dir).getParent.getParent.toString
      s2.conf.set("spark.sql.catalog.g36", "graft.table.GraftSparkCatalog")
      s2.conf.set("spark.sql.catalog.g36.warehouse", wh)
      t(s2, sfDir, "nation").createOrReplaceTempView("nation_sqlslice_src")
      s2.sql("CREATE TABLE g36.db.nation_sqlslice " +
        "(n_nationkey INT, n_name STRING, n_regionkey INT) " +
        "PARTITIONED BY (n_regionkey)")
      s2.sql("INSERT INTO g36.db.nation_sqlslice " +
        "SELECT n_nationkey, n_name, n_regionkey FROM nation_sqlslice_src")
      s2.sql("INSERT OVERWRITE g36.db.nation_sqlslice " +
        "PARTITION (n_regionkey = 2) " +
        "SELECT CAST(n_nationkey + 500 AS INT), concat('R2-', n_name) " +
        "FROM nation_sqlslice_src WHERE n_regionkey = 2")
      val tb = GraftTable.load(dir)
      // the slice replacement must have been metadata-only on the drop
      // side — a rewrite here would mean partition pruning regressed
      val cur = tb.log.current.get
      require(cur.operation == "overwrite" &&
        cur.summary("rewritten-data-files") == "0",
        s"slice overwrite rewrote files: ${cur.summary}")
      tb
    }

  /** Rename-evolution fixture: keys ≤ 12 written under the ORIGINAL
    * column name, the column renamed (metadata-only), keys > 12 written
    * under the new name — one scan spans both eras and must alias the
    * old era's physical column back to the logical schema. */
  private def renameFixture(spark: SparkSession, sfDir: String): GraftTable =
    cachedFixture(sfDir, "nation_renamed", 2) { dir =>
      val nation = t(spark, sfDir, "nation")
      var tb = GraftTable.create(dir, nation.schema)
      tb.append(nation.filter(col("n_nationkey") <= 12), Some(1000L))
      tb = tb.renameColumn("n_name", "nation_name")
      tb.append(nation.filter(col("n_nationkey") > 12)
        .withColumnRenamed("n_name", "nation_name"), Some(2000L))
      tb
    }

  /** Manifest-maintenance fixture: ten single-slice appends build a
    * ten-segment manifest list; [[GraftTable.rewriteManifests]] folds it
    * to one segment in a bit-identical `"replace"` snapshot. */
  private def manifestMaintFixture(
      spark: SparkSession, sfDir: String): GraftTable =
    cachedFixture(sfDir, "nation_mmaint", 11) { dir =>
      val nation = t(spark, sfDir, "nation")
      val tb = GraftTable.create(dir, nation.schema)
      for (i <- 0 until 10)
        tb.append(nation.filter(col("n_nationkey") % 10 === i),
          Some(1000L + i))
      val before = graft.table.Manifest
        .read(s"$dir/${tb.log.current.get.manifestList}").segments.size
      tb.rewriteManifests(committedAt = Some(5000L))
      val m = graft.table.Manifest
        .read(s"$dir/${tb.log.current.get.manifestList}")
      require(before == 10 && m.segments.size == 1,
        s"manifest maintenance did not fold: $before -> ${m.segments.size}")
      tb
    }

  /** Co-bucketed fact tables for the storage-partitioned join: orders
    * and lineitem written as graft tables laid out `bucket(8, orderkey)`
    * — the layout that lets their join (the canonical fact-fact shape)
    * run with NO shuffle on either side once the DSv2 scan reports
    * `KeyGroupedPartitioning` (`GraftKeyGroupedScan`,
    * StoragePartitionedJoinSpec asserts the zero-shuffle plan). */
  private def spjOrdersFixture(spark: SparkSession, sfDir: String): GraftTable =
    cachedFixture(sfDir, "db/spj_orders", 1) { dir =>
      val o = t(spark, sfDir, "orders")
      val tb = GraftTable.create(dir, o.schema,
        partitionBy = Seq("bucket(8,o_orderkey)"))
      tb.append(o, committedAt = Some(1000L))
      tb
    }

  /** Fact table for the runtime-pruning star join: customer laid out
    * `bucket(16, c_nationkey)`. The join's selective predicate lives on
    * the NATION side (`n_name = …`), so static pushdown cannot touch
    * this table — only Spark's dynamic partition pruning, which the
    * graft DSv2 scan serves via `SupportsRuntimeV2Filtering`
    * (`GraftRuntimeFilterScan`): the dim's surviving join keys arrive at
    * execution time and the manifest walk keeps only their buckets'
    * files. RuntimeFilteringSpec asserts the file-count narrowing. */
  private def rtCustomerFixture(spark: SparkSession, sfDir: String): GraftTable =
    cachedFixture(sfDir, "db/rt_customer", 1) { dir =>
      val c = t(spark, sfDir, "customer")
      val tb = GraftTable.create(dir, c.schema,
        partitionBy = Seq("bucket(16,c_nationkey)"))
      tb.append(c, committedAt = Some(1000L))
      tb
    }

  /** Identity-partitioned nation (by n_regionkey) for the
    * partition-grouped metadata aggregate. */
  private def aggNationFixture(
      spark: SparkSession, sfDir: String): GraftTable =
    cachedFixture(sfDir, "db/agg_nation", 1) { dir =>
      val n = t(spark, sfDir, "nation")
      val tb = GraftTable.create(dir, n.schema,
        partitionBy = Seq("n_regionkey"))
      tb.append(n, Some(1000L))
      tb
    }

  /** Rollback-history fixture (v58): append → append → rollback-to-1 →
    * append. Snapshot 2 is rolled PAST (not an ancestor of the current
    * state); 1, the rollback commit 3 and the later append 4 are. The
    * chain is fully deterministic, so the `__history` ancestry flags
    * replay as oracle literals. */
  private def historyFixture(
      spark: SparkSession, sfDir: String): GraftTable =
    cachedFixture(sfDir, "db/hist_nation", 4) { dir =>
      val n = t(spark, sfDir, "nation")
      val tb = GraftTable.create(dir, n.schema)
      tb.append(n.filter(col("n_nationkey") < 10), Some(1000L)) // snap 1
      tb.append(n.filter(col("n_nationkey") >= 10), Some(2000L)) // snap 2
      GraftTable.load(dir).rollbackTo(1L, Some(3000L)) // snap 3
      GraftTable.load(dir)
        .append(n.filter(col("n_nationkey") >= 20), Some(4000L)) // snap 4
      GraftTable.load(dir)
    }

  /** Two-snapshot nation table for the streaming read: the stream must
    * deliver snapshot 1 as the backfill batch and snapshot 2 as an
    * incremental batch, exactly once each. */
  private def streamNationFixture(
      spark: SparkSession, sfDir: String): GraftTable =
    cachedFixture(sfDir, "db/stream_nation", 2) { dir =>
      val n = t(spark, sfDir, "nation")
      val tb = GraftTable.create(dir, n.schema)
      tb.append(n.filter(col("n_nationkey") < 12), Some(1000L))
      tb.append(n.filter(col("n_nationkey") >= 12), Some(2000L))
      tb
    }

  /** Events copied into a `days(ts)`-partitioned graft table (v51): the
    * layout the engine recommends for time-series, at DATA scale — the
    * "daily counts" question must answer from manifest partition values
    * alone. One snapshot; ts normalized via [[eventsTable]]. */
  private def eventsDaysFixture(
      spark: SparkSession, sfDir: String): GraftTable =
    cachedFixture(sfDir, "db/events_days", 1) { dir =>
      val ev = eventsTable(spark, sfDir)
      val tb = GraftTable.create(dir, ev.schema,
        partitionBy = Seq("days(ts)"))
      tb.append(ev, Some(1000L))
      tb
    }

  /** Per-file-metrics fixture (v56): nation in THREE single-file
    * appends of known key slices, so each `__files` row's bounds are
    * recomputable from the source — the proof that the metadata view's
    * metrics are EXACT, not approximate. */
  private def filesMetaFixture(
      spark: SparkSession, sfDir: String): GraftTable =
    cachedFixture(sfDir, "db/files_meta_nation", 3) { dir =>
      val n = t(spark, sfDir, "nation")
      val tb = GraftTable.create(dir, n.schema)
      tb.append(n.filter(col("n_nationkey") < 10).coalesce(1), Some(1000L))
      tb.append(n.filter(col("n_nationkey") >= 10 &&
        col("n_nationkey") < 20).coalesce(1), Some(2000L))
      tb.append(n.filter(col("n_nationkey") >= 20).coalesce(1), Some(3000L))
      tb
    }

  /** Additive-evolution fixture (v55): nation appended, then ONE
    * `mergeSchema = true` MERGE whose source carries a new `n_score`
    * column — the table widens through the ALTER add-column path
    * mid-flow (metadata-only, so still 2 snapshots), keys < 10 update
    * with scores, +100 keys insert; every pre-evolution row reads
    * n_score as NULL. */
  private def mergeSchemaFixture(
      spark: SparkSession, sfDir: String): GraftTable =
    cachedFixture(sfDir, "db/evolve_nation", 2) { dir =>
      val n = t(spark, sfDir, "nation")
      val tb = GraftTable.create(dir, n.schema)
      tb.append(n, Some(1000L))
      val updates = n.filter(col("n_nationkey") < 10)
        .select(col("n_nationkey"),
          concat(lit("UPD_"), col("n_name")).as("n_name"),
          col("n_regionkey"),
          (col("n_nationkey") * 10).cast("long").as("n_score"))
      val inserts = n.filter(col("n_nationkey") < 5)
        .select((col("n_nationkey") + 100).as("n_nationkey"),
          concat(lit("NEW_"), col("n_name")).as("n_name"),
          col("n_regionkey"),
          (col("n_nationkey") * 10).cast("long").as("n_score"))
      tb.merge(spark, updates.unionByName(inserts), "n_nationkey",
        Some(2000L), mergeSchema = true)
      GraftTable.load(dir)
    }

  /** File-level import fixture (v54): the driver's OWN nation.parquet
    * copied straight into a graft table via CALL add_files — one append
    * snapshot, footer schema guarded, no row rewrite. */
  private def addFilesFixture(
      spark: SparkSession, sfDir: String): GraftTable =
    cachedFixture(sfDir, "db/import_nation", 1) { dir =>
      val n = t(spark, sfDir, "nation")
      val tb = GraftTable.create(dir, n.schema)
      val wh = Paths.get(dir).getParent.getParent.toString
      spark.conf.set("spark.sql.catalog.g54", "graft.table.GraftSparkCatalog")
      spark.conf.set("spark.sql.catalog.g54.warehouse", wh)
      val got = spark.sql("CALL g54.system.add_files('db.import_nation', " +
        s"'$sfDir/nation.parquet')").collect()
      require(got.length == 1 && got.head.getLong(1) == 1L,
        s"add_files did not import exactly one file: ${got.mkString(",")}")
      GraftTable.load(dir)
    }

  /** SQL maintenance cycle (v52): five small appends compacted, aged
    * history expired (retain-last floor), planted junk reclaimed — all
    * through `CALL graft.system.*` procedures, the operator surface.
    * End state: 2 snapshots (last append + the compaction replace),
    * rows bit-identical to the source. */
  private def sqlMaintFixture(
      spark: SparkSession, sfDir: String): GraftTable =
    cachedFixture(sfDir, "db/maint_nation", 2) { dir =>
      val n = t(spark, sfDir, "nation")
      val tb = GraftTable.create(dir, n.schema)
      (0 to 4).foreach(r => tb.append(
        n.filter(col("n_regionkey") === r), Some(1000L * (r + 1))))
      val junk = Paths.get(dir, "data", "junk-never-committed.parquet")
      Files.write(junk, Array[Byte](1, 2, 3))
      val wh = Paths.get(dir).getParent.getParent.toString
      spark.conf.set("spark.sql.catalog.g52", "graft.table.GraftSparkCatalog")
      spark.conf.set("spark.sql.catalog.g52.warehouse", wh)
      val compacted = spark.sql(
        "CALL g52.system.rewrite_data_files('db.maint_nation')").collect()
      require(compacted.length == 1, "compaction did not commit")
      val expired = spark.sql(
        "CALL g52.system.expire_snapshots('db.maint_nation', " +
          s"older_than_ms => ${System.currentTimeMillis() + 60000}, " +
          "retain_last => 2)").collect()
      require(expired.length == 4,
        s"expected 4 expired snapshots, got ${expired.length}")
      val orphans = spark.sql(
        "CALL g52.system.remove_orphan_files('db.maint_nation', " +
          s"older_than_ms => ${System.currentTimeMillis() + 60000})")
        .collect()
      require(orphans.exists(_.getString(0).contains("junk")),
        "planted junk file not reclaimed")
      require(!Files.exists(junk), "junk survived remove_orphan_files")
      GraftTable.load(dir)
    }

  /** Mixed-DML chain for the CDC streaming read (v49): append → CoW
    * update → CoW delete → append, 4 snapshots — the history the
    * additive stream refuses and the CDC stream must survive. */
  private def cdcStreamFixture(
      spark: SparkSession, sfDir: String): GraftTable =
    cachedFixture(sfDir, "db/cdc_nation", 4) { dir =>
      val n = t(spark, sfDir, "nation")
      val tb = GraftTable.create(dir, n.schema)
      tb.append(n, Some(1000L))
      tb.update(spark, col("n_regionkey") === 2,
        Map("n_name" -> concat(lit("P_"), col("n_name"))), Some(2000L))
      tb.delete(spark, col("n_nationkey") >= 20, Some(3000L))
      val keyType = n.schema("n_nationkey").dataType
      tb.append(n.filter(col("n_nationkey") < 5)
        .withColumn("n_nationkey", (col("n_nationkey") + 100).cast(keyType))
        .withColumn("n_name", lit("NEWLAND")), Some(4000L))
      tb
    }

  private def spjLineitemFixture(spark: SparkSession, sfDir: String): GraftTable =
    cachedFixture(sfDir, "db/spj_lineitem", 1) { dir =>
      val l = t(spark, sfDir, "lineitem")
      val tb = GraftTable.create(dir, l.schema,
        partitionBy = Seq("bucket(8,l_orderkey)"))
      tb.append(l, committedAt = Some(1000L))
      tb
    }

  val queries: Map[String, Q] = Map(

    // MANIFEST MAINTENANCE: ten small appends re-sharded into one
    // segment by rewriteManifests — rows bit-identical, tagged with the
    // replace snapshot
    "v38_graft_manifest_maint" -> ((s, d) =>
      manifestMaintFixture(s, d).read(s)),

    // COLUMN RENAME evolution: era-mapped read across pre- and
    // post-rename files — old files' physical n_name aliases to the
    // logical nation_name; values byte-identical to the source
    "v37_graft_rename" -> ((s, d) =>
      renameFixture(s, d).read(s)
        .select(col("n_nationkey"), col("nation_name"), col("n_regionkey"),
          col("snapshot__id"))),

    // SQL slice replacement on a partitioned table: one atomic commit,
    // whole-partition files dropped metadata-only (fixture asserts zero
    // rewrites), other partitions byte-untouched
    "v36_graft_sql_slice" -> ((s, d) =>
      sqlSliceFixture(s, d).read(s)
        .select(col("n_nationkey"), col("n_name"), col("n_regionkey"),
          col("snapshot__id"))),

    // SQL ingest: CREATE TABLE + INSERT INTO + atomic INSERT OVERWRITE,
    // all through the catalog — the read sees exactly the overwrite's
    // projection (snapshot 2; snapshot 1's full append is time travel)
    "v35_graft_sql_ingest" -> ((s, d) =>
      sqlIngestFixture(s, d).read(s)
        .select(col("n_nationkey"), col("n_name"), col("n_regionkey"),
          col("snapshot__id"))),

    // SQL DML through the DSv2 catalog: UPDATE + MERGE INTO statements
    // routed to the library's copy-on-write commit paths by the injected
    // analyzer rule; the read sees the post-DML table at snapshot 3
    "v34_graft_sql_dml" -> ((s, d) =>
      sqlDmlFixture(s, d).read(s)
        .select(col("n_nationkey"), col("n_name"), col("n_regionkey"),
          col("snapshot__id"))),

    // CDC-apply: ONE conditional-action SQL MERGE (matched-DELETE,
    // target-referencing partial UPDATE, conditional INSERT) — the
    // general copy-on-write action rewrite, one atomic snapshot
    "v39_graft_sql_cdc" -> ((s, d) =>
      sqlCdcFixture(s, d).read(s)
        .select(col("n_nationkey"), col("n_name"), col("n_regionkey"),
          col("snapshot__id"))),

    // merge-on-read SQL routing: write.update.mode / write.delete.mode
    // make plain UPDATE/DELETE commit positional deltas — base data
    // files stay byte-untouched (fixture asserts), reads stay exact
    "v40_graft_sql_mor_route" -> ((s, d) =>
      sqlMorRouteFixture(s, d).read(s)
        .select(col("n_nationkey"), col("n_name"), col("n_regionkey"),
          col("snapshot__id"))),

    // DELETE … WHERE key IN (SELECT …) — a curation job's loser set
    // applied through pure SQL (self-referential subquery), routed to
    // the CoW anti-join key delete; SupportsDelete alone cannot do this
    "v41_graft_sql_delete_in" -> ((s, d) =>
      sqlDeleteInFixture(s, d).read(s)
        .select(col("n_nationkey"), col("n_name"), col("n_regionkey"),
          col("snapshot__id"))),

    // CDC REPLICATION: upstream DML → changesCdc feed → per-key netting
    // → ONE conditional-action MERGE onto a replica; the replica's state
    // must equal the upstream's (fixture-asserted both ways, and the
    // rows oracle-hashed here)
    "v42_graft_cdc_replication" -> ((s, d) =>
      cdcReplicationFixture(s, d).read(s)
        .select(col("n_nationkey"), col("n_name"), col("n_regionkey"),
          col("snapshot__id"))),

    // STORAGE-PARTITIONED JOIN: orders ⋈ lineitem, both graft tables
    // bucketed bucket(8, orderkey) — the key-grouped DSv2 scans report
    // matching KeyGroupedPartitioning, so at cluster scale (where
    // neither side broadcasts) the fact-fact join shuffles NEITHER side;
    // at bench SFs Spark's statistics may still elect a broadcast, which
    // is the right plan there (StoragePartitionedJoinSpec pins the
    // zero-shuffle shape under no-broadcast planner state)
    "v43_graft_spj" -> ((s, d) => {
      val ot = spjOrdersFixture(s, d)
      spjLineitemFixture(s, d)
      val wh = Paths.get(ot.dir).getParent.getParent.toString
      s.conf.set("spark.sql.catalog.g43", "graft.table.GraftSparkCatalog")
      s.conf.set("spark.sql.catalog.g43.warehouse", wh)
      s.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
      s.conf.set("spark.sql.sources.v2.bucketing.pushPartValues.enabled", "true")
      val o = s.read.option("key-grouped", "true").table("g43.db.spj_orders")
      val l = s.read.option("key-grouped", "true").table("g43.db.spj_lineitem")
      l.join(o, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_items"),
          round(sum((col("l_extendedprice") * (lit(1.0) - col("l_discount")))
            .cast("decimal(18,4)")), 2).cast("double").as("revenue"))
        .orderBy(col("o_orderpriority"))
    }),

    // RUNTIME (DPP) FILE PRUNING: star join whose selective filter is on
    // the dimension — the fact scan's own filter list is empty, and only
    // dynamic partition pruning can skip its files. The graft DSv2 scan
    // serves it (SupportsRuntimeV2Filtering): nation's surviving join key
    // arrives at execution time and the bucket(16, c_nationkey) layout
    // keeps 1 of 16 files. At 100 TB this is the difference between
    // scanning the whole fact table and scanning one bucket.
    "v44_graft_runtime_prune" -> ((s, d) => {
      val tb = rtCustomerFixture(s, d)
      val wh = Paths.get(tb.dir).getParent.getParent.toString
      s.conf.set("spark.sql.catalog.g44", "graft.table.GraftSparkCatalog")
      s.conf.set("spark.sql.catalog.g44.warehouse", wh)
      val fact = s.read.table("g44.db.rt_customer")
      val dim = t(s, d, "nation").filter(col("n_name") === "NATION_7")
      fact.join(dim, col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_cust"),
          round(sum(col("c_acctbal").cast("decimal(18,4)")), 2)
            .cast("double").as("acct_sum"))
        .orderBy(col("c_mktsegment"))
    }),

    // PARTITION-GROUPED METADATA AGGREGATES: GROUP BY an identity
    // partition column answers from the manifest's partition values and
    // per-file stats — one LocalTableScan row per partition, zero file
    // reads (the "daily counts over a day-partitioned table" question
    // at 100 TB; AggregatePushdownSpec pins the plan shape)
    "v48_graft_agg_group" -> ((s, d) => {
      val tb = aggNationFixture(s, d)
      val wh = Paths.get(tb.dir).getParent.getParent.toString
      s.conf.set("spark.sql.catalog.g48", "graft.table.GraftSparkCatalog")
      s.conf.set("spark.sql.catalog.g48.warehouse", wh)
      s.sql("SELECT n_regionkey, count(*) AS n_nations, " +
        "min(n_nationkey) AS lo_key, max(n_nationkey) AS hi_key " +
        "FROM g48.db.agg_nation GROUP BY n_regionkey ORDER BY n_regionkey")
    }),

    // METADATA-ONLY AGGREGATES: group-less count/min/max answered from
    // the manifest's per-file record counts and footer stats through
    // DSv2 aggregate pushdown — the plan is a one-row LocalTableScan,
    // zero tasks, zero file reads (AggregatePushdownSpec pins the plan;
    // at 100 TB this is the difference between a metadata lookup and a
    // full-table scan for the most common sanity query there is)
    "v45_graft_agg_stats" -> ((s, d) => {
      val tb = rtCustomerFixture(s, d)
      val wh = Paths.get(tb.dir).getParent.getParent.toString
      s.conf.set("spark.sql.catalog.g44", "graft.table.GraftSparkCatalog")
      s.conf.set("spark.sql.catalog.g44.warehouse", wh)
      s.sql("SELECT count(*) AS n_rows, min(c_custkey) AS lo_key, " +
        "max(c_custkey) AS hi_key, count(c_name) AS n_names " +
        "FROM g44.db.rt_customer")
    }),

    // STREAMING READ through the DSv2 catalog: a REAL readStream.table
    // drained with Trigger.AvailableNow — offsets are snapshot ids, each
    // micro-batch plans only the files its snapshots appended (manifest
    // path diff, O(new files) metadata per trigger — what makes a 100 TB
    // table streamable). Both snapshots must arrive exactly once
    // (MicroBatchStreamSpec pins restarts, tailing, and refusals).
    "v46_graft_stream_read" -> ((s, d) => {
      val tb = streamNationFixture(s, d)
      val wh = Paths.get(tb.dir).getParent.getParent.toString
      s.conf.set("spark.sql.catalog.g46", "graft.table.GraftSparkCatalog")
      s.conf.set("spark.sql.catalog.g46.warehouse", wh)
      val qn = "v46_sink_" +
        java.util.UUID.randomUUID.toString.replace("-", "")
      val ckpt = Files.createTempDirectory("v46-ckpt").toString
      val q = s.readStream.table("g46.db.stream_nation")
        .writeStream.format("memory").queryName(qn)
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      require(q.awaitTermination(180000L), "v46 stream did not drain")
      s.table(qn).orderBy(col("n_nationkey"))
    }),

    // FILE-LEVEL IMPORT (CALL add_files): the driver's own source
    // parquet copied into a graft table WITHOUT a rewrite — one append
    // snapshot, footer stats harvested, schema-guarded. At 100 TB this
    // is the migration-onboarding path: a copy (or a storage-layer
    // clone), never a cluster-wide rewrite job. The imported rows must
    // be bit-identical to the source.
    "v54_graft_add_files" -> ((s, d) => {
      val tb = addFilesFixture(s, d)
      val wh = Paths.get(tb.dir).getParent.getParent.toString
      s.conf.set("spark.sql.catalog.g54", "graft.table.GraftSparkCatalog")
      s.conf.set("spark.sql.catalog.g54.warehouse", wh)
      s.sql("SELECT n_nationkey, n_name, n_regionkey " +
        "FROM g54.db.import_nation ORDER BY n_nationkey")
    }),

    // PER-FILE METRICS in the __files metadata view: each data file's
    // footer-derived bounds and null counts ride the manifest
    // (min_values/max_values/null_counts — Iceberg's readable_metrics
    // analog) and must EQUAL a real recompute of each file's slice.
    // This is the view pruning power is made of: an operator can see
    // exactly which predicates min/max can serve before touching data.
    "v56_graft_files_metrics" -> ((s, d) => {
      val tb = filesMetaFixture(s, d)
      tb.filesTable(s)
        .select(
          col("min_values")("n_nationkey").cast("int").as("lo_key"),
          col("max_values")("n_nationkey").cast("int").as("hi_key"),
          col("record_count").as("n_rows"),
          col("null_counts")("n_name").as("n_name_nulls"))
        .orderBy(col("lo_key"))
    }),

    // OPT-IN ADDITIVE SCHEMA EVOLUTION ON WRITE (merge-schema): a MERGE
    // whose source carries a NEW column widens the TABLE first (the
    // ALTER add-column metadata path — evolution event, NULL-fill on
    // pre-evolution files, resurrection guards intact), then upserts in
    // the same flow; the exact-type default still refuses. The evolving-
    // pipeline ask at 100 TB: a new feature column lands with ZERO data
    // rewrite — old files simply read NULL for it.
    "v55_graft_merge_schema" -> ((s, d) => {
      val tb = mergeSchemaFixture(s, d)
      tb.read(s)
        .select(col("n_nationkey"), col("n_name"), col("n_regionkey"),
          col("n_score"))
        .orderBy(col("n_nationkey"))
    }),

    // DSv2 METADATA TABLES: the system-table family on the STANDARD
    // catalog path — `__snapshots` joined against `__partitions` (per-
    // partition record totals straight from the manifest, zero file
    // I/O), the layout-health view an operator reads before targeting
    // compaction. Values must equal a real GROUP BY recompute of the
    // source (and the snapshot log's literal content).
    // `_file`/`_pos` METADATA COLUMNS (Iceberg row-provenance parity on
    // the DSv2 catalog, SupportsMetadataColumns): per-file row counts
    // computed FROM THE ROWS via `_file` must equal the manifest's
    // recorded `__files` counts, and `_pos` enumerates each file densely
    // from 0 (max_pos = n_rows - 1) — the coordinates a SQL curation job
    // selects victims by and applies with deletePositionalAt (the
    // end-to-end flow is spec-checked; this query proves the columns).
    "v57_graft_filepos" -> ((s, d) => {
      val tb = filesMetaFixture(s, d)
      val wh = Paths.get(tb.dir).getParent.getParent.toString
      s.conf.set("spark.sql.catalog.g57", "graft.table.GraftSparkCatalog")
      s.conf.set("spark.sql.catalog.g57.warehouse", wh)
      s.sql(
        "WITH per_file AS (SELECT _file, count(*) AS n_rows, " +
          "min(n_nationkey) AS lo_key, max(_pos) AS max_pos " +
          "FROM g57.db.files_meta_nation GROUP BY _file) " +
          "SELECT p.lo_key, p.n_rows, p.max_pos, " +
          "f.record_count AS recorded " +
          "FROM per_file p JOIN g57.db.files_meta_nation__files f " +
          "ON substring_index(p._file, '/', -1) = " +
          "substring_index(f.file_path, '/', -1) " +
          "ORDER BY p.lo_key")
    }),

    // `__history` METADATA TABLE (Iceberg `history` parity): snapshot
    // lineage with is_current_ancestor computed over the EFFECTIVE state
    // chain — the rollback commit's state-parent is its target, so the
    // rolled-past snapshot correctly reads false. Deterministic fixture
    // ⇒ the whole view hash-checks as literals.
    "v58_graft_history" -> ((s, d) => {
      val tb = historyFixture(s, d)
      val wh = Paths.get(tb.dir).getParent.getParent.toString
      s.conf.set("spark.sql.catalog.g58", "graft.table.GraftSparkCatalog")
      s.conf.set("spark.sql.catalog.g58.warehouse", wh)
      s.sql("SELECT made_current_at, snapshot_id, parent_id, " +
        "is_current_ancestor FROM g58.db.hist_nation__history " +
        "ORDER BY snapshot_id")
    }),

    "v53_graft_meta_tables" -> ((s, d) => {
      val tb = aggNationFixture(s, d)
      val wh = Paths.get(tb.dir).getParent.getParent.toString
      s.conf.set("spark.sql.catalog.g48", "graft.table.GraftSparkCatalog")
      s.conf.set("spark.sql.catalog.g48.warehouse", wh)
      s.sql("SELECT s.snapshot_id, s.operation, " +
        "p.partition['n_regionkey'] AS region, p.record_count " +
        "FROM g48.db.agg_nation__snapshots s " +
        "CROSS JOIN g48.db.agg_nation__partitions p ORDER BY region")
    }),

    // SQL MAINTENANCE PROCEDURES: the full operator cycle — compact the
    // small-file history (CALL rewrite_data_files), expire the aged
    // snapshots behind a retain-last floor (CALL expire_snapshots),
    // reclaim a planted orphan (CALL remove_orphan_files) — through the
    // DSv2 ProcedureCatalog, Iceberg's CALL surface. The rows that
    // survive the whole cycle must be bit-identical to the source
    // (fixture also asserts the junk file is gone and exactly 4
    // snapshots expired).
    "v52_graft_sql_maintenance" -> ((s, d) => {
      val tb = sqlMaintFixture(s, d)
      val wh = Paths.get(tb.dir).getParent.getParent.toString
      s.conf.set("spark.sql.catalog.g52", "graft.table.GraftSparkCatalog")
      s.conf.set("spark.sql.catalog.g52.warehouse", wh)
      s.sql("SELECT n_nationkey, n_name, n_regionkey " +
        "FROM g52.db.maint_nation ORDER BY n_nationkey")
    }),

    // FILTERED METADATA-ONLY AGGREGATES: `count(*) WHERE partition
    // slice` — the single most common query on a partitioned table. The
    // pruning walk keeps only the r2 partition's files, every kept file
    // PROVES all-match (partition-value stats), the filter is claimed as
    // fully pushed, and the aggregate collapses to a LocalTableScan —
    // zero file I/O at any scale (AggregatePushdownSpec pins the plan
    // and the straddling-filter refusal).
    "v50_graft_agg_filtered" -> ((s, d) => {
      val tb = aggNationFixture(s, d)
      val wh = Paths.get(tb.dir).getParent.getParent.toString
      s.conf.set("spark.sql.catalog.g48", "graft.table.GraftSparkCatalog")
      s.conf.set("spark.sql.catalog.g48.warehouse", wh)
      s.sql("SELECT count(*) AS n_nations, min(n_nationkey) AS lo_key, " +
        "max(n_nationkey) AS hi_key FROM g48.db.agg_nation " +
        "WHERE n_regionkey = 2")
    }),

    // TRANSFORM-GROUPED METADATA AGGREGATES: daily event counts over the
    // recommended days(ts) layout, GROUP BY CAST(ts AS DATE) — served
    // entirely from manifest partition ordinals + per-file stats, one
    // LocalTableScan row per day, zero file reads over a DATA-scale
    // events table (the spelling matters: date_trunc never reaches v2
    // pushdown; AggregatePushdownSpec pins alignment and refusals).
    "v51_graft_agg_daily" -> ((s, d) => {
      val tb = eventsDaysFixture(s, d)
      val wh = Paths.get(tb.dir).getParent.getParent.toString
      s.conf.set("spark.sql.catalog.g51", "graft.table.GraftSparkCatalog")
      s.conf.set("spark.sql.catalog.g51.warehouse", wh)
      s.sql("SELECT CAST(ts AS DATE) AS day, count(*) AS n_events, " +
        "count(value) AS n_vals, min(event_id) AS lo_event, " +
        "max(event_id) AS hi_event FROM g51.db.events_days " +
        "GROUP BY 1 ORDER BY day")
    }),

    // CDC STREAMING READ: readStream.table of `<name>__changes` over a
    // mixed append/update/delete history — the chain the additive stream
    // refuses. Each paced micro-batch materializes the changesCdc
    // retraction rows (_change_type insert|delete + snapshot id) as a
    // distributed spill under the stream's checkpoint, and the consumer
    // applies them to a mirror (equality merge-on-read retractions +
    // appends, O(changed keys) per batch). The mirror's final state must
    // equal the source's — the continuous-pipeline contract that
    // survives the engine's whole DML surface at 100 TB.
    "v49_graft_cdc_stream" -> ((s, d) => {
      val src = cdcStreamFixture(s, d)
      val wh = Paths.get(src.dir).getParent.getParent.toString
      s.conf.set("spark.sql.catalog.g49", "graft.table.GraftSparkCatalog")
      s.conf.set("spark.sql.catalog.g49.warehouse", wh)
      // fresh mirror + checkpoint per run: the stream re-drains the
      // whole chain from offset 0 each time
      val mirrorDir =
        Files.createTempDirectory("v49-mirror").toString + "/m"
      GraftTable.create(mirrorDir, src.schema)
      val q = s.readStream
        .option("max-files-per-trigger", "1") // one snapshot per batch
        .table("g49.db.cdc_nation__changes")
        .writeStream
        .option("checkpointLocation",
          Files.createTempDirectory("v49-ckpt").toString)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          // the CDC apply contract: retract, then insert (an update is
          // delete(old)+insert(new) in one batch). exactCount=false is
          // the high-frequency-apply spelling: pure O(keys) commit, no
          // per-batch dead-row count job (mirror counts degrade to the
          // scan fallback, which the final read doesn't use anyway)
          val m = GraftTable.load(mirrorDir)
          val dels = b.filter(col("_change_type") === "delete")
            .select(col("n_nationkey"))
          if (!dels.isEmpty)
            m.deleteEquality(b.sparkSession, dels, Seq("n_nationkey"),
              exactCount = false): Unit
          val ins = b.filter(col("_change_type") === "insert")
            .select(col("n_nationkey"), col("n_name"), col("n_regionkey"))
          if (!ins.isEmpty) { m.append(ins): Unit }
        }
        .start()
      require(q.awaitTermination(180000L), "v49 CDC stream did not drain")
      GraftTable.load(mirrorDir).read(s)
        .select(col("n_nationkey"), col("n_name"), col("n_regionkey"))
        .orderBy(col("n_nationkey"))
    }),

    // STREAMING PIPE, graft to graft: readStream.table over the source's
    // snapshot log, writeStream.toTable into a fresh graft sink — the
    // DSv2 streaming SINK writes parquet from executor tasks and commits
    // one append snapshot per epoch with an idempotent epoch cursor
    // (StreamingWriteSpec pins replay-dedup and refusals). The full
    // ingestion loop a 100 TB pipeline runs, through standard APIs.
    "v47_graft_stream_pipe" -> ((s, d) => {
      val src = streamNationFixture(s, d)
      val wh = Paths.get(src.dir).getParent.getParent.toString
      s.conf.set("spark.sql.catalog.g46", "graft.table.GraftSparkCatalog")
      s.conf.set("spark.sql.catalog.g46.warehouse", wh)
      // fresh sink warehouse per run: the pipe re-backfills from a fresh
      // checkpoint, so reusing a sink table would double its rows
      val whTmp = Files.createTempDirectory("v47-wh").toString
      s.conf.set("spark.sql.catalog.g47", "graft.table.GraftSparkCatalog")
      s.conf.set("spark.sql.catalog.g47.warehouse", whTmp)
      GraftTable.create(s"$whTmp/db/pipe_dst", src.schema)
      val q = s.readStream.table("g46.db.stream_nation")
        .writeStream
        .option("checkpointLocation",
          Files.createTempDirectory("v47-ckpt").toString)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .toTable("g47.db.pipe_dst")
      require(q.awaitTermination(180000L), "v47 pipe did not drain")
      GraftTable.load(s"$whTmp/db/pipe_dst").read(s)
        .select(col("n_nationkey"), col("n_name"), col("n_regionkey"))
        .orderBy(col("n_nationkey"))
    }),

    // schema evolution: one scan spanning pre- and post-evolution files;
    // the added column is NULL for rows from pre-evolution files
    "v11_graft_evolution" -> ((s, d) =>
      evoFixture(s, d).read(s)),

    // compaction: two appended copies of region bin-packed by a "replace"
    // snapshot — same rows (tagged with the replace snapshot id), fewer
    // files; the change feed has already skipped the rewrite
    "v12_graft_compacted" -> ((s, d) => compactFixture(s, d).read(s)),

    // merge/upsert: nations 0-2 renamed via a source batch, nations 90-91
    // inserted — one atomic "merge" snapshot
    "v16_graft_merge" -> ((s, d) => cachedFixture(d, "nation_mrg", 2) { dir =>
      val nation = t(s, d, "nation")
      val tb = GraftTable.create(dir, nation.schema)
      tb.append(nation, committedAt = Some(1000L))
      val keyType = nation.schema("n_nationkey").dataType
      val source = nation.filter(col("n_nationkey") <= 2)
        .withColumn("n_name", concat(lit("M-"), col("n_name")))
        .unionByName(nation.filter(col("n_nationkey") <= 1)
          .withColumn("n_nationkey", (col("n_nationkey") + 90).cast(keyType))
          .withColumn("n_name", lit("NEWLAND")))
      tb.merge(s, source, "n_nationkey", Some(2000L))
      tb
    }.read(s)),

    // copy-on-write update: region-1 nations get their comment redacted
    // in snapshot 2; every other row carries over byte-identical
    "v15_graft_update" -> ((s, d) => cachedFixture(d, "nation_upd", 2) { dir =>
      val nation = t(s, d, "nation")
      val tb = GraftTable.create(dir, nation.schema)
      tb.append(nation, committedAt = Some(1000L))
      tb.update(s, col("n_regionkey") === 1,
        Map("n_name" -> concat(lit("X-"), col("n_name"))), Some(2000L))
      tb
    }.read(s)),

    // copy-on-write delete: one snapshot of nation, then regions 2 and 4
    // deleted — the scan sees only the remaining rows (tagged with the
    // delete snapshot), while snapshot 1 still holds all 25
    "v14_graft_delete" -> ((s, d) => deleteFixture(s, d).read(s)),

    // manifest-BLOOM point lookups: keys scattered across files with
    // fully overlapping min/max; three probes (hit-even, hit-odd, string
    // key) union — results must match the raw table exactly even though
    // the bloom skipped half the files per probe
    "v21_graft_bloom_lookup" -> ((s, d) => {
      val tb = bloomFixture(s, d)
      tb.scan(s, Some(col("n_nationkey") === 4))
        .unionByName(tb.scan(s, Some(col("n_nationkey") === 7)))
        .unionByName(tb.scan(s, Some(col("n_name") === "NATION_9")))
        .select("n_nationkey", "n_name", "n_regionkey")
    }),

    // MERGE-ON-READ (deferred) delete: the commit stored only the
    // predicate; the scan applies it to snapshot-1 files and NOT to the
    // snapshot-3 re-append, so the result is region-2 rows back, region-4
    // rows gone — tagged with the current snapshot
    "v20_graft_deferred_delete" -> ((s, d) =>
      morFixture(s, d).read(s)
        .select("n_nationkey", "n_name", "n_regionkey")),

    // POSITIONAL merge-on-read delete: row-level deletion vectors —
    // predicate form, key form, and a later re-append that must survive
    // both (positions pin exact files). The scan filters only the
    // targeted files through their vectors.
    "v28_graft_positional_delete" -> ((s, d) =>
      posFixture(s, d).read(s)
        .select("n_nationkey", "n_name", "n_regionkey")),

    // MERGE-ON-READ upsert: the source batch replaces same-key rows and
    // appends new keys in one O(source) commit (no candidate-file
    // rewrite) — reads resolve the tombstone anti-join
    "v33_graft_mor_merge" -> ((s, d) =>
      morMergeFixture(s, d).read(s)
        .select("n_nationkey", "n_name", "n_regionkey")),

    // NET-CHANGE CDC read over a mixed DML chain: the CoW update nets to
    // retract-old + insert-new pairs (file-diff exceptAll), the
    // positional delete to exact per-row retractions with their
    // POST-update values — per-snapshot attribution via the virtual
    // column. Applying the deltas to the from-state reproduces the
    // current table (CdcSpec proves the fold; here the rows themselves
    // are oracle-hashed)
    "v32_graft_cdc_feed" -> ((s, d) =>
      cdcFixture(s, d).changesCdc(s, fromSnapshotId = 1L)
        .select(col("n_nationkey"), col("n_name"), col("n_regionkey"),
          col("_change_type"), col("snapshot__id"))),

    // EQUALITY merge-on-read delete: O(keys) commit (no candidate scan),
    // key anti-join at read scoped to pre-delete files, re-appended keys
    // survive
    "v31_graft_equality_delete" -> ((s, d) =>
      eqFixture(s, d).read(s)
        .select("n_nationkey", "n_name", "n_regionkey")),

    // COMPOSED merge-on-read: positional (deletion vectors) and equality
    // entries pending TOGETHER on one table — DV delete, then an
    // equality upsert stacked on it, then a second positional key-delete
    // stacked on both; no compact() anywhere. One read plan resolves the
    // in-reader DV filter plus the snapshot-scoped key anti-join
    "v59_graft_mor_composed" -> ((s, d) =>
      morCompFixture(s, d).read(s)
        .select("n_nationkey", "n_name", "n_regionkey")),

    // FULL MoR TRIAD: predicate-deferred + positional deletion vectors
    // + equality tombstones pending together — the completed matrix
    // (a retention rule, a curation job and a CDC upsert mirror share
    // one table, nothing rewritten until maintenance). Victims of each
    // later form are drawn from rows visible under every earlier one,
    // so the three dead sets stay disjoint and counts exact
    "v64_graft_mor_triad" -> ((s, d) =>
      morTriadFixture(s, d).read(s)
        .select("n_nationkey", "n_name", "n_regionkey")),

    // COLUMN DEFAULTS (Iceberg v3 initial/write defaults): pre-add rows
    // read the declared literal (per-era fill, never a coalesce over
    // written values), a source lacking the column fills it at write —
    // all metadata-only, nothing rewritten
    "v65_graft_column_default" -> ((s, d) =>
      defaultColFixture(s, d).read(s)
        .select("n_nationkey", "n_tier")),

    // ROW LINEAGE (Iceberg v3): stable `_row_id` + last-writing snapshot
    // surviving a CoW rewrite AND a compaction — band inheritance
    // (firstRowId + position) composed with the materialized carry
    // columns rewrites persist
    "v67_graft_row_lineage" -> ((s, d) =>
      rowLineageFixture(s, d).readLineage(s)
        .select("n_nationkey", "_row_id", "_last_updated_snapshot_id")),

    // CHERRY-PICK (v72): rollback discards the second append, cherrypick
    // restores it — rows back, row-id bands carried (stable _row_id),
    // per-row snapshot attribution still the ORIGINAL committing era
    "v72_graft_cherrypick" -> ((s, d) =>
      cherryFixture(s, d).readLineage(s)
        .select("n_nationkey", "_row_id", "_last_updated_snapshot_id")),

    // DYNAMIC-PARTITION OVERWRITE (v73): replace exactly the partitions
    // the source writes into, one atomic commit; the summary counters
    // ride the result so the oracle hash proves the untouched slices
    // dropped/kept METADATA-ONLY (rewritten-data-files = 0) and exactly
    // two partitions were replaced
    "v73_graft_dynovr" -> ((s, d) => {
      val tb = dynOvrFixture(s, d)
      val snap = tb.log.current.get
      tb.read(s).select(col("n_nationkey"), col("n_name"), col("n_regionkey"))
        .withColumn("rewritten_files",
          lit(snap.summary("rewritten-data-files").toLong))
        .withColumn("replaced_parts",
          lit(snap.summary("replaced-partitions").toLong))
    }),

    // REGISTER TABLE (Iceberg register_table parity): an outside graft
    // directory becomes a catalog name via CALL — a pointer, not a
    // copy — then serves plain SQL like any native table
    "v70_graft_register" -> ((s, d) => {
      val src = registerFixture(s, d)
      val wh = Paths.get(src.dir).getParent.getParent
        .resolve("regwh").toString
      s.conf.set("spark.sql.catalog.g70", "graft.table.GraftSparkCatalog")
      s.conf.set("spark.sql.catalog.g70.warehouse", wh)
      val dest = Paths.get(wh, "db", "nation_reg")
      if (!GraftTable.exists(dest.toString)) {
        Files.createDirectories(dest.getParent)
        Files.deleteIfExists(dest) // dangling link from a reaped fixture
        s.sql(
          s"CALL g70.system.register_table('${src.dir}', 'db.nation_reg')")
      }
      s.sql("SELECT n_nationkey, n_name, n_regionkey " +
        "FROM g70.db.nation_reg")
    }),

    // WAREHOUSE TRANSACTION (v71): a corpus append and its derived
    // index refresh published as ONE atomic event
    // (GraftCatalog.transact — the per-table commit-claim discipline
    // lifted to a warehouse txn log with an O_EXCL commit marker).
    // The mid_* columns were observed DURING the transaction against
    // the published names and committed with the index refresh: the
    // oracle hash proves a reader between stage and publish saw
    // NEITHER staged commit (mid_corpus_rows = the pre-txn slice,
    // mid_index_snaps = 1).
    "v71_graft_txn" -> ((s, d) => {
      val (corpus, index) = txnFixture(s, d)
      val c = corpus.read(s).groupBy("n_regionkey")
        .agg(count(lit(1)).as("corpus_rows"))
      val i = index.read(s).groupBy("n_regionkey").agg(
        sum("cnt").as("idx_rows"),
        max(when(col("phase") === 2, col("mid_corpus_rows")))
          .as("mid_rows_raw"),
        max(when(col("phase") === 2, col("mid_index_snaps")))
          .as("mid_snaps_raw"))
      c.join(i, Seq("n_regionkey"))
        .select(col("n_regionkey"), col("corpus_rows"), col("idx_rows"),
          coalesce(col("mid_rows_raw"), lit(-1L)).as("mid_corpus_rows"),
          coalesce(col("mid_snaps_raw"), lit(-1L)).as("mid_index_snaps"))
    }),

    // ROW-ID-CARRYING CHANGELOG (Iceberg v3 changelog identity): the
    // full `__changes` feed of a row-lineage table — every delta row
    // keyed by stable `_row_id`; the CoW update nets to (same id, old
    // version) delete + (same id, new version) insert
    "v69_graft_cdc_lineage" -> ((s, d) => {
      val tb = cdcLineageFixture(s, d)
      val wh = Paths.get(tb.dir).getParent.getParent.toString
      s.conf.set("spark.sql.catalog.g69", "graft.table.GraftSparkCatalog")
      s.conf.set("spark.sql.catalog.g69.warehouse", wh)
      s.sql(
        "SELECT n_nationkey, n_name, _change_type, snapshot__id, " +
          "_row_id, _last_updated_snapshot_id " +
          "FROM g69.db.nation_cdclin__changes")
    }),

    // VARIANT column (Iceberg v3's headline type): JSON ingested as
    // binary-encoded variant, `variant_get` typed path reads, the k<10
    // slice CoW-deleted THROUGH a variant predicate — projection and
    // filter both read the post-rewrite variant bytes
    "v68_graft_variant" -> ((s, d) =>
      variantFixture(s, d).read(s)
        .filter(variant_get(col("meta"), "$.ty", "string") === "click")
        .select(col("event_id"),
          variant_get(col("meta"), "$.k", "int").as("k"),
          variant_get(col("meta"), "$.u", "bigint").as("u"))),

    // SQL VIEWS (Iceberg view parity): SELECT through a warehouse-stored
    // versioned view — the stored TEXT re-plans against current state,
    // spliced by GraftViewSubstitution on an extensions session
    "v66_graft_sql_view" -> ((s, d) => {
      val tb = viewFixture(s, d)
      val s2 = dmlSession(s)
      val wh = Paths.get(tb.dir).getParent.getParent.toString
      s2.conf.set("spark.sql.catalog.g66", "graft.table.GraftSparkCatalog")
      s2.conf.set("spark.sql.catalog.g66.warehouse", wh)
      s2.sql("SELECT n_regionkey, n_nations, first_name " +
        "FROM g66.db.nation_vw_agg WHERE n_nations > 0")
    }),

    // RETRACTION-AWARE streaming aggregation replay: the grouped
    // COUNT/SUM table maintained batch-per-snapshot from the CDC feed
    // (GraftCdcAggregate's foreachBatch contract — inserts add, deletes
    // subtract, net-zero update deltas fold clean, dead groups
    // tombstone) must equal the full GROUP BY recompute of the source's
    // final state
    "st10_cdc_agg_replay" -> ((s, d) =>
      cdcAggFixture(s, d).read(s)
        .select("n_regionkey", "cnt", "sum_key")),

    // COPY-ON-WRITE DML stacked on a pending equality tombstone: the
    // update's rewrite reads visible rows only (no resurrection of
    // equality-dead keys), the delete composes on top — reads resolve
    // the remaining scoped anti-join over untouched files
    "v63_graft_cow_on_equality" -> ((s, d) =>
      cowEqFixture(s, d).read(s)
        .select("n_nationkey", "n_name", "n_regionkey")),

    // write.format=orc (Iceberg write.format.default parity): the CoW
    // rewrite lands ORC next to the original parquet — one scan
    // dispatches per file and unions the readers (v18's shape,
    // property-driven); ORC entries carry exact record counts, no
    // footer stats (conservative keeps, still correct)
    "v62_graft_orc_format" -> ((s, d) =>
      orcFormatFixture(s, d).read(s)
        .select("r_regionkey", "r_name")),

    // TABLE BOOTSTRAP (Iceberg snapshot-procedure parity): a foreign
    // Hive-partitioned parquet dump becomes a zero-copy shadow graft
    // table (schema from footers, directory keys → identity partition
    // field, files hard-linked); the filtered read plans through the
    // recovered partition spec — manifest partition pruning, no listing
    "v61_graft_snapshot_boot" -> ((s, d) => {
      val tb = snapshotBootFixture(s, d)
      val wh = Paths.get(tb.dir).getParent.getParent.toString
      s.conf.set("spark.sql.catalog.g61", "graft.table.GraftSparkCatalog")
      s.conf.set("spark.sql.catalog.g61.warehouse", wh)
      s.sql(
        "SELECT n_nationkey, n_name, CAST(n_regionkey AS BIGINT) " +
          "AS n_regionkey FROM g61.db.boot_nation WHERE n_regionkey <= 2")
    }),

    // BATCH SQL CHANGELOG (Iceberg create_changelog_view parity): plain
    // SQL over `<name>__changes` serves the snapshot-range CDC feed as a
    // batch relation (default range = table creation → current). The
    // query FOLDS the changelog from the empty state — net insert−delete
    // per row — and must reproduce the current table exactly, across a
    // mixed append/CoW-update/positional-delete chain
    "v60_graft_changelog_batch" -> ((s, d) => {
      val tb = changelogFixture(s, d)
      val wh = Paths.get(tb.dir).getParent.getParent.toString
      s.conf.set("spark.sql.catalog.g60", "graft.table.GraftSparkCatalog")
      s.conf.set("spark.sql.catalog.g60.warehouse", wh)
      s.sql(
        "SELECT n_nationkey, n_name, n_regionkey FROM (" +
          "SELECT n_nationkey, n_name, n_regionkey, " +
          "sum(CASE WHEN _change_type = 'insert' THEN 1 ELSE -1 END) AS net " +
          "FROM g60.db.changelog_nation__changes " +
          "GROUP BY n_nationkey, n_name, n_regionkey) WHERE net > 0")
    }),

    // POSITIONAL merge-on-read UPDATE: superseding rows in new files,
    // old copies killed by positions, then a key-delete hitting original
    // and superseding copies alike
    "v30_graft_positional_update" -> ((s, d) =>
      posUpdFixture(s, d).read(s)
        .select("n_nationkey", "n_name", "n_regionkey")),

    // dedup-driven MoR: keep-first exact dedup emits loser doc_ids, the
    // table deletes exactly those rows as positions (no data rewrite),
    // and the surviving corpus aggregates per language
    "v29_graft_dedup_mor" -> ((s, d) =>
      dedupMorFixture(s, d).read(s)
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("docs"),
          sum(col("n_chars")).cast("long").as("n_chars_sum"))),

    // files metadata table: per-file record counts keyed by partition
    // value (one file per partition in this fixture, so the counts are
    // exactly nation's per-region group sizes)
    "v13_graft_files" -> ((s, d) =>
      partFixture(s, d).filesTable(s)
        .select(
          element_at(col("partition"), "n_regionkey").cast("int")
            .as("n_regionkey"),
          col("record_count"))),

    // partitioned scan: predicate on the partition column reads exactly
    // one partition (inputFiles-asserted in GraftTableSpec; here the
    // driver checks the results are exactly region 2's nations)
    "v09_graft_partitioned" -> ((s, d) =>
      partFixture(s, d).scan(s, Some(col("n_regionkey") === 2))),

    // hidden partitioning: point lookups on the bucket SOURCE column —
    // the manifest keeps only the matching buckets' files
    // (HiddenPartitioningSpec asserts the pruning counts and soundness)
    "v24_graft_bucket_lookup" -> ((s, d) =>
      bucketFixture(s, d).scan(s,
        Some(col("doc_id").isin(7, 21, 42, 101)))),

    // hidden day-partitioning: a time-range scan over the days(ts) layout
    // reads only the trailing day slices (manifest pruning on the derived
    // epoch-day key), then aggregates per day × type
    "v25_graft_day_slice" -> ((s, d) => {
      val cut = java.time.Instant.parse("2024-01-21T12:00:00Z")
      dayFixture(s, d).scan(s, Some(col("ts") >= lit(cut)))
        .groupBy(to_date(col("ts")).as("day"), col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          round(sum(col("value").cast("decimal(18,6)")), 4)
            .cast("double").as("sum_value"))
        .orderBy("day", "event_type")
    }),

    // partition-spec evolution: one scan crossing the era partitioned by
    // n_regionkey AND the era partitioned by n_nationkey — partition
    // values restored from each era's own directory layout, the filter
    // pruning era-1 files by partition value and era-2 files by footer
    // stats (PartitionEvolutionSpec asserts the pruning counts)
    "v23_graft_spec_evolution" -> ((s, d) =>
      evoSpecFixture(s, d).scan(s, Some(col("n_regionkey").isin(1, 2)))),

    // partition + data predicate combined: partition pruning picks the
    // partition, the residual data filter applies within it
    "v10_graft_partition_filter" -> ((s, d) =>
      partFixture(s, d).scan(s,
        Some(col("n_regionkey").isin(0, 3) && col("n_nationkey") >= 10))),

    // the v-pack at DATA scale: month-partition-pruned scan of the full
    // lineitem graft table + an aggregate — the manifest prunes ~82/83 of
    // the files with no directory listing, and result parity vs raw
    // parquet proves scan-layer fidelity at volume (quantity routed
    // through DECIMAL per the money policy)
    "v19_graft_bigscan" -> ((s, d) =>
      bigFixture(s, d).scan(s, Some(col("ship_month") === "1995-03"))
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n_rows"),
          sum(col("l_quantity").cast("decimal(18,2)")).cast("double")
            .as("sum_qty"))
        .orderBy("l_returnflag")),

    // INCREMENTAL VIEW MAINTENANCE: a per-region aggregate maintained
    // from the snapshot-1 base plus the CDC retraction feed — never
    // rescanning the table at snapshot 2. At 100 TB this is THE reason
    // changesCdc exists: refreshing a materialized aggregate costs
    // O(changed rows), not a full recompute. The oracle recomputes the
    // final state from scratch over raw nation parquet, so the gate
    // proves base + deltas ≡ recompute cross-engine. Groups whose
    // maintained count hits zero (deleted regions) drop out, exactly as
    // a recompute would drop them.
    "v22_graft_ivm" -> ((s, d) => {
      val tb = deleteFixture(s, d)
      val base = tb.scan(s, Some(col("snapshot__id") === 1L))
        .groupBy(col("n_regionkey"))
        .agg(count(lit(1)).as("bn"), sum(col("n_nationkey")).as("bsum"))
      val delta = tb.changesCdc(s, 1L, Some(2L))
        .groupBy(col("n_regionkey"))
        .agg(
          sum(when(col("_change_type") === "insert", 1L).otherwise(-1L))
            .as("dn"),
          sum(when(col("_change_type") === "insert", col("n_nationkey"))
            .otherwise(-col("n_nationkey"))).as("dsum"))
      base.join(delta, Seq("n_regionkey"), "full")
        .select(col("n_regionkey"),
          (coalesce(col("bn"), lit(0L)) + coalesce(col("dn"), lit(0L)))
            .as("n_nations"),
          (coalesce(col("bsum"), lit(0L)) + coalesce(col("dsum"), lit(0L)))
            .as("key_sum"))
        .filter(col("n_nations") > 0)
        .orderBy("n_regionkey")
    }),

    // V2: scan at current snapshot; every row carries snapshot__id = 2
    "v01_graft_scan" -> ((s, d) =>
      fixture(s, d).read(s)),

    // WRITE–AUDIT–PUBLISH: the branch-staged, branch-audited batch lands
    // as one atomic publish commit; the scan reads base + audited rows
    "v26_graft_branch_wap" -> ((s, d) =>
      wapFixture(s, d).read(s).orderBy("r_regionkey")),

    // the `partitions` metadata table (layout-health view): per-partition
    // record totals straight from the manifest — METADATA-ONLY (no data
    // I/O), yet the record counts are oracle-checkable against a real
    // GROUP BY over the source. The map column projects to its one key
    // (file counts depend on write parallelism and stay out of the gate).
    "v27_graft_partitions" -> ((s, d) =>
      partFixture(s, d).partitionsTable(s)
        .select(
          element_at(col("partition"), "n_regionkey").cast("int")
            .as("n_regionkey"),
          col("record_count"))
        .orderBy("n_regionkey")),

    // V3/P16: time travel via the snapshot__id predicate — back to snap 1
    "v02_graft_timetravel" -> ((s, d) =>
      fixture(s, d).scan(s, Some(col("snapshot__id") === 1L))),

    // V1/S7: the __snapshots system table (stable columns only —
    // manifest_list is an absolute tmp path, summary is a map)
    "v03_graft_snapshots" -> ((s, d) =>
      fixture(s, d).snapshots(s)
        .select("committed_at", "snapshot_id", "parent_id", "operation")),

    // P4 over the versioned table: data predicate + residual on a
    // multi-snapshot scan (file pruning consults the manifest stats)
    "v04_graft_filter" -> ((s, d) =>
      fixture(s, d).scan(s, Some(col("r_regionkey") >= 2))),

    // V3 + P4 combined: time travel AND a data predicate in one scan
    "v05_graft_tt_filter" -> ((s, d) =>
      fixture(s, d).scan(s,
        Some(col("snapshot__id") === 1L && col("r_regionkey") < 2))),

    // S11: a table with no snapshots scans as zero rows, full schema
    "v06_graft_empty" -> ((s, d) =>
      cachedFixture(d, "region_empty", 0)(
        GraftTable.create(_, t(s, d, "region").schema)).read(s)),

    // incremental read (change feed): rows added between snapshots 1 and 2
    // of the fixture = exactly one copy of region, tagged with snapshot 2
    "v08_graft_changes" -> ((s, d) =>
      fixture(s, d).changes(s, fromSnapshotId = 1L, toSnapshotId = Some(2L))),

    // S6: ORC is a first-class format — round-trip region through ORC
    // and scan it back (the reference's ORC reader path,
    // IcebergReaderFactory.java:67-75, rides Spark's built-in ORC source)
    "v07_orc_scan" -> ((s, d) => {
      val dir = s"${sys.props("java.io.tmpdir")}/graft_fixtures/" +
        s"${d.replaceAll("[^A-Za-z0-9.]", "_")}/region_orc"
      if (!java.nio.file.Files.exists(Paths.get(dir, "_SUCCESS"))) {
        t(s, d, "region").write.mode("overwrite").orc(dir)
      }
      s.read.orc(dir).filter(col("r_regionkey") >= 1)
    }),

    // S5: Avro read path (IcebergReaderFactory.java:54-65). No spark-avro
    // DataSource jar ships here, so graft.sources.AvroSource decodes the
    // container format directly with avro-core — round-trip nation
    // through Avro and scan it back with a residual filter on top.
    "v17_avro_scan" -> ((s, d) => {
      val dir = s"${sys.props("java.io.tmpdir")}/graft_fixtures/" +
        s"${d.replaceAll("[^A-Za-z0-9.]", "_")}/nation_avro"
      val listing = java.nio.file.Files.list(
        java.nio.file.Files.createDirectories(Paths.get(dir)))
      val hasAvro =
        try listing.anyMatch(p => p.toString.endsWith(".avro"))
        finally listing.close()
      if (!hasAvro) graft.sources.AvroSource.write(t(s, d, "nation"), dir)
      graft.sources.AvroSource.read(s, dir)
        .filter(col("n_regionkey") =!= 3)
    }),

    // MIXED-FORMAT versioned table: snapshot 1's data files are parquet,
    // snapshot 2's are avro — one scan dispatches per file like
    // IcebergReaderFactory.java:48-75 and unions the readers' output.
    "v18_avro_table" -> ((s, d) => cachedFixture(d, "region_av", 2) { dir =>
      val region = t(s, d, "region")
      val t1 = GraftTable.create(dir, region.schema)
      t1.append(region, committedAt = Some(1000L))
      t1.appendAvro(
        region.withColumn("r_regionkey", col("r_regionkey") + 10),
        committedAt = Some(2000L))
      t1
    }.read(s))
  )

  val oracleSql: Map[String, String] = Map(
    "v38_graft_manifest_maint" ->
      ("SELECT n_nationkey, n_name, n_regionkey, " +
        "CAST(11 AS BIGINT) AS snapshot__id FROM nation"),
    "v37_graft_rename" ->
      ("SELECT n_nationkey, n_name AS nation_name, n_regionkey, " +
        "CAST(2 AS BIGINT) AS snapshot__id FROM nation"),
    "v36_graft_sql_slice" ->
      ("SELECT n_nationkey, n_name, n_regionkey, " +
        "CAST(2 AS BIGINT) AS snapshot__id FROM nation " +
        "WHERE n_regionkey <> 2 " +
        "UNION ALL SELECT CAST(n_nationkey + 500 AS INTEGER), " +
        "'R2-' || n_name, n_regionkey, CAST(2 AS BIGINT) FROM nation " +
        "WHERE n_regionkey = 2"),
    "v35_graft_sql_ingest" ->
      ("SELECT n_nationkey, 'O-' || n_name AS n_name, n_regionkey, " +
        "CAST(2 AS BIGINT) AS snapshot__id FROM nation " +
        "WHERE n_regionkey <> 3"),
    "v34_graft_sql_dml" ->
      ("SELECT n_nationkey, " +
        "CASE WHEN n_nationkey <= 1 THEN 'M-' || n_name " +
        "WHEN n_regionkey = 0 THEN 'U-' || n_name " +
        "ELSE n_name END AS n_name, " +
        "n_regionkey, CAST(3 AS BIGINT) AS snapshot__id FROM nation " +
        "UNION ALL SELECT n_nationkey + 990, 'NEWLAND', n_regionkey, " +
        "CAST(3 AS BIGINT) FROM nation WHERE n_nationkey <= 1"),
    // keys %5==0 deleted by the matched-DELETE action, keys 1-2 renamed
    // in place from the TARGET value, keys 991-992 inserted; every
    // surviving row was rewritten by the CoW action rewrite (snapshot 2)
    "v39_graft_sql_cdc" ->
      ("SELECT n_nationkey, " +
        "CASE WHEN n_nationkey <= 2 THEN 'C-' || n_name ELSE n_name END " +
        "AS n_name, n_regionkey, CAST(2 AS BIGINT) AS snapshot__id " +
        "FROM nation WHERE n_nationkey % 5 <> 0 " +
        "UNION ALL SELECT n_nationkey + 990, 'NEW-' || n_name, " +
        "n_regionkey, CAST(2 AS BIGINT) FROM nation " +
        "WHERE n_nationkey IN (1, 2)"),
    // positional merge-on-read routing: region-1 rows renamed by the SQL
    // UPDATE (positional delta), %7==3 keys removed by the SQL DELETE
    // (positions only — fixture asserts base files survive untouched);
    // the read is at snapshot 3 (the virtual column tags the snapshot
    // being read)
    "v40_graft_sql_mor_route" ->
      ("SELECT n_nationkey, " +
        "CASE WHEN n_regionkey = 1 THEN 'P-' || n_name ELSE n_name END " +
        "AS n_name, n_regionkey, CAST(3 AS BIGINT) AS snapshot__id " +
        "FROM nation WHERE n_nationkey % 7 <> 3"),
    // region-3 keys removed by the subquery key-delete; the read is at
    // the delete snapshot (2)
    "v41_graft_sql_delete_in" ->
      ("SELECT n_nationkey, n_name, n_regionkey, " +
        "CAST(2 AS BIGINT) AS snapshot__id FROM nation " +
        "WHERE n_regionkey <> 3"),
    // the replica after CDC apply ≡ the upstream's final state: region-1
    // names updated (+_U), %4==1 keys deleted; read at the replica's
    // merge snapshot (2)
    "v42_graft_cdc_replication" ->
      ("SELECT n_nationkey, " +
        "CASE WHEN n_regionkey = 1 THEN n_name || '_U' ELSE n_name END " +
        "AS n_name, n_regionkey, CAST(2 AS BIGINT) AS snapshot__id " +
        "FROM nation WHERE n_nationkey % 4 <> 1"),
    // the co-bucketed fact-fact join must agree with a from-source
    // recompute (the graft tables hold exactly orders/lineitem)
    "v43_graft_spj" ->
      ("SELECT o_orderpriority, count(*) AS n_items, " +
        "CAST(round(sum(CAST(l_extendedprice * " +
        "(CAST(1.0 AS DOUBLE) - l_discount) AS DECIMAL(18,4))), 2) " +
        "AS DOUBLE) AS revenue " +
        "FROM lineitem JOIN orders ON l_orderkey = o_orderkey " +
        "GROUP BY o_orderpriority ORDER BY o_orderpriority"),
    // the runtime-pruned star join must agree with a from-source
    // recompute (the graft fact table holds exactly customer)
    "v44_graft_runtime_prune" ->
      ("SELECT c_mktsegment, count(*) AS n_cust, " +
        "CAST(round(sum(CAST(c_acctbal AS DECIMAL(18,4))), 2) AS DOUBLE) " +
        "AS acct_sum " +
        "FROM customer JOIN nation ON c_nationkey = n_nationkey " +
        "WHERE n_name = 'NATION_7' " +
        "GROUP BY c_mktsegment ORDER BY c_mktsegment"),
    // each file's manifest metrics must equal a real recompute of its
    // key slice (the fixture wrote one file per slice)
    "v56_graft_files_metrics" ->
      ("SELECT * FROM (" +
        "SELECT min(n_nationkey) AS lo_key, max(n_nationkey) AS hi_key, " +
        "count(*) AS n_rows, CAST(sum(CASE WHEN n_name IS NULL THEN 1 " +
        "ELSE 0 END) AS BIGINT) AS n_name_nulls " +
        "FROM nation WHERE n_nationkey < 10 " +
        "UNION ALL " +
        "SELECT min(n_nationkey), max(n_nationkey), count(*), " +
        "CAST(sum(CASE WHEN n_name IS NULL THEN 1 ELSE 0 END) AS BIGINT) " +
        "FROM nation WHERE n_nationkey >= 10 AND n_nationkey < 20 " +
        "UNION ALL " +
        "SELECT min(n_nationkey), max(n_nationkey), count(*), " +
        "CAST(sum(CASE WHEN n_name IS NULL THEN 1 ELSE 0 END) AS BIGINT) " +
        "FROM nation WHERE n_nationkey >= 20" +
        ") ORDER BY lo_key"),

    // the evolved table must equal a from-source recompute: keys < 10
    // updated with scores, +100 keys inserted, pre-evolution rows
    // reading the NEW column as NULL
    "v55_graft_merge_schema" ->
      ("SELECT n_nationkey, n_name, n_regionkey, n_score FROM (" +
        "SELECT n_nationkey, CASE WHEN n_nationkey < 10 " +
        "THEN 'UPD_' || n_name ELSE n_name END AS n_name, n_regionkey, " +
        "CASE WHEN n_nationkey < 10 " +
        "THEN CAST(n_nationkey * 10 AS BIGINT) END AS n_score FROM nation " +
        "UNION ALL " +
        "SELECT n_nationkey + 100 AS n_nationkey, " +
        "'NEW_' || n_name AS n_name, n_regionkey, " +
        "CAST(n_nationkey * 10 AS BIGINT) AS n_score " +
        "FROM nation WHERE n_nationkey < 5" +
        ") ORDER BY n_nationkey"),

    // the file-level import must hold exactly the source rows
    "v54_graft_add_files" ->
      ("SELECT n_nationkey, n_name, n_regionkey FROM nation " +
        "ORDER BY n_nationkey"),
    // the metadata tables' per-partition totals must equal a real
    // GROUP BY recompute; the snapshot row is the fixture's literal log
    "v53_graft_meta_tables" ->
      ("SELECT CAST(1 AS BIGINT) AS snapshot_id, 'append' AS operation, " +
        "CAST(n_regionkey AS VARCHAR) AS region, count(*) AS record_count " +
        "FROM nation GROUP BY n_regionkey ORDER BY region"),
    // the deterministic rollback chain's lineage as literals: snapshot 2
    // rolled past (false); 1, the rollback 3 and the append 4 ancestors
    "v58_graft_history" ->
      ("SELECT * FROM (VALUES " +
        "(CAST(1000 AS BIGINT), CAST(1 AS BIGINT), CAST(NULL AS BIGINT), true), " +
        "(2000, 2, 1, false), (3000, 3, 2, true), (4000, 4, 3, true)) " +
        "t(made_current_at, snapshot_id, parent_id, is_current_ancestor) " +
        "ORDER BY snapshot_id"),
    // per-file counts via _file / dense _pos must replay the fixture's
    // three key-slice single-file appends over the raw source
    "v57_graft_filepos" ->
      ("WITH s AS (SELECT CASE WHEN n_nationkey < 10 THEN 0 " +
        "WHEN n_nationkey < 20 THEN 1 ELSE 2 END AS g, n_nationkey " +
        "FROM nation) " +
        "SELECT min(n_nationkey) AS lo_key, count(*) AS n_rows, " +
        "count(*) - 1 AS max_pos, count(*) AS recorded " +
        "FROM s GROUP BY g ORDER BY lo_key"),
    // the maintained (compacted + expired + orphan-swept) table must
    // hold exactly the source rows, once each
    "v52_graft_sql_maintenance" ->
      ("SELECT n_nationkey, n_name, n_regionkey FROM nation " +
        "ORDER BY n_nationkey"),
    // the filtered metadata count must equal a real filtered recompute
    "v50_graft_agg_filtered" ->
      ("SELECT count(*) AS n_nations, min(n_nationkey) AS lo_key, " +
        "max(n_nationkey) AS hi_key FROM nation WHERE n_regionkey = 2"),
    // the per-day metadata answers must equal a real GROUP BY recompute
    "v51_graft_agg_daily" ->
      ("SELECT CAST(ts AS DATE) AS day, count(*) AS n_events, " +
        "count(value) AS n_vals, min(event_id) AS lo_event, " +
        "max(event_id) AS hi_event FROM events GROUP BY 1 ORDER BY day"),
    // the CDC-mirrored table must equal the source's final state:
    // region-2 names patched, keys ≥ 20 deleted, NEWLAND rows appended
    "v49_graft_cdc_stream" ->
      ("SELECT n_nationkey, n_name, n_regionkey FROM (" +
        "SELECT n_nationkey, CASE WHEN n_regionkey = 2 " +
        "THEN 'P_' || n_name ELSE n_name END AS n_name, n_regionkey " +
        "FROM nation WHERE n_nationkey < 20 " +
        "UNION ALL " +
        "SELECT n_nationkey + 100 AS n_nationkey, 'NEWLAND' AS n_name, " +
        "n_regionkey FROM nation WHERE n_nationkey < 5" +
        ") ORDER BY n_nationkey"),
    // the piped sink must hold exactly the source rows, once each
    "v47_graft_stream_pipe" ->
      ("SELECT n_nationkey, n_name, n_regionkey FROM nation " +
        "ORDER BY n_nationkey"),
    // the drained stream must hold exactly the source rows, once each
    "v46_graft_stream_read" ->
      ("SELECT n_nationkey, n_name, n_regionkey FROM nation " +
        "ORDER BY n_nationkey"),
    // the partition-grouped metadata aggregates must equal a real
    // GROUP BY recompute
    "v48_graft_agg_group" ->
      ("SELECT n_regionkey, count(*) AS n_nations, " +
        "min(n_nationkey) AS lo_key, max(n_nationkey) AS hi_key " +
        "FROM nation GROUP BY n_regionkey ORDER BY n_regionkey"),
    // the metadata-answered aggregates must equal a real scan's answers
    "v45_graft_agg_stats" ->
      ("SELECT count(*) AS n_rows, min(c_custkey) AS lo_key, " +
        "max(c_custkey) AS hi_key, count(c_name) AS n_names FROM customer"),
    // the maintained view must equal a from-scratch recompute of the
    // final state (nation minus the deleted regions)
    "v22_graft_ivm" ->
      ("SELECT n_regionkey, CAST(count(*) AS BIGINT) AS n_nations, " +
        "CAST(sum(n_nationkey) AS BIGINT) AS key_sum FROM nation " +
        "WHERE n_regionkey NOT IN (2, 4) " +
        "GROUP BY n_regionkey ORDER BY n_regionkey"),
    // the manifest's per-partition record totals ≡ a GROUP BY recompute
    "v27_graft_partitions" ->
      ("SELECT n_regionkey, CAST(count(*) AS BIGINT) AS record_count " +
        "FROM nation GROUP BY n_regionkey ORDER BY n_regionkey"),
    // base region + the branch's audited batch (shifted keys minus the
    // audit-deleted 102), all at the publish snapshot
    "v26_graft_branch_wap" ->
      ("SELECT r.*, CAST(2 AS BIGINT) AS snapshot__id FROM " +
        "(SELECT * FROM region UNION ALL " +
        "SELECT CAST(r_regionkey + 100 AS INTEGER) AS r_regionkey, r_name " +
        "FROM region WHERE r_regionkey + 100 <> 102) r " +
        "ORDER BY r_regionkey"),
    "v11_graft_evolution" ->
      ("SELECT r.*, CAST(NULL AS BIGINT) AS r_extra, " +
        "CAST(2 AS BIGINT) AS snapshot__id FROM region r " +
        "UNION ALL SELECT r.*, CAST(r_regionkey * 10 AS BIGINT) AS r_extra, " +
        "CAST(2 AS BIGINT) AS snapshot__id FROM region r"),
    "v12_graft_compacted" ->
      ("SELECT r.*, CAST(3 AS BIGINT) AS snapshot__id FROM " +
        "(SELECT * FROM region UNION ALL SELECT * FROM region) r"),
    "v16_graft_merge" ->
      ("SELECT n_nationkey, CASE WHEN n_nationkey <= 2 THEN 'M-' || n_name " +
        "ELSE n_name END AS n_name, n_regionkey, " +
        "CAST(2 AS BIGINT) AS snapshot__id FROM nation " +
        "UNION ALL SELECT n_nationkey + 90, 'NEWLAND', n_regionkey, " +
        "CAST(2 AS BIGINT) FROM nation WHERE n_nationkey <= 1"),
    "v15_graft_update" ->
      ("SELECT n_nationkey, " +
        "CASE WHEN n_regionkey = 1 THEN 'X-' || n_name ELSE n_name END AS n_name, " +
        "n_regionkey, CAST(2 AS BIGINT) AS snapshot__id FROM nation"),
    "v14_graft_delete" ->
      ("SELECT *, CAST(2 AS BIGINT) AS snapshot__id FROM nation " +
        "WHERE n_regionkey NOT IN (2, 4)"),
    "v21_graft_bloom_lookup" ->
      ("SELECT n_nationkey, n_name, n_regionkey FROM nation WHERE n_nationkey = 4 " +
        "UNION ALL SELECT n_nationkey, n_name, n_regionkey FROM nation WHERE n_nationkey = 7 " +
        "UNION ALL SELECT n_nationkey, n_name, n_regionkey FROM nation WHERE n_name = 'NATION_9'"),
    "v20_graft_deferred_delete" ->
      ("SELECT n_nationkey, n_name, n_regionkey FROM nation " +
        "WHERE n_regionkey NOT IN (2, 4) " +
        "UNION ALL SELECT n_nationkey, n_name, n_regionkey FROM nation " +
        "WHERE n_regionkey = 2"),
    "v28_graft_positional_delete" ->
      ("SELECT n_nationkey, n_name, n_regionkey FROM nation " +
        "WHERE n_regionkey NOT IN (2, 4) AND n_nationkey % 5 <> 1 " +
        "UNION ALL SELECT n_nationkey, n_name, n_regionkey FROM nation " +
        "WHERE n_regionkey = 2 AND n_nationkey % 5 <> 1"),
    "v33_graft_mor_merge" ->
      ("SELECT n_nationkey, n_name, n_regionkey FROM nation " +
        "WHERE n_regionkey <> 2 " +
        "UNION ALL SELECT n_nationkey, n_name || '_M', n_regionkey " +
        "FROM nation WHERE n_regionkey = 2 " +
        "UNION ALL SELECT 999, 'NEWLAND', 2"),
    "v32_graft_cdc_feed" ->
      ("SELECT n_nationkey, n_name, n_regionkey, " +
        "'delete' AS _change_type, CAST(2 AS BIGINT) AS snapshot__id " +
        "FROM nation WHERE n_regionkey = 1 " +
        "UNION ALL SELECT n_nationkey, n_name || '_U', n_regionkey, " +
        "'insert', CAST(2 AS BIGINT) FROM nation WHERE n_regionkey = 1 " +
        "UNION ALL SELECT n_nationkey, " +
        "CASE WHEN n_regionkey = 1 THEN n_name || '_U' ELSE n_name END, " +
        "n_regionkey, 'delete', CAST(3 AS BIGINT) FROM nation " +
        "WHERE n_nationkey % 4 = 1"),
    "v31_graft_equality_delete" ->
      ("SELECT n_nationkey, n_name, n_regionkey FROM nation " +
        "WHERE n_nationkey % 3 <> 0 " +
        "UNION ALL SELECT n_nationkey, n_name, n_regionkey FROM nation " +
        "WHERE n_nationkey % 6 = 0"),
    // replay of the composed chain: DV kills %5=1; the equality upsert
    // supersedes surviving region-3 rows with '_E' copies and inserts
    // 998; the stacked key-delete then removes %7=2 from originals and
    // superseding copies alike
    "v59_graft_mor_composed" ->
      ("SELECT n_nationkey, n_name, n_regionkey FROM nation " +
        "WHERE n_nationkey % 5 <> 1 AND n_regionkey <> 3 " +
        "AND n_nationkey % 7 <> 2 " +
        "UNION ALL SELECT n_nationkey, n_name || '_E', n_regionkey " +
        "FROM nation WHERE n_nationkey % 5 <> 1 AND n_regionkey = 3 " +
        "AND n_nationkey % 7 <> 2 " +
        "UNION ALL SELECT 998, 'COMPOSED', 3"),
    // triad replay: predicate 1 expires region 4; the DV job removes
    // %5=1 among its survivors; the upsert supersedes region-3
    // survivors with '_T' copies and inserts 997; predicate 2 then
    // removes %7=6 from everything it covers (the upsert's file too)
    "v64_graft_mor_triad" ->
      ("SELECT n_nationkey, n_name, n_regionkey FROM nation " +
        "WHERE n_regionkey <> 4 AND n_nationkey % 5 <> 1 " +
        "AND n_regionkey <> 3 AND n_nationkey % 7 <> 6 " +
        "UNION ALL SELECT n_nationkey, n_name || '_T', n_regionkey " +
        "FROM nation WHERE n_regionkey = 3 AND n_nationkey % 5 <> 1 " +
        "AND n_nationkey % 7 <> 6 " +
        "UNION ALL SELECT 997, 'TRIAD', 3"),
    // defaults replay: era 1 reads 'standard', era 2 wrote explicit
    // 'premium', era 3 write-filled 'standard'
    "v65_graft_column_default" ->
      ("SELECT n_nationkey, 'standard' AS n_tier FROM nation " +
        "UNION ALL SELECT n_nationkey + 100, 'premium' FROM nation " +
        "WHERE n_regionkey = 0 " +
        "UNION ALL SELECT n_nationkey + 200, 'standard' FROM nation " +
        "WHERE n_regionkey = 1"),
    // lineage replay: ids equal n_nationkey (key-ordered input file,
    // one band) and survive the rewrite + compaction; region-2 rows
    // carry the update snapshot, everything else the append
    "v67_graft_row_lineage" ->
      ("SELECT n_nationkey, CAST(n_nationkey AS BIGINT) AS _row_id, " +
        "CAST(CASE WHEN n_regionkey = 2 THEN 2 ELSE 1 END AS BIGINT) " +
        "AS _last_updated_snapshot_id FROM nation"),
    // the registered pointer serves exactly the source's rows
    "v70_graft_register" ->
      "SELECT n_nationkey, n_name, n_regionkey FROM nation",
    // the dynamic overwrite replaced regions 1/3 with the recoded rows
    // and left every other slice's files untouched (rewritten = 0)
    "v73_graft_dynovr" ->
      ("SELECT n_nationkey, n_name, n_regionkey, " +
        "CAST(0 AS BIGINT) AS rewritten_files, " +
        "CAST(2 AS BIGINT) AS replaced_parts " +
        "FROM nation WHERE n_regionkey NOT IN (1, 3) " +
        "UNION ALL " +
        "SELECT n_nationkey + 100, n_name || '_R', n_regionkey, " +
        "CAST(0 AS BIGINT), CAST(2 AS BIGINT) " +
        "FROM nation WHERE n_regionkey IN (1, 3)"),
    // rollback + cherrypick nets to the full table; _row_id equals the
    // key (key-ordered single-band appends, bands CARRIED by the pick)
    // and each row still attributes to its original committing snapshot
    "v72_graft_cherrypick" ->
      ("SELECT n_nationkey, CAST(n_nationkey AS BIGINT) AS _row_id, " +
        "CAST(CASE WHEN n_nationkey < 15 THEN 1 ELSE 2 END AS BIGINT) " +
        "AS _last_updated_snapshot_id FROM nation"),
    // corpus and index agree per region AFTER the atomic publish; the
    // mid-txn probes prove the staged commits were invisible: the
    // published corpus still held only the < 15 slice and the
    // published index exactly its one pre-txn snapshot (-1 for regions
    // whose refresh delta was empty — no phase-2 probe row there)
    "v71_graft_txn" ->
      ("SELECT n_regionkey, count(*) AS corpus_rows, " +
        "count(*) AS idx_rows, " +
        "CAST(CASE WHEN count(CASE WHEN n_nationkey >= 15 THEN 1 END) > 0 " +
        "THEN (SELECT count(*) FROM nation WHERE n_nationkey < 15) " +
        "ELSE -1 END AS BIGINT) AS mid_corpus_rows, " +
        "CAST(CASE WHEN count(CASE WHEN n_nationkey >= 15 THEN 1 END) > 0 " +
        "THEN 1 ELSE -1 END AS BIGINT) AS mid_index_snaps " +
        "FROM nation GROUP BY n_regionkey"),
    // changelog-with-identity replay: snap1 inserts everything (id =
    // key, version 1), snap2 retracts region 2's old rows and inserts
    // the retagged ones under the SAME ids (version 2), snap3 retracts
    // %6=3 keys at their then-current values/versions
    "v69_graft_cdc_lineage" ->
      ("SELECT n_nationkey, n_name, 'insert' AS _change_type, " +
        "CAST(1 AS BIGINT) AS snapshot__id, " +
        "CAST(n_nationkey AS BIGINT) AS _row_id, " +
        "CAST(1 AS BIGINT) AS _last_updated_snapshot_id FROM nation " +
        "UNION ALL SELECT n_nationkey, n_name, 'delete', 2, " +
        "n_nationkey, 1 FROM nation WHERE n_regionkey = 2 " +
        "UNION ALL SELECT n_nationkey, n_name || '_L9', 'insert', 2, " +
        "n_nationkey, 2 FROM nation WHERE n_regionkey = 2 " +
        "UNION ALL SELECT n_nationkey, CASE WHEN n_regionkey = 2 " +
        "THEN n_name || '_L9' ELSE n_name END, 'delete', 3, " +
        "n_nationkey, CASE WHEN n_regionkey = 2 THEN 2 ELSE 1 END " +
        "FROM nation WHERE n_nationkey % 6 = 3"),
    // variant replay over the raw JSON text: the k<10 slice was
    // CoW-deleted; k is always present in props so the delete predicate
    // is never NULL (no kept-on-NULL subtlety)
    "v68_graft_variant" ->
      ("SELECT event_id, CAST(json_extract(props, '$.k') AS INT) AS k, " +
        "user_id AS u FROM events " +
        "WHERE CAST(json_extract(props, '$.k') AS INT) >= 10 " +
        "AND event_type = 'click'"),
    // the stored view SQL replayed directly over the raw table
    "v66_graft_sql_view" ->
      ("SELECT n_regionkey, count(*) AS n_nations, " +
        "min(n_name) AS first_name FROM nation GROUP BY n_regionkey"),
    // the stream-maintained aggregate equals the final-state recompute
    "st10_cdc_agg_replay" ->
      ("SELECT n_regionkey, CAST(count(*) AS BIGINT) AS cnt, " +
        "CAST(sum(n_nationkey) AS BIGINT) AS sum_key FROM nation " +
        "WHERE n_nationkey % 4 <> 1 GROUP BY n_regionkey"),
    // replay: equality kills %3=0, the CoW update retags region 2's
    // SURVIVORS, the CoW delete then removes %5=4
    "v63_graft_cow_on_equality" ->
      ("SELECT n_nationkey, CASE WHEN n_regionkey = 2 " +
        "THEN n_name || '_C' ELSE n_name END AS n_name, n_regionkey " +
        "FROM nation WHERE n_nationkey % 3 <> 0 AND n_nationkey % 5 <> 4"),
    // the mixed parquet+ORC read must equal the retag replay
    "v62_graft_orc_format" ->
      ("SELECT r_regionkey, CASE WHEN r_regionkey = 2 " +
        "THEN r_name || '_O' ELSE r_name END AS r_name FROM region"),
    // the shadow table serves exactly the dump's rows for the slice
    "v61_graft_snapshot_boot" ->
      ("SELECT n_nationkey, n_name, CAST(n_regionkey AS BIGINT) " +
        "AS n_regionkey FROM nation WHERE n_regionkey <= 2"),
    // folding the full changelog from empty must equal the fixture's
    // final state: region-1 names retagged, %4=1 keys deleted
    "v60_graft_changelog_batch" ->
      ("SELECT n_nationkey, " +
        "CASE WHEN n_regionkey = 1 THEN n_name || '_U' ELSE n_name END " +
        "AS n_name, n_regionkey FROM nation WHERE n_nationkey % 4 <> 1"),
    "v30_graft_positional_update" ->
      ("SELECT n_nationkey, " +
        "CASE WHEN n_regionkey = 3 THEN n_name || '_X' ELSE n_name END " +
        "AS n_name, n_regionkey FROM nation WHERE n_nationkey % 7 <> 2"),
    "v29_graft_dedup_mor" ->
      ("WITH corpus AS (" +
        "SELECT doc_id, text, lang, n_chars FROM documents " +
        "UNION ALL " +
        "SELECT doc_id + 1000000, text, lang, n_chars FROM documents " +
        "WHERE doc_id < 50), " +
        "keep AS (SELECT lang, n_chars FROM (" +
        "SELECT lang, n_chars, " +
        "row_number() OVER (PARTITION BY text ORDER BY doc_id) AS rn " +
        "FROM corpus) WHERE rn = 1) " +
        "SELECT lang, CAST(count(*) AS BIGINT) AS docs, " +
        "CAST(sum(n_chars) AS BIGINT) AS n_chars_sum " +
        "FROM keep GROUP BY lang"),
    "v13_graft_files" ->
      ("SELECT n_regionkey, CAST(count(*) AS BIGINT) AS record_count " +
        "FROM nation GROUP BY n_regionkey"),
    "v09_graft_partitioned" ->
      ("SELECT *, CAST(1 AS BIGINT) AS snapshot__id FROM nation " +
        "WHERE n_regionkey = 2"),
    "v23_graft_spec_evolution" ->
      ("SELECT *, CAST(2 AS BIGINT) AS snapshot__id FROM nation " +
        "WHERE n_regionkey IN (1, 2)"),
    "v24_graft_bucket_lookup" ->
      ("SELECT *, CAST(1 AS BIGINT) AS snapshot__id FROM documents " +
        "WHERE doc_id IN (7, 21, 42, 101)"),
    "v25_graft_day_slice" ->
      ("SELECT CAST(ts AS DATE) AS day, event_type, " +
        "count(*) AS n_events, " +
        "CAST(round(sum(CAST(value AS DECIMAL(18,6))), 4) AS DOUBLE) AS sum_value " +
        "FROM events WHERE ts >= TIMESTAMP '2024-01-21 12:00:00' " +
        "GROUP BY 1, 2 ORDER BY 1, 2"),
    "v10_graft_partition_filter" ->
      ("SELECT *, CAST(1 AS BIGINT) AS snapshot__id FROM nation " +
        "WHERE n_regionkey IN (0, 3) AND n_nationkey >= 10"),
    "v19_graft_bigscan" ->
      ("SELECT l_returnflag, count(*) AS n_rows, " +
        "CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty " +
        "FROM lineitem WHERE strftime(l_shipdate, '%Y-%m') = '1995-03' " +
        "GROUP BY 1 ORDER BY 1"),
    "v01_graft_scan" ->
      ("SELECT r.*, CAST(2 AS BIGINT) AS snapshot__id FROM " +
        "(SELECT * FROM region UNION ALL SELECT * FROM region) r"),
    "v02_graft_timetravel" ->
      "SELECT *, CAST(1 AS BIGINT) AS snapshot__id FROM region",
    "v03_graft_snapshots" ->
      ("SELECT * FROM (VALUES " +
        "(CAST(1000 AS BIGINT), CAST(1 AS BIGINT), CAST(NULL AS BIGINT), 'append'), " +
        "(CAST(2000 AS BIGINT), CAST(2 AS BIGINT), CAST(1 AS BIGINT), 'append')) " +
        "AS t(committed_at, snapshot_id, parent_id, operation)"),
    "v04_graft_filter" ->
      ("SELECT r.*, CAST(2 AS BIGINT) AS snapshot__id FROM " +
        "(SELECT * FROM region UNION ALL SELECT * FROM region) r " +
        "WHERE r_regionkey >= 2"),
    "v05_graft_tt_filter" ->
      ("SELECT *, CAST(1 AS BIGINT) AS snapshot__id FROM region " +
        "WHERE r_regionkey < 2"),
    "v06_graft_empty" ->
      ("SELECT *, CAST(NULL AS BIGINT) AS snapshot__id FROM region " +
        "WHERE 1 = 0"),
    "v07_orc_scan" ->
      "SELECT * FROM region WHERE r_regionkey >= 1",
    "v17_avro_scan" ->
      "SELECT * FROM nation WHERE n_regionkey <> 3",
    "v18_avro_table" ->
      ("SELECT r_regionkey, r_name, CAST(2 AS BIGINT) AS snapshot__id FROM region " +
        "UNION ALL SELECT r_regionkey + 10, r_name, CAST(2 AS BIGINT) FROM region"),
    "v08_graft_changes" ->
      "SELECT *, CAST(2 AS BIGINT) AS snapshot__id FROM region"
  )
}
