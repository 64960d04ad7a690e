package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deduplication operators for LLM training-data pipelines (SURVEY.md §7.1
  * M5; the reference has no dedup surface — §2.4 [absent]).
  *
  * Scale design (the point of every choice here):
  *  - exact dedup is a hash `groupBy` — one shuffle on the fingerprint, the
  *    canonical 100 TB dedup plan (map-side partial agg keeps it cheap);
  *  - MinHash+LSH never materializes the O(n²) pair space: signatures are
  *    per-row column expressions (codegen'd, no UDF), banding explodes each
  *    doc into `bands` rows, and candidates are generated by a self-join on
  *    the (band, bandHash) bucket key — shuffle is O(n · bands), and the
  *    exact-Jaccard verify runs only on bucket-collision pairs;
  *  - SimHash is a pure column expression producing one 64-bit signature —
  *    exact dups group by signature (d05); near dups band the signature
  *    into rotated 16-bit buckets and popcount-verify collisions (d15);
  *  - everything is a DataFrame transformation: no driver-side loops, no
  *    collect(), no UDFs in the hot path.
  */
object Dedup extends QueryPack {

  // -------------------- shared column expressions --------------------

  /** Distinct word tokens of `text` (lowercased). */
  private def tokens(c: Column): Column =
    array_distinct(graft.functions.TextOps.tokens(c))

  /** 60-bit ENGINE-PORTABLE hash: the first 15 hex digits of md5, parsed
    * as a BIGINT — DuckDB computes the identical value via
    * `CAST(('0x' || substr(md5(s),1,15)) AS BIGINT)`, so every signature
    * derived from it is exactly reproducible across engines. ~3× the cost
    * of xxhash64 (md5 + radix conv) — the oracle-checked portable dedup
    * variants pay it; the hot paths (d03/d05-scale corpora) keep xxhash64
    * semantics available via the `hasher` parameters. */
  private[graft] def portableHash(c: Column): Column =
    conv(substring(md5(c), 1, 15), 16, 10).cast("long")

  /** [[portableHash]] reduced below 2^31 for the universal-hash family
    * (products stay under 2^62 — no ANSI overflow on either engine). */
  private[graft] def portableHashRed(c: Column): Column =
    portableHash(c) % M31

  /** (doc, shingle-hash) ROWS — full k-grams; shorter docs collapse to one
    * shingle of all their tokens, a null text yields no rows — built as
    * ONE NARROW
    * projection: the fused [[graft.functions.KGrams]] kernel forms each
    * row's k-grams in place and `explode` emits them — no per-token
    * posexplode, no corpus-wide (doc, pos) window sort-shuffle just to
    * look k-1 slots ahead inside an array the row already holds, and no
    * interpreted array lambda (the CLAUDE.md transform trap). Hashing
    * stays a codegen'd column expression applied after the explode. No
    * distinct: min-aggregation is duplicate-insensitive and the verify
    * stage collects SETs — a dedup shuffle here would be pure cost. */
  private def shingleRows(
      docs: DataFrame, idCol: String, textCol: String, k: Int,
      hasher: Column => Column = xxhash64(_)): DataFrame = {
    require(k >= 1, s"shingle size must be >= 1, got $k")
    val toksArr = graft.functions.TextOps.tokens(col(textCol))
    docs
      .select(col(idCol).as("doc"),
        explode(graft.functions.TextOps.kgrams(toksArr, k)).as("shingle"))
      .select(col("doc"), hasher(col("shingle")).as("h"))
  }

  // A fixed (seeded) family of universal hash functions
  // h_i(x) = (a_i * reduce(x) + b_i) mod M. Spark 4 runs ANSI mode, where
  // Long overflow throws — so the shingle hash is first reduced below 2^31
  // and coefficients stay below 2^31, keeping every product under 2^62.
  //
  // PERFORMANCE: higher-order array lambdas (transform/aggregate) are NOT
  // whole-stage-codegen'd in Spark — evaluating 64 permutations per doc via
  // array_min(transform(...)) runs interpreted and dominated the bench. The
  // signature is instead computed by exploding shingles and hash-
  // aggregating 64 `min(...)` columns: partial aggregation is map-side,
  // the per-row expressions are codegen'd, and the shuffle carries one
  // 64-slot partial signature per doc, not the shingle set.
  private[graft] val M31 = 2147483647L // 2^31 - 1 (Mersenne prime)
  private def minhashCoefs(perms: Int): Seq[(Long, Long)] = {
    val rng = new scala.util.Random(42)
    Seq.fill(perms)(
      (rng.nextLong().abs % (M31 - 1) + 1, rng.nextLong().abs % M31))
  }

  /** 64-bit SimHash per doc: explode distinct tokens, hash row-wise
    * (codegen'd — hashing inside a `transform` lambda would run
    * interpreted), aggregate 64 signed bit sums, then assemble the sign
    * bits. With the default [[portableHash]] the signature is exactly
    * reproducible in DuckDB (bits 60-63 of a 60-bit hash are always 0, so
    * their sums are all-negative → signature bits 0 on both engines). */
  def simhashDf(docs: DataFrame, idCol: String, textCol: String,
      hasher: Column => Column = portableHash(_)): DataFrame = {
    val exploded = docs.select(col(idCol).as("doc_id"),
      explode_outer(tokens(col(textCol))).as("tok"))
      .select(col("doc_id"), hasher(col("tok")).as("h"))
    simhashFromHashes(exploded)
  }

  /** Signature assembly shared by the token ([[simhashDf]]) and shingle
    * ([[simhashNearDups]]) feature spaces: signed bit sums over a
    * (doc_id, h) relation, sign bits assembled into one 64-bit value. */
  // one fused bit-sum aggregate (SimHashAggregate) instead of 64 generated
  // sum(when(...)) columns + a 64-term assembly projection — bit-identical
  // (integer sums, strictly-positive assembly), property-tested in
  // SimHashAggregateSpec
  private def simhashFromHashes(exploded: DataFrame): DataFrame =
    exploded.groupBy(col("doc_id"))
      .agg(graft.functions.SimHashAggregate.simhash_agg(col("h"))
        .as("simhash"))

  /** SimHash NEAR-dup pairs — the hamming-ball query d05's exact-signature
    * grouping can't answer. SHINGLE-space signatures (3-gram features
    * discriminate far better than unigram bags: measured 69 candidates /
    * 23 near pairs on the test corpus vs 20k/11k token-based — short
    * repetitive docs collapse the token space), then the standard rotated-
    * band trick: a pair within hamming distance d of a 64-bit signature
    * agrees exactly on ≥ one of 4 16-bit bands whenever d ≤ 6-ish, so
    * candidates come from a band-bucket equi-join (O(n·4) shuffle, never
    * all-pairs) and the exact popcount verify runs on collisions only.
    * Fully oracle-checkable: portable hashes → identical signatures in
    * DuckDB, bit_count(xor) on both engines. */
  def simhashNearDups(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      k: Int = 3,
      bands: Int = 4,
      maxHamming: Int = 6): DataFrame = {
    val bits = 64 / bands
    val mask = (1L << bits) - 1
    // bit sums weight each distinct shingle once — deduped PER ROW by
    // the fused kernel (doc ids are unique, so the row-local distinct
    // hash set equals the global (doc, h) distinct; hashing inside the
    // dedup keeps hash-collision semantics identical), deleting the
    // corpus-wide distinct EXCHANGE the exploded spelling paid before
    // the signature aggregate could take its map-side partials
    val hashed = docs.select(col(idCol).as("doc_id"),
      explode(graft.functions.PortableText.portable_shingles_full(
        graft.functions.TextOps.tokens(col(textCol)), k)).as("h"))
    // persist: the band self-join consumes this relation on BOTH sides
    // (alias-renamed subtrees can defeat ReuseExchange), and each side
    // would re-run the shingle + bit-sum aggregate pipeline. UNLIKE the
    // minhash index (array-heavy sh sets, where caching measured slower
    // than recompute), this relation is two longs per doc — columnar
    // cache build is negligible next to one pipeline re-run. Lazy, so
    // plan construction stays job-free.
    val sigs = simhashFromHashes(hashed).persist()
    val buckets = array((0 until bands).map(b =>
      shiftright(col("simhash"), b * bits).bitwiseAND(mask)): _*)
    // each banded row CARRIES its 8-byte signature: the popcount verify
    // then runs directly on the band join's output and the two
    // attach-signature joins (one shuffle of the pair set + one sigs
    // exchange EACH — corpus-sized at scale) disappear. Multi-band
    // collisions of one pair produce identical hamming values, so
    // deduping after the verify keeps the same pairs while the dedup
    // exchange ships (doc_a, doc_b, hamming) — the s18 "decide on small
    // rows" move; a signature is one long, cheaper to carry than to
    // re-join
    val banded = sigs.select(col("doc_id"), col("simhash"), posexplode(buckets))
      .withColumnsRenamed(Map("pos" -> "band", "col" -> "bucket"))
    banded.alias("l").join(banded.alias("r"),
        col("l.band") === col("r.band") &&
          col("l.bucket") === col("r.bucket") &&
          col("l.doc_id") < col("r.doc_id"))
      .select(col("l.doc_id").as("doc_a"), col("r.doc_id").as("doc_b"),
        bit_count(col("l.simhash").bitwiseXOR(col("r.simhash")))
          .as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .dropDuplicates("doc_a", "doc_b")
      .select("doc_a", "doc_b", "hamming")
  }

  /** MinHash-LSH candidate pairs with exact-Jaccard verification.
    * Returns (doc_a, doc_b, jaccard) for pairs whose banded signatures
    * collide AND whose true shingle-Jaccard ≥ `threshold`. */
  def minhashNearDups(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      k: Int = 3,
      perms: Int = 64,
      bands: Int = 16,
      threshold: Double = 0.5): DataFrame = {
    require(perms % bands == 0,
      s"perms ($perms) must be divisible by bands ($bands) — a remainder " +
        "would silently drop trailing signature slots from every band hash")
    val rows = perms / bands
    // PER-ROW index build (r17 — the portableIndex treatment on the
    // xxhash64 bulk path): each row's distinct shingle-hash set and its
    // permutation minima come from two fused kernels (XxShingles +
    // MinHashOverSet with the MinHashSignature h31 normalization), so
    // the explode → groupBy(doc) aggregate that shuffled the ENTIRE
    // corpus shingle stream — and, with per-branch pruning, executed
    // the shingle pipeline twice — is gone. Values identical: the
    // kernel's hashes ARE xxhash64(shingle) bit for bit, min over the
    // shingle multiset equals min over the row's distinct set, and the
    // verify consumers take set sizes/intersections (order-free). At
    // warehouse scale the standing answer is still to materialize this
    // index ONCE into a table and probe it per batch
    // ([[minhashProbeIndexed]] + DocStreamSpec prove that path).
    val toksArr = graft.functions.TextOps.tokens(col(textCol))
    val perDoc = docs
      .select(col(idCol).as("doc"),
        graft.functions.PortableText.xx_shingles(toksArr, k).as("sh"))
      .filter(col("sh").isNotNull)
      .select(col("doc"), col("sh"), graft.functions.PortableText
        .minhash_over_set(col("sh"), minhashCoefs(perms), normalize = true)
        .as("sig"))

    // band index b -> hash of signature rows [b*r, (b+1)*r)
    // (xxhash64 hashes the array slice directly; bands unrolled at
    // plan-build time)
    val bandHashes = array((0 until bands).map(b =>
      xxhash64(slice(col("sig"), b * rows + 1, rows))): _*)
    val banded = perDoc.select(col("doc"), posexplode(bandHashes))
      .withColumnsRenamed(Map("pos" -> "band", "col" -> "bucket"))

    // candidates: same (band, bucket); dedup pairs across bands
    val l = banded.alias("l")
    val r = banded.alias("r")
    val candIds = l.join(r,
        col("l.band") === col("r.band") &&
          col("l.bucket") === col("r.bucket") &&
          col("l.doc") < col("r.doc"))
      .select(col("l.doc").as("doc_a"), col("r.doc").as("doc_b"))
      .dropDuplicates("doc_a", "doc_b")

    // exact verify on the (small) candidate set only: attach shingle sets
    // to the surviving pairs, never to every banded row
    val cand = candIds
      .join(perDoc.select(col("doc").as("doc_a"), col("sh").as("sh_a")),
        "doc_a")
      .join(perDoc.select(col("doc").as("doc_b"), col("sh").as("sh_b")),
        "doc_b")
    cand
      .withColumn("n_common", size(array_intersect(col("sh_a"), col("sh_b"))))
      .withColumn("n_union",
        size(col("sh_a")) + size(col("sh_b")) - col("n_common"))
      .withColumn("jaccard",
        round(col("n_common").cast("double") / col("n_union"), 6))
      .filter(col("jaccard") >= threshold)
      .select("doc_a", "doc_b", "n_common", "n_union", "jaccard")
  }

  /** ENGINE-PORTABLE MinHash+LSH near-dups: the same five-stage pipeline
    * as [[minhashNearDups]] (shingle → signature → band → bucket-join →
    * exact verify) built entirely from operations DuckDB reproduces
    * bit-for-bit — [[portableHash]] shingles, the seeded universal-hash
    * family as explicit `min((a·h+b) mod M31)` columns, and band buckets
    * as `concat_ws` strings instead of hashed slices. This is the
    * cross-engine-verifiable variant; d03 keeps the faster xxhash64 path
    * for bulk corpora. Same O(n·bands) shuffle shape. */
  def minhashNearDupsPortable(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      k: Int = 3,
      perms: Int = 16,
      bands: Int = 4,
      threshold: Double = 0.5): DataFrame = {
    val (perDoc, banded) = portableIndex(docs, idCol, textCol, k, perms, bands)

    val l = banded.alias("l")
    val r = banded.alias("r")
    val candIds = l.join(r,
        col("l.band") === col("r.band") &&
          col("l.bucket") === col("r.bucket") &&
          col("l.doc") < col("r.doc"))
      .select(col("l.doc").as("doc_a"), col("r.doc").as("doc_b"))
      .dropDuplicates("doc_a", "doc_b")

    candIds
      .join(perDoc.select(col("doc").as("doc_a"), col("sh").as("sh_a")),
        "doc_a")
      .join(perDoc.select(col("doc").as("doc_b"), col("sh").as("sh_b")),
        "doc_b")
      .withColumn("n_common", size(array_intersect(col("sh_a"), col("sh_b"))))
      .withColumn("n_union",
        size(col("sh_a")) + size(col("sh_b")) - col("n_common"))
      .withColumn("jaccard",
        round(col("n_common").cast("double") / col("n_union"), 6))
      .filter(col("jaccard") >= threshold)
      .select("doc_a", "doc_b", "n_common", "n_union", "jaccard")
  }

  /** The portable MinHash INDEX of a corpus: per-doc signature + shingle
    * set (`doc, m0..m{perms-1}, sh`) and the exploded band buckets
    * (`doc, band, bucket`). One shingle pipeline feeds both outputs (the
    * shared-aggregate/ReuseExchange rationale of [[minhashNearDups]]). At
    * warehouse scale this pair IS the materialized dedup index — write it
    * to a GraftTable once, then every arriving batch joins against it. */
  private[graft] def portableIndex(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      k: Int,
      perms: Int,
      bands: Int): (DataFrame, DataFrame) = {
    require(perms % bands == 0, s"perms ($perms) not divisible by bands ($bands)")
    val coefs = minhashCoefs(perms)
    // PER-ROW index build (the DocStream.dupProbe probe-side kernels,
    // now on the corpus side too): each row's distinct shingle-hash set
    // and its permutation minima come from two fused kernels — the
    // explode → groupBy(doc) aggregate that shuffled the entire corpus
    // shingle stream is gone (r17). Values identical: min((h·a+b)%M31)
    // over the shingle MULTISET equals the min over the row's distinct
    // set (the minimand is a function of h), and the set consumers only
    // take sizes/intersections (order-free). Docs whose text is NULL
    // produced no shingle rows before — the sh-not-null filter keeps
    // them absent. DocStreamSpec's stream/batch parity pins the
    // kernel ≡ aggregate equivalence.
    val shCol = graft.functions.PortableText.portable_shingles(
      graft.functions.TextOps.tokens(col(textCol)), k)
    val sigCol = graft.functions.PortableText.minhash_over_set(
      col("sh"), coefs)
    val perDoc = docs
      .select(col(idCol).as("doc"), shCol.as("sh"))
      .filter(col("sh").isNotNull)
      .select(col("doc"), col("sh"), sigCol.as("sig"))
      .select(Seq(col("doc")) ++
        (0 until perms).map(i => element_at(col("sig"), i + 1).as(s"m$i")) :+
        col("sh"): _*)
    (perDoc, bandBucketsFrom(perDoc, perms, bands))
  }

  /** Explode a [[portableIndex]] per-doc relation (stored or freshly
    * computed — e.g. loaded back from a materialized index table) into its
    * (doc, band, bucket) rows. */
  private[graft] def bandBucketsFrom(
      perDoc: DataFrame, perms: Int, bands: Int): DataFrame = {
    val rows = perms / bands
    val bandBuckets = array((0 until bands).map(b =>
      concat_ws("-", (0 until rows).map(r => col(s"m${b * rows + r}")): _*)): _*)
    perDoc.select(col("doc"), posexplode(bandBuckets))
      .withColumnsRenamed(Map("pos" -> "band", "col" -> "bucket"))
  }

  /** INCREMENTAL near-dup detection: which docs of an arriving `batch`
    * duplicate a doc already in `corpus`? The 100 TB dedup-maintenance
    * query — a pipeline ingesting snapshots must answer it per batch
    * WITHOUT re-deduplicating the corpus. Both sides go through
    * [[portableIndex]]; candidates come from an equi-join of the BATCH's
    * band buckets against the CORPUS's (never corpus × corpus — per-batch
    * shuffle is O(batch·bands) plus the matched buckets), then exact
    * Jaccard verifies collisions. In production the corpus index is
    * materialized once (a GraftTable keyed by (band, bucket)) and only
    * the batch side is computed per run; d14 recomputes it here so the
    * DuckDB oracle can replay the whole pipeline from the raw table.
    * Returns (new_doc, dup_of, n_common, n_union, jaccard). */
  def minhashIncrementalDups(
      corpus: DataFrame,
      batch: DataFrame,
      idCol: String,
      textCol: String,
      k: Int = 3,
      perms: Int = 16,
      bands: Int = 4,
      threshold: Double = 0.5): DataFrame = {
    val (corpusDoc, corpusBanded) =
      portableIndex(corpus, idCol, textCol, k, perms, bands)
    minhashProbeIndexed(corpusDoc, corpusBanded, batch, idCol, textCol,
      k, perms, bands, threshold)
  }

  /** [[minhashIncrementalDups]] against a PREBUILT corpus index — the
    * production entry point: `corpusDoc`/`corpusBanded` are the two
    * relations [[portableIndex]] emits (materialize them once, e.g. into
    * GraftTables, and rebuild the banded view with [[bandBucketsFrom]]);
    * per batch only the batch side is computed. */
  def minhashProbeIndexed(
      corpusDoc: DataFrame,
      corpusBanded: DataFrame,
      batch: DataFrame,
      idCol: String,
      textCol: String,
      k: Int = 3,
      perms: Int = 16,
      bands: Int = 4,
      threshold: Double = 0.5): DataFrame = {
    val (batchDoc, batchBanded) =
      portableIndex(batch, idCol, textCol, k, perms, bands)

    val candIds = batchBanded.alias("n").join(corpusBanded.alias("c"),
        col("n.band") === col("c.band") &&
          col("n.bucket") === col("c.bucket"))
      .select(col("n.doc").as("new_doc"), col("c.doc").as("dup_of"))
      .dropDuplicates("new_doc", "dup_of")

    candIds
      .join(batchDoc.select(col("doc").as("new_doc"), col("sh").as("sh_n")),
        "new_doc")
      .join(corpusDoc.select(col("doc").as("dup_of"), col("sh").as("sh_c")),
        "dup_of")
      .withColumn("n_common", size(array_intersect(col("sh_n"), col("sh_c"))))
      .withColumn("n_union",
        size(col("sh_n")) + size(col("sh_c")) - col("n_common"))
      .withColumn("jaccard",
        round(col("n_common").cast("double") / col("n_union"), 6))
      .filter(col("jaccard") >= threshold)
      .select("new_doc", "dup_of", "n_common", "n_union", "jaccard")
  }

  /** The seeded permutation family, exposed so the DuckDB oracle embeds
    * the identical (a, b) coefficients. */
  private[graft] def portableCoefs(perms: Int): Seq[(Long, Long)] =
    minhashCoefs(perms)

  /** Runs one job over `result` so every shuffle it reads has its map
    * output, then unpersists the loop's `cached` RDDs: the caller's own
    * action reads shuffle output only, and no cached block outlives the
    * query (`catalog.clearCache()` never touches RDD persists). */
  private def releaseAfter[T](
      result: org.apache.spark.rdd.RDD[T],
      cached: org.apache.spark.rdd.RDD[_]*): org.apache.spark.rdd.RDD[T] = {
    try result.foreachPartition(_ => ())
    finally cached.foreach(_.unpersist(blocking = false))
    result
  }

  /** Duplicate-CLUSTER assignment: connected components over a near-dup
    * pair list via hash-min label propagation — the step a real dedup
    * pipeline runs after pair generation ("keep one doc per duplicate
    * cluster"). Each iteration is one join + min-aggregation (the BSP
    * hash-min step) and runs until a ZERO-CHANGES fixpoint, so the result
    * is exact for ANY component diameter — a calibrated iteration constant
    * would silently split long-chain components at scales the oracle never
    * tested. At 100 TB this is the standard scalable connected-components
    * plan: state is (doc, label) rows, shuffle O(edges) per iteration,
    * nothing on the driver but a per-iteration changed-count scalar.
    * Iterations are localCheckpoint'd: lineage stays constant-depth (a
    * lazy chain would nest one join per iteration) and the convergence
    * probe doesn't recompute the whole history. Docs in no pair are absent
    * (singleton clusters are implicit). Returns (doc_id, cluster) with
    * cluster = least doc id in the component. Throws after `maxIters`
    * (diameter that large means the pair graph itself is wrong) rather
    * than returning split clusters.
    *
    * REQUIRES long-compatible doc ids: `pairs.doc_a`/`doc_b` are cast to
    * LONG for the RDD loop (both call sites use long ids) — under ANSI
    * mode a non-numeric id throws at runtime, and ids wider than long
    * are out of contract. */
  def dupClusters(pairs: DataFrame, maxIters: Int = 64): DataFrame = {
    // Hash-min connected components as a CO-PARTITIONED RDD loop — the
    // g01 carve-out applied to the second fixed-point iteration in the
    // pack: the DataFrame spelling (self-loop edges + one join/agg per
    // sweep over localCheckpoint'ed relations) re-planned, re-codegen'd
    // and re-scheduled a fresh Catalyst stage per sweep (plus one
    // checkpoint job each), pure fixed cost for a loop whose shape never
    // changes. Here the undirected edge list is hash-partitioned ONCE;
    // each sweep is a narrow same-partitioner join + one reduceByKey
    // (min), and the convergence probe is a narrow join + count. The
    // fixpoint is the per-component MINIMUM id — order-independent, so
    // the labels are bit-identical to the Catalyst spelling's (both run
    // to convergence) and the DuckDB recursive-CTE oracle's. When the
    // measured edge count collapses the partitioner to ONE partition,
    // all sweeps run inside a single task with zero shuffles.
    val s = pairs.sparkSession
    val und = pairs
      .select(col("doc_a").cast("long"), col("doc_b").cast("long"))
      .rdd.flatMap { r =>
        val a = r.getLong(0); val b = r.getLong(1)
        Iterator((a, b), (b, a))
      }.persist()
    val m = und.count()
    val part = new org.apache.spark.HashPartitioner(
      math.min(s.sparkContext.defaultParallelism.toLong,
        m / 50000L + 1L).toInt)
    val ed = und.partitionBy(part).persist()
    def tooDeep(): Nothing = throw new IllegalStateException(
      s"dupClusters: no fixpoint after $maxIters hash-min iterations — " +
        "pair graph has a component of implausible diameter")
    val (labels, lastSweep): (org.apache.spark.rdd.RDD[(Long, Long)],
        Option[org.apache.spark.rdd.RDD[_]]) =
      if (part.numPartitions == 1) {
        // single task owns the whole graph: run the identical Jacobi
        // min-label sweeps locally until convergence, zero shuffles
        ed.mapPartitions(it => {
          val adj = new scala.collection.mutable.HashMap[Long,
            scala.collection.mutable.ArrayBuffer[Long]]()
          it.foreach { case (a, b) =>
            adj.getOrElseUpdate(a,
              new scala.collection.mutable.ArrayBuffer[Long]()) += b
          }
          var lab = scala.collection.mutable.HashMap[Long, Long](
            adj.keysIterator.map(k => (k, k)).toSeq: _*)
          var changed = true
          var iters = 0
          while (changed) {
            if (iters >= maxIters) tooDeep()
            changed = false
            val next = new scala.collection.mutable.HashMap[Long, Long]()
            lab.foreach { case (v, l0) =>
              var mmin = l0
              adj(v).foreach { u => val lu = lab(u); if (lu < mmin) mmin = lu }
              if (mmin != l0) changed = true
              next.update(v, mmin)
            }
            lab = next
            iters += 1
          }
          lab.iterator
        }, preservesPartitioning = true) -> None
      } else {
        var lab = ed.mapValues(_ => ()).reduceByKey(part, (a, _) => a)
          .mapPartitions(_.map { case (v, _) => (v, v) },
            preservesPartitioning = true) // a plain map would drop `part`
          .persist()
        // track the ACTUALLY-persisted RDD: `lab` becomes a non-persisted
        // mapValues derivative from sweep 2 on, so unpersisting it was a
        // no-op and every sweep's full label copy stayed cached for the
        // life of the query (and beyond — catalog.clearCache() never
        // touches RDD persists)
        var prevCached: org.apache.spark.rdd.RDD[_] = lab
        var iters = 0
        var converged = false
        while (!converged) {
          if (iters >= maxIters) tooDeep()
          val merged = ed.join(lab) // narrow: both carry `part`
            .map { case (_, (dst, l)) => (dst, l) }
            .reduceByKey(part, math.min(_: Long, _: Long)) // the sweep's single shuffle
            .join(lab) // narrow: old label rides along for the probe
            .mapValues { case (nm: Long, old: Long) => (math.min(nm, old), old) }
            .persist()
          val changed =
            merged.filter { case (_, (nl, old)) => nl != old }.count()
          lab = merged.mapValues(_._1)
          prevCached.unpersist(blocking = false)
          prevCached = merged
          converged = changed == 0
          iters += 1
        }
        // the converged labels are re-shuffled onto `part` once, so the
        // result reads that one shuffle's output instead of recomputing
        // the chain of per-sweep joins once the last sweep's cache goes
        new org.apache.spark.rdd.ShuffledRDD[Long, Long, Long](lab, part) ->
          Some(prevCached)
      }
    val rows = releaseAfter(
      labels.map { case (v, l) => org.apache.spark.sql.Row(v, l) },
      Seq(und, ed) ++ lastSweep: _*)
    s.createDataFrame(rows,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("doc_id",
          org.apache.spark.sql.types.LongType, nullable = false),
        org.apache.spark.sql.types.StructField("cluster",
          org.apache.spark.sql.types.LongType, nullable = false))))
  }

  /** SimHash near-dup candidates: identical 64-bit signature (distributed:
    * one groupBy on the signature). */
  def simhashDups(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    simhashDf(docs, idCol, textCol)

  /** The fixed random-hyperplane family shared by the Spark query and the
    * DuckDB oracle (both sides embed the SAME literal doubles, so the sign
    * blocking is bit-identical across engines). */
  private[queries] def hyperplanes(
      nPlanes: Int, dim: Int = 64, seed: Long = 7L): Seq[Array[Double]] = {
    val rng = new scala.util.Random(seed)
    Seq.fill(nPlanes)(Array.fill(dim)(rng.nextGaussian()))
  }

  /** Embedding-cosine near-dup pairs above `threshold`, LSH-blocked by
    * random-hyperplane sign bits so the self-join never goes O(n²) at scale
    * (vectors in the same block share all `nPlanes` signs; near-identical
    * vectors almost always do).
    *
    * The sign of each plane projection is taken from the codegen'd
    * [[graft.functions.CosineSimilarity]] (same sign as the dot product —
    * norms are positive) instead of an interpreted `aggregate(zip_with(…))`
    * fold, keeping the per-row blocking inside whole-stage codegen. */
  def embeddingNearDups(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      threshold: Double,
      nPlanes: Int = 4): DataFrame = {
    // single-table sign block via the fused HyperplaneBuckets kernel
    // (identical sign semantics to the composed when(cosine >= 0) fold;
    // table offset is 0 for the one table)
    val fam = graft.functions.LshBuckets.family(Seq(hyperplanes(nPlanes)))
    val v = col(vecCol).cast("array<double>")
    val signBits = element_at(
      graft.functions.LshBuckets.hyperplane_buckets(v, fam), 1)

    val e = emb.select(col(idCol).as("id"),
      col(vecCol).cast("array<double>").as("v"),
      signBits.as("block"))
    val a = e.alias("a")
    val b = e.alias("b")
    a.join(b, col("a.block") === col("b.block") && col("a.id") < col("b.id"))
      .withColumn("cos", cosineSim(col("a.v"), col("b.v")))
      .filter(col("cos") >= threshold)
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        round(col("cos"), 6).as("cos_sim"))
  }

  /** Benchmark DECONTAMINATION: for every training document, the fraction
    * of its distinct k-gram shingles that appear anywhere in the held-out
    * (benchmark/eval) split — the standard test-set-leakage check a
    * training-data pipeline runs before export.
    *
    * Scale design: both sides reduce to distinct (doc, hash) / (hash) rows
    * via [[shingleRows]] (codegen'd, O(tokens) rows), then ONE equi-join on
    * the 64-bit shingle hash — shuffle O(n_shingles), never O(docs²). The
    * eval side is benchmark-sized in practice but still SF-proportional
    * here, so it carries no broadcast hint (statistics + AQE broadcast it
    * while it fits). Hash collisions affect both engines identically (same
    * hash family), so oracle parity is exact.
    *
    * The declarative form scans the text column ONCE (r18 — the former
    * train/eval branch pair re-scanned it per side); at warehouse scale,
    * materialize the flagged shingle relation once (e.g. into a
    * GraftTable) and run the containment window incrementally per
    * new-data snapshot via `changes()` — the work stays O(n_shingles).
    *
    * Caching: the flagged shingle relation is `persist()`ed and NEVER
    * unpersisted here. Bench and Verify call `spark.catalog.clearCache()`
    * between queries, which releases it; a library caller keeps its cached
    * blocks until it clears the cache (or unpersists the relation) itself,
    * so repeated calls accumulate them. */
  def decontaminate(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      evalPred: Column,
      k: Int): DataFrame = {
    // ONE text scan (guide §2.4/§6): the former train/eval branch pair
    // re-scanned the text column once per side because per-branch pruning
    // re-specialized the two subtrees. Every doc's per-row-distinct
    // shingles (fused kernel; doc ids unique ⇒ equals the global (doc, h)
    // distinct) now carry an is_eval flag in one NARROW relation — two
    // longs + a boolean per shingle, the d15-verified cheap-cache class —
    // persisted lazily so both join sides read the same materialization
    // instead of re-running the scan+shingle pipeline. The join itself
    // keeps the old shape deliberately: the eval side is benchmark-sized
    // in practice (bounded, broadcastable at any corpus SF), so the
    // containment check never shuffles the train stream — a window-over-h
    // respelling was measured ~40% SLOWER in p02 at sf0.1 (full-stream
    // sort-exchange vs broadcast probe). Intra-query state: Bench/Verify
    // clearCache between queries.
    val sh = docs.select(col(idCol).as("doc"), evalPred.as("is_eval"),
      explode(graft.functions.PortableText.portable_shingles_full(
        graft.functions.TextOps.tokens(col(textCol)), k)).as("h"))
      .persist()
    val trainSh = sh.filter(!col("is_eval"))
    val evalSh = sh.filter(col("is_eval"))
      .select(col("h")).distinct()
      .withColumn("hit", lit(1))
    trainSh.join(evalSh, Seq("h"), "left")
      .groupBy(col("doc").as("doc_id"))
      .agg(count(lit(1)).as("n_grams"), count(col("hit")).as("n_hits"))
      .withColumn("contamination_e6",
        floor(col("n_hits").cast("double") / col("n_grams") * 1000000))
  }

  /** Cosine similarity of two double arrays — the native codegen'd
    * expression ([[graft.functions.CosineSimilarity]]): one fused loop,
    * ascending-index accumulation (reproducible across engines; identical
    * doubles to DuckDB's evaluation). */
  def cosineSim(x: Column, y: Column): Column =
    graft.functions.GraftFunctions.cosine_sim(x, y)

  // -------------------- driver-checked queries --------------------

  /** Two-snapshot documents fixture for the incremental dedup query:
    * snapshot 1 = the standing corpus (doc_id % 5 != 0), snapshot 2
    * appends the "arriving batch" (doc_id % 5 = 0). Deterministic split +
    * fixed commit timestamps keep the result ANSI-SQL-expressible over the
    * raw parquet. Built once per sfDir (same pattern as [[Versioned]]). */
  private def incFixture(spark: SparkSession, sfDir: String): graft.table.GraftTable =
    Versioned.cachedFixture(sfDir, "documents_inc", 2) { dir =>
      import graft.table.GraftTable
      val docs = t(spark, sfDir, "documents")
      val tb = GraftTable.create(dir, docs.schema)
      tb.append(docs.filter(col("doc_id") % 5 =!= 0), committedAt = Some(1000L))
      tb.append(docs.filter(col("doc_id") % 5 === 0), committedAt = Some(2000L))
      tb
    }

  val queries: Map[String, Q] = Map(

    // exact dedup groups: one row per distinct normalized text
    "d01_exact_dedup" -> ((s, d) =>
      t(s, d, "documents")
        .groupBy(md5(graft.functions.TextOps.collapse_ws(lower(col("text"))))
          .as("fingerprint"))
        .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))),

    // dedup keep-first: the surviving doc ids (row_number over fingerprint)
    "d02_dedup_keep_first" -> ((s, d) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("fingerprint")).orderBy(col("doc_id").asc)
      t(s, d, "documents")
        .withColumn("fingerprint",
          md5(graft.functions.TextOps.collapse_ws(lower(col("text")))))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select("doc_id", "fingerprint")
    }),

    // MinHash-LSH near-dup pairs (not SQL-expressible → rows-only check
    // by the driver; correctness is covered by DedupSpec's planted dups)
    "d03_minhash_lsh" -> ((s, d) =>
      minhashNearDups(t(s, d, "documents"), "doc_id", "text",
        threshold = 0.3)),

    // exact 1-gram Jaccard over a bounded pair window — the SQL-expressible
    // mirror of the verify stage (integers only; ratio rounded)
    "d04_jaccard_pairs" -> ((s, d) => {
      val docs = t(s, d, "documents").filter(col("doc_id") < 40)
        .select(col("doc_id"), tokens(col("text")).as("toks"))
      val a = docs.alias("a")
      val b = docs.alias("b")
      a.join(b, col("a.doc_id") < col("b.doc_id"))
        .select(
          col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
          size(array_intersect(col("a.toks"), col("b.toks"))).as("n_common"),
          (size(col("a.toks")) + size(col("b.toks"))
            - size(array_intersect(col("a.toks"), col("b.toks"))))
            .as("n_union"))
        .withColumn("jaccard",
          round(col("n_common").cast("double") / col("n_union"), 6))
        .filter(col("jaccard") > 0.3)
    }),

    // SimHash signatures over the portable token hash — every 64-bit
    // signature is recomputed bit-identically by the DuckDB oracle
    "d05_simhash" -> ((s, d) =>
      simhashDups(t(s, d, "documents"), "doc_id", "text")),

    // SimHash NEAR dups (hamming <= 6 over shingle-space signatures):
    // rotated 16-bit bands generate candidates, popcount verifies — the
    // simhash analog of d07's banded MinHash, fully oracle-hashed
    "d15_simhash_near" -> ((s, d) =>
      simhashNearDups(t(s, d, "documents"), "doc_id", "text")),

    // portable MinHash+LSH near-dups: the full five-stage LSH pipeline
    // (shingle → signature → band → bucket-join → exact verify),
    // hash-checked end to end against DuckDB
    "d07_minhash_portable" -> ((s, d) =>
      minhashNearDupsPortable(t(s, d, "documents"), "doc_id", "text",
        k = 3, perms = 16, bands = 4, threshold = 0.5)),

    // INCREMENTAL dedup against a standing corpus, driven end-to-end by
    // the table layer: the batch side is the change feed of the fixture's
    // second snapshot (O(new files) read — no corpus rescan to find what
    // arrived), the corpus side is a snapshot-1 time-travel read, and the
    // candidate join is batch-buckets × corpus-buckets. The per-batch cost
    // a 100 TB pipeline pays is O(batch), not O(corpus).
    "d14_incremental_dedup" -> ((s, d) => {
      val tbl = incFixture(s, d)
      val corpus = tbl.read(s, Some(1L)).select("doc_id", "text")
      val batch = tbl.changes(s, 1L, Some(2L)).select("doc_id", "text")
      minhashIncrementalDups(corpus, batch, "doc_id", "text",
        k = 3, perms = 16, bands = 4, threshold = 0.5)
    }),

    // embedding-cosine near-dups: LSH sign-blocked self-join, exact-cosine
    // verified; the DuckDB oracle replicates the blocking with the same
    // literal hyperplanes, so this is fully hash-checked
    "d06_embedding_dups" -> ((s, d) =>
      embeddingNearDups(t(s, d, "embeddings"), "vec_id", "embedding",
        threshold = 0.35)),

    // cross-SOURCE duplication matrix: for every source pair, how many
    // distinct 5-token document PREFIXES appear in both — the shared-
    // boilerplate report ("who carries the same headers/templates") that
    // decides which source to strip or drop duplicates from. Prefix
    // fingerprints rather than whole-doc ones: crawl boilerplate shares
    // openings, not whole documents. The self-join runs on the distinct
    // (fingerprint, source) relation, already collapsed far below the
    // corpus; at most |sources|² output rows.
    // per-prefix pair EXPANSION instead of the fp self-join (the d12
    // move): the source set of one fingerprint is bounded by the number
    // of sources, so collect it per fp (one aggregate over the distinct
    // relation — the self-join spelling re-specialized the fps subtree
    // per side and ran the corpus md5 pass twice) and expand the ordered
    // source pairs narrowly. Each fp contributes each pair once (set
    // semantics), so count(*) per pair equals the old
    // countDistinct(fp) exactly.
    "d13_source_overlap" -> ((s, d) => {
      val toks = graft.functions.TextOps.tokens(col("text"))
      // no pre-distinct: collect_set IS set-semantics, so the (fp, source)
      // distinct was a second full shuffle of the fingerprint stream for
      // nothing (guide §2.4) — the one groupBy dedups and aggregates in
      // the same exchange, with bounded per-fp state (≤ |sources|)
      val fps = t(s, d, "documents")
        .select(
          md5(concat_ws(" ", slice(toks, 1, 5))).as("fp"),
          col("source"))
      fps.groupBy("fp").agg(collect_set(col("source")).as("srcs"))
        .select(explode(col("srcs")).as("source_a"), col("srcs"))
        .select(col("source_a"), explode(col("srcs")).as("source_b"))
        .filter(col("source_a") < col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(count(lit(1)).as("n_shared_prefixes"))
        .orderBy("source_a", "source_b")
    }),

    // exact-SUBSTRING dedup (the suffix-array-dedup shape): docs sharing
    // a verbatim 32-char span, detected via a stride-16 grid of grams —
    // an equi-join on the gram, never an all-pairs scan. Grams seen in
    // > 50 docs are dropped first (the df-cap that keeps boilerplate
    // from exploding the pair fan-out — same discipline as LSH banding).
    // Caveat (documented, honest): a fixed grid catches aligned copies
    // (whole-doc and prefix duplication); shifted copies need
    // content-defined anchors or the d03 shingle path.
    // Spelled as per-gram pair EXPANSION rather than the earlier
    // rare-filter + self-join: one grid-gram pass over the corpus
    // (the join spelling re-specialized the shared gram subtree per
    // branch — the multi-branch-reuse trap — and scanned/exploded the
    // text FOUR times), then ONE gram aggregate whose state is BOUNDED:
    // `distinct_ids_capped(doc_id, 50)` dedups inside its own map-side
    // partials (the r17 spelling paid a SECOND full gram-stream shuffle
    // for a pre-distinct just so count(*) was a distinct count) and
    // returns the exact ≤ 50-doc set or NULL for a boilerplate gram —
    // dropping df > 50 grams exactly like the old rare filter while a
    // hot gram's state degrades to one boolean. The ≤ 50×49/2
    // within-gram pairs then expand narrowly. Pairs and counts are
    // identical: per gram, the capped set equals the old post-distinct
    // top-k(51) doc list wherever df ≤ 50, and both spellings drop the
    // rest.
    "d12_substring_dedup" -> ((s, d) => {
      val g = t(s, d, "documents")
        .filter(length(col("text")) >= 32)
        .select(col("doc_id"),
          explode(sequence(lit(1), length(col("text")) - 31, lit(16)))
            .as("pos"), col("text"))
        .select(col("doc_id"), col("text").substr(col("pos"), lit(32)).as("gram"))
      val ids = g.groupBy("gram").agg(
        graft.functions.GraftFunctions.distinct_ids_capped(
          col("doc_id"), 50).as("ids"))
        .filter(col("ids").isNotNull)
        .select(col("ids"))
      ids
        .select(explode(col("ids")).as("doc_a"), col("ids"))
        .select(col("doc_a"), explode(col("ids")).as("doc_b"))
        .filter(col("doc_a") < col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(count(lit(1)).as("n_shared_spans"))
        .orderBy("doc_a", "doc_b")
    }),

    // SEMANTIC dedup (SemDeDup): trained k-means cells + within-cell
    // cosine near-dup detection — the embedding-space twin of d06 where
    // the blocking is a learned quantizer instead of fixed hyperplanes
    // (rows-only: iterative ML; DedupSpec plants semantic duplicates).
    // tau calibrated to the synthetic corpus like d06's threshold — the
    // gaussian embeddings top out near cos 0.5, so the real-world 0.97
    // would select nothing here
    "d11_semantic_dedup" -> ((s, d) =>
      Similarity.semanticDedup(t(s, d, "embeddings"), "vec_id", "embedding",
        k = 16, tau = 0.35)),

    // SEMANTIC dedup with a SEEDED literal cell codebook — the
    // oracle-hashed twin of d11 (the s09 pattern: same cell-block +
    // within-cell cosine machinery, only the quantizer training differs),
    // so the SemDeDup path itself is hash-checked while d11 keeps the
    // trained-quantizer form
    "d16_semantic_seeded" -> ((s, d) =>
      Similarity.semanticDedupSeeded(t(s, d, "embeddings"), "vec_id",
        "embedding", k = 16, tau = 0.35)),

    // duplicate-cluster assignment over the n-gram Jaccard pair graph
    // (d04's pair semantics): hash-min connected components, checked
    // against DuckDB's recursive-CTE transitive closure
    "d08_dup_clusters" -> ((s, d) => {
      val docs = t(s, d, "documents").filter(col("doc_id") < 40)
        .select(col("doc_id"), tokens(col("text")).as("toks"))
      val a = docs.alias("a")
      val b = docs.alias("b")
      val pairs = a.join(b, col("a.doc_id") < col("b.doc_id"))
        .withColumn("n_common",
          size(array_intersect(col("a.toks"), col("b.toks"))))
        .withColumn("n_union",
          size(col("a.toks")) + size(col("b.toks")) - col("n_common"))
        .withColumn("jaccard",
          round(col("n_common").cast("double") / col("n_union"), 6))
        .filter(col("jaccard") > 0.3)
        .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      // runs to the zero-changes fixpoint: exact at every diameter, and
      // the recursive-CTE oracle (the exact closure) cross-checks it
      dupClusters(pairs)
    }),

    // benchmark decontamination: 5-gram leakage of every training doc
    // against the held-out split (doc_id % 10 = 0 plays the benchmark set)
    "d09_decontaminate" -> ((s, d) =>
      decontaminate(t(s, d, "documents"), "doc_id", "text",
        evalPred = col("doc_id") % 10 === 0, k = 5)),

    // canonical-document selection: within each duplicate cluster (d08's
    // component semantics) keep the highest-quality doc (clean-character
    // ratio, integerized; ties broken by lowest doc id) — the "keep best,
    // drop rest" step after clustering. Window runs per CLUSTER (many
    // small groups), so parallelism is fine at scale — unlike a global
    // top-k this never funnels rows into few partitions.
    "d10_canonical_per_cluster" -> ((s, d) => {
      val raw = t(s, d, "documents").filter(col("doc_id") < 40)
      val docs = raw.select(col("doc_id"), tokens(col("text")).as("toks"))
      val a = docs.alias("a")
      val b = docs.alias("b")
      val pairs = a.join(b, col("a.doc_id") < col("b.doc_id"))
        .withColumn("n_common",
          size(array_intersect(col("a.toks"), col("b.toks"))))
        .withColumn("n_union",
          size(col("a.toks")) + size(col("b.toks")) - col("n_common"))
        .filter(round(col("n_common").cast("double") / col("n_union"), 6)
          > 0.3)
        .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      val clusters = dupClusters(pairs)
      val quality = raw.select(col("doc_id"),
        floor(graft.functions.TextOps.clean_chars(col("text"))
          .cast("double") / greatest(length(col("text")), lit(1)) * 1000000)
          .as("q_e6"))
      val byCluster = org.apache.spark.sql.expressions.Window
        .partitionBy(col("cluster"))
      clusters.join(quality, "doc_id")
        .withColumn("rn", row_number().over(
          byCluster.orderBy(col("q_e6").desc, col("doc_id").asc)))
        .withColumn("n_docs", count(lit(1)).over(byCluster))
        .filter(col("rn") === 1)
        .select(col("cluster"), col("doc_id").as("keep_id"),
          col("q_e6").as("keep_q_e6"), col("n_docs"))
    }),

    // LINE-level dedup (RefinedWeb/CCNet-style boilerplate removal): drop
    // every text SEGMENT that appears verbatim in more than one document,
    // keep the rest in order. The synthetic corpus has no newlines, so
    // "line" = non-overlapping 16-token segment (same slicing family as
    // t14's chunks); real corpora swap the segmenter, the machinery is
    // identical. Plan: one explode pass → ONE window over the segment key
    // (keep ⟺ min(doc_id)=max(doc_id) over the segment — equivalent to
    // doc-frequency 1 without materializing the frequency relation or
    // joining it back) → per-doc rollup. TWO shuffles of the segment
    // stream total (seg, then doc_id), no pair space, no driver state;
    // the per-doc reassembly sorts only WITHIN a doc's own segments
    // (array_sort over ≤ n_segments entries, never a corpus sort).
    // Segments slice the RAW token stream (not the distinct set): line
    // dedup removes repeated passages from the document as written, and
    // the raw stream keeps the oracle order-exact (DuckDB's list_distinct
    // does not preserve element order, so a distinct-stream segmentation
    // would not be cross-engine reproducible).
    "d17_line_dedup" -> ((s, d) => {
      val toks = graft.functions.TextOps.tokens(col("text"))
      val segs = t(s, d, "documents")
        .select(col("doc_id"), toks.as("t"))
        .withColumn("n", size(col("t")))
        .filter(col("n") > 0)
        .withColumn("seg_idx",
          explode(sequence(lit(0), floor((col("n") - 1) / 16).cast("int"))))
        .select(col("doc_id"), col("seg_idx"),
          concat_ws(" ", slice(col("t"), col("seg_idx") * 16 + 1, lit(16)))
            .as("seg"))
      // keep ⟺ doc-frequency 1 ⟺ every occurrence of the segment carries
      // the SAME doc_id ⟺ min(doc_id) == max(doc_id) over the segment's
      // partition — so the frequency pass and the join back collapse into
      // ONE window over seg (guide §2.4: the old spelling shuffled the
      // 16-token segment stream twice, once under the countDistinct
      // aggregate and once as the join probe side, because per-branch
      // column pruning re-specialized the two segs subtrees; the window
      // keeps each occurrence row in place)
      val bySeg = org.apache.spark.sql.expressions.Window
        .partitionBy(col("seg"))
      segs
        .withColumn("keep",
          min(col("doc_id")).over(bySeg) === max(col("doc_id")).over(bySeg))
        .groupBy("doc_id")
        .agg(
          sum(when(col("keep"), 1L).otherwise(0L)).as("n_kept"),
          sum(when(col("keep"), 0L).otherwise(1L)).as("n_removed"),
          md5(concat_ws(" ", transform(
            array_sort(collect_list(when(col("keep"),
              struct(col("seg_idx"), col("seg"))))),
            x => x.getField("seg")))).as("clean_digest"))
        .orderBy("doc_id")
    }),

    // GRAPH CENTRALITY over the near-dup similarity graph (d06's
    // hyperplane-blocked cosine pairs as undirected edges): 10 power
    // iterations of PageRank, ranking which examples sit at the center
    // of duplicate neighborhoods — the graph-based sample-selection /
    // crawl-ranking primitive of a curation pipeline. All arithmetic is
    // EXACT FIXED-POINT (Q30 longs, integer `div`): long sums are
    // order-independent across shuffle partitions, so the result is
    // bit-stable under any parallelism and hash-matches the oracle's
    // identically-unrolled integer iterations — a floating PageRank
    // would drift in the last bits per run. Per iteration: one join on
    // src + one hash agg on dst, both shuffles on graph keys — O(edges)
    // per sweep, no pair space beyond the LSH-blocked edge list. The
    // edge relation is narrow (three longs) and read 10 times → cached;
    // the rank relation is referenced ONCE per iteration (linear plan
    // growth, the d08 lesson). The two driver-side scalars (node count →
    // teleport mass) are aggregate results, not data paths.
    "g01_graph_rank" -> ((s, d) => {
      val pairs = embeddingNearDups(t(s, d, "embeddings"), "vec_id",
        "embedding", threshold = 0.35)
        .select(col("id_a").cast("long"), col("id_b").cast("long"))
      // The ten power sweeps run as a CO-PARTITIONED RDD loop (the
      // GraphX/Pregel join strategy): the edge list is hash-partitioned
      // on src ONCE and cached; each sweep is then a NARROW join against
      // the same-partitioner rank RDD plus exactly ONE shuffle (the
      // contribution reduceByKey back to the edge partitioner) — and,
      // unlike the DataFrame spelling of this loop, zero per-iteration
      // planning: the Catalyst form re-optimized a growing plan at every
      // AQE stage and re-broadcast the edge relation per sweep (~30
      // codegen'd stages of pure scheduling/compile tax — measured
      // 5.7 s cold at sf0.1 vs ~1.5 s for this loop, identical bits).
      // This is the "genuine per-partition imperative logic" RDD carve-
      // out: a fixed-point iteration whose per-sweep shape Catalyst can
      // only re-discover from scratch each time. All arithmetic stays
      // EXACT FIXED-POINT (Q30 longs, truncating division on positives,
      // order-independent long sums) — bit-stable under any parallelism,
      // hash-matching the oracle's unrolled integer iterations. Nothing
      // ever lands on the driver beyond the node-count scalar.
      // undirected edge list, degrees, and the co-partitioned cache all
      // built RDD-side from the near-dup pairs: the union/agg/join
      // spelling of the same thing cost three more codegen'd DF stages
      // of one-shot compile tax on a relation the loop immediately
      // leaves the Catalyst world with anyway
      val und = pairs.rdd
        .flatMap(r => { val a = r.getLong(0); val b = r.getLong(1)
          Iterator((a, b), (b, a)) })
        .persist()
      // size the loop's partitioner to the MEASURED edge count (the
      // AQE-style coalesce the RDD layer doesn't get for free): ten
      // sweeps over a small graph would otherwise schedule
      // defaultParallelism tasks per stage of pure launch overhead,
      // while a 100 TB edge list still fans out to full parallelism
      val m = und.count()
      val part = new org.apache.spark.HashPartitioner(
        math.min(s.sparkContext.defaultParallelism.toLong,
          m / 50000L + 1L).toInt)
      // per-node degree: one co-partitioned shuffle
      val degC = und.mapValues(_ => 1L).reduceByKey(part, _ + _).persist()
      // (src, (dst, deg)) co-partitioned with degC and cached for the loop
      val ed = und.partitionBy(part).join(degC).persist()
      val n = math.max(1L, degC.count())
      val r0 = (1L << 30) / n
      val tele = (15L * (1L << 30)) / (100L * n)
      var ranks = degC.mapValues(_ => r0) // inherits the partitioner
      if (part.numPartitions == 1) {
        // the sized partitioner collapsed to ONE partition: the
        // co-partitioned loop degenerates to a single task owning the
        // whole graph, so all ten sweeps run inside it with ZERO
        // shuffles — identical integer arithmetic, just without ten
        // stage round-trips for a graph that fits one partition
        ranks = ed.mapPartitions(it => {
          val adj = new scala.collection.mutable.HashMap[Long,
            scala.collection.mutable.ArrayBuffer[(Long, Long)]]()
          it.foreach { case (src, e) =>
            adj.getOrElseUpdate(src,
              new scala.collection.mutable.ArrayBuffer[(Long, Long)]()) += e
          }
          var r = scala.collection.mutable.HashMap[Long, Long](
            adj.keysIterator.map(k => (k, r0)).toSeq: _*)
          var i = 0
          while (i < 10) {
            val next = new scala.collection.mutable.HashMap[Long, Long]()
            r.foreach { case (src, rq) =>
              adj.get(src).foreach(_.foreach { case (dst, dg) =>
                val c = rq * 85L / (dg * 100L)
                next.update(dst, next.getOrElse(dst, 0L) + c)
              })
            }
            next.mapValuesInPlace((_, v) => tele + v)
            r = next
            i += 1
          }
          r.iterator
        }, preservesPartitioning = true)
      } else {
        for (_ <- 1 to 10) {
          ranks = ed.join(ranks) // same partitioner both sides: narrow
            .map { case (_, ((dst, dg), rq)) => (dst, rq * 85L / (dg * 100L)) }
            .reduceByKey(part, _ + _) // the sweep's single shuffle
            .mapValues(tele + _)
        }
      }
      val rows = releaseAfter(
        ranks.join(degC) // narrow: both carry `part`
          .map { case (id, (rq, dg)) => org.apache.spark.sql.Row(id, rq, dg) },
        und, degC, ed)
      val out = s.createDataFrame(rows,
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("vec_id",
            org.apache.spark.sql.types.LongType, nullable = false),
          org.apache.spark.sql.types.StructField("rank_q",
            org.apache.spark.sql.types.LongType, nullable = false),
          org.apache.spark.sql.types.StructField("deg",
            org.apache.spark.sql.types.LongType, nullable = false))))
      // single-partition result: a within-partition sort IS the global
      // sort — skip the range-partitioning exchange the general path needs
      if (part.numPartitions == 1)
        out.sortWithinPartitions(col("rank_q").desc, col("vec_id"))
      else out.orderBy(col("rank_q").desc, col("vec_id"))
    })
  )

  val oracleSql: Map[String, String] = Map(
    "d01_exact_dedup" ->
      ("SELECT md5(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS fingerprint, " +
        "min(doc_id) AS keep_id, count(*) AS n_copies FROM documents GROUP BY 1"),
    "d02_dedup_keep_first" ->
      ("SELECT doc_id, fingerprint FROM (SELECT doc_id, " +
        "md5(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS fingerprint, " +
        "row_number() OVER (PARTITION BY md5(regexp_replace(lower(text), '\\s+', ' ', 'g')) ORDER BY doc_id) AS rn " +
        "FROM documents) WHERE rn = 1"),
    "d04_jaccard_pairs" ->
      ("WITH toks AS (SELECT doc_id, list_distinct(list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'), x -> len(x) > 0)) AS t FROM documents WHERE doc_id < 40) " +
        "SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, " +
        "len(list_intersect(a.t, b.t)) AS n_common, " +
        "len(a.t) + len(b.t) - len(list_intersect(a.t, b.t)) AS n_union, " +
        "round(CAST(len(list_intersect(a.t, b.t)) AS DOUBLE) / (len(a.t) + len(b.t) - len(list_intersect(a.t, b.t))), 6) AS jaccard " +
        "FROM toks a JOIN toks b ON a.doc_id < b.doc_id " +
        "WHERE round(CAST(len(list_intersect(a.t, b.t)) AS DOUBLE) / (len(a.t) + len(b.t) - len(list_intersect(a.t, b.t))), 6) > 0.3"),
    "d05_simhash" -> {
      // same pipeline in DuckDB: distinct tokens → portable 60-bit hash →
      // 60 signed bit sums → sign bits (bits 60-63 of a 60-bit hash are
      // always 0 on both sides). Tokenless docs get signature 0 via the
      // LEFT JOIN (Spark: every bit sum is -1 → all sign bits 0).
      val bitSums = (0 until 60).map(b =>
        s"sum(CASE WHEN (h >> $b) & 1 = 1 THEN 1 ELSE -1 END) AS b$b")
        .mkString(", ")
      val assemble = (0 until 60).map(b =>
        s"(CASE WHEN s.b$b > 0 THEN CAST(${1L << b} AS BIGINT) ELSE 0 END)")
        .mkString(" + ")
      "WITH toks AS (SELECT doc_id, list_distinct(list_filter(" +
        "regexp_split_to_array(lower(trim(text)), '\\s+'), x -> len(x) > 0)) AS t " +
        "FROM documents), " +
        "tok AS (SELECT doc_id, CAST(('0x' || substr(md5(u.tok), 1, 15)) AS BIGINT) AS h " +
        "FROM toks, UNNEST(t) AS u(tok)), " +
        s"sums AS (SELECT doc_id, $bitSums FROM tok GROUP BY doc_id) " +
        s"SELECT d.doc_id, COALESCE($assemble, 0) AS simhash " +
        "FROM toks d LEFT JOIN sums s USING (doc_id)"
    },
    "d07_minhash_portable" -> {
      val coefs = portableCoefs(16)
      val minCols = coefs.zipWithIndex.map { case ((a, b), i) =>
        s"min((h * $a + $b) % 2147483647) AS m$i"
      }.mkString(", ")
      val bandRows = (0 until 4).map { b =>
        val cols = (0 until 4).map(r => s"m${b * 4 + r}").mkString(", ")
        s"SELECT doc, $b AS band, concat_ws('-', $cols) AS bucket FROM sig"
      }.mkString(" UNION ALL ")
      "WITH toks AS (SELECT doc_id AS doc, list_filter(" +
        "regexp_split_to_array(lower(trim(text)), '\\s+'), x -> len(x) > 0) AS t " +
        "FROM documents), " +
        // full 3-gram shingles for docs with >= 3 tokens (1-based list
        // slicing; range() end is exclusive → i in [1, len-2])
        "sh_full AS (SELECT doc, CAST(('0x' || substr(md5(" +
        "t[i] || ' ' || t[i+1] || ' ' || t[i+2]), 1, 15)) AS BIGINT) % 2147483647 AS h " +
        "FROM toks, UNNEST(range(1, len(t) - 1)) AS u(i) WHERE len(t) >= 3), " +
        // shorter docs collapse to one shingle of all their tokens
        "sh_short AS (SELECT doc, CAST(('0x' || substr(md5(" +
        "array_to_string(t, ' ')), 1, 15)) AS BIGINT) % 2147483647 AS h " +
        "FROM toks WHERE len(t) < 3), " +
        "sh AS (SELECT * FROM sh_full UNION ALL SELECT * FROM sh_short), " +
        s"sig AS (SELECT doc, $minCols FROM sh GROUP BY doc), " +
        s"banded AS ($bandRows), " +
        "cand AS (SELECT DISTINCT l.doc AS doc_a, r.doc AS doc_b FROM banded l " +
        "JOIN banded r ON l.band = r.band AND l.bucket = r.bucket AND l.doc < r.doc), " +
        "sets AS (SELECT doc, list_distinct(list(h)) AS sh FROM sh GROUP BY doc) " +
        "SELECT doc_a, doc_b, " +
        "len(list_intersect(a.sh, b.sh)) AS n_common, " +
        "len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)) AS n_union, " +
        "round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) / " +
        "(len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))), 6) AS jaccard " +
        "FROM cand JOIN sets a ON a.doc = cand.doc_a JOIN sets b ON b.doc = cand.doc_b " +
        "WHERE round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) / " +
        "(len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))), 6) >= 0.5"
    },
    "d15_simhash_near" -> {
      val bitSums = (0 until 60).map(b =>
        s"sum(CASE WHEN (h >> $b) & 1 = 1 THEN 1 ELSE -1 END) AS b$b")
        .mkString(", ")
      val assemble = (0 until 60).map(b =>
        s"(CASE WHEN s.b$b > 0 THEN CAST(${1L << b} AS BIGINT) ELSE 0 END)")
        .mkString(" + ")
      "WITH toks AS (SELECT doc_id AS doc, list_filter(" +
        "regexp_split_to_array(lower(trim(text)), '\\s+'), x -> len(x) > 0) AS t " +
        "FROM documents), " +
        "sh_full AS (SELECT doc, CAST(('0x' || substr(md5(" +
        "t[i] || ' ' || t[i+1] || ' ' || t[i+2]), 1, 15)) AS BIGINT) AS h " +
        "FROM toks, UNNEST(range(1, len(t) - 1)) AS u(i) WHERE len(t) >= 3), " +
        "sh_short AS (SELECT doc, CAST(('0x' || substr(md5(" +
        "array_to_string(t, ' ')), 1, 15)) AS BIGINT) AS h " +
        "FROM toks WHERE len(t) < 3), " +
        "shh AS (SELECT DISTINCT * FROM (SELECT * FROM sh_full UNION ALL SELECT * FROM sh_short)), " +
        s"sums AS (SELECT doc, $bitSums FROM shh GROUP BY doc), " +
        s"sig AS (SELECT d.doc AS doc_id, COALESCE($assemble, 0) AS simhash " +
        "FROM (SELECT DISTINCT doc FROM shh) d LEFT JOIN sums s ON s.doc = d.doc), " +
        "banded AS (SELECT doc_id, b.band, (simhash >> (16 * b.band)) & 65535 AS bucket " +
        "FROM sig, (SELECT UNNEST([0, 1, 2, 3]) AS band) b), " +
        "cand AS (SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b FROM banded l " +
        "JOIN banded r ON l.band = r.band AND l.bucket = r.bucket AND l.doc_id < r.doc_id) " +
        "SELECT doc_a, doc_b, CAST(bit_count(xor(x.simhash, y.simhash)) AS INT) AS hamming " +
        "FROM cand JOIN sig x ON x.doc_id = doc_a JOIN sig y ON y.doc_id = doc_b " +
        "WHERE bit_count(xor(x.simhash, y.simhash)) <= 6"
    },
    "d14_incremental_dedup" -> {
      // d07's portable pipeline with the fixture's corpus/batch split
      // applied at the candidate join: batch docs (doc_id % 5 = 0) probe
      // corpus docs (doc_id % 5 <> 0). Signatures/sets are per-doc
      // functions of text, so computing them over the whole table and
      // splitting at the join is equivalent to the two-sided Spark plan.
      val coefs = portableCoefs(16)
      val minCols = coefs.zipWithIndex.map { case ((a, b), i) =>
        s"min((h * $a + $b) % 2147483647) AS m$i"
      }.mkString(", ")
      val bandRows = (0 until 4).map { b =>
        val cols = (0 until 4).map(r => s"m${b * 4 + r}").mkString(", ")
        s"SELECT doc, $b AS band, concat_ws('-', $cols) AS bucket FROM sig"
      }.mkString(" UNION ALL ")
      "WITH toks AS (SELECT doc_id AS doc, list_filter(" +
        "regexp_split_to_array(lower(trim(text)), '\\s+'), x -> len(x) > 0) AS t " +
        "FROM documents), " +
        "sh_full AS (SELECT doc, CAST(('0x' || substr(md5(" +
        "t[i] || ' ' || t[i+1] || ' ' || t[i+2]), 1, 15)) AS BIGINT) % 2147483647 AS h " +
        "FROM toks, UNNEST(range(1, len(t) - 1)) AS u(i) WHERE len(t) >= 3), " +
        "sh_short AS (SELECT doc, CAST(('0x' || substr(md5(" +
        "array_to_string(t, ' ')), 1, 15)) AS BIGINT) % 2147483647 AS h " +
        "FROM toks WHERE len(t) < 3), " +
        "sh AS (SELECT * FROM sh_full UNION ALL SELECT * FROM sh_short), " +
        s"sig AS (SELECT doc, $minCols FROM sh GROUP BY doc), " +
        s"banded AS ($bandRows), " +
        "cand AS (SELECT DISTINCT n.doc AS new_doc, c.doc AS dup_of FROM banded n " +
        "JOIN banded c ON n.band = c.band AND n.bucket = c.bucket " +
        "AND n.doc % 5 = 0 AND c.doc % 5 <> 0), " +
        "sets AS (SELECT doc, list_distinct(list(h)) AS sh FROM sh GROUP BY doc) " +
        "SELECT new_doc, dup_of, " +
        "len(list_intersect(a.sh, b.sh)) AS n_common, " +
        "len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)) AS n_union, " +
        "round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) / " +
        "(len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))), 6) AS jaccard " +
        "FROM cand JOIN sets a ON a.doc = cand.new_doc JOIN sets b ON b.doc = cand.dup_of " +
        "WHERE round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) / " +
        "(len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))), 6) >= 0.5"
    },
    "d08_dup_clusters" -> {
      // identical pair graph, closed transitively by a recursive CTE —
      // an INDEPENDENT algorithm (full closure vs hash-min propagation),
      // so agreement checks the component semantics, not just the code
      val pairSql =
        "SELECT a.doc_id AS doc_a, b.doc_id AS doc_b FROM toks a " +
          "JOIN toks b ON a.doc_id < b.doc_id " +
          "WHERE round(CAST(len(list_intersect(a.t, b.t)) AS DOUBLE) / " +
          "(len(a.t) + len(b.t) - len(list_intersect(a.t, b.t))), 6) > 0.3"
      "WITH RECURSIVE toks AS (SELECT doc_id, list_distinct(list_filter(" +
        "regexp_split_to_array(lower(trim(text)), '\\s+'), x -> len(x) > 0)) AS t " +
        "FROM documents WHERE doc_id < 40), " +
        s"pairs AS ($pairSql), " +
        "edges AS (SELECT doc_a AS src, doc_b AS dst FROM pairs " +
        "UNION ALL SELECT doc_b, doc_a FROM pairs), " +
        "conn(src, dst) AS (SELECT src, dst FROM edges " +
        "UNION SELECT conn.src, e.dst FROM conn JOIN edges e ON conn.dst = e.src) " +
        "SELECT src AS doc_id, least(src, min(dst)) AS cluster " +
        "FROM conn GROUP BY src"
    },
    "d13_source_overlap" ->
      ("WITH fps AS (SELECT DISTINCT md5(array_to_string(" +
        "(list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'), x -> len(x) > 0))[1:5], ' ')) AS fp, source " +
        "FROM documents) " +
        "SELECT a.source AS source_a, b.source AS source_b, " +
        "count(DISTINCT a.fp) AS n_shared_prefixes " +
        "FROM fps a JOIN fps b ON a.fp = b.fp AND a.source < b.source " +
        "GROUP BY 1, 2 ORDER BY 1, 2"),
    "d12_substring_dedup" ->
      ("WITH g AS (SELECT doc_id, substring(text, i, 32) AS gram " +
        "FROM documents, unnest(generate_series(1, length(text) - 31, 16)) AS u(i) " +
        "WHERE length(text) >= 32), " +
        "rare AS (SELECT gram FROM g GROUP BY gram HAVING count(DISTINCT doc_id) <= 50), " +
        "gg AS (SELECT g.doc_id, g.gram FROM g JOIN rare USING (gram)) " +
        "SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, " +
        "count(DISTINCT a.gram) AS n_shared_spans " +
        "FROM gg a JOIN gg b ON a.gram = b.gram AND a.doc_id < b.doc_id " +
        "GROUP BY 1, 2 ORDER BY 1, 2"),
    "d06_embedding_dups" -> {
      // the same hyperplane family as the Spark side, as literal DOUBLE[]s;
      // list_cosine_similarity has the sign of the dot product, matching
      // the Spark-side cosine-sign blocking bit for bit
      val planeBits = hyperplanes(4).zipWithIndex.map { case (p, i) =>
        val arr = p.map(_.toString).mkString("[", ", ", "]")
        s"(CASE WHEN list_cosine_similarity(v, $arr) >= 0 THEN ${1L << i} ELSE 0 END)"
      }.mkString(" + ")
      s"WITH e AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) v FROM embeddings), " +
        s"blocked AS (SELECT id, v, $planeBits AS block FROM e) " +
        "SELECT a.id AS id_a, b.id AS id_b, round(list_cosine_similarity(a.v, b.v), 6) AS cos_sim " +
        "FROM blocked a JOIN blocked b ON a.block = b.block AND a.id < b.id " +
        "WHERE list_cosine_similarity(a.v, b.v) >= 0.35"
    },

    "d16_semantic_seeded" -> {
      // the same seeded centroids as the Spark side as literal DOUBLE[]s;
      // assignment replays the rounded-sim argmax with ties to the larger
      // cid (s09's rule), the pair scan repeats d06's raw-cosine filter
      val centers = Similarity.seededCentroids(nCentroids = 16, seed = 97L)
      val centValues = centers.zipWithIndex.map { case (c, i) =>
        s"($i, ${c.map(_.toString).mkString("[", ", ", "]")})"
      }.mkString(", ")
      "WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) v FROM embeddings), " +
        s"cents(cid, c) AS (SELECT * FROM (VALUES $centValues) t(cid, c)), " +
        "sims AS (SELECT vec_id, cid, round(list_cosine_similarity(v, c), 6) AS sim " +
        "FROM e, cents), " +
        "assign AS (SELECT vec_id, cid FROM (SELECT vec_id, cid, row_number() OVER " +
        "(PARTITION BY vec_id ORDER BY sim DESC, cid DESC) AS rn FROM sims) WHERE rn = 1), " +
        "pairs AS (SELECT a.vec_id AS kept_id, b.vec_id AS dropped_id, " +
        "list_cosine_similarity(ea.v, eb.v) AS cos " +
        "FROM assign a JOIN assign b ON a.cid = b.cid AND a.vec_id < b.vec_id " +
        "JOIN e ea ON ea.vec_id = a.vec_id JOIN e eb ON eb.vec_id = b.vec_id " +
        "WHERE list_cosine_similarity(ea.v, eb.v) >= 0.35) " +
        "SELECT dropped_id, min(kept_id) AS kept_id, count(*) AS n_witnesses, " +
        "round(max(cos), 6) AS max_cos FROM pairs GROUP BY dropped_id ORDER BY dropped_id"
    },

    "d17_line_dedup" ->
      // same 16-token non-overlapping segmentation of the raw token
      // stream; DuckDB list_slice is 1-based with inclusive, clamped
      // bounds — identical elements to Spark's slice(t, i*16+1, 16).
      // For a doc whose every segment is shared, the FILTERed list
      // aggregate is NULL and array_to_string propagates it (DuckDB's
      // array_to_string([]) is NULL too) — coalesce the STRING to '' so
      // the digest is md5('') exactly like Spark's concat_ws.
      ("WITH toks AS (SELECT doc_id, list_filter(" +
        "regexp_split_to_array(lower(trim(text)), '\\s+'), x -> len(x) > 0) AS t " +
        "FROM documents), " +
        "docs AS (SELECT doc_id, t, len(t) AS n FROM toks WHERE len(t) > 0), " +
        "segs AS (SELECT doc_id, CAST(i AS INT) AS seg_idx, " +
        "array_to_string(list_slice(t, i * 16 + 1, i * 16 + 16), ' ') AS seg " +
        "FROM docs, UNNEST(range(0, CAST(floor((n - 1) / 16) AS BIGINT) + 1)) AS u(i)), " +
        "freq AS (SELECT seg, count(DISTINCT doc_id) AS df FROM segs GROUP BY seg), " +
        "j AS (SELECT s.doc_id, s.seg_idx, s.seg, f.df = 1 AS keep " +
        "FROM segs s JOIN freq f USING (seg)) " +
        "SELECT doc_id, " +
        "CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept, " +
        "CAST(sum(CASE WHEN keep THEN 0 ELSE 1 END) AS BIGINT) AS n_removed, " +
        "md5(coalesce(array_to_string(list(seg ORDER BY seg_idx) FILTER (WHERE keep), ' '), '')) AS clean_digest " +
        "FROM j GROUP BY doc_id ORDER BY doc_id"),

    "g01_graph_rank" -> {
      // d06's literal-hyperplane pair scan as the edge list, then the
      // SAME Q30 integer iterations unrolled as ten chained CTEs —
      // DuckDB's `//` floors like Spark's `div` on the all-positive
      // fixed-point values, so every iteration is bit-identical
      val planeBits = hyperplanes(4).zipWithIndex.map { case (p, i) =>
        val arr = p.map(_.toString).mkString("[", ", ", "]")
        s"(CASE WHEN list_cosine_similarity(v, $arr) >= 0 THEN ${1L << i} ELSE 0 END)"
      }.mkString(" + ")
      val iters = (1 to 10).map { k =>
        s"p$k AS (SELECT ed.dst AS id, " +
          "(SELECT (15 * CAST(1073741824 AS BIGINT)) // (100 * n) FROM nn) + " +
          s"CAST(sum((p${k - 1}.rq * 85) // (ed.deg * 100)) AS BIGINT) AS rq " +
          s"FROM ed JOIN p${k - 1} ON p${k - 1}.id = ed.src GROUP BY ed.dst)"
      }.mkString(", ")
      s"WITH e AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) v FROM embeddings), " +
        s"blocked AS (SELECT id, v, $planeBits AS block FROM e), " +
        "pairs AS (SELECT a.id AS ia, b.id AS ib FROM blocked a JOIN blocked b " +
        "ON a.block = b.block AND a.id < b.id " +
        "WHERE list_cosine_similarity(a.v, b.v) >= 0.35), " +
        "edges AS (SELECT ia AS src, ib AS dst FROM pairs " +
        "UNION ALL SELECT ib, ia FROM pairs), " +
        "deg AS (SELECT src, count(*) AS deg FROM edges GROUP BY src), " +
        "ed AS (SELECT edges.src, edges.dst, deg.deg FROM edges JOIN deg USING (src)), " +
        "nn AS (SELECT count(*) AS n FROM deg), " +
        "p0 AS (SELECT src AS id, CAST((SELECT 1073741824 // n FROM nn) AS BIGINT) AS rq FROM deg), " +
        iters + " " +
        "SELECT p10.id AS vec_id, p10.rq AS rank_q, d.deg FROM p10 " +
        "JOIN deg d ON d.src = p10.id ORDER BY rank_q DESC, vec_id"
    },

    "d09_decontaminate" -> {
      // identical 5-gram shingles via the engine-portable md5-prefix hash
      // (d07's pattern); docs with < 5 tokens collapse to one shingle
      val gram5 = "t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3] || ' ' || t[i+4]"
      "WITH toks AS (SELECT doc_id AS doc, list_filter(" +
        "regexp_split_to_array(lower(trim(text)), '\\s+'), x -> len(x) > 0) AS t " +
        "FROM documents), " +
        s"sh_full AS (SELECT doc, CAST(('0x' || substr(md5($gram5), 1, 15)) AS BIGINT) AS h " +
        "FROM toks, UNNEST(range(1, len(t) - 3)) AS u(i) WHERE len(t) >= 5), " +
        "sh_short AS (SELECT doc, CAST(('0x' || substr(md5(" +
        "array_to_string(t, ' ')), 1, 15)) AS BIGINT) AS h " +
        "FROM toks WHERE len(t) < 5), " +
        "sh AS (SELECT DISTINCT doc, h FROM " +
        "(SELECT * FROM sh_full UNION ALL SELECT * FROM sh_short)), " +
        "ev AS (SELECT DISTINCT h FROM sh WHERE doc % 10 = 0), " +
        "tr AS (SELECT * FROM sh WHERE doc % 10 <> 0) " +
        "SELECT tr.doc AS doc_id, count(*) AS n_grams, count(ev.h) AS n_hits, " +
        "CAST(floor(CAST(count(ev.h) AS DOUBLE) / count(*) * 1000000) AS BIGINT) AS contamination_e6 " +
        "FROM tr LEFT JOIN ev ON tr.h = ev.h GROUP BY tr.doc"
    },

    "d10_canonical_per_cluster" -> {
      // d08's recursive-CTE closure + per-doc quality; the window picks
      // the same (max quality, min doc id) representative per cluster
      val pairSql =
        "SELECT a.doc_id AS doc_a, b.doc_id AS doc_b FROM toks a " +
          "JOIN toks b ON a.doc_id < b.doc_id " +
          "WHERE round(CAST(len(list_intersect(a.t, b.t)) AS DOUBLE) / " +
          "(len(a.t) + len(b.t) - len(list_intersect(a.t, b.t))), 6) > 0.3"
      "WITH RECURSIVE toks AS (SELECT doc_id, list_distinct(list_filter(" +
        "regexp_split_to_array(lower(trim(text)), '\\s+'), x -> len(x) > 0)) AS t " +
        "FROM documents WHERE doc_id < 40), " +
        s"pairs AS ($pairSql), " +
        "edges AS (SELECT doc_a AS src, doc_b AS dst FROM pairs " +
        "UNION ALL SELECT doc_b, doc_a FROM pairs), " +
        "conn(src, dst) AS (SELECT src, dst FROM edges " +
        "UNION SELECT conn.src, e.dst FROM conn JOIN edges e ON conn.dst = e.src), " +
        "clusters AS (SELECT src AS doc_id, least(src, min(dst)) AS cluster " +
        "FROM conn GROUP BY src), " +
        "q AS (SELECT doc_id, CAST(floor(CAST(length(regexp_replace(text, '[^a-zA-Z ]', '', 'g')) AS DOUBLE) " +
        "/ greatest(length(text), 1) * 1000000) AS BIGINT) AS q_e6 " +
        "FROM documents WHERE doc_id < 40) " +
        "SELECT cluster, doc_id AS keep_id, q_e6 AS keep_q_e6, n_docs FROM (" +
        "SELECT c.cluster, c.doc_id, q.q_e6, " +
        "row_number() OVER (PARTITION BY c.cluster ORDER BY q.q_e6 DESC, c.doc_id ASC) AS rn, " +
        "count(*) OVER (PARTITION BY c.cluster) AS n_docs " +
        "FROM clusters c JOIN q USING (doc_id)) WHERE rn = 1"
    }
  )
}
