package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** End-to-end training-data-prep pipeline composed from the individual
  * operators: quality gate → exact dedup (keep-first) → token accounting.
  * One declarative plan — Catalyst fuses the quality expressions into the
  * scan, the dedup is the single shuffle, and the output is the "kept"
  * corpus manifest a downstream tokenizer job would consume. At 100 TB
  * this shape is one scan + one shuffle; nothing touches the driver.
  */
object Pipeline extends QueryPack {

  /** The CURATION CYCLE fixture: the corpus lives in a versioned graft
    * table and every curation pass lands as merge-on-read DML — the
    * 100 TB loop where nothing rewrites the corpus until maintenance:
    *
    *   1. append the raw corpus (snapshot 1);
    *   2. quality gate as a positional PREDICATE delete — sub-quality
    *      rows die as deletion-vector positions, no data file copied
    *      (snapshot 2);
    *   3. exact-dup LOSERS (keep-first by normalized-text fingerprint,
    *      computed over the surviving corpus) deleted BY KEY through the
    *      curation entry point (snapshot 3);
    *   4. compact() materializes the accumulated deletions — the
    *      nightly maintenance step (snapshot 4);
    *   5. the held-out split leaves the training corpus as an EQUALITY
    *      delete — an O(keys) commit (snapshot 5).
    */
  /** Synthetic quality text planted twice (guaranteed exact dup that
    * passes the gate — the raw corpus may have neither dups nor
    * sub-quality rows at small SF). */
  private[queries] val CycleSynthText =
    "the quick brown fox jumps over the lazy dog again and again"

  private def cycleFixture(
      s: org.apache.spark.sql.SparkSession,
      d: String): graft.table.GraftTable =
    Versioned.cachedFixture(d, "docs_cycle", 6) { dir =>
      val docs = t(s, d, "documents")
        .select("doc_id", "text", "lang", "source", "n_chars")
      val tb = graft.table.GraftTable.create(dir, docs.schema)
      tb.append(docs, committedAt = Some(1000L))
      // the arriving batch: exact copies of the low-id docs (dup
      // victims), junk rows (quality victims), and a duplicated
      // synthetic quality doc (a dup pair that survives the gate)
      val dups = docs.filter(col("doc_id") < 50)
        .withColumn("doc_id", col("doc_id") + lit(1000000L))
      val junk = docs.filter(col("doc_id") < 30)
        .select((col("doc_id") + lit(2000000L)).as("doc_id"),
          lit("#" * 40).as("text"), lit("xx").as("lang"),
          lit("junk").as("source"), lit(40L).as("n_chars"))
      val synth = s.range(2).select(
        (col("id") + lit(3000000L)).as("doc_id"),
        lit(CycleSynthText).as("text"), lit("en").as("lang"),
        lit("synth").as("source"),
        lit(CycleSynthText.length.toLong).as("n_chars"))
      tb.append(dups.unionByName(junk).unionByName(synth),
        committedAt = Some(2000L))
      val nTokens = size(graft.functions.TextOps.tokens(col("text"),
        lowercase = false))
      val cleanRatio = round(
        graft.functions.TextOps.clean_chars(col("text")).cast("double") /
          greatest(length(col("text")), lit(1)), 6)
      val quality = nTokens.between(10, 120) && cleanRatio > 0.9
      tb.deletePositional(s, !quality, Some(3000L))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(md5(graft.functions.TextOps.collapse_ws(lower(col("text")))))
        .orderBy(col("doc_id"))
      val losers = tb.read(s)
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") > 1).select("doc_id")
      tb.deletePositionalByKeys(s, losers, Seq("doc_id"), Some(4000L))
      tb.compact(s, smallerThanBytes = Long.MaxValue, Some(5000L))
      tb.deleteEquality(s,
        tb.read(s).filter(col("doc_id") % 10 === 0).select("doc_id"),
        Seq("doc_id"), Some(6000L))
      tb
    }

  /** VARIANT-METADATA corpus fixture (p05): every document carries a
    * semi-structured metadata payload — license, source bucket, quality
    * score — as a native VARIANT column (parse_json at ingest; Spark 4
    * shreds the paths, so the curation filter below prunes files on
    * clean shredded stats AND reads only the requested subcolumns).
    * The payload derives deterministically from doc_id so DuckDB can
    * replay it exactly from the raw table. */
  private def varMetaFixture(
      s: org.apache.spark.sql.SparkSession,
      d: String): graft.table.GraftTable =
    Versioned.cachedFixture(d, "docs_varmeta", 1) { dir =>
      val docs = t(s, d, "documents").select(
        col("doc_id"), col("n_chars"),
        parse_json(to_json(struct(
          concat(lit("crawl-"), (col("doc_id") % 7).cast("string"))
            .as("src"),
          (col("doc_id") % 100).as("score"),
          when(col("doc_id") % 3 === 0, lit("cc")).otherwise(lit("other"))
            .as("lic")))).as("meta"))
      val tb = graft.table.GraftTable.create(dir, docs.schema)
      tb.append(docs, committedAt = Some(1000L))
      tb
    }

  /** The bucketed token-budget fill behind p06 (DoReMi-style "give each
    * domain N tokens"): over `(source, doc_id, nt, h)` rows, keep each
    * source's docs in deterministic hash order (h, doc_id) while the
    * running token sum fits `total · (2 + len(source) % 5) div 10`, and
    * return per-source (budget, docs_kept, tokens_kept).
    *
    * Equivalent BY CONSTRUCTION to the naive per-source cumulative
    * window (BudgetFillPropertySpec proves it on random + adversarial
    * data) but scale-safe: the naive spelling funnels the whole corpus
    * token stream through n_sources window tasks. Here one
    * hash-aggregate builds per-(source, 3-hex-prefix) sums (≤ 4096 ×
    * n_sources rows), a window over that tiny relation finds each
    * source's BOUNDARY bucket, whole buckets before it are kept from
    * the aggregate alone, and only the boundary bucket's rows
    * (~1/4096 of a source) flow through a per-source window. Exposed
    * private[queries] for the property spec. */
  private[queries] def budgetFill(
      docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ba = docs
      .withColumn("b", substring(col("h"), 1, 3))
      .groupBy("source", "b")
      .agg(sum("nt").as("bs"), count(lit(1)).as("bc"))
    // per-source budget: weight w ∈ {0.2 … 0.6} keyed on the source
    // name, applied as integer ops (total · (2 + len % 5) div 10)
    val budgets = ba.groupBy("source")
      .agg(sum(col("bs")).as("total"))
      .withColumn("budget",
        expr("total * (2 + length(source) % 5) div 10"))
    val wB = Window.partitionBy("source").orderBy("b")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = ba.join(budgets, "source")
      .withColumn("cum", sum("bs").over(wB))
      .withColumn("prev", col("cum") - col("bs"))
    // buckets fully inside the budget: kept from the aggregate alone
    val whole = cum.filter(col("cum") <= col("budget"))
      .groupBy("source")
      .agg(sum("bc").as("wdocs"), sum("bs").as("wtoks"))
    // the unique first bucket crossing the budget + the budget left
    // for it (derived from corpus aggregates — no broadcast hint, the
    // policy; AQE broadcasts the tiny side on its own)
    val boundary = cum
      .filter(col("cum") > col("budget") && col("prev") <= col("budget"))
      .select(col("source"), col("b").as("bb"),
        (col("budget") - col("prev")).as("remaining"))
    val wD = Window.partitionBy("source").orderBy("h", "doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val bKept = docs
      .withColumn("bb", substring(col("h"), 1, 3))
      .join(boundary, Seq("source", "bb"))
      .withColumn("dcum", sum("nt").over(wD))
      .filter(col("dcum") <= col("remaining"))
      .groupBy("source")
      .agg(count(lit(1)).as("bdocs"), sum("nt").as("btoks"))
    whole.join(bKept, Seq("source"), "full_outer")
      .select(col("source"),
        (coalesce(col("wdocs"), lit(0L))
          + coalesce(col("bdocs"), lit(0L))).as("docs_kept"),
        (coalesce(col("wtoks"), lit(0L))
          + coalesce(col("btoks"), lit(0L))).as("tokens_kept"))
      .filter(col("docs_kept") > 0)
      .join(budgets.select("source", "budget"), Seq("source"))
      .select(col("source"), col("budget").cast("long").as("budget"),
        col("docs_kept").cast("long").as("docs_kept"),
        col("tokens_kept").cast("long").as("tokens_kept"))
      .orderBy("source")
  }

  val queries: Map[String, Q] = Map(
    // the CURATION CYCLE: quality gate, dedup, maintenance and held-out
    // removal all land as merge-on-read DML on a versioned corpus table
    // (positional predicate + key deletes, compaction, equality delete);
    // the surviving training corpus aggregates per language
    // VARIANT-metadata curation: license + score gate and per-source
    // accounting straight off the semi-structured payload — variant_get
    // pushes into the scan (shredded subcolumn reads) and the manifest
    // prunes files on the shredded path stats
    "p05_variant_curation" -> ((s, d) =>
      varMetaFixture(s, d).read(s)
        .filter(variant_get(col("meta"), "$.lic", "string") === "cc" &&
          variant_get(col("meta"), "$.score", "bigint") >= 40L)
        .groupBy(variant_get(col("meta"), "$.src", "string").as("src"))
        .agg(count(lit(1)).as("docs"),
          sum(col("n_chars")).cast("long").as("n_chars_sum"))),

    "p04_curation_cycle" -> ((s, d) =>
      cycleFixture(s, d).read(s)
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("docs"),
          sum(col("doc_id")).cast("long").as("id_sum"),
          sum(col("n_chars")).cast("long").as("n_chars_sum"))),

    // DOMAIN-MIXTURE sampling to an exact TOKEN BUDGET per source (the
    // DoReMi-style "give each domain N tokens" step a training-data mix
    // actually executes — t20's rate resample fixes a per-doc PROBABILITY;
    // this fixes the token TOTAL): docs ordered by a deterministic hash
    // shuffle, kept greedily while the running token sum fits the budget.
    //
    // Scale design: the naive spelling is a cumulative-sum window
    // PARTITION BY source — with a handful of sources that funnels the
    // whole corpus token stream through n_sources tasks (the top-k
    // parallelism-collapse trap). Instead the hash order is split into
    // 4096 prefix buckets: one hash-aggregate builds per-(source, bucket)
    // token sums, a window over that TINY relation (≤ 4096 × n_sources
    // rows) finds each source's BOUNDARY bucket, whole buckets before it
    // are kept via the aggregate alone (no second corpus pass), and only
    // the boundary bucket's rows (~1/4096 of a source) flow through a
    // per-source window. Budgets are integer arithmetic end-to-end
    // (total · weight via div), so the oracle matches bit-for-bit.
    "p06_domain_mixture" -> ((s, d) => {
      // narrow multi-consumer projection (two longs + two short strings
      // per doc): persist beats re-tokenizing the corpus for the
      // boundary pass (the d15 narrow-relation discipline)
      val docs = t(s, d, "documents").select(
        col("source"), col("doc_id"),
        size(graft.functions.TextOps.tokens(col("text"),
          lowercase = false)).cast("long").as("nt"),
        md5(col("doc_id").cast("string")).as("h")).persist()
      budgetFill(docs)
    }),

    "p01_prep_pipeline" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val toks = graft.functions.TextOps.tokens(col("text"),
        lowercase = false)
      val quality = docs
        .withColumn("n_tokens", size(toks))
        .withColumn("clean_ratio",
          round(graft.functions.TextOps.clean_chars(col("text"))
            .cast("double") / greatest(length(col("text")), lit(1)), 6))
        .filter(col("n_tokens").between(10, 120) && col("clean_ratio") > 0.9)
      val fp = quality.withColumn("fingerprint",
        md5(graft.functions.TextOps.collapse_ws(lower(col("text")))))
      val w = Window.partitionBy(col("fingerprint")).orderBy(col("doc_id").asc)
      fp.withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select("doc_id", "lang", "n_tokens", "clean_ratio", "fingerprint")
    }),

    // the full EXPORT pipeline: quality gate → benchmark decontamination
    // (drop any train doc sharing a 5-gram with the held-out split) →
    // exact dedup keep-first → 64/48 token-window chunking. One
    // declarative plan end to end; the decontamination anti-join and the
    // dedup window are the only shuffles beyond the shingle hash join.
    "p02_export_pipeline" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val evalPred = col("doc_id") % 10 === 0
      val quality = docs
        .withColumn("n_toks",
          size(graft.functions.TextOps.tokens(col("text"),
            lowercase = false)))
        .withColumn("clean_ratio",
          graft.functions.TextOps.clean_chars(col("text"))
            .cast("double") / greatest(length(col("text")), lit(1)))
        .filter(col("n_toks").between(10, 120) && col("clean_ratio") > 0.9
          && !evalPred)
      val contaminated = Dedup
        .decontaminate(docs, "doc_id", "text", evalPred, k = 5)
        .filter(col("n_hits") > 0)
        .select(col("doc_id").as("bad_id"))
      val clean = quality.join(contaminated,
        quality("doc_id") === contaminated("bad_id"), "left_anti")
      val w = Window
        .partitionBy(md5(graft.functions.TextOps.collapse_ws(lower(col("text")))))
        .orderBy(col("doc_id").asc)
      val kept = clean.withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
      val chunkToks = graft.functions.TextOps.tokens(col("text"))
      kept.select(col("doc_id"), chunkToks.as("t"))
        .withColumn("n", size(col("t")))
        .filter(col("n") > 0)
        .withColumn("chunk_idx",
          explode(sequence(lit(0), floor((col("n") - 1) / 48).cast("int"))))
        .withColumn("chunk", slice(col("t"), col("chunk_idx") * 48 + 1, lit(64)))
        .select(col("doc_id"), col("chunk_idx"),
          size(col("chunk")).as("n_tokens"),
          md5(concat_ws(" ", col("chunk"))).as("digest"))
    }),

    // the MULTIMODAL asset-prep pipeline: stub-decode gate (keep "even"
    // containers under a width bound) → exact dedup on the payload
    // digest (keep lowest asset id) → fixed-resolution resize for the
    // kept assets. Decode/resize run in the per-partition codec batches;
    // the dedup window partitions by digest (many groups); one
    // declarative plan end to end, every stage integer/digest-exact so
    // the WHOLE pipeline is oracle-hashed, not just its pieces.
    "p03_asset_pipeline" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val assets = docs.select(col("doc_id"),
        encode(col("text"), "UTF-8").as("payload"))
      val meta = assets.select(col("doc_id").as("aid"),
        md5(col("payload")).as("digest"))
      val feats = graft.multimodal.Multimodal
        .extractFeatures(assets, "doc_id", "payload").toDF()
      val resized = graft.multimodal.Multimodal
        .resize(assets, "doc_id", "payload", target = 16).toDF()
        .select(col("assetId").as("rid"), col("pixels"))
      val gated = feats
        .filter(col("format") === "even" && col("width") <= 900)
        .join(meta, col("assetId") === col("aid"))
      val w = Window.partitionBy(col("digest")).orderBy(col("assetId").asc)
      gated.withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .join(resized, col("assetId") === col("rid"))
        // driver comparator needs atomic cells: ship the pixel vector as an
        // md5 over its comma-joined rendering (same projection both sides)
        .select(col("assetId").as("asset_id"), col("nBytes").as("n_bytes"),
          col("width"), col("height"),
          md5(array_join(col("pixels").cast("array<string>"), ","))
            .as("pixels_md5"))
        .orderBy("asset_id")
    })
  )

  val oracleSql: Map[String, String] = Map(
    // the oracle spells the SAME keep rule as one per-source cumulative
    // window (fine at oracle scale); integer budgets + hash-total order
    // (h, doc_id) make the kept set identical to the bucketed plan.
    // CLAUDE.md DuckDB traps honored: SUM → HUGEINT cast to BIGINT,
    // `//` truncating division matches Spark's div on positives
    "p06_domain_mixture" ->
      ("WITH d AS (SELECT source, doc_id, " +
        "CAST(len(list_filter(regexp_split_to_array(trim(text), '\\s+'), x -> len(x) > 0)) AS BIGINT) AS nt, " +
        "md5(CAST(doc_id AS VARCHAR)) AS h FROM documents), " +
        "b AS (SELECT source, CAST(SUM(nt) AS BIGINT) * (2 + length(source) % 5) // 10 AS budget FROM d GROUP BY 1), " +
        "c AS (SELECT source, nt, SUM(nt) OVER (PARTITION BY source ORDER BY h, doc_id ROWS UNBOUNDED PRECEDING) AS cum FROM d) " +
        "SELECT c.source AS source, CAST(b.budget AS BIGINT) AS budget, " +
        "CAST(COUNT(*) AS BIGINT) AS docs_kept, " +
        "CAST(SUM(c.nt) AS BIGINT) AS tokens_kept " +
        "FROM c JOIN b USING(source) WHERE c.cum <= b.budget " +
        "GROUP BY 1, 2 ORDER BY 1"),
    "p05_variant_curation" ->
      ("SELECT 'crawl-' || CAST(doc_id % 7 AS VARCHAR) AS src, " +
        "CAST(count(*) AS BIGINT) AS docs, " +
        "CAST(sum(n_chars) AS BIGINT) AS n_chars_sum FROM documents " +
        "WHERE doc_id % 3 = 0 AND doc_id % 100 >= 40 GROUP BY 1"),
    "p04_curation_cycle" ->
      ("WITH corpus AS (" +
        "SELECT doc_id, text, lang, n_chars FROM documents " +
        "UNION ALL SELECT doc_id + 1000000, text, lang, n_chars " +
        "FROM documents WHERE doc_id < 50 " +
        "UNION ALL SELECT doc_id + 2000000, repeat('#', 40), 'xx', 40 " +
        "FROM documents WHERE doc_id < 30 " +
        "UNION ALL SELECT 3000000 + u.i, '" + CycleSynthText + "', 'en', " +
        s"${CycleSynthText.length} FROM (SELECT unnest([0, 1]) AS i) u), " +
        "scored AS (SELECT doc_id, lang, text, n_chars, " +
        "len(list_filter(regexp_split_to_array(trim(text), '\\s+'), x -> len(x) > 0)) AS n_tokens, " +
        "round(CAST(length(regexp_replace(text, '[^a-zA-Z ]', '', 'g')) AS DOUBLE) / greatest(length(text), 1), 6) AS clean_ratio " +
        "FROM corpus), " +
        "quality AS (SELECT doc_id, lang, text, n_chars FROM scored " +
        "WHERE n_tokens BETWEEN 10 AND 120 AND clean_ratio > 0.9), " +
        "keep AS (SELECT doc_id, lang, n_chars FROM (SELECT *, " +
        "row_number() OVER (PARTITION BY md5(regexp_replace(lower(text), '\\s+', ' ', 'g')) " +
        "ORDER BY doc_id) AS rn FROM quality) WHERE rn = 1), " +
        "final AS (SELECT * FROM keep WHERE doc_id % 10 <> 0) " +
        "SELECT lang, CAST(count(*) AS BIGINT) AS docs, " +
        "CAST(sum(doc_id) AS BIGINT) AS id_sum, " +
        "CAST(sum(n_chars) AS BIGINT) AS n_chars_sum " +
        "FROM final GROUP BY lang"),
    "p03_asset_pipeline" ->
      ("""WITH bytes AS (
         |  SELECT doc_id, unnest(generate_series(1, length(text))) AS i FROM documents
         |), hv AS (
         |  SELECT b.doc_id, sum(ord(substring(d.text, b.i, 1)) * (1 + (b.i - 1) % 97)) AS h
         |  FROM bytes b JOIN documents d USING (doc_id) GROUP BY 1
         |), meta AS (
         |  SELECT d.doc_id, length(d.text) AS len, md5(d.text) AS digest,
         |         CAST(64 + COALESCE(hv.h, 0) % 1024 AS INT) AS width,
         |         CAST(64 + ((COALESCE(hv.h, 0) % 1048576) * 2654435761 % 2147483647) % 1024 AS INT) AS height
         |  FROM documents d LEFT JOIN hv USING (doc_id)
         |), gated AS (
         |  SELECT * FROM meta WHERE len % 2 = 0 AND width <= 900
         |), kept AS (
         |  SELECT *, row_number() OVER (PARTITION BY digest ORDER BY doc_id) AS rn FROM gated
         |), pv AS (
         |  SELECT b.doc_id, CAST(((b.i - 1) * 16) // length(d.text) AS INT) AS p,
         |         ord(substring(d.text, b.i, 1)) AS byte
         |  FROM bytes b JOIN documents d USING (doc_id)
         |), pools AS (
         |  SELECT doc_id, p, CAST(sum(byte) // count(*) AS INT) AS px FROM pv GROUP BY 1, 2
         |), px AS (
         |  SELECT doc_id, md5(array_to_string(list(px ORDER BY p), ',')) AS pixels_md5
         |  FROM pools GROUP BY doc_id
         |)
         |SELECT k.doc_id AS asset_id, CAST(k.len AS BIGINT) AS n_bytes,
         |       k.width, k.height, px.pixels_md5
         |FROM kept k JOIN px USING (doc_id) WHERE k.rn = 1 ORDER BY 1""".stripMargin),
    "p01_prep_pipeline" ->
      ("WITH scored AS (SELECT doc_id, lang, text, " +
        "len(list_filter(regexp_split_to_array(trim(text), '\\s+'), x -> len(x) > 0)) AS n_tokens, " +
        "round(CAST(length(regexp_replace(text, '[^a-zA-Z ]', '', 'g')) AS DOUBLE) / greatest(length(text), 1), 6) AS clean_ratio " +
        "FROM documents), " +
        "quality AS (SELECT * FROM scored WHERE n_tokens BETWEEN 10 AND 120 AND clean_ratio > 0.9), " +
        "fp AS (SELECT *, md5(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS fingerprint, " +
        "row_number() OVER (PARTITION BY md5(regexp_replace(lower(text), '\\s+', ' ', 'g')) ORDER BY doc_id) AS rn FROM quality) " +
        "SELECT doc_id, lang, n_tokens, clean_ratio, fingerprint FROM fp WHERE rn = 1"),

    "p02_export_pipeline" -> {
      val gram5 = "t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3] || ' ' || t[i+4]"
      "WITH toks AS (SELECT doc_id, list_filter(" +
        "regexp_split_to_array(lower(trim(text)), '\\s+'), x -> len(x) > 0) AS t " +
        "FROM documents), " +
        s"sh_full AS (SELECT doc_id, CAST(('0x' || substr(md5($gram5), 1, 15)) AS BIGINT) AS h " +
        "FROM toks, UNNEST(range(1, len(t) - 3)) AS u(i) WHERE len(t) >= 5), " +
        "sh_short AS (SELECT doc_id, CAST(('0x' || substr(md5(" +
        "array_to_string(t, ' ')), 1, 15)) AS BIGINT) AS h " +
        "FROM toks WHERE len(t) < 5), " +
        "sh AS (SELECT DISTINCT doc_id, h FROM " +
        "(SELECT * FROM sh_full UNION ALL SELECT * FROM sh_short)), " +
        "ev AS (SELECT DISTINCT h FROM sh WHERE doc_id % 10 = 0), " +
        "contam AS (SELECT DISTINCT s.doc_id FROM sh s JOIN ev ON s.h = ev.h " +
        "WHERE s.doc_id % 10 <> 0), " +
        "scored AS (SELECT doc_id, text, " +
        "len(list_filter(regexp_split_to_array(trim(text), '\\s+'), x -> len(x) > 0)) AS n_toks, " +
        "CAST(length(regexp_replace(text, '[^a-zA-Z ]', '', 'g')) AS DOUBLE) / greatest(length(text), 1) AS clean_ratio " +
        "FROM documents), " +
        "quality AS (SELECT * FROM scored WHERE n_toks BETWEEN 10 AND 120 " +
        "AND clean_ratio > 0.9 AND doc_id % 10 <> 0 " +
        "AND doc_id NOT IN (SELECT doc_id FROM contam)), " +
        "fp AS (SELECT doc_id, row_number() OVER (PARTITION BY " +
        "md5(regexp_replace(lower(text), '\\s+', ' ', 'g')) ORDER BY doc_id) AS rn " +
        "FROM quality), " +
        "kt AS (SELECT toks.doc_id, t, len(t) AS n FROM toks " +
        "JOIN (SELECT doc_id FROM fp WHERE rn = 1) kept USING (doc_id) WHERE len(t) > 0), " +
        "c AS (SELECT doc_id, t, n, unnest(range(0, (n - 1) // 48 + 1)) AS chunk_idx FROM kt) " +
        "SELECT doc_id, CAST(chunk_idx AS INT) AS chunk_idx, " +
        "CAST(len(t[chunk_idx * 48 + 1 : LEAST(chunk_idx * 48 + 64, n)]) AS INT) AS n_tokens, " +
        "md5(array_to_string(t[chunk_idx * 48 + 1 : LEAST(chunk_idx * 48 + 64, n)], ' ')) AS digest " +
        "FROM c"
    }
  )
}
