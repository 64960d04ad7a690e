package graft.table

import org.apache.spark.sql.{Column, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Alias, AttributeReference, EqualTo, Expression}
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.classic.GraftBridge
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
import org.apache.spark.sql.functions.lit

/** SQL `UPDATE` / `MERGE INTO` over [[GraftSparkCatalog]] tables, routed to
  * the library's existing DML commit paths (copy-on-write [[GraftTable.update]]
  * / [[GraftTable.merge]], merge-on-read [[GraftTable.mergeEquality]]) by an
  * injected analyzer rule — the same integration stance Iceberg takes for its
  * SQL extensions: the session registers `graft.table.GraftExtensions` and
  * standard DML statements reach the table's own atomic commit protocol
  * instead of failing as "not supported" on a read-only DSv2 relation.
  * (Reference analog: the storage-handler surface of
  * IcebergStorageHandler.java:38-113, which delegates all mutation to the
  * table format's own transaction layer.)
  *
  * Supported surface:
  *  - `UPDATE cat.db.t SET c = expr, … [WHERE pred]` — top-level columns
  *    only; routed to the copy-on-write rewrite, or to the positional
  *    merge-on-read delta ([[GraftTable.updatePositional]]) when the
  *    table property `write.update.mode = merge-on-read` is set.
  *    `WHERE k IN (SELECT …)` routes to a matched-only key merge
  *    ([[GraftTable.mergeActions]]) over the deduplicated tuples.
  *  - `DELETE FROM cat.db.t [WHERE pred]` — Spark's own SupportsDelete
  *    path by default; routed to [[GraftTable.deletePositional]] when
  *    `write.delete.mode = merge-on-read` is set (and to the library's
  *    CoW delete when positional entries pend — see the case comments).
  *    `WHERE k IN (SELECT …)` — the curation-loser idiom SupportsDelete
  *    cannot push — routes to [[GraftTable.deleteByKeys]] (CoW anti-join
  *    rewrite) or [[GraftTable.deletePositionalByKeys]] (MoR mode).
  *    Graft-target statements SPLICE MoR-pending/pre-rename graft reads
  *    inside their SOURCE subtrees (INSERT/MERGE/CTAS sources, delete
  *    subqueries) — CDC chains read from exactly such tables.
  *  - `MERGE INTO cat.db.t USING src ON t.k1 = src.k1 [AND …]` with the
  *    full action surface: conditional `WHEN MATCHED [AND p] THEN
  *    UPDATE SET …/DELETE`, conditional `WHEN NOT MATCHED [AND p] THEN
  *    INSERT …`, `WHEN NOT MATCHED BY SOURCE [AND p] THEN
  *    UPDATE/DELETE`, composite keys, partial SET lists and
  *    target-referencing values. Routing (see [[rewriteMerge]]): the
  *    canonical whole-row upsert keeps [[GraftTable.merge]] /
  *    [[GraftTable.mergeEquality]]; general shapes take
  *    [[GraftTable.mergeActions]] (copy-on-write) or, under
  *    `write.merge.mode = merge-on-read` with source-only outcomes,
  *    [[GraftTable.mergeEqualityConditional]] (the CDC-apply shape:
  *    one tombstone+upsert commit, no data file rewritten).
  */
case class ResolveGraftDml(spark: SparkSession) extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan = plan match {
    // DML roots: rewrite once fully resolved; BEFORE that, leave the tree
    // completely untouched — the MoR/rename splice must never replace a
    // DML statement's target relation (the rewrite cases below would stop
    // matching, and Spark's own row-level paths require a DSv2 relation).
    // DeleteFromTable stays Spark-handled end-to-end (SupportsDelete,
    // which deliberately composes with pending positional entries), so it
    // is exempted from the splice rather than rewritten.
    case u @ UpdateTable(target, assignments, condition) =>
      if (!u.resolved) plan
      else graftTarget(target) match {
        case Some(g) => rewriteUpdate(g, target.outputSet, assignments, condition)
        case None => plan
      }
    case m: MergeIntoTable =>
      if (!m.resolved) plan
      else graftTarget(m.targetTable) match {
        case Some(g) => rewriteMerge(g, m)
        // non-graft target: Spark's own MERGE path keeps the statement,
        // but its SOURCE may still read a MoR-pending / pre-rename graft
        // table — splice those reads (the target is not graft, so the
        // splice-must-not-touch-target rule is not at risk)
        case None =>
          spliceSource(plan, m.sourceTable)(s => m.copy(sourceTable = s))
      }
    case a @ AppendData(table, query, _, isByName, _, _) =>
      if (!query.resolved) plan
      else graftTarget(table) match {
        case Some(g) =>
          val src = aligned(g, query, isByName)
          // INSERT keeps the append's own commit retry, not withDmlRetry
          GraftDmlCommand(s"INSERT INTO ${g.name()}", s =>
            g.underlying.appendWithRetry(GraftBridge.ofRows(s, src)): Unit)
        case None => spliceSource(plan, query)(q => a.copy(query = q))
      }
    case d @ DeleteFromTable(target, condition) =>
      if (!d.resolved) plan
      else graftTarget(target) match {
        // DELETE … WHERE k IN (SELECT …) — the dedup-loser /
        // decontamination idiom in SQL. Spark's SupportsDelete path
        // cannot push a subquery; route to the key-delete forms:
        // positional under write.delete.mode=merge-on-read
        // (O(victims) written), copy-on-write anti-join rewrite
        // otherwise. Uncorrelated, bare-attribute keys only — anything
        // else keeps today's loud refusal.
        case Some(g) if g.pinned.isEmpty &&
            inSubqueryKeys(condition, target.outputSet).isDefined =>
          val (cols, src) = inSubqueryKeys(condition, target.outputSet).get
          def keys(s: SparkSession) = GraftBridge.ofRows(s, src).select(
            cols.map(c => org.apache.spark.sql.functions.col(c)
              .cast(g.underlying.schema(c).dataType).as(c)): _*)
          if (g.underlying.properties.get("write.delete.mode")
              .contains("merge-on-read"))
            dml("DELETE positional by keys", g)((t, s) =>
              t.deletePositionalByKeys(s, keys(s), cols))
          else dml("DELETE copy-on-write by keys", g)((t, s) =>
            t.deleteByKeys(s, keys(s), cols))
        // write.delete.mode=merge-on-read: commit positions, not a
        // rewrite (the v28/v29 library path) — O(victim rows) of delete
        // metadata, untouched files keep their plain scans
        case Some(g) if g.pinned.isEmpty &&
            g.underlying.properties.get("write.delete.mode")
              .contains("merge-on-read") =>
          val cond = byName(condition)
          dml("DELETE positional", g)((t, s) => t.deletePositional(s, cond))
        // POSITIONAL, EQUALITY and PREDICATE-deferred entries compose
        // with CoW delete in the library, but the DSv2 DELETE plan still
        // builds a scan of the relation and the raw scan refuses
        // MoR-pending tables — route the statement to GraftTable.delete
        // directly (plain sessions keep Spark's SupportsDelete path,
        // which only works on entry-free tables)
        case Some(g) if g.pinned.isEmpty &&
            (g.underlying.positionalDeletes.nonEmpty ||
              g.underlying.equalityDeletes.nonEmpty ||
              g.underlying.pendingDeletes.nonEmpty) =>
          val cond = byName(condition)
          dml("DELETE copy-on-write", g)((t, s) => t.delete(s, cond))
        case _ => plan
      }
    case o @ OverwritePartitionsDynamic(table, query, _, isByName, _) =>
      // dynamic-partition INSERT OVERWRITE (partitionOverwriteMode=
      // dynamic / df.writeTo(t).overwritePartitions()): replace exactly
      // the partitions present in the source, atomically
      if (!query.resolved) plan
      else graftTarget(table) match {
        case Some(g) =>
          val src = aligned(g, query, isByName)
          dml("INSERT OVERWRITE dynamic partitions", g)((t, s) =>
            t.overwritePartitionsDynamic(s, GraftBridge.ofRows(s, src)))
        case None => spliceSource(plan, query)(q => o.copy(query = q))
      }
    case o @ OverwriteByExpression(table, deleteExpr, query, _, isByName, _, _) =>
      if (!query.resolved) plan
      else graftTarget(table) match {
        case Some(g) =>
          // full-table overwrite only (INSERT OVERWRITE TABLE t …):
          // deleteExpr is the always-true literal. Partition-scoped
          // overwrites would need the CoW delete's per-file proofs fused
          // with the append — refused with direction instead of guessed.
          val src = aligned(g, query, isByName)
          deleteExpr match {
            case org.apache.spark.sql.catalyst.expressions.Literal(true, _) =>
              dml("INSERT OVERWRITE", g)((t, s) =>
                t.overwrite(GraftBridge.ofRows(s, src)))
            case pred =>
              // static-partition / predicate-scoped overwrite
              // (`INSERT OVERWRITE t PARTITION (p = …)`): atomic slice
              // replacement via overwriteWhere — whole-slice files drop
              // metadata-only, only boundary files rewrite
              val cond = byName(pred)
              dml("INSERT OVERWRITE where", g)((t, s) =>
                t.overwriteWhere(s, cond, GraftBridge.ofRows(s, src)))
          }
        case None => spliceSource(plan, query)(q => o.copy(query = q))
      }
    case ctas @ CreateTableAsSelect(
        name: org.apache.spark.sql.catalyst.analysis.ResolvedIdentifier,
        partitioning, query, tableSpec, _, ignoreIfExists, _)
        if query.resolved && name.catalog.isInstanceOf[GraftSparkCatalog] &&
          tableSpec.isInstanceOf[
            org.apache.spark.sql.catalyst.plans.logical.TableSpec] =>
      // Spark's own non-atomic CTAS would create the table and then die
      // on the write (the relation deliberately lacks BATCH_WRITE);
      // route create + first append through the library instead. The
      // guard requires the RESOLVED TableSpec — matching an
      // UnresolvedTableSpec would silently truncate TBLPROPERTIES to
      // empty; leaving the plan lets the fixed point resolve it first.
      val props = tableSpec
        .asInstanceOf[org.apache.spark.sql.catalyst.plans.logical.TableSpec]
        .properties
      GraftCtasCommand(name.catalog.asInstanceOf[GraftSparkCatalog],
        name.identifier, partitioning.toArray, props,
        substituteMorReads(query), ignoreIfExists)
    case rtas: ReplaceTableAsSelect
        if rtas.query.resolved && rtas.name.isInstanceOf[
            org.apache.spark.sql.catalyst.analysis.ResolvedIdentifier] &&
          rtas.name.asInstanceOf[
            org.apache.spark.sql.catalyst.analysis.ResolvedIdentifier]
            .catalog.isInstanceOf[GraftSparkCatalog] &&
          rtas.tableSpec.isInstanceOf[
            org.apache.spark.sql.catalyst.plans.logical.TableSpec] =>
      // Spark's non-atomic ReplaceTableAsSelectExec DROPS the existing
      // table first and only then discovers the relation cannot be
      // written — route to the library's atomic swap instead
      // (GraftTable.replaceAtomic: old table readable until the commit
      // point, crash-recoverable after it). Same RESOLVED-TableSpec
      // guard as CTAS.
      val rname = rtas.name
        .asInstanceOf[org.apache.spark.sql.catalyst.analysis.ResolvedIdentifier]
      GraftRtasCommand(rname.catalog.asInstanceOf[GraftSparkCatalog],
        rname.identifier, rtas.partitioning.toArray,
        rtas.tableSpec
          .asInstanceOf[org.apache.spark.sql.catalyst.plans.logical.TableSpec]
          .properties,
        substituteMorReads(rtas.query), rtas.orCreate)
    case _ => substituteMorReads(plan)
  }

  /** A statement routed to one table operation: `op` runs under
    * [[GraftTable.withDmlRetry]] (so `graft.dml.isolation=strict`
    * refuses instead of replanning), and EXPLAIN shows `what` and the
    * table name. */
  private def dml(what: String, g: GraftV2Table)(
      op: (GraftTable, SparkSession) => Any): LogicalPlan = {
    val t = g.underlying
    GraftDmlCommand(s"$what ${g.name()}", s => t.withDmlRetry()(op(t, s)): Unit)
  }

  /** The source of SQL `INSERT [OVERWRITE] cat.db.t …` aligned to the
    * table schema, for [[GraftTable.append]]'s manifest commit protocol
    * (a bare DSv2 write would bypass it — the relation deliberately
    * lacks BATCH_WRITE). Column-list inserts arrive by-name; bare
    * inserts by-position; both are cast to the table schema (ANSI
    * failures surface at execution, same as any insert). */
  private def aligned(
      g: GraftV2Table,
      sourceQuery: LogicalPlan,
      isByName: Boolean): LogicalPlan = {
    if (g.pinned.nonEmpty)
      fail(s"cannot INSERT INTO a time-travel read of ${g.name()}")
    // the INSERT's source may itself read MoR-pending / pre-rename graft
    // tables (CDC chains do) — splice those reads like any SELECT's; the
    // TARGET is not part of this subtree, so the never-splice-the-target
    // rule is not at risk
    val query = substituteMorReads(sourceQuery)
    val fields = g.underlying.schema.fields.toSeq
    val pairs: Seq[(org.apache.spark.sql.catalyst.expressions.Attribute,
        org.apache.spark.sql.types.StructField)] =
      if (isByName) {
        // by-name requires the exact column set: silently dropping an
        // extra source column would turn a typo into a partial ingest
        query.output.foreach(a =>
          if (!fields.exists(_.name.equalsIgnoreCase(a.name)))
            fail(s"INSERT column '${a.name}' does not exist in ${g.name()}"))
        fields.map { f =>
          query.output.find(_.name.equalsIgnoreCase(f.name)).getOrElse(
            fail(s"INSERT is missing column '${f.name}' of ${g.name()}")) -> f
        }
      }
      else {
        if (query.output.size != fields.size)
          fail(s"INSERT provides ${query.output.size} columns, " +
            s"${g.name()} has ${fields.size}")
        query.output.zip(fields)
      }
    Project(pairs.map { case (attr, f) =>
      val v =
        if (attr.dataType == f.dataType) attr
        else org.apache.spark.sql.catalyst.expressions.Cast(attr, f.dataType)
      Alias(v, f.name)()
    }, query)
  }

  /** A DSv2 graft relation whose snapshot has merge-on-read deletes
    * pending cannot be served by the raw parquet file-list scan (it would
    * resurrect deleted rows — [[GraftV2Table.newScanBuilder]] refuses).
    * With the extensions registered we can do better: splice in the
    * library's visible-rows plan ([[GraftTable.read]] → readVisible, the
    * single MoR read chokepoint), re-aliased to the relation's attribute
    * ids so the surrounding query is untouched. Catalyst then pushes
    * filters/pruning into the underlying parquet scans of that plan as
    * usual. Sessions WITHOUT the extensions keep the loud refusal —
    * silence would mean wrong rows. */
  private object NeedsSplice {
    def unapply(r: DataSourceV2Relation): Option[GraftV2Table] = morPending(r)
  }

  /** Splice MoR/rename graft reads inside a non-graft-target DML root's
    * SOURCE subtree only, leaving the root (and its target relation)
    * untouched when nothing changed — without this, a statement writing
    * to a non-graft sink while SELECTing from a MoR-pending graft table
    * failed with the raw-scan refusal even in an extensions session,
    * where the same SELECT alone would work.
    *
    * Deliberately NOT extended to non-graft-target `UpdateTable` /
    * `DeleteFromTable`: those statements carry graft reads only inside
    * PLAN-EXPRESSION subqueries (their condition/assignments), not a
    * source child — splicing would mean rewriting expression-embedded
    * plans under a row-level-operation root, exactly the
    * touch-the-DML-tree risk the case arms above exist to avoid. Such a
    * statement keeps the loud raw-scan refusal; materialize the MoR
    * state (compact()) or stage the subquery's result first. */
  private def spliceSource(root: LogicalPlan, source: LogicalPlan)(
      rebuild: LogicalPlan => LogicalPlan): LogicalPlan = {
    val spliced = substituteMorReads(source)
    if (spliced eq source) root else rebuild(spliced)
  }

  private def substituteMorReads(plan: LogicalPlan): LogicalPlan =
    plan.transformUp {
      case r @ NeedsSplice(g) =>
        val tb = g.underlying
        val df = tb.read(spark, g.pinned)
          .select(tb.schema.fieldNames.map(org.apache.spark.sql.functions.col)
            .toIndexedSeq: _*)
        val child = GraftBridge.analyzedPlan(df)
        val aliases = r.output.map { out =>
          val in = child.output.find(_.name.equalsIgnoreCase(out.name))
            .getOrElse(fail(s"visible-rows plan for ${g.name()} lacks " +
              s"column ${out.name}"))
          Alias(in, out.name)(exprId = out.exprId)
        }
        Project(aliases, child)
    }

  /** `(t.k1, …) IN (SELECT …)` as a whole DELETE condition → (target key
    * column names, subquery plan projected+cast to those key names).
    * Uncorrelated subqueries over bare target attributes only; None for
    * every other shape (the caller keeps its existing stance). */
  private def inSubqueryKeys(
      condition: Expression,
      targetOut: org.apache.spark.sql.catalyst.expressions.AttributeSet)
      : Option[(Seq[String], LogicalPlan)] = condition match {
    case org.apache.spark.sql.catalyst.expressions.InSubquery(values,
        lq: org.apache.spark.sql.catalyst.expressions.ListQuery)
        if lq.outerAttrs.isEmpty &&
          values.forall(v => v.isInstanceOf[AttributeReference] &&
            targetOut.contains(v.asInstanceOf[AttributeReference])) &&
          lq.plan.output.size == values.size =>
      val names = values.map(_.asInstanceOf[AttributeReference].name)
      // the subquery may read MoR-pending graft tables (incl. the target
      // itself) — splice those reads; only the DML root's own target
      // relation must stay untouched, and it is not in this subtree
      val project = Project(
        names.zip(lq.plan.output).map { case (n, out) => Alias(out, n)() },
        substituteMorReads(lq.plan))
      Some((names, project))
    case _ => None
  }

  private def morPending(r: DataSourceV2Relation): Option[GraftV2Table] =
    r.table match {
      case g: GraftV2Table =>
        val tb = g.underlying
        // memoized per (dir, log mtime, pin): this runs for every graft
        // relation on every fixed-point iteration of every query — the
        // uncached form re-read snapshots.json (and, on evolved tables,
        // a manifest) each time
        def mt(f: String): Long = {
          val p = java.nio.file.Paths.get(s"${tb.dir}/$f")
          // size folded in alongside mtime (the Manifest cache's
          // (path, size, mtime) discipline): two commits inside the
          // same millisecond still change the key
          try java.nio.file.Files.getLastModifiedTime(p).toMillis ^
            (java.nio.file.Files.size(p) * 1000003L)
          catch { case _: Exception => -1L }
        }
        // snapshots.json covers every commit; metadata.json covers the
        // metadata-only schema evolutions that never touch the log
        val mtime = mt("snapshots.json") ^ (mt("metadata.json") * 31L)
        val needs = ResolveGraftDml.spliceMemo(
          (tb.dir, mtime, g.pinned)) {
          val snap = g.pinned match {
            case Some(id) => tb.log.byId(id)
            case None => tb.log.current
          }
          val pending = snap.exists(s => !DeleteState.of(s).isEmpty)
          // pre-rename/pre-widening/pre-default files also need the
          // library's per-era aliasing/casting/filling — the raw
          // file-list scan would read renamed columns as NULL, widened
          // columns with the wrong parquet type, and defaulted columns
          // as NULL instead of the default
          val renamed = (tb.renames.nonEmpty || tb.widenings.nonEmpty ||
              tb.defaults.nonEmpty) &&
            snap.exists(s =>
              Manifest.read(s"${tb.dir}/${s.manifestList}").files
                .exists(tb.renameAffects))
          // mixed partition-spec ERAS break the raw scan's uniform-layout
          // assumptions exactly like renames (identity keys live in
          // directories, and only in the era that declared them); the
          // updatePartitionSpec marker keeps never-evolved tables at
          // zero extra planning I/O
          val specMixed =
            tb.properties.contains(GraftTable.PropSpecEvolved) &&
              snap.exists { s =>
                val files =
                  Manifest.read(s"${tb.dir}/${s.manifestList}").files
                val pf = tb.partitionFields
                if (pf.exists(_.isIdentity)) {
                  val expected = pf.map(_.fieldName).toSet
                  files.exists(_.partition.keySet != expected)
                } else files.exists(_.partition.keySet
                  .exists(k => tb.schema.fieldNames.contains(k)))
              }
          pending || renamed || specMixed
        }
        if (needs) Some(g) else None
      case _ => None
    }

  /** The GraftV2Table beneath the target's alias chain, if this statement
    * addresses a graft catalog table. */
  private def graftTarget(plan: LogicalPlan): Option[GraftV2Table] = plan match {
    case SubqueryAlias(_, child) => graftTarget(child)
    case r: DataSourceV2Relation =>
      r.table match {
        case g: GraftV2Table => Some(g)
        case _ => None
      }
    case _ => None
  }

  private def fail(msg: String): Nothing =
    throw new org.apache.spark.sql.AnalysisException(
      errorClass = "_LEGACY_ERROR_TEMP_0035",
      messageParameters = Map("message" -> msg))

  /** Re-target a resolved expression at the table's own read frame: every
    * attribute becomes an unresolved by-name reference, so the Column can
    * be resolved again inside [[GraftTable.update]]'s single projection. */
  private def byName(e: Expression): Column =
    GraftBridge.column(e.transform {
      case a: AttributeReference =>
        org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute.quoted(a.name)
    })

  private def rewriteUpdate(
      g: GraftV2Table,
      targetOut: org.apache.spark.sql.catalyst.expressions.AttributeSet,
      assignments: Seq[Assignment],
      condition: Option[Expression]): LogicalPlan = {
    if (g.pinned.nonEmpty)
      fail(s"cannot UPDATE a time-travel read of ${g.name()}")
    val assigns = assignments.flatMap { a =>
      val name = a.key match {
        case ar: AttributeReference => ar.name
        case other => fail(
          s"UPDATE of nested field ${other.sql} is not supported on graft tables")
      }
      // drop aligned identity assignments (c := c) defensively
      if (a.value.semanticEquals(a.key)) None
      else Some(name -> byName(a.value))
    }.toMap
    if (assigns.isEmpty)
      GraftDmlCommand(s"UPDATE ${g.name()} (identity assignments only)", _ => ())
    else condition.flatMap(inSubqueryKeys(_, targetOut)) match {
      case Some((cols, src)) =>
        // UPDATE … WHERE k IN (SELECT …) ≡ a matched-only MERGE keyed on
        // the (deduplicated) subquery tuples — routed to the CoW action
        // rewrite. The write.update.mode property governs only the
        // predicate form (a positional update needs a row predicate).
        val keys = Distinct(src)
        dml("UPDATE copy-on-write by keys", g)((t, s) =>
          t.mergeActions(s, GraftBridge.ofRows(s, keys), cols.map(c => (c, c)),
            Seq(MergeUpdate(None, assigns)), Nil))
      case None =>
        val cond = condition.map(byName).getOrElse(lit(true))
        // write.update.mode=merge-on-read routes to the positional-delta
        // form (old copies tombstoned as positions + new rows appended —
        // O(matching rows) written, no candidate file rewritten); default
        // stays the copy-on-write rewrite
        if (g.underlying.properties.get("write.update.mode")
            .contains("merge-on-read"))
          dml("UPDATE positional", g)((t, s) =>
            t.updatePositional(s, cond, assigns))
        else dml("UPDATE copy-on-write", g)((t, s) => t.update(s, cond, assigns))
    }
  }

  /** MERGE routing, three tiers:
    *  1. the canonical whole-row upsert (one unconditional UPDATE + one
    *     unconditional INSERT assigning every column the same source
    *     expression — the SET * / INSERT * expansion) keeps its proven
    *     fast paths: [[GraftTable.merge]] (copy-on-write, single key) or
    *     [[GraftTable.mergeEquality]] (`write.merge.mode=merge-on-read`);
    *  2. any other shape — conditional actions, DELETE actions, partial
    *     SET, target-referencing values, composite keys, NOT MATCHED BY
    *     SOURCE — goes to the general copy-on-write
    *     [[GraftTable.mergeActions]];
    *  3. under `write.merge.mode=merge-on-read`, general shapes whose
    *     conditions/values are source-only and whose updates assign
    *     whole rows (the CDC-apply idiom: `WHEN MATCHED AND s.op = 'D'
    *     THEN DELETE …`) go to [[GraftTable.mergeEqualityConditional]] —
    *     one tombstone + upsert-files commit, no data file rewritten. */
  private def rewriteMerge(g: GraftV2Table, m: MergeIntoTable): LogicalPlan = {
    if (g.pinned.nonEmpty)
      fail(s"cannot MERGE INTO a time-travel read of ${g.name()}")
    val tbl = g.underlying
    val targetOut = m.targetTable.outputSet
    val sourceOut = m.sourceTable.outputSet
    // the merge SOURCE may read MoR-pending / pre-rename graft tables
    // (a CDC chain's upstream) — splice those reads; output attribute
    // ids are preserved, so expressions resolved against m.sourceTable
    // stay valid over the spliced plan
    val sourcePlan = substituteMorReads(m.sourceTable)

    // ON condition: conjunction of target.k = source.k equalities
    def conjuncts(e: Expression): Seq[Expression] = e match {
      case org.apache.spark.sql.catalyst.expressions.And(l, r) =>
        conjuncts(l) ++ conjuncts(r)
      case other => Seq(other)
    }
    val keyPairs: Seq[(String, String)] = conjuncts(m.mergeCondition).map {
      case EqualTo(l: AttributeReference, r: AttributeReference)
          if targetOut.contains(l) && sourceOut.contains(r) => (l.name, r.name)
      case EqualTo(l: AttributeReference, r: AttributeReference)
          if sourceOut.contains(l) && targetOut.contains(r) => (r.name, l.name)
      case other => fail(
        s"MERGE condition ${other.sql} is not a target-key = source-key " +
          "equality — graft merges are keyed upserts")
    }

    def parseAssign(a: Assignment): (String, Expression) = a.key match {
      case ar: AttributeReference => ar.name -> a.value
      case other => fail(s"MERGE assignment to nested field ${other.sql} " +
        "is not supported on graft tables")
    }
    // action-shape validation up front (loud errors before any routing)
    m.matchedActions.foreach {
      case _: UpdateAction | _: DeleteAction => ()
      case other => fail("unsupported WHEN MATCHED action: " +
        other.getClass.getSimpleName)
    }
    m.notMatchedActions.foreach {
      case InsertAction(cond, as) =>
        (cond.toSeq ++ as.map(_.value)).foreach(e =>
          if (e.references.exists(targetOut.contains)) fail(
            "WHEN NOT MATCHED conditions/values cannot reference the " +
              "target table (no target row exists for an insert)"))
      case other => fail("unsupported WHEN NOT MATCHED action: " +
        other.getClass.getSimpleName)
    }
    m.notMatchedBySourceActions.foreach {
      case UpdateAction(cond, as, _) =>
        (cond.toSeq ++ as.map(_.value)).foreach(e =>
          if (e.references.exists(sourceOut.contains)) fail(
            "WHEN NOT MATCHED BY SOURCE conditions/values cannot " +
              "reference the source (no source row exists)"))
      case DeleteAction(cond) =>
        cond.foreach(e => if (e.references.exists(sourceOut.contains)) fail(
          "WHEN NOT MATCHED BY SOURCE conditions/values cannot " +
            "reference the source (no source row exists)"))
      case other => fail("unsupported WHEN NOT MATCHED BY SOURCE action: " +
        other.getClass.getSimpleName)
    }

    // canonical whole-row upsert? (returns the source projected to the
    // table schema; None on any deviation — the general path takes over)
    val canonical: Option[LogicalPlan] =
      (m.matchedActions, m.notMatchedActions, m.notMatchedBySourceActions) match {
        case (Seq(UpdateAction(None, ua, _)), Seq(InsertAction(None, ia)), Seq()) =>
          val upd = ua.map(parseAssign).toMap
          val ins = ia.map(parseAssign).toMap
          val per = tbl.schema.fieldNames.toSeq.map { c =>
            (upd.get(c), ins.get(c)) match {
              case (Some(u), Some(i)) if u.semanticEquals(i) &&
                  !u.references.exists(targetOut.contains) => Some(c -> u)
              case _ => None
            }
          }
          if (per.exists(_.isEmpty)) None
          else Some(Project(
            per.flatten.map { case (c, e) => Alias(e, c)() }, sourcePlan))
        case _ => None
      }

    val mode = tbl.properties.getOrElse("write.merge.mode", "copy-on-write")
    canonical match {
      case Some(project) if mode == "merge-on-read" =>
        dml("MERGE equality upsert", g)((t, s) =>
          t.mergeEquality(s, GraftBridge.ofRows(s, project), keyPairs.map(_._1)))
      case Some(project) if keyPairs.size == 1 =>
        dml("MERGE copy-on-write upsert", g)((t, s) =>
          t.merge(s, GraftBridge.ofRows(s, project), keyPairs.head._1))
      case _ if mode == "merge-on-read" =>
        // general shape under merge-on-read: expressible as ONE
        // tombstone+upsert commit only when every outcome is a function
        // of the source row alone (whole-row updates, source-only
        // conditions); anything touching target VALUES needs the
        // copy-on-write rewrite
        if (m.notMatchedBySourceActions.nonEmpty) fail(
          "WHEN NOT MATCHED BY SOURCE rewrites the whole table — not " +
            "supported under write.merge.mode=merge-on-read (unset the " +
            "property for this statement's copy-on-write path)")
        def srcOnly(e: Expression, what: String): Unit =
          if (e.references.exists(targetOut.contains)) fail(
            s"$what references the target table — under " +
              "write.merge.mode=merge-on-read outcomes must be functions " +
              "of the source row alone (unset the property to use the " +
              "copy-on-write path)")
        val matched = m.matchedActions.map {
          case UpdateAction(cond, as, _) =>
            cond.foreach(srcOnly(_, "a WHEN MATCHED condition"))
            val assigns = as.map(parseAssign).toMap
            tbl.schema.fieldNames.foreach { c =>
              val v = assigns.getOrElse(c, fail(
                s"MERGE UPDATE under merge-on-read must assign every " +
                  s"table column ('$c' missing) — rows are replaced whole"))
              srcOnly(v, s"the UPDATE value for '$c'")
            }
            MergeUpdate(cond.map(overSource(_, sourceOut)),
              assigns.map { case (c, v) => c -> overSource(v, sourceOut) })
          case DeleteAction(cond) =>
            cond.foreach(srcOnly(_, "a WHEN MATCHED DELETE condition"))
            MergeDelete(cond.map(overSource(_, sourceOut)))
        }
        val notMatched = m.notMatchedActions.map {
          case InsertAction(cond, as) =>
            MergeInsert(cond.map(overSource(_, sourceOut)),
              as.map(parseAssign).toMap
                .map { case (c, v) => c -> overSource(v, sourceOut) })
        }
        dml("MERGE equality actions", g)((t, s) =>
          t.mergeEqualityConditional(s, GraftBridge.ofRows(s, sourcePlan),
            keyPairs, matched, notMatched))
      case _ =>
        // general copy-on-write: conditions/values see the joined row
        // (target bare, source under the reserved prefix)
        def oj(e: Expression): Column = overJoin(e, targetOut, sourceOut)
        val matched = m.matchedActions.map {
          case UpdateAction(cond, as, _) =>
            MergeUpdate(cond.map(oj),
              as.map(parseAssign).toMap.map { case (c, v) => c -> oj(v) })
          case DeleteAction(cond) => MergeDelete(cond.map(oj))
        }
        val notMatched = m.notMatchedActions.map {
          case InsertAction(cond, as) =>
            MergeInsert(cond.map(oj),
              as.map(parseAssign).toMap.map { case (c, v) => c -> oj(v) })
        }
        val bySource = m.notMatchedBySourceActions.map {
          case UpdateAction(cond, as, _) =>
            MergeUpdate(cond.map(oj),
              as.map(parseAssign).toMap.map { case (c, v) => c -> oj(v) })
          case DeleteAction(cond) => MergeDelete(cond.map(oj))
        }
        dml("MERGE copy-on-write actions", g)((t, s) =>
          t.mergeActions(s, GraftBridge.ofRows(s, sourcePlan), keyPairs,
            matched, notMatched, bySource))
    }
  }

  /** Re-target a resolved expression at [[GraftTable.mergeActions]]'s
    * joined frame: target attributes become bare by-name references,
    * source attributes go under the reserved source prefix. */
  private def overJoin(
      e: Expression,
      targetOut: org.apache.spark.sql.catalyst.expressions.AttributeSet,
      sourceOut: org.apache.spark.sql.catalyst.expressions.AttributeSet): Column =
    GraftBridge.column(e.transform {
      case a: AttributeReference if sourceOut.contains(a) =>
        org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
          .quoted(GraftTable.MergeSrcPrefix + a.name)
      case a: AttributeReference if targetOut.contains(a) =>
        org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute.quoted(a.name)
    })

  /** Re-target a source-only expression at the bare SOURCE frame (the
    * merge-on-read conditional path evaluates everything on the source). */
  private def overSource(
      e: Expression,
      sourceOut: org.apache.spark.sql.catalyst.expressions.AttributeSet): Column =
    GraftBridge.column(e.transform {
      case a: AttributeReference if sourceOut.contains(a) =>
        org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute.quoted(a.name)
    })
}

object ResolveGraftDml {
  /** (table dir, combined snapshots+metadata mtime⊕size, pinned
    * snapshot) → whether the relation needs the visible-rows splice.
    * Any commit rewrites snapshots.json and any schema evolution
    * rewrites metadata.json, so the combined key invalidates on both
    * (size disambiguates same-millisecond double commits); a stale hit
    * can therefore only serve the state the files still describe.
    * Bounded defensively. */
  private val spliceMemoMap =
    new java.util.LinkedHashMap[(String, Long, Option[Long]), java.lang.Boolean](
      16, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[(String, Long, Option[Long]), java.lang.Boolean])
          : Boolean = size() > 1024
    }

  private[table] def spliceMemo(key: (String, Long, Option[Long]))(
      f: => Boolean): Boolean = {
    spliceMemoMap.synchronized(Option(spliceMemoMap.get(key))) match {
      case Some(v) => v.booleanValue()
      case None =>
        val v = f // outside the lock: computes I/O (snapshot/manifest reads)
        spliceMemoMap.synchronized(spliceMemoMap.put(key, v))
        v
    }
  }
}

/** A SQL DML statement routed to one [[GraftTable]] operation by
  * [[ResolveGraftDml]]: `op` performs it, retry policy included, and
  * EXPLAIN shows `description`. */
case class GraftDmlCommand(description: String, op: SparkSession => Unit)
    extends LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] = { op(spark); Nil }
  override def simpleString(maxFields: Int): String = s"GraftDml $description"
}

/** CREATE TABLE … AS SELECT: create through the catalog (schema from the
  * query, PARTITIONED BY transforms honored), then the first append. Not
  * atomic across the two steps — on a failed append the empty table is
  * dropped again, matching Spark's own non-atomic CTAS contract. */
case class GraftCtasCommand(
    catalog: GraftSparkCatalog,
    ident: org.apache.spark.sql.connector.catalog.Identifier,
    partitioning: Array[org.apache.spark.sql.connector.expressions.Transform],
    properties: Map[String, String],
    query: LogicalPlan,
    ignoreIfExists: Boolean) extends LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    if (catalog.tableExists(ident)) {
      if (ignoreIfExists) return Nil
      throw new org.apache.spark.sql.AnalysisException(
        errorClass = "_LEGACY_ERROR_TEMP_0035",
        messageParameters = Map("message" ->
          s"table $ident already exists (CTAS)"))
    }
    val src = GraftBridge.ofRows(spark, query)
    val schema = org.apache.spark.sql.types.StructType(
      src.schema.fields.map(_.copy(metadata =
        org.apache.spark.sql.types.Metadata.empty)))
    import scala.jdk.CollectionConverters._
    val v2 = catalog.createTable(ident, schema, partitioning,
      properties.asJava).asInstanceOf[GraftV2Table]
    try v2.underlying.appendWithRetry(src)
    catch { case e: Throwable =>
      try catalog.dropTable(ident) catch { case _: Throwable => () }
      throw e
    }
    Nil
  }
}

/** `[CREATE OR] REPLACE TABLE … AS SELECT` routed to the atomic swap
  * ([[GraftTable.replaceAtomic]]): the old table serves until the commit
  * point; a crash at any step leaves either the complete old table or
  * (after reader-side heal) the complete new one. `CREATE OR REPLACE` on
  * a missing table degrades to plain CTAS; bare `REPLACE` on a missing
  * table refuses (SQL semantics). */
case class GraftRtasCommand(
    catalog: GraftSparkCatalog,
    ident: org.apache.spark.sql.connector.catalog.Identifier,
    partitioning: Array[org.apache.spark.sql.connector.expressions.Transform],
    properties: Map[String, String],
    query: LogicalPlan,
    orCreate: Boolean) extends LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    if (!catalog.tableExists(ident)) {
      if (!orCreate)
        throw new org.apache.spark.sql.AnalysisException(
          errorClass = "_LEGACY_ERROR_TEMP_0035",
          messageParameters = Map("message" ->
            s"table $ident does not exist (REPLACE); use CREATE OR REPLACE"))
      return GraftCtasCommand(catalog, ident, partitioning, properties,
        query, ignoreIfExists = false).run(spark)
    }
    val src = GraftBridge.ofRows(spark, query)
    val props = properties -
      org.apache.spark.sql.connector.catalog.TableCatalog.PROP_LOCATION -
      org.apache.spark.sql.connector.catalog.TableCatalog.PROP_PROVIDER -
      org.apache.spark.sql.connector.catalog.TableCatalog.PROP_OWNER -
      org.apache.spark.sql.connector.catalog.TableCatalog.PROP_EXTERNAL
    GraftTable.replaceAtomic(catalog.dirFor(ident), src, props,
      GraftSparkCatalog.partitionSpecOf(partitioning))
    catalog.invalidateTable(ident)
    Nil
  }
}
