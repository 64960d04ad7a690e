package graft.table

import scala.collection.immutable.TreeMap

import GraftTable.{EqualityDeletes, PositionalDeletes, SummaryEqualityDeletes, SummaryPendingDeletes, SummaryPositionalDeletes}

/** One PREDICATE-deferred delete entry: `sql` hides rows of data files
  * written at snapshot ≤ `covered` (rows appended after the delete are
  * never affected — the sequence-number scoping Iceberg's equality
  * deletes use). `dead` is the commit-time exact dead-row count — fixed,
  * since covered files never change — or `None` for entries committed
  * with `exactCount = false` or degraded since. */
final case class PredicateDelete(covered: Long, sql: String, dead: Option[Long])

/** The merge-on-read delete state of one snapshot: the three deferred
  * forms (predicate, positional, equality) that every read applies and
  * every rewrite settles. The only reader and writer of their summary
  * entries — [[DeleteState.of]] parses them, [[summary]] writes them.
  *
  * The copy-on-write rule, in one place: a rewrite reads its survivors
  * visible under the whole state; a whole-file drop of a file a
  * predicate/equality entry covers [[demote]]s to a rewrite (dropping it
  * would leave the entries' dead counts describing vanished rows); and
  * [[afterRewrite]] strips the rewritten files from the positional
  * entries and degrades the dead counts of touched predicate/equality
  * entries to None — part of their victims just materialized, so the
  * counts no longer describe the remaining debt (degrade, never lie).
  * Entries themselves are kept even when their remaining coverage may be
  * empty: checking would parse the manifest segments the rewrite
  * skipped, and an entry covering nothing attaches to no read group
  * (compaction clears it). */
final case class DeleteState(
    predicates: Seq[PredicateDelete],
    positional: Seq[PositionalDeletes],
    equality: Seq[EqualityDeletes]) {

  def isEmpty: Boolean =
    predicates.isEmpty && positional.isEmpty && equality.isEmpty

  /** Whether a predicate or equality entry may hide rows of `f` (an
    * unattributable file counts as covered — it predates every entry). */
  def covers(f: DataFileEntry): Boolean = {
    val fsn = GraftTable.fileSnapId(f.path).getOrElse(Long.MinValue)
    predicates.exists(fsn <= _.covered) || equality.exists(fsn <= _.covered)
  }

  /** Split a rewrite plan's whole-file `drops`: covered ones join the
    * `rewrites`. Returns (drops, rewrites). */
  def demote(
      drops: Seq[DataFileEntry],
      rewrites: Seq[DataFileEntry]): (Seq[DataFileEntry], Seq[DataFileEntry]) = {
    val (covered, free) = drops.partition(covers)
    (free, covered ++ rewrites)
  }

  /** The state after a copy-on-write commit rewrote or dropped `touched`:
    * their positional targets leave with their vectors (unreferenced,
    * so expiry reclaims the files) — entries left with no target
    * disappear — and predicate/equality entries covering any of them
    * lose their dead counts. A surviving predicate re-applied to the
    * rewritten survivors is harmless: `NOT p OR p IS NULL` keeps every
    * kept row. */
  def afterRewrite(touched: Seq[DataFileEntry]): DeleteState = {
    val gone = touched.map(_.path).toSet
    val snaps = touched.map(f =>
      GraftTable.fileSnapId(f.path).getOrElse(Long.MinValue))
    def hit(covered: Long) = snaps.exists(_ <= covered)
    DeleteState(
      predicates.map(p => if (hit(p.covered)) p.copy(dead = None) else p),
      positional
        .map(e => e.copy(
          targets = e.targets.filterNot { case (p, _) => gone(p) },
          dvs = e.dvs.filterNot { case (p, _) => gone(p) }))
        .filter(_.targets.nonEmpty),
      equality.map(e => if (hit(e.covered)) e.copy(dead = None) else e))
  }

  /** Compaction's rule: the rewritten files' positional targets leave,
    * and a predicate/equality entry survives only while a `kept` file
    * may still hold its victims — with its dead count dropped, since
    * part of its victims may just have materialized. */
  def afterCompaction(
      rewritten: Seq[DataFileEntry],
      kept: Seq[DataFileEntry]): DeleteState = {
    val keptSnaps = kept.map(f =>
      GraftTable.fileSnapId(f.path).getOrElse(Long.MinValue))
    def live(covered: Long) = keptSnaps.exists(_ <= covered)
    DeleteState(
      predicates.filter(p => live(p.covered)).map(_.copy(dead = None)),
      afterRewrite(rewritten).positional,
      equality.filter(e => live(e.covered)).map(_.copy(dead = None)))
  }

  /** Positionally deleted rows per target data file. */
  def positionalDead: Map[String, Long] =
    positional.flatMap(_.targets).groupMapReduce(_._1)(_._2)(_ + _)

  /** Every delete file the state names (deletion vectors, equality key
    * files), table-root-relative. */
  def files: Seq[String] =
    positional.flatMap(_.files) ++ equality.flatMap(_.files)

  /** The three summary entries, for a commit's extra summary (an empty
    * kind writes `[]`, which the commit normalizes to key-absent). */
  def summary: Map[String, String] = {
    import graft.util.Json.write
    Map(
      SummaryPendingDeletes -> write(predicates.map { p =>
        val base = Map[String, Any]("snap" -> p.covered, "pred" -> p.sql)
        p.dead.fold(base)(d => base + ("dead" -> d))
      }),
      SummaryPositionalDeletes -> write(positional.map { e =>
        // maps written sorted by key: the same state is the same bytes
        Map[String, Any]("files" -> e.files,
          "targets" -> TreeMap.from(e.targets),
          "dvs" -> TreeMap.from(e.dvs))
      }),
      SummaryEqualityDeletes -> write(equality.map { e =>
        val base = Map[String, Any]("files" -> e.files, "cols" -> e.cols,
          "snap" -> e.covered, "covs" -> e.covs)
        e.dead.fold(base)(d => base + ("dead" -> d))
      }))
  }
}

object DeleteState {

  val empty: DeleteState = DeleteState(Nil, Nil, Nil)

  def of(s: Snapshot): DeleteState = of(s.summary)

  def of(s: Option[Snapshot]): DeleteState = s.fold(empty)(of)

  /** Parse the three entries of a snapshot summary. */
  def of(summary: Map[String, String]): DeleteState = {
    def entries(key: String): Seq[Map[String, Any]] =
      summary.get(key) match {
        case None | Some("") | Some("[]") => Nil
        case Some(json) => graft.util.Json.parse(json).asInstanceOf[Seq[Any]]
          .map(_.asInstanceOf[Map[String, Any]])
      }
    def dead(m: Map[String, Any]): Option[Long] =
      m.get("dead").collect { case d: Long => d }
    DeleteState(
      entries(SummaryPendingDeletes).map(m => PredicateDelete(
        m("snap").asInstanceOf[Long], m("pred").asInstanceOf[String], dead(m))),
      entries(SummaryPositionalDeletes).map(m => PositionalDeletes(
        m("targets").asInstanceOf[Map[String, Any]]
          .map { case (k, v) => k -> v.asInstanceOf[Long] },
        m("dvs").asInstanceOf[Map[String, Any]]
          .map { case (k, v) => k -> v.toString })),
      entries(SummaryEqualityDeletes).map(m => EqualityDeletes(
        m("files").asInstanceOf[Seq[Any]].map(_.toString),
        m("cols").asInstanceOf[Seq[Any]].map(_.toString),
        m("snap").asInstanceOf[Long],
        dead(m),
        m("covs").asInstanceOf[Seq[Any]].map(_.asInstanceOf[Long]))))
  }
}
