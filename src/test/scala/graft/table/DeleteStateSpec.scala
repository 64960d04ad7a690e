package graft.table

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkSpecBase

/** [[DeleteState]]: the summary format it owns, the copy-on-write rule
  * it applies, and the rewrite/staging behavior of the paths built on
  * it. */
class DeleteStateSpec extends SparkSpecBase {

  private val schema = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("v", StringType, nullable = true)))

  private def df(ids: Seq[Long]) = spark.createDataFrame(
    spark.sparkContext.parallelize(ids.map(i => Row(i, s"v$i")), 2), schema)

  private def file(path: String) = DataFileEntry(path, 10L, 100L, Map.empty)

  private val state = DeleteState(
    Seq(PredicateDelete(3L, "(id > 1)", Some(5L)),
      PredicateDelete(7L, "(v = 'x')", None)),
    Seq(GraftTable.PositionalDeletes(
      Map("data/part-00002-aa-0.parquet" -> 2L,
        "data/part-00008-bb-0.parquet" -> 1L),
      Map("data/part-00002-aa-0.parquet" -> "deletes/dv-00004-cc-00000.bin",
        "data/part-00008-bb-0.parquet" -> "deletes/dv-00009-dd-00000.bin"))),
    Seq(GraftTable.EqualityDeletes(Seq("deletes/eq-00005-ee-00000.parquet"),
      Seq("id"), 4L, Some(6L), Seq(2L, 4L))))

  test("summary writes the three entries in the table format and parses back") {
    val sm = state.summary
    assert(sm(GraftTable.SummaryPendingDeletes) ==
      """[{"snap":3,"pred":"(id > 1)","dead":5},{"snap":7,"pred":"(v = 'x')"}]""")
    assert(sm(GraftTable.SummaryPositionalDeletes) ==
      """[{"files":["deletes/dv-00004-cc-00000.bin","deletes/dv-00009-dd-00000.bin"],""" +
        """"targets":{"data/part-00002-aa-0.parquet":2,"data/part-00008-bb-0.parquet":1},""" +
        """"dvs":{"data/part-00002-aa-0.parquet":"deletes/dv-00004-cc-00000.bin",""" +
        """"data/part-00008-bb-0.parquet":"deletes/dv-00009-dd-00000.bin"}}]""")
    assert(DeleteState.of(sm) == state)
    assert(DeleteState.of(sm).summary == sm)
    assert(DeleteState.empty.summary.values.toSet == Set("[]"))
    assert(DeleteState.of(Map.empty[String, String]).isEmpty)
  }

  test("summary bytes do not depend on the order positional entries were added") {
    for (n <- Seq(3, 6, 9)) {
      val targets = (1 to n).map(i =>
        f"data/part-$i%05d-${i * 7919 % 4096}%03x-0.parquet")
      def stateOf(order: Seq[String]) = DeleteState(Nil,
        Seq(GraftTable.PositionalDeletes(
          order.map(t => t -> t.length.toLong).toMap,
          order.map(t => t -> t.replace("data/part", "deletes/dv")).toMap)),
        Nil)
      val (a, b) = (stateOf(targets), stateOf(targets.reverse))
      assert(a == b)
      assert(a.summary == b.summary, s"$n targets")
      assert(DeleteState.of(a.summary).summary == a.summary)
      // targets come first and sorted by key
      val json = a.summary(GraftTable.SummaryPositionalDeletes)
      val at = targets.sorted.map(t => json.indexOf("\"" + t + "\":"))
      assert(at.forall(_ >= 0) && at == at.sorted, s"$n targets: $json")
    }
  }

  test("demote turns covered whole-file drops into rewrites") {
    val old = file("data/part-00003-aa-0.parquet") // ≤ snap 3: covered
    val young = file("data/part-00009-bb-0.parquet") // after every entry
    val foreign = file("../../data/part-00001-cc-0.parquet") // unattributable
    val partial = file("data/part-00002-dd-0.parquet")
    assert(state.demote(Seq(old, young, foreign), Seq(partial)) ==
      (Seq(young), Seq(old, foreign, partial)))
    assert(DeleteState(Nil, state.positional, Nil)
      .demote(Seq(old, young), Seq(partial)) ==
      (Seq(old, young), Seq(partial)))
  }

  test("afterRewrite strips rewritten targets and degrades covering entries only") {
    val after = state.afterRewrite(Seq(file("data/part-00002-aa-0.parquet")))
    // snap 2 ≤ 3, 7 and 4: every predicate/equality entry covers it
    assert(after.predicates.map(_.dead) == Seq(None, None))
    assert(after.equality.map(_.dead) == Seq(None))
    assert(after.positional.flatMap(_.targets.keys) ==
      Seq("data/part-00008-bb-0.parquet"))
    assert(after.positional.flatMap(_.dvs.keys) ==
      Seq("data/part-00008-bb-0.parquet"))
    // snap 5: beyond the snap-3 predicate and the snap-4 equality entry
    val later = state.afterRewrite(Seq(file("data/part-00005-ff-0.parquet")))
    assert(later.predicates.map(_.dead) == Seq(Some(5L), None))
    assert(later.equality.map(_.dead) == Seq(Some(6L)))
    assert(later.positional == state.positional)
    // an entry left with no target disappears
    assert(state.afterRewrite(Seq(file("data/part-00002-aa-0.parquet"),
      file("data/part-00008-bb-0.parquet"))).positional.isEmpty)
  }

  /** WARN+ messages Spark's loggers emit while `body` runs. */
  private def warnings(body: => Unit): Seq[String] = {
    import org.apache.logging.log4j.LogManager
    import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import org.apache.logging.log4j.core.config.Property
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val appender = new AbstractAppender("delete-state-capture", null, null,
        true, Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        seen.add(s"${e.getLevel} ${e.getLoggerName}: " +
          e.getMessage.getFormattedMessage)
    }
    appender.start()
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    val root = ctx.getConfiguration.getRootLogger
    root.addAppender(appender, null, null)
    ctx.updateLoggers()
    try body
    finally {
      root.removeAppender(appender.getName)
      ctx.updateLoggers()
      appender.stop()
    }
    seen.asScala.toSeq
  }

  test("equality commits read their staged keys without a hidden-path warning") {
    val dir = tmpDir("eq-staging")
    val t = GraftTable.create(s"$dir/t", schema)
    t.append(df(1L to 20L))
    val logged = warnings {
      assert(t.deleteEquality(spark, df(Seq(3L, 4L)).select("id"), Seq("id"))
        .isDefined)
      assert(t.mergeEquality(spark, df(Seq(5L, 30L)), Seq("id")).isDefined)
    }
    assert(!logged.exists(_.contains("All paths were ignored")),
      logged.mkString("\n"))
    assert(t.read(spark).count() == 19L)
    // the staging dirs are gone after a clean commit
    assert(!Files.list(Paths.get(s"$dir/t")).iterator().asScala
      .exists(_.getFileName.toString.startsWith(".staging")))
  }

  private def noEmptyFiles(t: GraftTable): Unit = {
    val entries = t.log.snapshots.flatMap(s =>
      Manifest.read(s"${t.dir}/${s.manifestList}").files)
    assert(!entries.exists(_.recordCount == 0L),
      s"zero-record manifest entries: ${entries.filter(_.recordCount == 0L)}")
    val named = entries.map(_.path).toSet
    val onDisk = scala.util.Using.resource(Files.walk(Paths.get(t.dir, "data"))) {
      _.iterator().asScala.filter(Files.isRegularFile(_))
        .map(p => Paths.get(t.dir).relativize(p).toString)
        .filter(_.endsWith(".parquet")).toSeq
    }
    assert(onDisk.forall(named), s"unreferenced data files: ${onDisk.filterNot(named)}")
  }

  test("compact of a fully deleted table commits no zero-record file") {
    val t = GraftTable.create(s"${tmpDir("all-dead")}/t", schema)
    t.append(df(1L to 10L))
    t.append(df(11L to 20L))
    // every row dies by position (stats cannot prove a modulus, so no
    // file drops whole)
    assert(t.deletePositional(spark, col("id") % 2L < 2L).isDefined)
    assert(t.positionalDeletedCount == 20L && t.read(spark).count() == 0L)
    assert(t.compact(spark, smallerThanBytes = Long.MaxValue).isDefined)
    assert(t.positionalDeletes.isEmpty && t.read(spark).count() == 0L)
    noEmptyFiles(t)
  }

  test("update over fully deleted files commits no zero-record file") {
    val t = GraftTable.create(s"${tmpDir("upd-dead")}/t", schema)
    t.append(df(1L to 10L))
    assert(t.deletePositional(spark, col("id") % 2L < 2L).isDefined)
    assert(t.update(spark, col("id") > 0L, Map("v" -> lit("u"))).isDefined)
    assert(t.positionalDeletes.isEmpty && t.read(spark).count() == 0L)
    noEmptyFiles(t)
  }
}
