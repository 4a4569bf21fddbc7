package graft

import java.sql.Timestamp
import org.apache.spark.sql.functions._
import graft.mat.{Materializer, PartitionScoped}
import graft.mat.PartitionScoped.Tag
import graft.model.Relation
import graft.streaming.Events

/** The crash-window matrix of [[PartitionScoped]]'s swap: every caller
  * that heals (incremental's full rewrite, the unbucketed snapshot, the
  * unpartitioned upsert sink, compaction) × every state a crash can leave
  * the swap in. The crashed table's re-run must converge to its uncrashed
  * twin — rows and `graft.*` properties — and leave no scratch table. */
class SwapSpec extends SparkSpec {
  import spark.implicits._

  private lazy val mat = new Materializer(spark)

  /** One caller: `setup` builds a table's history, `run` applies the
    * rewrite under test (the run that crashes). */
  private case class Caller(name: String, tag: Tag, setup: String => Unit,
                            run: String => Unit)

  private val t0 = Timestamp.valueOf("2020-01-01 00:00:00")
  private val t1 = Timestamp.valueOf("2020-02-01 00:00:00")

  private lazy val callers = Seq(
    Caller("incremental", PartitionScoped.Dbt,
      t => mat.incremental(Relation(t), Seq((1L, "a"), (2L, "b"))
        .toDF("id", "v"), strategy = "merge", uniqueKeys = Seq("id")),
      t => mat.incremental(Relation(t), Seq((2L, "B"), (3L, "c"))
        .toDF("id", "v"), strategy = "merge", uniqueKeys = Seq("id"))),
    Caller("snapshot", PartitionScoped.Dbt,
      t => mat.snapshot(Relation(t), Seq((1L, "a", t0), (2L, "b", t0))
        .toDF("id", "v", "updated_at"), Seq("id"), "updated_at"),
      t => mat.snapshot(Relation(t), Seq((1L, "a", t0), (2L, "B", t1),
        (3L, "c", t1)).toDF("id", "v", "updated_at"), Seq("id"),
        "updated_at")),
    Caller("upsert", PartitionScoped.Upsert,
      t => Events.upsertBatch(Seq((1L, "a1", 1L), (2L, "b1", 1L))
        .toDF("k", "v", "ord"), t, Seq("k"), "ord"),
      t => Events.upsertBatch(Seq((2L, "b2", 2L), (3L, "c2", 2L))
        .toDF("k", "v", "ord"), t, Seq("k"), "ord")),
    Caller("compact", PartitionScoped.Compact,
      t => Seq((1L, "a", -1L), (2L, "b", 0L), (3L, "c", 1L), (4L, "d", 2L))
        .toDF("doc_id", "text", "batch_id")
        .write.partitionBy("batch_id").saveAsTable(t),
      t => Events.compactBatchTable(spark, t)))

  private def graftProps(t: String): Map[String, String] =
    PartitionScoped.metadata(spark, t).get.properties
      .filter(_._1.startsWith(Materializer.GraftKeyPrefix))

  /** `to` as a copy of `from`: rows, partition layout, graft.* props —
    * what the swap writes as its tmp. */
  private def copy(from: String, to: String): Unit = {
    val parts = PartitionScoped.partitionColumns(spark, from)
    val w = spark.table(from).write
    (if (parts.isEmpty) w else w.partitionBy(parts: _*)).saveAsTable(to)
    PartitionScoped.setProperties(spark, to, graftProps(from))
  }

  private def rename(from: String, to: String): Unit =
    PartitionScoped.rename(spark, from, to)

  /** The states a crash leaves: (name, park(table, twin, tag)) — `twin`
    * holds the uncrashed result, i.e. what the crashed run's tmp held.
    * The last two are the single-survivor states the per-caller specs
    * pin (history parked in the backup; the table parked under the tmp
    * name). */
  private val crashes: Seq[(String, (String, String, Tag) => Unit)] = Seq(
    "tmp written, no rename" -> { (t, twin, tag) =>
      copy(twin, t + tag.tmp) },
    "between the two renames" -> { (t, twin, tag) =>
      copy(twin, t + tag.tmp); rename(t, t + tag.backup) },
    "before the backup drop" -> { (t, twin, tag) =>
      rename(t, t + tag.backup); copy(twin, t) },
    "backup only" -> { (t, _, tag) => rename(t, t + tag.backup) },
    "tmp only" -> { (t, _, tag) => rename(t, t + tag.tmp) })

  private def dropAll(t: String, tag: Tag): Unit =
    for (s <- "" +: tag.scratch)
      spark.sql(s"DROP TABLE IF EXISTS ${t + s}")

  private def rows(t: String): Seq[String] =
    spark.table(t).collect().map(_.toSeq.mkString("|")).toSeq.sorted

  for (c <- callers.map(_.name))
    test(s"crash matrix: $c re-run converges from every crash state") {
      val caller = callers.find(_.name == c).get
      val twin = s"cw_${c}_twin"
      dropAll(twin, caller.tag)
      caller.setup(twin)
      PartitionScoped.setProperties(spark, twin, Map("graft.cw.keep" -> "1"))
      caller.run(twin)
      assert(graftProps(twin).get("graft.cw.keep").contains("1"),
        s"$c: the uncrashed swap dropped a graft.* property")
      for (((crash, park), i) <- crashes.zipWithIndex) {
        val t = s"cw_${c}_$i"
        dropAll(t, caller.tag)
        caller.setup(t)
        PartitionScoped.setProperties(spark, t, Map("graft.cw.keep" -> "1"))
        park(t, twin, caller.tag)
        caller.run(t)
        assert(rows(t) == rows(twin), s"$c, $crash: rows differ")
        assert(graftProps(t) == graftProps(twin),
          s"$c, $crash: graft.* properties differ")
        for (s <- caller.tag.scratch)
          assert(!spark.catalog.tableExists(t + s), s"$c, $crash: $t$s left")
        dropAll(t, caller.tag)
      }
      for (s <- caller.tag.scratch)
        assert(!spark.catalog.tableExists(twin + s))
      dropAll(twin, caller.tag)
    }

  test("heal drops scratch tables beside a present target, never promotes them") {
    val t = "cw_heal"
    dropAll(t, PartitionScoped.Dbt)
    Seq((1L, "a")).toDF("id", "v").write.saveAsTable(t)
    for (s <- PartitionScoped.Dbt.scratch)
      Seq((9L, "junk")).toDF("id", "v").write.saveAsTable(t + s)
    PartitionScoped.heal(spark, t, PartitionScoped.Dbt)
    assert(rows(t) == Seq("1|a"))
    for (s <- PartitionScoped.Dbt.scratch)
      assert(!spark.catalog.tableExists(t + s))
    // a lone scoped tmp (a partial result) is never promoted
    spark.sql(s"DROP TABLE $t")
    Seq((9L, "junk")).toDF("id", "v").write
      .saveAsTable(t + PartitionScoped.Dbt.scopedTmp)
    PartitionScoped.heal(spark, t, PartitionScoped.Dbt)
    assert(!spark.catalog.tableExists(t))
    dropAll(t, PartitionScoped.Dbt)
  }

  test("rewrite scopes only by the table's own partition columns") {
    // dynamic overwrite replaces whole table partitions: a scope on
    // other columns must take the full merge, or the touched partitions
    // (or, unpartitioned, the whole table) lose their untouched rows
    val t = "cw_scope"
    val b1 = (0L until 10L).map(i => (i, s"v$i", 1L, i % 2, i % 3))
      .toDF("k", "v", "ord", "p", "q")
    val b2 = Seq((3L, "new", 2L, 1L, 0L)).toDF("k", "v", "ord", "p", "q")
    val want = (0L until 10L).map(i =>
      if (i == 3L) "3|new|2|1|0" else s"$i|v$i|1|${i % 2}|${i % 3}").sorted
    for (created <- Seq(Nil, Seq("p"))) {
      dropAll(t, PartitionScoped.Upsert)
      Events.upsertBatch(b1, t, Seq("k"), "ord", partitionCols = created)
      Events.upsertBatch(b2, t, Seq("k"), "ord",
        partitionCols = if (created.isEmpty) Seq("p") else Seq("q"))
      assert(spark.table(t).select("k", "v", "ord", "p", "q").collect()
        .map(_.toSeq.mkString("|")).toSeq.sorted == want, s"created $created")
      assert(PartitionScoped.partitionColumns(spark, t) == created)
    }
    dropAll(t, PartitionScoped.Upsert)
  }

  test("setProperties escapes quotes and backslashes, on tables and views") {
    val t = "cw_props"
    spark.sql(s"DROP TABLE IF EXISTS $t")
    spark.sql("DROP VIEW IF EXISTS cw_props_v")
    Seq(1).toDF("x").write.saveAsTable(t)
    spark.sql(s"CREATE VIEW cw_props_v AS SELECT * FROM $t")
    val props = Map("graft.q" -> "it's a \\d+ 'test'", "graft.plain" -> "1")
    for (n <- Seq(t, "cw_props_v")) {
      PartitionScoped.setProperties(spark, n, props)
      assert(graftProps(n) == props, n)
    }
    spark.sql("DROP VIEW cw_props_v")
    spark.sql(s"DROP TABLE $t")
  }
}
