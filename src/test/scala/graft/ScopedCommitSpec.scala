package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.catalyst.TableIdentifier
import org.apache.spark.sql.catalyst.catalog.{CreateTablePreEvent,
  ExternalCatalogEvent, ExternalCatalogEventListener}
import graft.mat.{Materializer, PartitionScoped}
import graft.model.Relation
import graft.streaming.Events

/** The scoped commit of [[PartitionScoped.rewrite]]: a small batch writes
  * one file per touched partition, the commit creates no catalog table
  * (its barrier is a checkpoint, not a tmp table), and an empty batch
  * into a scoped target costs one job and writes nothing. */
class ScopedCommitSpec extends SparkSpec {
  import spark.implicits._

  private lazy val mat = new Materializer(spark)

  /** Parquet files under each partition directory of `table`. */
  private def filesByPartition(table: String): Map[String, Set[String]] = {
    val loc = Paths.get(spark.sessionState.catalog
      .getTableMetadata(TableIdentifier(table)).location)
    def list(d: Path): Seq[Path] = {
      val s = Files.list(d)
      try s.iterator().asScala.toSeq finally s.close()
    }
    list(loc).filter(Files.isDirectory(_)).map { d =>
      d.getFileName.toString -> list(d).map(_.getFileName.toString)
        .filter(_.endsWith(".parquet")).toSet
    }.toMap
  }

  /** The number of Spark jobs `body` starts. */
  private def jobsOf(body: => Unit): Int = {
    val n = new java.util.concurrent.atomic.AtomicInteger()
    val l = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        n.incrementAndGet()
    }
    val sc = spark.sparkContext
    org.apache.spark.GraftListenerBus.drain(sc)
    sc.addSparkListener(l)
    try { body; org.apache.spark.GraftListenerBus.drain(sc) }
    finally sc.removeSparkListener(l)
    n.get
  }

  /** The tables `body` creates in the catalog, dropped ones included. */
  private def tablesCreatedBy(body: => Unit): Seq[String] = {
    val created = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val l = new ExternalCatalogEventListener {
      def onEvent(e: ExternalCatalogEvent): Unit = e match {
        case c: CreateTablePreEvent => created.add(c.name)
        case _ =>
      }
    }
    val catalog = spark.sharedState.externalCatalog
    catalog.addListener(l)
    try body finally catalog.removeListener(l)
    created.asScala.toSeq
  }

  private def reset(t: String): Unit =
    for (s <- "" +: (PartitionScoped.Dbt.scratch ++
        PartitionScoped.Upsert.scratch))
      spark.sql(s"DROP TABLE IF EXISTS $t$s")

  private def b1 = (0L until 40L).map(i => (i, s"v$i", i % 8)).toDF("k", "v", "p")

  for (strategy <- Seq("merge", "delete+insert"))
    test(s"scoped $strategy: one file per touched partition, no catalog table") {
      val t = "sc_files"
      reset(t)
      mat.incremental(Relation(t), b1, strategy = strategy,
        uniqueKeys = Seq("k"), partitionCols = Seq("p"))
      val before = filesByPartition(t)
      // keys 3 and 11 update p=3, 44 inserts into p=4, 45 into p=5
      val b2 = Seq((3L, "x", 3L), (11L, "y", 3L), (44L, "z", 4L),
        (45L, "w", 5L)).toDF("k", "v", "p")
      val created = tablesCreatedBy {
        mat.incremental(Relation(t), b2, strategy = strategy,
          uniqueKeys = Seq("k"), partitionCols = Seq("p"))
      }
      assert(created.isEmpty, s"the scoped commit created $created")
      val after = filesByPartition(t)
      for (p <- Seq("p=3", "p=4", "p=5"))
        assert(after(p).size == 1 && after(p) != before(p), s"$p: ${after(p)}")
      for (p <- before.keySet -- Set("p=3", "p=4", "p=5"))
        assert(after(p) == before(p), s"untouched $p was rewritten")
      val got = spark.table(t).select("k", "v").as[(Long, String)].collect()
        .toMap
      assert(got.size == 42)
      assert(got(3L) == "x" && got(11L) == "y" && got(44L) == "z" &&
        got(45L) == "w" && got(4L) == "v4")
      reset(t)
    }

  test("scoped upsert: one file per touched partition, no catalog table") {
    val t = "sc_upsert_files"
    reset(t)
    Events.upsertBatch(b1.withColumn("ord", $"k"), t, Seq("k"), "ord",
      partitionCols = Seq("p"))
    val before = filesByPartition(t)
    val b2 = Seq((2L, "x", 2L, 100L), (10L, "y", 2L, 100L),
      (50L, "z", 2L, 100L)).toDF("k", "v", "p", "ord")
    val created = tablesCreatedBy {
      Events.upsertBatch(b2, t, Seq("k"), "ord", partitionCols = Seq("p"))
    }
    assert(created.isEmpty, s"the scoped commit created $created")
    val after = filesByPartition(t)
    assert(after("p=2").size == 1 && after("p=2") != before("p=2"))
    for (p <- before.keySet - "p=2")
      assert(after(p) == before(p), s"untouched $p was rewritten")
    assert(spark.table(t).count() == 41)
    reset(t)
  }

  test("an empty batch into a scoped target runs one job and writes nothing") {
    val t = "sc_empty"
    reset(t)
    mat.incremental(Relation(t), b1, strategy = "merge",
      uniqueKeys = Seq("k"), partitionCols = Seq("p"))
    val before = filesByPartition(t)
    val empty = Seq.empty[(Long, String, Long)].toDF("k", "v", "p")
    for (strategy <- Seq("merge", "delete+insert")) {
      val jobs = jobsOf(mat.incremental(Relation(t), empty,
        strategy = strategy, uniqueKeys = Seq("k"),
        partitionCols = Seq("p")))
      assert(jobs == 1, s"$strategy: $jobs jobs")
      assert(filesByPartition(t) == before, strategy)
    }
    reset(t)
    Events.upsertBatch(b1.withColumn("ord", $"k"), t, Seq("k"), "ord",
      partitionCols = Seq("p"))
    val upserted = filesByPartition(t)
    val jobs = jobsOf(Events.upsertBatch(empty.withColumn("ord", $"k"), t,
      Seq("k"), "ord", partitionCols = Seq("p")))
    assert(jobs == 1, s"upsert: $jobs jobs")
    assert(filesByPartition(t) == upserted)
    assert(spark.table(t).count() == 40)
    reset(t)
  }
}
