package perfbench

import java.nio.file.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.MinHashSig
import graft.llm.{Dedup, Similarity}
import graft.streaming.Events

/** A crawl pipeline. Its batch half cleans a seeded corpus ([[Corpus]]);
  * its streaming half ingests crawl arrivals one micro-batch per op,
  * called directly as `foreachBatch` would: exact-key, MinHash and
  * embedding novelty against indexes created from a seed corpus.
  *
  * Warm-up (so its time lands in setup_s), and again as the traced
  * sequence of a traced run: the cleaning pass, one plain batch, and one
  * maintenance op, after whose batch the same batch id is delivered again
  * (the replay must write nothing) and the three indexes are compacted.
  * The measured window holds plain batches only: with a few ops per run,
  * one compaction among them would decide the median. */
final class Ingest(spark: SparkSession, g: Gen, work: Path, originals: Long,
                   seedDocs: Long, arrivals: Int, traced: Boolean)
    extends Workload {
  val primaryKind = "batch"
  val itemsUnit = "arrivals"
  val warmupOps = 3
  val tracedOps = 3
  val minOps = 2

  private val corpus = new Corpus(spark, g, work, originals)
  private var passS = Double.NaN
  private val cg = new CorpusGen(g)
  private val raw = work.resolve("raw")
  private def rawPath(t: String) = raw.resolve(t).toAbsolutePath.toString
  private val geoms = Seq("key", "band", "emb")
  private def idx(k: String) = s"pb_${k}_idx"
  private def sink(k: String) = s"pb_${k}_sink"
  private var batches = 0
  private var replayWrites = 0L

  def setup(): Unit = {
    corpus.setup()
    for (k <- geoms; tb <- Seq(idx(k), sink(k), idx(k) + "__cents"))
      spark.sql(s"DROP TABLE IF EXISTS $tb")
    cg.seedDocs(seedDocs).write.mode("overwrite").parquet(rawPath("seed"))
    val seed = spark.read.parquet(rawPath("seed"))
    Events.createKeyIndex(spark, idx("key"), seed, "k")
    Events.createBandIndex(spark, idx("band"), seed
      .withColumn("arr", MinHashSig(lower(col("text")), 3, 16))
      .select(Dedup.minhashBandArray(col("arr"), 16, 4).as("b")), "b")
    val cents = Similarity.ivfTrain(seed, "doc_id", "embedding", 16, iters = 1)
    Events.createEmbeddingIndex(spark, idx("emb"), seed, "embedding", cents)
    batches = 0
    replayWrites = 0L
  }

  private def ingest(batch: DataFrame, b: Long, t: Tracer): Unit = {
    t.span("streaming.ingest.key")(Events.keyNoveltyIngestBatch(
      batch.select("doc_id", "k"), b, idx("key"), sink("key"), "k"))
    t.span("streaming.ingest.minhash")(Events.minhashNoveltyIngestBatch(
      batch.select("doc_id", "text"), b, idx("band"), sink("band")))
    t.span("streaming.ingest.embedding")(Events.embeddingNoveltyIngestBatch(
      batch.select("doc_id", "embedding"), b, idx("emb"), sink("emb"),
      "embedding", 0.95))
  }

  private val schedule = Seq("pass", "batch", "maintenance")
  override def kindOf(i: Int): String =
    if (i < warmupOps) schedule(i)
    else if (traced && i < warmupOps + tracedOps) schedule(i - warmupOps)
    else "batch"

  private def rows(): Seq[Long] =
    geoms.flatMap(k => Seq(idx(k), sink(k))).map(spark.table(_).count())

  def op(i: Int, t: Tracer): Op =
    if (kindOf(i) == "pass") {
      val o = corpus.pass(t)
      if (i == 0) passS = o.seconds
      o
    } else batchOp(batches, kindOf(i) == "maintenance", t)

  /** Micro-batch `b` (batch ids count from 0, passes aside). */
  private def batchOp(b: Int, replay: Boolean, t: Tracer): Op = {
    // the arriving micro-batch is the source's work: outside the op
    val batch = cg.arrivals(b, arrivals, seedDocs).localCheckpoint()
    batch.count()
    val t0 = Clock.now()
    ingest(batch, b, t)
    batches = b + 1
    val ingested = Clock.now() - t0
    if (!replay) Op("batch", ingested, arrivals)
    else {
      // the two row counts around the replay are the check's, not the op's
      val before = rows()
      val tr = Clock.now()
      t.span("streaming.replay")(ingest(batch, b, t))
      val replayed = Clock.now() - tr
      replayWrites += rows().zip(before).map { case (a, b) => a - b }.sum
      val tc = Clock.now()
      for (k <- geoms)
        t.span("streaming.compact")(Events.compactBatchTable(spark, idx(k)))
      Op("maintenance", ingested + replayed + (Clock.now() - tc), arrivals)
    }
  }

  def checks(): Seq[(String, () => Boolean)] = {
    lazy val fresh = (0 until batches)
      .map(b => cg.arrivals(b, arrivals, seedDocs).filter(col("fresh")))
      .reduce(_.unionByName(_)).select("doc_id")
    def sinkIs(k: String) = () => {
      val got = spark.table(sink(k)).select("doc_id")
      got.exceptAll(fresh).isEmpty && fresh.exceptAll(got).isEmpty
    }
    corpus.checks() ++ Seq(
      "replay_writes_no_rows" -> (() => replayWrites == 0L),
      "key_sink_holds_exactly_the_fresh_arrivals" -> sinkIs("key"),
      "minhash_sink_holds_exactly_the_fresh_arrivals" -> sinkIs("band"),
      "embedding_sink_holds_exactly_the_fresh_arrivals" -> sinkIs("emb"))
  }

  def inputs: Seq[(String, Long, Long)] =
    corpus.inputs ++ Seq(("seed", spark.read.parquet(rawPath("seed")).count(),
      Main.bytesUnder(raw.resolve("seed"))),
      ("arrivals_per_batch", arrivals.toLong, 0L))

  def named(ops: Seq[Op]): Seq[(String, Double, String)] = {
    val bs = ops.filter(_.kind == "batch")
    Seq(("pass_s (warm-up)", passS, "s"),
      ("docs_per_s (warm-up pass)", corpus.ndocs / passS, "1/s"),
      ("batch_p50_s", Stats.median(bs.map(_.seconds)), "s"),
      ("batch_tail_s", Stats.tail(bs.map(_.seconds)), "s"),
      ("arrivals_per_s", bs.map(_.items).sum / bs.map(_.seconds).sum, "1/s"))
  }
}
