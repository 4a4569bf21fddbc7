package perfbench

import java.nio.file.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.util.sketch.BloomFilter
import graft.llm.{Dedup, TextAnalysis}
import graft.mat.Materializer
import graft.model.Relation

/** The batch half of the crawl pipeline: a seeded corpus of `originals`
  * documents plus planted exact copies, word-edited near-duplicates and
  * noisy embedding copies (10× the originals), cleaned in one pass. Each
  * stage's per-document decision is materialized inside its own span; the
  * kept corpus (every stage says keep) is written with
  * `Materializer.table`. */
final class Corpus(spark: SparkSession, g: Gen, work: Path,
                   originals: Long) {
  private val cg = new CorpusGen(g)
  private val raw = work.resolve("raw")
  private def rawPath(t: String) = raw.resolve(t).toAbsolutePath.toString
  private val m = new Materializer(spark)
  private val kept = Relation("pb", "corpus_kept")
  private var bloom: BloomFilter = _
  var ndocs = 0L

  def setup(): Unit = {
    spark.sql("DROP DATABASE IF EXISTS pb CASCADE")
    spark.sql("CREATE DATABASE pb")
    cg.corpus(originals).write.mode("overwrite").parquet(rawPath("corpus"))
    cg.evalSet(originals).write.mode("overwrite").parquet(rawPath("eval"))
    bloom = Dedup.contaminationBloom(spark.read.parquet(rawPath("eval")),
      "text")
    ndocs = spark.read.parquet(rawPath("corpus")).count()
  }

  private def docs = spark.read.parquet(rawPath("corpus"))

  def pass(t: Tracer): Op = {
    val t0 = Clock.now()
    val d = docs.select("doc_id", "text")
    val filter = t.span("llm.text.filter")(TextAnalysis
      .filterPipeline(d, "doc_id", "text").select("doc", "keep")
      .localCheckpoint())
    val exact = t.span("llm.dedup.exact")(Dedup
      .exact(d, col("text"), col("doc_id")).select("keep_id")
      .localCheckpoint())
    val near = t.span("llm.dedup.minhash")(Dedup
      .minhashClusters(d, "doc_id", "text").select("doc", "keep")
      .localCheckpoint())
    val sem = t.span("llm.dedup.semantic")(Dedup
      .semanticDedup(docs.select("doc_id", "embedding"), "doc_id",
        "embedding", nlist = 16, threshold = 0.95)
      .select("doc_id", "kept").localCheckpoint())
    val contam = t.span("llm.dedup.decontaminate")(Dedup
      .decontaminateBloom(d, "doc_id", "text", bloom)
      .select("doc", "contaminated").localCheckpoint())
    t.span("mat.table.corpus")(m.table(kept, docs
      .join(filter.filter(col("keep")).select(col("doc").as("doc_id")),
        Seq("doc_id"), "left_semi")
      .join(exact.select(col("keep_id").as("doc_id")), Seq("doc_id"),
        "left_semi")
      .join(near.filter(col("keep")).select(col("doc").as("doc_id")),
        Seq("doc_id"), "left_semi")
      .join(sem.filter(col("kept")).select("doc_id"), Seq("doc_id"),
        "left_semi")
      .join(contam.filter(!col("contaminated"))
        .select(col("doc").as("doc_id")), Seq("doc_id"), "left_semi")))
    Op("pass", Clock.now() - t0, ndocs)
  }

  def checks(): Seq[(String, () => Boolean)] = {
    def ids(df: DataFrame) = df.select(col("doc_id")).distinct()
    lazy val truthKeep = ids(docs.filter(col("kind") =!= 1))
    lazy val exactKeep = ids(Dedup.exact(docs.select("doc_id", "text"),
      col("text"), col("doc_id")).select(col("keep_id").as("doc_id")))
    Seq(
      "exact_keeps_every_unique_doc" -> (() =>
        truthKeep.exceptAll(exactKeep).isEmpty),
      "exact_removes_every_planted_copy" -> (() =>
        exactKeep.exceptAll(truthKeep).isEmpty),
      "kept_corpus_has_no_planted_copy" -> (() =>
        spark.table(kept.render).filter(col("kind") === 1).isEmpty),
      "kept_corpus_nonempty" -> (() => !spark.table(kept.render).isEmpty))
  }

  def inputs: Seq[(String, Long, Long)] =
    Seq("corpus", "eval").map(t =>
      (t, spark.read.parquet(rawPath(t)).count(), Main.bytesUnder(raw.resolve(t))))
}
