package graft

import org.apache.spark.sql.functions._

/** Degenerate-input behavior of the round-7 operators: empty sides must
  * produce empty (or fully-null-payload) results, never throw — the
  * first partition of a 100 TB run is routinely empty. */
class EmptyInputSpec extends SparkSpec {
  import spark.implicits._

  private val noPoints = Seq.empty[(Long, Long)].toDF("id", "p")
  private val noIvs = Seq.empty[(Long, Long, Long)].toDF("iv", "lo", "hi")
  private val somePoints = Seq((1L, 5L), (2L, 50L)).toDF("id", "p")
  private val someIvs = Seq((7L, 0L, 10L)).toDF("iv", "lo", "hi")

  test("range join with an empty side is empty") {
    assert(graft.operators.RangeJoin
      .pointInInterval(noPoints, "p", someIvs, "lo", "hi", 10L)
      .count() === 0)
    assert(graft.operators.RangeJoin
      .pointInInterval(somePoints, "p", noIvs, "lo", "hi", 10L)
      .count() === 0)
    assert(graft.operators.RangeJoin
      .intervalOverlap(noIvs, "lo", "hi",
        someIvs.select($"iv".as("b_iv"), $"lo".as("b_lo"),
          $"hi".as("b_hi")), "b_lo", "b_hi", 10L)
      .count() === 0)
  }

  test("broadcast as-of with an empty dimension keeps left rows, null payload") {
    val left = Seq((1L, 5L, 100L)).toDF("event_id", "k", "t")
    val right = Seq.empty[(Long, Long, Double)].toDF("k", "t", "v")
    val out = graft.operators.AsOfJoin
      .broadcastAsOf(left, right, Seq("k"), "t", Seq("v")).collect()
    assert(out.length === 1 && out(0).isNullAt(3))
    // and an empty LEFT is just empty
    assert(graft.operators.AsOfJoin.broadcastAsOf(
      left.limit(0), right, Seq("k"), "t", Seq("v")).count() === 0)
  }

  test("heavy hitters and tensorize on empty inputs are empty") {
    val noKeys = Seq.empty[Tuple1[Long]].toDF("k")
    assert(graft.operators.HeavyHitters.heavyHitters(noKeys, "k", 0.1)
      .count() === 0)
    val noDocs = Seq.empty[(Long, String)].toDF("doc_id", "text")
    assert(graft.llm.Tensorize.tensorize(noDocs, "doc_id",
      graft.llm.TextAnalysis.tokens($"text"), 16,
      lit("<pad>"), lit("<eos>")).count() === 0)
  }

  test("wave-6/7 text ops on an empty corpus are empty, never throw") {
    val noDocs = Seq.empty[(Long, String)].toDF("doc_id", "text")
    assert(graft.llm.Dedup.dedupLines(noDocs, "doc_id", "text")
      .count() === 0)
    assert(graft.llm.TextAnalysis.unigramScore(noDocs, "doc_id", "text")
      .count() === 0)
    val noW = Seq.empty[(Long, Long)].toDF("doc_id", "w")
    assert(graft.operators.WeightedSample.sample(noW, "doc_id", $"w", 5)
      .count() === 0)
    assert(graft.operators.Winsorize
      .winsorize(noW, Seq("doc_id"), "w", 0.05, 0.95).count() === 0)
    // bm25's stats job reads N and avgdl from one aggregate row — an
    // empty corpus must yield an empty scoring frame, not an NPE on the
    // null avg (r11 sweep finding)
    assert(graft.llm.TextAnalysis.bm25(noDocs, "doc_id", "text",
      Seq("the")).count() === 0)
  }

  test("budgetSelect: NULL-text rows are unselectable, never a crash") {
    // a null text has no quality bucket — it used to NPE the driver's
    // histogram read (r11 sweep finding); it must come back flagged
    // selected = false, one row per input like every other doc
    val d = Seq((1L, "the quick brown fox jumps over the lazy dog"),
      (2L, null.asInstanceOf[String]),
      (3L, "another document with several words in it")).toDF("doc_id", "text")
    val r = graft.llm.TextAnalysis.budgetSelect(d, "doc_id", "text", 1000L)
      .orderBy($"doc").collect()
    assert(r.length === 3)
    // least() skips nulls so quality is non-null even for null text —
    // the null marker is n_tokens; either way the row is unselectable
    assert(r(1).isNullAt(2) && !r(1).getBoolean(3))
    assert(r(0).getBoolean(3) && r(2).getBoolean(3)) // budget fits both
    // all-null corpus: empty histogram, nothing selected, no crash
    val allNull = Seq((1L, null.asInstanceOf[String])).toDF("doc_id", "text")
    val r2 = graft.llm.TextAnalysis.budgetSelect(allNull, "doc_id", "text", 10L)
      .collect()
    assert(r2.length === 1 && !r2(0).getBoolean(3))
  }

  test("fuzzy join with an empty side is empty on both paths") {
    val noDocs = Seq.empty[(Long, String)].toDF("doc_id", "text")
    val someDocs = Seq((1L, "a b c d")).toDF("doc_id", "text")
    assert(graft.llm.Dedup.fuzzyJoin(noDocs, someDocs, "doc_id", "text", 0.1)
      .count() === 0)
    assert(graft.llm.Dedup.fuzzyJoin(someDocs, noDocs, "doc_id", "text", 0.1,
      exact = true).count() === 0)
  }

  test("labelProp with no edges is identity labels; no nodes is empty") {
    val nodes = Seq(4L, 9L).toDF("id")
    val noEdges = Seq.empty[(Long, Long)].toDF("id_a", "id_b")
    val got = graft.operators.LabelProp
      .labelProp(nodes, "id", noEdges, iters = 2)
      .orderBy($"id").as[(Long, Long)].collect().toSeq
    assert(got === Seq((4L, 4L), (9L, 9L)))
    assert(graft.operators.LabelProp
      .labelProp(nodes.limit(0), "id", noEdges, iters = 2).count() === 0)
  }

  test("allPairs / allPairsJoin degenerate inputs are empty, never throw") {
    val noDocs = Seq.empty[(Long, String)].toDF("doc_id", "text")
    val one = Seq((1L, "only one document here")).toDF("doc_id", "text")
    val blank = Seq((1L, ""), (2L, "   ")).toDF("doc_id", "text")
    for (gate <- Seq(graft.llm.Dedup.AllPairsDenseVocabMax, 0L)) {
      assert(graft.llm.Dedup.allPairs(noDocs, "doc_id", "text", 0.8,
        denseVocabMax = gate).count() === 0)
      assert(graft.llm.Dedup.allPairs(one, "doc_id", "text", 0.8,
        denseVocabMax = gate).count() === 0)
      assert(graft.llm.Dedup.allPairs(blank, "doc_id", "text", 0.8,
        denseVocabMax = gate).count() === 0)
      assert(graft.llm.Dedup.allPairsJoin(noDocs, one, "doc_id", "text",
        0.8, denseVocabMax = gate).count() === 0)
      assert(graft.llm.Dedup.allPairsJoin(one, noDocs, "doc_id", "text",
        0.8, denseVocabMax = gate).count() === 0)
      // reps mode on the same degenerate inputs: no cliques, no self
      // rows, never a throw (the collapse groupBy over an empty /
      // token-less corpus must behave like the expanded form)
      assert(graft.llm.Dedup.allPairs(noDocs, "doc_id", "text", 0.8,
        denseVocabMax = gate, expandCliques = false).count() === 0)
      assert(graft.llm.Dedup.allPairs(blank, "doc_id", "text", 0.8,
        denseVocabMax = gate, expandCliques = false).count() === 0)
      assert(graft.llm.Dedup.containmentJoin(noDocs, "doc_id", "text",
        0.8, denseVocabMax = gate, expandCliques = false).count() === 0)
      assert(graft.llm.Dedup.tfidfPairs(blank, "doc_id", "text", 0.8,
        denseVocabMax = gate, expandCliques = false).count() === 0)
    }
    // jw reps on empty/whitespace-only names: no cliques (jw('','')
    // is 0 by the pinned definition), no throw
    val blankNm = Seq((1L, ""), (2L, "")).toDF("id", "nm")
    assert(graft.operators.JaroWinklerJoin.selfJoin(blankNm, "id", "nm",
      0.9, expandCliques = false).count() === 0)
  }

  test("semanticDedup keeps a singleton and tolerates duplicate-only cells") {
    val noVecs = Seq.empty[(Long, Array[Float])].toDF("vec_id", "embedding")
    assert(graft.llm.Dedup.semanticDedup(noVecs, "vec_id", "embedding",
      nlist = 4, threshold = 0.95).count() === 0)
    val one = Seq((1L, Array(1f, 0f))).toDF("vec_id", "embedding")
    val got = graft.llm.Dedup.semanticDedup(one, "vec_id", "embedding",
      nlist = 4, threshold = 0.95).collect()
    assert(got.length === 1 && got(0).getBoolean(2))
    // all-identical corpus: one keeper, rest dropped
    val same = Seq((1L, Array(1f, 0f)), (2L, Array(1f, 0f)),
      (3L, Array(1f, 0f))).toDF("vec_id", "embedding")
    val kept = graft.llm.Dedup.semanticDedup(same, "vec_id", "embedding",
        nlist = 2, threshold = 0.95)
      .filter($"kept").select($"vec_id").as[Long].collect().toSeq
    assert(kept === Seq(1L))
  }

  test("rolling over an empty frame input is empty") {
    val empty = Seq.empty[(Long, String, java.sql.Timestamp, Double)]
      .toDF("event_id", "key", "ts", "value")
    assert(graft.operators.Rolling
      .trailing(empty, "key", "ts", "value", 10L).count() === 0)
  }

  test("softWeights on an empty corpus is empty; singleton weighs 1.0") {
    val empty = Seq.empty[(Long, String)].toDF("doc_id", "text")
    assert(graft.llm.Dedup.softWeights(empty, $"doc_id", $"text")
      .count() === 0)
    val one = graft.llm.Dedup.softWeights(
      Seq((7L, "x")).toDF("doc_id", "text"), $"doc_id", $"text")
      .collect()
    assert(one.length === 1 && one.head.getLong(1) === 1L &&
      one.head.getDouble(2) === 1.0)
  }

  test("upsertBatch: empty batch is a no-op; all-null-key batch creates nothing") {
    val table = "graft_upsert_empty_test"
    spark.sql(s"DROP TABLE IF EXISTS $table")
    val empty = Seq.empty[(Option[Long], String, Long)].toDF("k", "v", "ord")
    graft.streaming.Events.upsertBatch(empty, table, Seq("k"), "ord")
    assert(!spark.catalog.tableExists(table)) // nothing to create from
    // a batch of only null-keyed rows collapses to nothing → the table
    // is created EMPTY (schema known), and a later real batch upserts
    val nulls = Seq((Option.empty[Long], "n", 1L)).toDF("k", "v", "ord")
    graft.streaming.Events.upsertBatch(nulls, table, Seq("k"), "ord")
    assert(spark.catalog.tableExists(table) &&
      spark.table(table).count() === 0)
    graft.streaming.Events.upsertBatch(
      Seq((Some(1L), "a", 2L)).toDF("k", "v", "ord"), table, Seq("k"), "ord")
    assert(spark.table(table).count() === 1)
    spark.sql(s"DROP TABLE IF EXISTS $table")
  }

  test("profile of an empty table reports zero counts and null min/max") {
    val empty = Seq.empty[(Long, String)].toDF("a", "b")
    val rows = graft.mat.Profile.profile(empty).collect()
    assert(rows.length === 2)
    rows.foreach { r =>
      assert(r.getLong(1) === 0L && r.getLong(2) === 0L
        && r.getLong(3) === 0L && r.isNullAt(4) && r.isNullAt(5))
    }
  }

  test("r13 novelty machinery tolerates empty batches, indexes, rollups") {
    import graft.streaming.Events
    // empty banded index: every signed row is novel
    val emptyBanded = Seq.empty[(Long, Long)].toDF("band_key", "sig")
    val signed = Seq((1L, 42L), (2L, 0L)).toDF("media_id", "s")
      .withColumn("s",
        when($"media_id" === 2L, lit(null)).otherwise($"s"))
    assert(Events.noveltyBandedJoin(signed, "s", emptyBanded, 3)
      .count() === 2)
    // empty signed frame against a non-empty banded index: empty out
    val banded = graft.llm.Multimodal.bandIndexRows(
      Seq(7L).toDF("sig"), "sig")
    assert(Events.noveltyBandedJoin(signed.limit(0), "s", banded, 3)
      .count() === 0)
    // collapseBySignature on an empty frame is empty; on an all-null
    // signature frame it passes every row through
    assert(Events.collapseBySignature(signed.limit(0), "s", 3)
      .count() === 0)
    val allNull = Seq(1L, 2L).toDF("media_id")
      .withColumn("s", lit(null).cast("long"))
    assert(Events.collapseBySignature(allNull, "s", 3).count() === 2)
    // collapseByVector (guarded form, r17): empty frame → empty;
    // all-null vectors pass through — the over-cap window/salt/peel
    // branches tolerate both degenerate shapes
    val cbvCents = Array(Array(1.0, 0.0))
    val emptyVec = Seq.empty[(Long, Array[Float])].toDF("id", "vec")
    assert(Events.collapseByVector(emptyVec, "vec", cbvCents, 0.9)
      .count() === 0)
    val allNullVec = Seq(1L, 2L).toDF("id")
      .withColumn("vec", lit(null).cast("array<float>"))
    assert(Events.collapseByVector(allNullVec, "vec", cbvCents, 0.9)
      .count() === 2)
    // cappedBandBuckets of an empty index is zero
    assert(Events.cappedBandBuckets(emptyBanded) === 0L)
    // embedding ingest: an empty batch is a pure no-op (no tables read)
    val emptyEmb = Seq.empty[(Long, Seq[Double])]
      .toDF("vec_id", "embedding")
    Events.embeddingNoveltyIngestBatch(emptyEmb, 0L, "no_such_idx",
      "no_such_sink", "embedding", 0.95)
    assert(!spark.catalog.tableExists("no_such_sink"))
    // signature ingest: same contract
    Events.imageNoveltyIngestBatch(
      Seq.empty[(Long, Array[Byte])].toDF("media_id", "payload"),
      0L, "no_such_idx2", "no_such_sink2")
    assert(!spark.catalog.tableExists("no_such_sink2"))
    // quantile rollup: deriving k from an EMPTY rollup yields empty
    // estimates, never a crash
    val emptyRollup = graft.operators.QuantileRollup.buildRollup(
      Seq.empty[(String, Long, Double)].toDF("k", "id", "v")
        .withColumn("b", lit(0)),
      Seq("k"), "b", "id", "v", 8)
    assert(graft.operators.QuantileRollup
      .estimateAcross(emptyRollup, Seq("k"), Seq(0.5)).count() === 0)
  }

  test("contaminationBloom over an empty benchmark set flags nothing") {
    val noBench = Seq.empty[(Long, String)].toDF("id", "text")
    val bloom = graft.llm.Dedup.contaminationBloom(noBench, "text")
    val docs = Seq((1L, "the quick brown fox jumps over"),
      (2L, "lorem ipsum dolor sit amet")).toDF("doc_id", "text")
    val out = graft.llm.Dedup.decontaminateBloom(docs, "doc_id", "text",
      bloom)
    assert(out.count() === 2)
    assert(out.filter($"contaminated").count() === 0)
  }

  test("RP operators on empty inputs are empty, never throw") {
    val noVecs = Seq.empty[(Long, Seq[Double])].toDF("vec_id", "embedding")
    val someVecs = Seq(
        (1L, Seq.fill(64)(0.5)), (2L, Seq.fill(64)(-0.25)))
      .toDF("vec_id", "embedding")
    val cents = Array(Array.fill(64)(0.1), Array.fill(64)(-0.1))
    import graft.llm.{Similarity, Dedup}
    // empty corpus / empty queries through the JL top-k
    assert(Similarity.rpTopK(noVecs, someVecs, "vec_id", "embedding",
      10).count() === 0)
    assert(Similarity.rpTopK(someVecs, noVecs, "vec_id", "embedding",
      10).count() === 0)
    // empty corpus through both RP assignments and the dedup wrapper
    assert(Similarity.ivfAssignRp(noVecs, "vec_id", "embedding", cents)
      .count() === 0)
    assert(Similarity.ivfAssignTwoLevelRp(noVecs, "vec_id", "embedding",
      cents, 2).count() === 0)
    assert(Dedup.semanticDedupRp(noVecs, "vec_id", "embedding", cents,
      0.95).count() === 0)
    // r15: the composed IVF×JL top-k, both sides
    assert(Similarity.ivfTopKRp(noVecs, someVecs, "vec_id", "embedding",
      10, cents, 2).count() === 0)
    assert(Similarity.ivfTopKRp(someVecs, noVecs, "vec_id", "embedding",
      10, cents, 2).count() === 0)
  }
}
