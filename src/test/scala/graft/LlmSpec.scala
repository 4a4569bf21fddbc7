package graft

import org.apache.spark.sql.functions._
import graft.llm.{Dedup, Multimodal, Similarity, TextAnalysis}

class LlmSpec extends SparkSpec {
  import spark.implicits._

  private lazy val docs = Tables.load(spark, sf, "documents")
  private lazy val emb = Tables.load(spark, sf, "embeddings")

  test("exact dedup collapses identical content to min id") {
    val u = docs.select($"doc_id", $"text").unionByName(
      docs.select(($"doc_id" + 10000).as("doc_id"), $"text"))
    val out = Dedup.exact(u, $"text", $"doc_id")
    assert(out.count() == docs.count())
    assert(out.filter($"n_dups" =!= 2).count() == 0)
    assert(out.agg(max($"keep_id")).head.getLong(0) < 10000)
  }

  test("soft dedup weights: every row kept, weight = 1/cluster size") {
    val d = Seq((0L, "x"), (1L, "x"), (2L, "x"), (3L, "y"), (4L, "z"),
      (5L, "z")).toDF("doc_id", "text")
    val out = Dedup.softWeights(d, $"doc_id", $"text")
      .orderBy($"doc_id").collect()
    assert(out.length == 6) // nothing dropped
    val byId = out.map(r => r.getLong(0) ->
      (r.getLong(1), r.getDouble(2))).toMap
    assert(byId(0L) == (3L, 0.333333) && byId(1L) == (3L, 0.333333))
    assert(byId(3L) == (1L, 1.0))
    assert(byId(4L) == (2L, 0.5) && byId(5L) == (2L, 0.5))
    // weighted total == deduplicated count (the invariant training cares
    // about): sum of weights = number of distinct texts
    val total = out.map(_.getDouble(2)).sum
    assert(math.abs(total - 3.0) < 1e-4)
  }

  test("minhash LSH finds all exact duplicates (identical docs share every band)") {
    val u = docs.select($"doc_id", $"text").unionByName(
      docs.select(($"doc_id" + 10000).as("doc_id"), $"text"))
    val cand = Dedup.minhashCandidates(u, "doc_id", "text").cache()
    val exactPairs = cand.filter($"id_b" === $"id_a" + 10000).count()
    assert(exactPairs == docs.count()) // every (d, d+10000) pair surfaces
  }

  test("jaccard: identical docs 1.0; near-miss pair sane") {
    val d = Seq((0L, "a b c d e f"), (1L, "a b c d e f"),
      (2L, "a b c d e x")).toDF("doc_id", "text")
    val pairs = Seq((0L, 1L), (0L, 2L)).toDF("id_a", "id_b")
    val j = Dedup.jaccardOnPairs(d, pairs, "doc_id", "text")
      .orderBy("id_b").collect()
    assert(j(0).getDouble(2) == 1.0)
    // shingle sets of size 4 each, overlap 3 → 3/5
    assert(j(1).getDouble(2) == 0.6)
  }

  test("allPairs: exact boundary pair kept, brute-force parity on real docs") {
    // |A∩B|=4, |A∪B|=5 → J exactly 0.8: the pair the float-ceil prefix
    // math silently dropped — must be present at threshold 0.8
    val hand = Seq((1L, "a b c d"), (2L, "a b c d e"), (3L, "x y z w q"))
      .toDF("doc_id", "text")
    val got = Dedup.allPairs(hand, "doc_id", "text", 0.8)
      .select($"doc_a", $"doc_b", $"inter", $"uni", $"jaccard")
      .as[(Long, Long, Long, Long, Double)].collect().toSeq
    assert(got == Seq((1L, 2L, 4L, 5L, 0.8)))
    // parity with the definitional brute force on the real corpus
    val toks = docs.select($"doc_id".as("doc"),
      explode(array_distinct(TextAnalysis.tokens(lower($"text")))).as("tok"))
    val sizes = toks.groupBy("doc").agg(count(lit(1)).as("sz"))
    val brute = toks.alias("a").join(toks.alias("b"),
        col("a.tok") === col("b.tok") && col("a.doc") < col("b.doc"))
      .groupBy(col("a.doc").as("doc_a"), col("b.doc").as("doc_b"))
      .agg(count(lit(1)).as("inter"))
      .join(sizes.select($"doc".as("doc_a"), $"sz".as("sz_a")), Seq("doc_a"))
      .join(sizes.select($"doc".as("doc_b"), $"sz".as("sz_b")), Seq("doc_b"))
      .filter($"inter" * 1000000L >= ($"sz_a" + $"sz_b" - $"inter") * 700000L)
      .select($"doc_a", $"doc_b").as[(Long, Long)].collect().toSet
    // BOTH plan arms against the same oracle: the corpus's 31-token
    // vocab takes the dense-bitset path by default; denseVocabMax = 0
    // forces the PPJoin prefix path over identical inputs
    val mine = Dedup.allPairs(docs, "doc_id", "text", 0.7)
      .select($"doc_a", $"doc_b").as[(Long, Long)].collect().toSet
    assert(mine == brute, s"missing=${brute -- mine} extra=${mine -- brute}")
    val prefixArm = Dedup.allPairs(docs, "doc_id", "text", 0.7,
        denseVocabMax = 0)
      .select($"doc_a", $"doc_b").as[(Long, Long)].collect().toSet
    assert(prefixArm == brute,
      s"missing=${brute -- prefixArm} extra=${prefixArm -- brute}")
    // boundary-pair case through the prefix arm too
    val handPrefix = Dedup.allPairs(hand, "doc_id", "text", 0.8,
        denseVocabMax = 0)
      .select($"doc_a", $"doc_b", $"inter", $"uni", $"jaccard")
      .as[(Long, Long, Long, Long, Double)].collect().toSeq
    assert(handPrefix == Seq((1L, 2L, 4L, 5L, 0.8)))
  }

  test("allPairsJoin: cross-corpus brute-force parity, both arms") {
    // right corpus = perturbed snapshot (the op_fuzzy_join shape); the
    // EXACT join must find every pair with J ≥ t, no LSH recall caveat
    val right = docs.select(($"doc_id" + 10000).as("doc_id"),
      concat($"text", lit(" zz"),
        pmod($"doc_id", lit(5)).cast("string")).as("text"))
    def tokset(df: org.apache.spark.sql.DataFrame) =
      df.select($"doc_id".as("doc"),
        explode(array_distinct(TextAnalysis.tokens(lower($"text"))))
          .as("tok"))
    val tl = tokset(docs)
    val tr = tokset(right)
    val szl = tl.groupBy("doc").agg(count(lit(1)).as("sz"))
    val szr = tr.groupBy("doc").agg(count(lit(1)).as("sz"))
    val brute = tl.alias("a").join(tr.alias("b"),
        col("a.tok") === col("b.tok"))
      .groupBy(col("a.doc").as("id_a"), col("b.doc").as("id_b"))
      .agg(count(lit(1)).as("inter"))
      .join(szl.select($"doc".as("id_a"), $"sz".as("sz_a")), Seq("id_a"))
      .join(szr.select($"doc".as("id_b"), $"sz".as("sz_b")), Seq("id_b"))
      .filter($"inter" * 1000000L >= ($"sz_a" + $"sz_b" - $"inter") * 700000L)
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    for (gate <- Seq(Dedup.AllPairsDenseVocabMax, 0L)) {
      val mine = Dedup.allPairsJoin(docs, right, "doc_id", "text", 0.7,
          denseVocabMax = gate)
        .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
      assert(mine == brute,
        s"gate=$gate missing=${brute -- mine} extra=${mine -- brute}")
    }
  }

  test("allPairs dense arm: dispatch pinned both directions of the signature guard") {
    // r9 (r8 verdict #1): the dense arm's D² sweep is guarded on MEASURED
    // distinct-signature count, not just vocabulary. Default ceilings on
    // the 31-token corpus → dense arm (plan carries the signature-sweep
    // BroadcastNestedLoopJoin); denseSigMax = 0 rejects at the guard →
    // prefix arm (equi-join only, no BNLJ anywhere), same exact result.
    val dense = Dedup.allPairs(docs, "doc_id", "text", 0.7)
    assert(dense.queryExecution.executedPlan.toString
      .contains("BroadcastNestedLoopJoin"),
      "dense arm did not engage on the small-vocab corpus")
    val guarded = Dedup.allPairs(docs, "doc_id", "text", 0.7,
      denseSigMax = 0)
    assert(!guarded.queryExecution.executedPlan.toString
      .contains("BroadcastNestedLoopJoin"),
      "signature guard did not fall back to the prefix arm")
    val a = dense.select($"doc_a", $"doc_b").as[(Long, Long)]
      .collect().toSet
    val b = guarded.select($"doc_a", $"doc_b").as[(Long, Long)]
      .collect().toSet
    assert(a == b, s"fallback diverges: ${a -- b} / ${b -- a}")
    // join form: same two directions
    val right = docs.select(($"doc_id" + 10000).as("doc_id"),
      concat($"text", lit(" zz")).as("text"))
    val dj = Dedup.allPairsJoin(docs, right, "doc_id", "text", 0.7)
    assert(dj.queryExecution.executedPlan.toString
      .contains("BroadcastNestedLoopJoin"))
    val gj = Dedup.allPairsJoin(docs, right, "doc_id", "text", 0.7,
      denseSigMax = 0)
    assert(!gj.queryExecution.executedPlan.toString
      .contains("BroadcastNestedLoopJoin"))
    val aj = dj.select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    val bj = gj.select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    assert(aj == bj, s"join fallback diverges: ${aj -- bj} / ${bj -- aj}")
  }

  test("semanticDedup/semanticNovelty: pre-trained serving path ≡ inline training") {
    // r9 (r8 verdict #5): the "train once offline" overloads must
    // reproduce the convenience forms bit-for-bit when handed the same
    // centroids — ivfTrain is deterministic (hash-ordered sample,
    // farthest-point init), so inline training on the same corpus
    // yields the same model
    val cents = Similarity.ivfTrain(emb, "vec_id", "embedding", 32)
    val inline = Dedup.semanticDedup(emb, "vec_id", "embedding", 32, 0.95)
      .select($"vec_id", $"kept").as[(Long, Boolean)].collect().toSet
    val served = Dedup.semanticDedup(emb, "vec_id", "embedding", cents,
        0.95)
      .select($"vec_id", $"kept").as[(Long, Boolean)].collect().toSet
    assert(inline == served)
    val batch = emb.filter(pmod($"vec_id", lit(5)) === 0)
      .select(($"vec_id" + 200000).as("vec_id"), $"embedding")
      .unionByName(emb.filter(pmod($"vec_id", lit(7)) === 0)
        .select(($"vec_id" + 300000).as("vec_id"),
          transform($"embedding", x => -x).as("embedding")))
    val inlineNov = Dedup.semanticNovelty(batch, emb, "vec_id",
        "embedding", 32, 0.95)
      .as[(Long, Boolean)].collect().toSet
    val idxCells = Similarity.ivfAssign(emb, "vec_id", "embedding", cents)
      .select($"cell", $"embedding")
    val servedNov = Dedup.semanticNovelty(batch, idxCells, "vec_id",
        "embedding", cents, 0.95, 1)
      .as[(Long, Boolean)].collect().toSet
    assert(inlineNov == servedNov)
  }

  test("servingNlist sizing rule and large-nlist semanticDedup keeps min ids") {
    // the rule: constant mean cell population, clamped to [1, n]
    assert(Similarity.servingNlist(1000) == 7)
    assert(Similarity.servingNlist(50) == 1)
    assert(Similarity.servingNlist(1280000) == 10000)
    assert(Similarity.servingNlist(1000, targetCell = 100) == 10)
    // past MaxUnrolledCentroids the native flat argmin still serves
    // semanticDedup (constant code size at any nlist): on an
    // exact-copy corpus (copies co-locate under ANY deterministic
    // assignment; the far-apart bases never reach 0.95) every copy
    // group keeps exactly its min id, as it does at 32 centroids
    val dim = 8
    val bases = (0 until 6).map(b =>
      Array.tabulate(dim)(d => if (d == b) 1.0 else 0.0))
    val corpus = bases.zipWithIndex.flatMap { case (v, i) =>
      Seq((i.toLong, v.toSeq), (i + 100L, v.toSeq)) }
      .toDF("vec_id", "embedding")
    val bigCents = Array.tabulate(
      Similarity.MaxUnrolledCentroids + 1)(i =>
        Array.tabulate(dim)(d => math.sin(i * dim + d)))
    val big = Dedup.semanticDedup(corpus, "vec_id", "embedding",
        bigCents, 0.95)
      .select($"vec_id", $"kept").as[(Long, Boolean)].collect().toMap
    val flat = Dedup.semanticDedup(corpus, "vec_id", "embedding",
        bigCents.take(32), 0.95)
      .select($"vec_id", $"kept").as[(Long, Boolean)].collect().toMap
    assert(big == flat)
    assert((0 until 6).forall(i => big(i.toLong) && !big(i + 100L)))
    // the same at full embedding width: exact copies drop exactly the
    // high id
    val bigCents64 = Array.tabulate(
      Similarity.MaxUnrolledCentroids + 1)(i =>
        Array.tabulate(64)(d => math.sin(i * 64 + d)))
    val doubled = emb.select($"vec_id", $"embedding").unionByName(
      emb.select(($"vec_id" + 100000).as("vec_id"), $"embedding"))
    val wide = Dedup.semanticDedup(doubled, "vec_id", "embedding",
        bigCents64, 0.95)
    assert(wide.filter(!$"kept").count() == emb.count())
    assert(wide.filter(!$"kept" && $"vec_id" < 100000).count() == 0)
  }

  test("dedupAssigned rep-collapse: randomized keep/drop parity sweep") {
    // r16 — seeded adversarial corpora for the rep-collapse derivation:
    // small integer-grid vectors FORCE exact-duplicate groups, shared
    // cells, and near-threshold pairs; every seed must agree with the
    // naive pair join exactly, at a mid threshold and at the T = 1.0
    // rounded-self-cosine edge. (Zero vectors are excluded here — the
    // naive oracle throws on them by construction; the main test pins
    // that divergence explicitly.)
    val cents = Array(Array(4.0, 0.0, 0.0), Array(0.0, 4.0, 0.0),
      Array(0.0, 0.0, 4.0), Array(2.0, 2.0, 2.0))
    for (seed <- 1 to 6) {
      val rnd = new scala.util.Random(seed)
      val n = 40 + rnd.nextInt(40)
      val data = (0 until n).map { i =>
        (i.toLong, Seq.fill(3)((rnd.nextInt(5) + 1).toFloat))
      }
      val corpus = spark.createDataFrame(data.toSeq)
        .toDF("vec_id", "embedding")
      val assigned = Similarity.ivfAssign(corpus, "vec_id", "embedding",
        cents)
      for (t <- Seq(0.9, 1.0)) {
        val fast = Dedup.semanticDedup(corpus, "vec_id", "embedding",
            cents, t)
          .select($"vec_id", $"cell", $"kept")
          .as[(Long, Int, Boolean)].collect().toSet
        val naive = Dedup.dedupAssignedPairJoin(assigned, "vec_id",
            "embedding", t)
          .select($"vec_id", $"cell", $"kept")
          .as[(Long, Int, Boolean)].collect().toSet
        assert(fast == naive, s"seed $seed threshold $t")
      }
    }
  }

  test("Round6 equals SQL round(x, 6) on real cosines and planted values") {
    // r17: the similarity grain moved off SQL round (a BigDecimal
    // dtoa per call — the dominant per-pair cost, see Round6's
    // scaladoc) onto arithmetic half-away-from-zero rounding. Pin
    // value equality against SQL round over every pairwise cosine the
    // real corpus produces, plus planted signs/edges. (Exact decimal
    // .xxxxxx5 boundaries are not representable in binary, so both
    // forms see a value strictly off the half line — divergence would
    // need the true expansion within ~1e-10 of it, absent here and
    // measured absent in the corpus.)
    def dot(x: org.apache.spark.sql.Column, y: org.apache.spark.sql.Column) =
      graft.functions.DotProduct(x, y)
    val e = emb.limit(200).select($"vec_id", $"embedding")
    val raw = e.alias("a").crossJoin(e.alias("b"))
      .select((dot($"a.embedding", $"b.embedding") /
        sqrt(dot($"a.embedding", $"a.embedding") *
          dot($"b.embedding", $"b.embedding"))).as("x"))
    assert(raw.filter(graft.functions.Round6($"x") =!= round($"x", 6))
      .count() == 0)
    assert(raw.filter($"x".isNull).count() == 0) // the pin saw real rows
    val planted = Seq(0.1234565, -0.1234565, 0.9999995, -0.9999995,
      1.0, -1.0, 0.9999994999, -0.0000005, 5e-7, 0.0, -0.0,
      Double.NaN, Double.PositiveInfinity, Double.NegativeInfinity)
      .toDF("x")
    val diff = planted
      .select($"x", graft.functions.Round6($"x").as("a"),
        round($"x", 6).as("b"))
      .filter(!($"a" <=> $"b")) // null-safe: NaN <=> NaN is true
      .collect()
    assert(diff.isEmpty, diff.mkString(", "))
    // null propagates like SQL round
    assert(Seq(Option.empty[Double]).toDF("x")
      .select(graft.functions.Round6($"x")).head.isNullAt(0))
  }

  test("dedupAssigned salt split: over-cap cells bounded, per-bucket exact, sound") {
    // r17 (r16 verdict #1): DISTINCT-vector near-dup skew — a jittered
    // clique of J distinct near-identical vectors lands in ONE cell,
    // where the rep pair join is J². Past maxCellGroups the cell's
    // groups salt-split into ceil(gcnt/cap) hash buckets; the
    // documented semantics is EXACTLY "naive dedup per (cell, salt)
    // bucket" — pinned here bucket-for-bucket — plus the soundness
    // direction (the split never drops a row the exact form keeps) and
    // the exact-duplicate guarantee (identical vectors share a bucket,
    // so the r16 rep collapse is untouched by the split).
    val cents = Array(Array(1.0, 0.0, 0.0), Array(0.0, 1.0, 0.0))
    val cap = 8
    // 60 DISTINCT near-identical vectors (cell 0, pairwise cosine
    // ≈ 1 ≫ 0.9), 5 EXACT copies of the i = 0 vector at higher ids,
    // and an under-cap second cell with no qualifying pairs
    val clique = (0 until 60).map(i =>
      (i.toLong, Seq(100.0f + i * 1e-3f, 1.0f, 1.0f)))
    val dups = (0 until 5).map(j =>
      (1000L + j, Seq(100.0f, 1.0f, 1.0f)))
    val other = (0 until 4).map(i =>
      (2000L + i, Seq(0.0f, 1.0f, i * 1.0f)))
    val corpus = (clique ++ dups ++ other).toDF("vec_id", "embedding")
    val assigned = Similarity.ivfAssign(corpus, "vec_id", "embedding",
      cents).localCheckpoint()
    def keep(df: org.apache.spark.sql.DataFrame): Map[Long, Boolean] =
      df.select($"vec_id", $"kept").as[(Long, Boolean)].collect().toMap
    val t = 0.9
    val exact = keep(Dedup.dedupAssignedPairJoin(assigned, "vec_id",
      "embedding", t))
    // the SALT-ONLY arm (pivotWidth = 0) and the SHIPPED form (pivot
    // peel at the default width, which covers this 60-group cell
    // entirely — the peel's exactness pin)
    val saltOnly = keep(Dedup.dedupAssigned(assigned, "vec_id",
      "embedding", t, maxCellGroups = cap, pivotWidth = 0))
    val peeled = keep(Dedup.dedupAssigned(assigned, "vec_id", "embedding",
      t, maxCellGroups = cap))
    // (a) default cap on this corpus: exact parity (61 groups < 8192)
    assert(keep(Dedup.dedupAssigned(assigned, "vec_id", "embedding", t))
      == exact)
    // (b) the pivot peel RESOLVES the whole over-cap cell here (60
    //     groups ≤ PivotPeelWidth) — the shipped form is EXACT even
    //     though the cell is split
    assert(peeled == exact)
    // (c) soundness: every drop either form makes, the exact form makes
    def dropped(m: Map[Long, Boolean]) =
      m.collect { case (id, false) => id }.toSet
    assert(dropped(saltOnly).subsetOf(dropped(exact)))
    assert(dropped(peeled).subsetOf(dropped(exact)))
    // (d) monotone sandwich: pivot evidence only ADDS real drops
    assert(dropped(saltOnly).subsetOf(dropped(peeled)))
    // (e) the global min id survives every form
    assert(saltOnly(0L) && peeled(0L) && exact(0L))
    // (f) salt-only: the clique keeps at most ceil(gcnt/cap)
    //     representatives (61 groups in cell 0 → 8 buckets), and more
    //     than the exact form's single one — the split engaged and its
    //     loss is the documented bound
    val cliqueKept = saltOnly.collect {
      case (id, true) if id < 1000L => id }
    assert(cliqueKept.size > 1 && cliqueKept.size <= 8, cliqueKept)
    // (g) exact duplicates of the min vector share its bucket and drop
    assert((1000L until 1005L).forall(id => !saltOnly(id)))
    assert((1000L until 1005L).forall(id => !peeled(id)))
    // (h) the salt-only documented semantics: naive per (cell, salt)
    //     bucket, reconstructed with the same salt expression
    val counts = assigned.filter($"vec_id".isNotNull)
      .groupBy($"cell")
      .agg(countDistinct($"embedding").as("gcnt"))
    val salted = assigned.join(counts, Seq("cell"), "left")
      .withColumn("salt", when($"gcnt" > cap,
          pmod(xxhash64($"embedding"),
            ceil($"gcnt" / lit(cap.toDouble))))
        .otherwise(lit(0L)))
      .localCheckpoint()
    val buckets = salted.select($"cell", $"salt").distinct()
      .as[(Int, Long)].collect()
    val perBucket = buckets.map { case (c, s) =>
      keep(Dedup.dedupAssignedPairJoin(
        salted.filter($"cell" === c && $"salt" === s)
          .select($"vec_id", $"cell", $"embedding"),
        "vec_id", "embedding", t))
    }.reduce(_ ++ _)
    assert(saltOnly == perBucket)
  }

  test("pivot peel: unreachable residual stays salted, reachable cluster exact") {
    // r17 — the over-cap shape the peel does NOT fully cover: one cell
    // holding TWO distant jitter clusters. Pivots (smallest min-ids)
    // all live in cluster A, so A resolves exactly (one rep); cluster
    // B is pivot-unreachable and falls back to the salted buckets
    // (≤ ceil(gcnt/cap) reps). Monotone sandwich pinned throughout.
    val cents = Array(Array(1.0, 0.0, 0.0), Array(-1.0, 0.0, 0.0))
    // both clusters assign to cell 0; cross-cluster cosine ≈ 0.22 < t
    val clusterA = (0 until 30).map(i =>
      (i.toLong, Seq(5.0f, 4.0f, i * 1e-4f)))
    val clusterB = (0 until 30).map(i =>
      (100L + i, Seq(5.0f, -4.0f, i * 1e-4f)))
    val corpus = (clusterA ++ clusterB).toDF("vec_id", "embedding")
    val assigned = Similarity.ivfAssign(corpus, "vec_id", "embedding",
      cents).localCheckpoint()
    assert(assigned.select($"cell").distinct().count() == 1)
    def keep(df: org.apache.spark.sql.DataFrame): Map[Long, Boolean] =
      df.select($"vec_id", $"kept").as[(Long, Boolean)].collect().toMap
    def dropped(m: Map[Long, Boolean]) =
      m.collect { case (id, false) => id }.toSet
    val t = 0.9
    val exact = keep(Dedup.dedupAssignedPairJoin(assigned, "vec_id",
      "embedding", t))
    // pivotWidth = 4 < cluster size: pivots are A's four smallest ids
    val peeled = keep(Dedup.dedupAssigned(assigned, "vec_id",
      "embedding", t, maxCellGroups = 8, pivotWidth = 4))
    val saltOnly = keep(Dedup.dedupAssigned(assigned, "vec_id",
      "embedding", t, maxCellGroups = 8, pivotWidth = 0))
    // cluster A: pivot-reachable → exactly the naive answer (id 0 the
    // only survivor)
    assert(peeled(0L))
    assert((1L until 30L).forall(id => !peeled(id)), "A not collapsed")
    // cluster B: pivot-unreachable → the salted bound applies (60
    // groups in the cell → 8 buckets), MORE than naive's single rep
    val bKept = peeled.collect { case (id, true) if id >= 100L => id }
    assert(bKept.size > 1 && bKept.size <= 8, bKept)
    assert(peeled(100L), "B's min id must survive")
    // monotone sandwich: exact ⊇ peeled ⊇ salt-only in dropped sets
    assert(dropped(peeled).subsetOf(dropped(exact)))
    assert(dropped(saltOnly).subsetOf(dropped(peeled)))
    // and the B-side keep/drop is bucket-for-bucket the salt-only
    // form's (the peel touches only pivot-reachable groups here)
    assert(peeled.filter(_._1 >= 100L) == saltOnly.filter(_._1 >= 100L))
  }

  test("dedupAssigned rep-collapse: keep/drop parity with the naive pair join") {
    // r16 (r15 verdict #1): the within-cell pair join now runs over one
    // representative per distinct (cell, vector) — the naive Σ|cell|²
    // self-join is the parity oracle. The corpus plants the exact
    // hazard: a hot exact-duplicate cluster (k-means packs identical
    // boilerplate embeddings into ONE cell), a doubled tail, and the
    // degenerate shapes (zero vector → cosine NaN, NaN element → null
    // cell, null embedding).
    val cents = Similarity.ivfTrain(emb, "vec_id", "embedding", 32)
    val v0 = emb.orderBy($"vec_id").limit(1).select($"embedding")
    val hot = spark.range(400).crossJoin(v0)
      .select(($"id" + 400000L).as("vec_id"), $"embedding")
    val edges = Seq(
      (500002L, Some(Float.NaN +: Seq.fill(63)(1.0f))),
      (500003L, Option.empty[Seq[Float]]))
      .toDF("vec_id", "embedding")
    val corpus = emb.select($"vec_id", $"embedding")
      .unionByName(emb.select(($"vec_id" + 100000L).as("vec_id"),
        $"embedding"))
      .unionByName(hot).unionByName(edges)
    def norm(df: org.apache.spark.sql.DataFrame)
        : Set[(Long, Option[Int], Boolean)] =
      df.select($"vec_id", $"cell", $"kept")
        .as[(Long, Option[Int], Boolean)].collect().toSet
    for (t <- Seq(0.95, 1.0)) {
      val assigned = Similarity.ivfAssign(corpus, "vec_id", "embedding",
        cents)
      val fast = norm(Dedup.semanticDedup(corpus, "vec_id", "embedding",
        cents, t))
      val naive = norm(Dedup.dedupAssignedPairJoin(assigned, "vec_id",
        "embedding", t))
      assert(fast == naive, s"threshold $t")
      // the hot cluster is entirely dropped: its vector is v0's, whose
      // original lower-id row co-locates (identical vectors, same
      // cell) and the rounded self-cosine is exactly 1.0 — mutual
      // duplicates even at t = 1.0
      val hotKept = fast.collect {
        case (id, _, true) if id >= 400000L && id < 400400L => id }
      assert(hotKept.isEmpty, s"threshold $t: $hotKept")
    }
    // degenerate shapes are all kept (cosine NaN / null never ≥ T) and
    // both land in the null cell
    val out = norm(Dedup.semanticDedup(corpus, "vec_id", "embedding",
      cents, 0.95)).filter(_._1 >= 500002L)
    assert(out == Set((500002L, Option.empty[Int], true),
      (500003L, Option.empty[Int], true)))
    // a ZERO vector is KEPT, not crashed on (the deliberate
    // divergence): its undefined cosine is NULL under cosineZeroSafe
    // and passes no threshold; the NAIVE form evaluates its cosine
    // condition on the hash SELF-match before the id< guard, so under
    // ANSI a zero vector is a DIVIDE_BY_ZERO error — pin both
    val tiny = Seq(
      (1L, Seq(1.0f, 0.0f)), (2L, Seq(0.0f, 1.0f)),
      (3L, Seq(-1.0f, 0.0f)), (4L, Seq(0.0f, 0.0f)))
      .toDF("vec_id", "embedding")
    val tinyCents = Array(Array(1.0, 0.0), Array(0.0, 1.0),
      Array(-1.0, 0.0), Array(0.0, 0.0))
    val tinyOut = norm(Dedup.semanticDedup(tiny, "vec_id", "embedding",
      tinyCents, 0.5))
    assert(tinyOut.forall(_._3), tinyOut)
    assert(tinyOut.map(_._1) == Set(1L, 2L, 3L, 4L))
    val naiveErr = intercept[Exception] {
      Dedup.dedupAssignedPairJoin(
        Similarity.ivfAssign(tiny, "vec_id", "embedding", tinyCents),
        "vec_id", "embedding", 0.5).collect()
    }
    assert(naiveErr.toString.contains("DIVIDE_BY_ZERO"), naiveErr)
  }

  test("loop-form assignment equals the unrolled form cell-for-cell") {
    // the forms share the exact score arithmetic (same DotProduct
    // expression per element, same first-min tie rule), so the
    // assignment must be BIT-equal — this is what lets the native
    // expression (r15) stand in for the unrolled form without changing
    // any caller's semantics.
    // Three-way: native (nearestCell) == unrolled column form ==
    // loop column form.
    val cents = Similarity.ivfTrain(emb, "vec_id", "embedding", 32)
    val flatCells = emb.select($"vec_id",
        Similarity.nearestCell($"embedding", cents).as("cell"))
      .as[(Long, Int)].collect().toMap
    val columnCells = emb.select($"vec_id",
        Similarity.nearestCellColumnForm($"embedding", cents).as("cell"))
      .as[(Long, Int)].collect().toMap
    assert(flatCells == columnCells)
    val loopCells = emb.select($"vec_id",
        Similarity.nearestCellLoop($"embedding", cents).as("cell"))
      .as[(Long, Int)].collect().toMap
    assert(flatCells == loopCells)
    // NULL embedding → NULL cell on the loop path too
    val withNull = emb.select($"vec_id", $"embedding").limit(3)
      .unionByName(Seq((999999L, Option.empty[Seq[Double]]))
        .toDF("vec_id", "embedding"))
    assert(withNull.select($"vec_id",
        Similarity.nearestCellLoop($"embedding", cents).as("c"))
      .as[(Long, Option[Int])].collect().toMap.apply(999999L).isEmpty)
  }

  test("tokenDrift: ppm math integer-exact, top-k tie-broken by token") {
    val df = Seq(("p", "a a b"), ("q", "a c c c"))
      .toDF("slice", "text")
    val got = TextAnalysis.tokenDrift(df, "text", $"slice" === "p", 10)
      .as[(String, Long, Long, Long, Long, Long)].collect().toSeq
    // P totals 3: a=2,b=1 → ppm 666666, 333333; Q totals 4: a=1,c=3 →
    // 250000, 750000. deltas: c -750000, b +333333, a +416666
    assert(got == Seq(
      ("c", 0L, 3L, 0L, 750000L, -750000L),
      ("a", 2L, 1L, 666666L, 250000L, 416666L),
      ("b", 1L, 0L, 333333L, 0L, 333333L)))
  }

  test("simhash: identical text → distance 0, perturbed text → small distance") {
    val d = Seq((0L, "the quick brown fox jumps over the lazy dog again and again"),
      (1L, "the quick brown fox jumps over the lazy dog again and again"),
      (2L, "completely different words entirely unrelated content here now"))
      .toDF("doc_id", "text")
    val sh = Dedup.simhash(d, "doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sh(0L) == sh(1L))
    val dist = java.lang.Long.bitCount(sh(0L) ^ sh(2L))
    assert(dist > 0)
  }

  test("SimHash60 expression is bit-exact with the relational form") {
    // the map-only codegen expression vs the independent explode +
    // groupBy computation path, over the real corpus plus edge shapes
    val edge = Seq((100001L, ""), (100002L, "   \t  "),
      (100003L, "one"), (100004L, "  padded   tokens  here "),
      (100005L, "MiXeD Case TOKENS"))
      .toDF("doc_id", "text")
    val d = docs.select($"doc_id", $"text").unionByName(edge)
    val fast = Dedup.simhash(d, "doc_id", "text")
    val slow = Dedup.simhashRelational(d, "doc_id", "text")
    assert(fast.exceptAll(slow).count() == 0)
    assert(slow.exceptAll(fast).count() == 0)
    // zero-token docs are absent from BOTH surfaces
    assert(fast.filter($"doc" === 100001L || $"doc" === 100002L)
      .count() == 0)
    // and the expression's plan carries no exchange — map-only
    val plan = fast.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"signature plan shuffles:\n$plan")
  }

  test("softWeights plans exactly ONE exchange (count-window on the hash)") {
    val d = Seq((0L, "x"), (1L, "y")).toDF("doc_id", "text")
    val plan = Dedup.softWeights(d, $"doc_id", $"text")
      .queryExecution.executedPlan.toString
    // the operator's scale contract: the corpus crosses the wire ONCE,
    // partitioned by the content hash — no join-back, no second shuffle
    // (string count — AQE's wrapper hides the inner plan from collect)
    assert("Exchange hashpartitioning".r.findAllIn(plan).length == 1,
      s"expected 1 exchange:\n$plan")
  }

  test("simhash banding is exact past 2^53 (double-division regression)") {
    // band 0 (bits 0-14) = 100 on both sides; the three flipped bits sit
    // one per band 1..3, so band 0 is the ONLY shared band and hamming
    // is exactly 3. sa >= 2^59 has double-ulp 128, so the former
    // long-DOUBLE division rounded its band 0 to 128 (sb, topping out at
    // bit 35, stayed exact at 100) — the pair never met and the banded
    // join silently lost a qualifying candidate.
    val sa = (1L << 59) | 100L
    val sb = 100L | (1L << 35) | (1L << 20)
    val sig = Seq(sa, sb).toDF("simhash")
    val pairs = Dedup.simhashSigPairs(sig, maxHamming = 3).collect()
    assert(pairs.length == 1)
    assert(pairs.head.getLong(0) == math.min(sa, sb) &&
      pairs.head.getLong(1) == math.max(sa, sb))
  }

  test("minhashClusters: signature-space CC, cap semantics, twin collapse") {
    // doubled corpus: every text appears under two ids → every signature
    // fingerprint has (at least) a twin
    val base = docs.limit(40).select($"doc_id", $"text")
    val u = base.unionByName(
      base.select(($"doc_id" + 10000).as("doc_id"), $"text"))
    val out = Dedup.minhashClusters(u, "doc_id", "text").cache()
    assert(out.count() == 80)
    // twins share a rep, rep is the min id of its component, keep iff rep
    val twins = out.alias("a").join(out.alias("b"),
      col("a.doc") + 10000 === col("b.doc"))
    assert(twins.filter(col("a.rep") =!= col("b.rep")).count() == 0)
    assert(out.filter($"keep" =!= ($"doc" === $"rep")).count() == 0)
    assert(out.filter($"rep" > $"doc").count() == 0)
    // a cap of 1 excludes EVERY band bucket (each holds >= 2 docs), so
    // cross-signature edges vanish — but identical-signature twins are
    // one NODE, not an edge, and still collapse (the documented
    // signature-space improvement over doc-space cap semantics)
    val capped = Dedup.minhashClusters(u, "doc_id", "text",
      maxBucketSize = Some(1)).cache()
    val cappedTwins = capped.alias("a").join(capped.alias("b"),
      col("a.doc") + 10000 === col("b.doc"))
    assert(cappedTwins.filter(col("a.rep") =!= col("b.rep")).count() == 0)
    // and the capped graph is never COARSER than the uncapped one:
    // every capped-together pair is also together uncapped
    val pairsOf = (d: org.apache.spark.sql.DataFrame) =>
      d.alias("x").join(d.alias("y"),
        col("x.rep") === col("y.rep") && col("x.doc") < col("y.doc"))
        .select(col("x.doc").as("a"), col("y.doc").as("b"))
    assert(pairsOf(capped).exceptAll(pairsOf(out)).count() == 0)
  }

  test("minhashEstimate: twins estimate 1.0, values quantized to k-ths") {
    val base = docs.limit(40).select($"doc_id", $"text")
    val u = base.unionByName(
      base.select(($"doc_id" + 10000).as("doc_id"), $"text"))
    val est = Dedup.minhashEstimate(u, "doc_id", "text",
      Dedup.minhashCandidates(u, "doc_id", "text")).cache()
    // identical texts agree on every signature component
    assert(est.filter($"id_b" === $"id_a" + 10000 && $"est_jaccard" =!= 1.0)
      .count() == 0)
    // the estimator is m/16 — in [0,1] and binary-exact
    assert(est.filter($"est_jaccard" < 0 || $"est_jaccard" > 1).count() == 0)
    assert(est.filter(($"est_jaccard" * 16) =!=
      round($"est_jaccard" * 16)).count() == 0)
  }

  test("MinHashSig expression is bit-exact with the relational form") {
    // map-only k-minima vs the window-lead + explode + min-aggregate
    // path, over the real corpus plus short-document edge shapes (fewer
    // tokens than the shingle width → one all-tokens shingle)
    val edge = Seq((100001L, "one"), (100002L, "two words"),
      (100003L, "  padded   tokens  "), (100004L, "MiXeD Case"))
      .toDF("doc_id", "text")
    val d = docs.select($"doc_id", $"text").unionByName(edge)
    val fast = Dedup.minhashSignature(d, "doc_id", "text", 3, 16)
    val slow = Dedup.minhashSignatureRelational(d, "doc_id", "text", 3, 16)
    assert(fast.exceptAll(slow).count() == 0)
    assert(slow.exceptAll(fast).count() == 0)
    // map-only: the signature plan carries no exchange
    val plan = fast.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"signature plan shuffles:\n$plan")
  }

  test("brute-force top-k: k rows per query, descending, self excluded") {
    val out = Similarity.bruteForceTopK(emb, emb.filter($"vec_id" < 3),
      "vec_id", "embedding", 5).cache()
    assert(out.count() == 15)
    assert(out.filter($"query_id" === $"vec_id").count() == 0)
    val per = out.groupBy("query_id").agg(count(lit(1)).as("n"),
      min("cos").as("mn"), max("cos").as("mx")).collect()
    per.foreach { r => assert(r.getLong(1) == 5) }
  }

  test("LSH top-k achieves reasonable recall vs brute force") {
    val q = emb.filter($"vec_id" < 10)
    val exact = Similarity.bruteForceTopK(emb, q, "vec_id", "embedding", 10)
      .select("query_id", "vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val approx = Similarity.lshTopK(emb, q, "vec_id", "embedding", 10)
      .select("query_id", "vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact & approx).size.toDouble / exact.size
    // 8-plane single-probe LSH on random-ish vectors: modest but real recall
    assert(recall > 0.1, s"recall=$recall")
    // and it must actually prune: candidates examined < full corpus per query
    assert(approx.size <= exact.size)
  }

  test("random-projection top-k: recall vs brute force, shortlist=k degenerates, exact scores") {
    val q = emb.filter($"vec_id" < 10)
    val exactDf = Similarity.bruteForceTopK(emb, q, "vec_id", "embedding", 10)
    val exact = exactDf.select("query_id", "vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val rp = Similarity.rpTopK(emb, q, "vec_id", "embedding", 10,
      shortlist = 40)
    val rpSet = rp.select("query_id", "vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact & rpSet).size.toDouble / exact.size
    // 16-dim sign projection of 64-dim RANDOM unit vectors (the JL
    // worst case — true cosines barely separate from the bulk) with a
    // 4×k shortlist: measured 0.49 on sf0.01 (0.30 at 2×k, 0.64 at
    // 8×k); the 0.35 gate leaves margin but fails loudly on a
    // degenerate matrix (the rank-1 parity bug measured 0.05)
    assert(recall > 0.35, s"recall=$recall")
    // scores the operator reports are the EXACT cosines: every
    // (query, vec) pair it shares with brute force carries the same cos
    val exactScores = exactDf.select("query_id", "vec_id", "cos").collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    rp.select("query_id", "vec_id", "cos").collect().foreach { r =>
      val key = (r.getLong(0), r.getLong(1))
      exactScores.get(key).foreach(c => assert(c == r.getDouble(2)))
    }
    // a wider shortlist can only help: at shortlist=corpus the result
    // IS brute force
    val full = Similarity.rpTopK(emb, q, "vec_id", "embedding", 10,
        shortlist = emb.count().toInt)
      .select("query_id", "vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(full == exact)
    // shortlist must cover k
    intercept[IllegalArgumentException] {
      Similarity.rpTopK(emb, q, "vec_id", "embedding", 10, shortlist = 5)
    }
  }

  test("RP plan pins: lean rank window, staged projection survives CollapseProject") {
    val old = spark.conf.getOption("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      // rpTopK's candidate rank window must not carry the 256-byte
      // raw vectors through its exchange — only (query_id, vec_id, pcos)
      import org.apache.spark.sql.execution.window.WindowExec
      import org.apache.spark.sql.types.ArrayType
      val q = emb.filter($"vec_id" < 5)
      val plan = Similarity.rpTopK(emb, q, "vec_id", "embedding", 10,
        shortlist = 40).queryExecution.executedPlan
      val windows = plan.collect { case w: WindowExec => w }
      assert(windows.nonEmpty)
      val pcosWindow = windows.filter(
        _.child.output.exists(_.name == "pcos"))
      assert(pcosWindow.nonEmpty)
      assert(pcosWindow.forall(_.child.output.forall(a =>
        !a.dataType.isInstanceOf[ArrayType])),
        "raw vector columns leaked into the rank-window exchange")
    } finally old match {
      case Some(o) => spark.conf.set("spark.sql.adaptive.enabled", o)
      case None => spark.conf.unset("spark.sql.adaptive.enabled")
    }
  }

  test("IVF×JL composed top-k: recall floor, lean rank window, staged projection") {
    // r15 (r14 verdict #4): ivfTopKRp stacks the IVF cell trade with
    // the JL shortlist trade; deterministic end-to-end, so the floor is
    // a fixed number per corpus — measured 0.50 min at
    // nprobe=16/shortlist=200 on sf0.001 (RpIvfProbe; 0.60 on sf0.01,
    // the driver's scale; plain IVF at nprobe=12 measures 0.60 here)
    val cents = Similarity.ivfTrain(emb, "vec_id", "embedding", 32)
    val q = emb.filter($"vec_id" < 5)
    val rec = Similarity.ivfRpRecall(emb, q, "vec_id", "embedding", 10,
        cents, nprobe = 16, shortlist = 200)
      .select($"recall").as[Double].collect()
    assert(rec.min >= 0.45, s"min recall ${rec.min} below the floor band")
    info(s"IVF×JL recall per query: ${rec.mkString(",")}")
    // shortlist ≥ probed population degenerates to exact-within-cells:
    // every true neighbor found in a probed cell must surface
    val full = Similarity.ivfTopKRp(emb, q, "vec_id", "embedding", 10,
        cents, nprobe = 32, shortlist = 1000000)
      .select($"query_id", $"vec_id").as[(Long, Long)].collect().toSet
    val exact = Similarity.bruteForceTopK(emb, q, "vec_id", "embedding",
        10).select($"query_id", $"vec_id").as[(Long, Long)].collect().toSet
    assert(full == exact,
      "all-cell, unbounded-shortlist IVF×JL must equal brute force")
    // plan pins (the RP conventions): the pcos rank window ships only
    // (query_id, vec_id, pcos) — never the raw or projected arrays —
    // and the corpus-side projection stays staged against
    // CollapseProject (inlined, every per-centroid term re-evaluates it)
    val old = spark.conf.getOption("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      import org.apache.spark.sql.execution.window.WindowExec
      import org.apache.spark.sql.types.ArrayType
      val plan = Similarity.ivfTopKRp(emb, q, "vec_id", "embedding", 10,
        cents, nprobe = 16, shortlist = 200).queryExecution.executedPlan
      val pcosWindow = plan.collect { case w: WindowExec => w }
        .filter(_.child.output.exists(_.name == "pcos"))
      assert(pcosWindow.nonEmpty)
      assert(pcosWindow.forall(_.child.output.forall(a =>
        !a.dataType.isInstanceOf[ArrayType])),
        "array columns leaked into the rank-window exchange")
      assert(plan.toString.contains("__graft_rp"),
        "projection was collapsed into the argmin")
    } finally old match {
      case Some(o) => spark.conf.set("spark.sql.adaptive.enabled", o)
      case None => spark.conf.unset("spark.sql.adaptive.enabled")
    }
  }

  test("top-k serving large-query dispatch: shuffled regime ≡ broadcast regime, rpTopK rejects") {
    // r16 (r15 verdict #5): past MaxBroadcastQueries exploded probe
    // rows, ivfTopKRp runs the SAME joins unhinted (a shuffled cell
    // equi-join + shuffled rerank) instead of OOMing a corpus-scale
    // broadcast. The dispatch is plan-only — the results must be
    // row-for-row identical — and rpTopK, whose rank join has no equi
    // key to shuffle on, rejects loudly with the dispatch pointer.
    val cents = Similarity.ivfTrain(emb, "vec_id", "embedding", 32)
    // |Q| = |corpus| — the kNN-graph shape the dispatch exists for
    val q = emb.select($"vec_id", $"embedding")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select($"query_id", $"vec_id", $"rank")
        .as[(Long, Long, Int)].collect().toSet
    val small = Similarity.ivfTopKRp(emb, q, "vec_id", "embedding", 5,
      cents, nprobe = 8, shortlist = 20)
    val big = Similarity.ivfTopKRp(emb, q, "vec_id", "embedding", 5,
      cents, nprobe = 8, shortlist = 20, maxBroadcastRows = 10)
    assert(rows(small) == rows(big))
    // plan pins for both regimes. AQE off so the authored hints are
    // what's asserted, and auto-broadcast off so the pin isolates the
    // HINT: at spec scale the planner would size-broadcast every side
    // anyway (which is fine and size-bounded — the hazard the dispatch
    // removes is the unconditional hint on a corpus-scale side)
    val olds = Seq("spark.sql.adaptive.enabled",
      "spark.sql.autoBroadcastJoinThreshold")
      .map(k => k -> spark.conf.getOption(k))
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
      val smallPlan = Similarity.ivfTopKRp(emb, q, "vec_id", "embedding",
          5, cents, nprobe = 8, shortlist = 20)
        .queryExecution.executedPlan
      assert(smallPlan.collect {
        case j: BroadcastHashJoinExec => j }.nonEmpty,
        "small regime lost its broadcast candidate join")
      val bigPlan = Similarity.ivfTopKRp(emb, q, "vec_id", "embedding",
          5, cents, nprobe = 8, shortlist = 20, maxBroadcastRows = 10)
        .queryExecution.executedPlan
      assert(bigPlan.collect {
        case j: BroadcastHashJoinExec => j }.isEmpty,
        "large regime still broadcasts a corpus-scale side")
      assert(!bigPlan.toString.contains("CartesianProduct"),
        "large regime degenerated to a cartesian shuffle")
    } finally olds.foreach {
      case (k, Some(o)) => spark.conf.set(k, o)
      case (k, None) => spark.conf.unset(k)
    }
    val err = intercept[IllegalArgumentException] {
      Similarity.rpTopK(emb, q, "vec_id", "embedding", 5,
        maxBroadcastRows = 10)
    }
    assert(err.getMessage.contains("ivfTopKRp"), err.getMessage)
  }

  test("broadcast cap rescales by dOut (a bytes budget), Int.MaxValue disables") {
    // r17 (r16 verdict #5): MaxBroadcastQueries encodes ~20 MB at the
    // default dOut = 16; per-query broadcast bytes scale with dOut, so
    // the effective ROW cap is rescaled by RpDim/dOut — floored at 10k
    // rows, never above Int.MaxValue − 1 (so the guard's cap + 1
    // limit-count cannot overflow negative when a caller disables with
    // Int.MaxValue — the r16 ADVICE k + 1 class).
    import Similarity.scaledBroadcastCap
    assert(scaledBroadcastCap(100000, 16) == 100000)
    assert(scaledBroadcastCap(100000, 32) == 50000)
    assert(scaledBroadcastCap(100000, 256) == 10000) // the 10k floor
    assert(scaledBroadcastCap(100000, 8) == 200000) // narrower → more
    assert(scaledBroadcastCap(10, 256) == 10) // tiny explicit caps stay
    assert(scaledBroadcastCap(Int.MaxValue, 256) == Int.MaxValue - 1)
    assert(scaledBroadcastCap(Int.MaxValue, 16) == Int.MaxValue - 1)
    // regime pin at a NON-DEFAULT dOut: the same 12k query set that
    // the row cap admits at dOut = 16 (cap 200k) leaves the broadcast
    // regime at dOut = 512 (scaled cap = 10k floor < 12k rows)
    val q12k = spark.range(12000).crossJoin(emb.limit(1)
        .select($"embedding"))
      .select($"id".as("vec_id"), $"embedding").localCheckpoint()
    val errW = intercept[IllegalArgumentException] {
      Similarity.rpTopK(emb, q12k, "vec_id", "embedding", 5,
        shortlist = 10, dOut = 512, maxBroadcastRows = 200000)
    }
    assert(errW.getMessage.contains("dOut=512"), errW.getMessage)
    val cents = Similarity.ivfTrain(emb, "vec_id", "embedding", 8)
    val olds = Seq("spark.sql.adaptive.enabled",
      "spark.sql.autoBroadcastJoinThreshold")
      .map(k => k -> spark.conf.getOption(k))
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
      val narrow = Similarity.ivfTopKRp(emb, q12k, "vec_id", "embedding",
          5, cents, nprobe = 1, shortlist = 10,
          maxBroadcastRows = 200000)
        .queryExecution.executedPlan
      assert(narrow.collect {
        case j: BroadcastHashJoinExec => j }.nonEmpty,
        "dOut=16 regime lost its broadcast candidate join")
      val wide = Similarity.ivfTopKRp(emb, q12k, "vec_id", "embedding",
          5, cents, nprobe = 1, shortlist = 10, dOut = 512,
          maxBroadcastRows = 200000)
        .queryExecution.executedPlan
      assert(wide.collect {
        case j: BroadcastHashJoinExec => j }.isEmpty,
        "wide-dOut regime still broadcasts past the bytes budget")
      assert(!wide.toString.contains("CartesianProduct"))
    } finally olds.foreach {
      case (k, Some(o)) => spark.conf.set(k, o)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("simhash banded pairs: complete vs brute force, twins at distance 0") {
    val small = docs.limit(60)
    val u = small.select($"doc_id", $"text").unionByName(
      small.select(($"doc_id" + 10000).as("doc_id"), $"text"))
    val pairs = Dedup.simhashPairs(u, "doc_id", "text").cache()
    // every (d, d+10000) twin surfaces at distance 0
    assert(pairs.filter($"id_b" === $"id_a" + 10000 && $"dist" === 0)
      .count() == 60)
    // banded search is COMPLETE for maxHamming < bands: equal to all-pairs
    val sig = Dedup.simhash(u, "doc_id", "text")
    val a = sig.select($"doc".as("id_a"), $"simhash".as("sa"))
    val b = sig.select($"doc".as("id_b"), $"simhash".as("sb"))
    val brute = a.join(b, $"id_a" < $"id_b" &&
      Dedup.hamming($"sa", $"sb") <= 3).count()
    assert(pairs.count() == brute)
  }

  test("image dedup: banded dHash pairs complete vs brute force, planted pins") {
    val media = Multimodal.syntheticContentImages(docs.limit(200))
    val pairs = Multimodal.imageDedupPairs(media).cache()
    // banded search equals brute force over the extracted signatures
    val sig = Multimodal.dhashSignatures(media)
    val a = sig.select($"media_id".as("id_a"), $"dhash".as("sa"))
    val b = sig.select($"media_id".as("id_b"), $"dhash".as("sb"))
    val brute = a.join(b, $"id_a" < $"id_b" &&
      Dedup.hamming($"sa", $"sb") <= 3).count()
    assert(pairs.count() == brute)
    assert(brute > 0)
    // cross-FORMAT exact dup: docs 2 (gen 0 → png) and 66 (gen 1 → bmp)
    // share seed 2, neither is edited (2 % 5, 66 % 5 != 0) — the same
    // content in two containers must surface at distance 0
    assert(pairs.filter($"id_a" === 2 && $"id_b" === 66 && $"dist" === 0)
      .count() == 1)
    // doc 5 is edited (5 % 5 == 0), doc 69 is its clean seed-5 twin —
    // present within the banded radius (CodecSpec pins dist <= 2)
    assert(pairs.filter($"id_a" === 5 && $"id_b" === 69 && $"dist" <= 2)
      .count() == 1)
    // clusters form: components of the SAME pair graph — every pair's
    // endpoints share a rep, reps are component minima, keep iff rep
    val cl = Multimodal.imageDedupClusters(media).cache()
    assert(cl.count() == 200)
    val rep = cl.select($"doc", $"rep").as[(Long, Long)].collect().toMap
    pairs.select($"id_a", $"id_b").as[(Long, Long)].collect()
      .foreach { case (a, b) =>
        assert(rep(a) == rep(b), s"pair ($a,$b) split across clusters") }
    assert(rep(2L) == rep(66L) && rep(5L) == rep(69L))
    cl.groupBy($"rep").agg(min($"doc").as("mn"),
        sum(when($"keep", 1).otherwise(0)).as("nk"))
      .collect().foreach { r =>
        assert(r.getLong(0) == r.getLong(1), "rep is not the component min")
        assert(r.getLong(2) == 1, "not exactly one keep per cluster") }
  }

  test("audio dedup: banded aFP pairs complete vs brute force, planted pins") {
    val media = Multimodal.syntheticContentAudio(docs.limit(200))
    val pairs = Multimodal.audioDedupPairs(media).cache()
    // banded search equals brute force over the extracted fingerprints
    val sig = Multimodal.audioFingerprints(media)
    val a = sig.select($"media_id".as("id_a"), $"afp".as("sa"))
    val b = sig.select($"media_id".as("id_b"), $"afp".as("sb"))
    val brute = a.join(b, $"id_a" < $"id_b" &&
      Dedup.hamming($"sa", $"sb") <= 3).count()
    assert(pairs.count() == brute)
    assert(brute > 0)
    // cross-FORMAT exact dup: docs 3 (gen 0 → wav) and 51 (gen 1 →
    // aiff) share seed 3, neither edited (3 % 5, 51 % 5 != 0) — the
    // same PCM in two containers must surface at distance 0
    assert(pairs.filter($"id_a" === 3 && $"id_b" === 51 && $"dist" === 0)
      .count() == 1)
    // doc 5 is edited (5 % 5 == 0), doc 53 is its clean seed-5 twin —
    // present within the banded radius (CodecSpec pins dist <= 2)
    assert(pairs.filter($"id_a" === 5 && $"id_b" === 53 && $"dist" <= 2)
      .count() == 1)
    // clusters form: components of the SAME pair graph — every pair's
    // endpoints share a rep, reps are component minima, keep iff rep
    val cl = Multimodal.audioDedupClusters(media).cache()
    assert(cl.count() == 200)
    val rep = cl.select($"doc", $"rep").as[(Long, Long)].collect().toMap
    pairs.select($"id_a", $"id_b").as[(Long, Long)].collect()
      .foreach { case (x, y) =>
        assert(rep(x) == rep(y), s"pair ($x,$y) split across clusters") }
    assert(rep(3L) == rep(51L) && rep(5L) == rep(53L))
    cl.groupBy($"rep").agg(min($"doc").as("mn"),
        sum(when($"keep", 1).otherwise(0)).as("nk"))
      .collect().foreach { r =>
        assert(r.getLong(0) == r.getLong(1), "rep is not the component min")
        assert(r.getLong(2) == 1, "not exactly one keep per cluster") }
  }

  test("simhash clusters: twins collapse to min-id rep, keep iff rep") {
    val small = docs.limit(40)
    val u = small.select($"doc_id", $"text").unionByName(
      small.select(($"doc_id" + 10000).as("doc_id"), $"text"))
    val cl = Dedup.simhashClusters(u, "doc_id", "text").cache()
    assert(cl.count() == 80) // one row per doc
    // each twin (d, d+10000) shares a component, rep = the min member
    val reps = cl.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    (0 until 40).foreach { i =>
      assert(reps(i.toLong + 10000) == reps(i.toLong))
      assert(reps(i.toLong) <= i.toLong)
    }
    // keep is exactly doc == rep, and one keeper per component
    assert(cl.filter($"keep" =!= ($"doc" === $"rep")).count() == 0)
    val perRep = cl.filter($"keep").groupBy("rep").count().collect()
    assert(perRep.forall(_.getLong(1) == 1))
    // rep must be a member of its own component with keep=true
    assert(cl.filter($"doc" === $"rep" && !$"keep").count() == 0)
    // the distributed pointer-jumping path reaches the same fixpoint as
    // the driver union-find (force it by zeroing the edge threshold)
    val clDist = Dedup.simhashClusters(u, "doc_id", "text",
      driverEdgeLimit = 0L)
    assert(clDist.exceptAll(cl).count() == 0)
    assert(cl.exceptAll(clDist).count() == 0)
  }

  test("cluster collapse supports string ids (hashed CC, min-original rep)") {
    val small = docs.limit(40)
    val u = small.select($"doc_id", $"text").unionByName(
      small.select(($"doc_id" + 10000).as("doc_id"), $"text"))
    // zero-padded string ids preserve the numeric order, so the expected
    // reps are exactly the numeric result's reps reformatted
    def fmt(c: org.apache.spark.sql.Column) =
      concat(lit("doc-"), lpad(c.cast("string"), 6, "0"))
    val su = u.select(fmt($"doc_id").as("doc_id"), $"text")
    val got = Dedup.simhashClusters(su, "doc_id", "text")
      .select($"doc", $"rep", $"keep")
    val expected = Dedup.simhashClusters(u, "doc_id", "text")
      .select(fmt($"doc").as("doc"), fmt($"rep").as("rep"), $"keep")
    assert(got.exceptAll(expected).count() == 0)
    assert(expected.exceptAll(got).count() == 0)
  }

  test("cosine clusters: duplicate vectors collapse, keep iff rep") {
    val u = emb.select($"vec_id", $"embedding").unionByName(
      emb.select(($"vec_id" + 10000).as("vec_id"), $"embedding"))
    val cl = Dedup.cosineClusters(u, "vec_id", "embedding", 0.95).cache()
    assert(cl.count() == u.count())
    val reps = cl.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // every duplicate pair (v, v+10000) shares a component (same bucket,
    // cosine exactly 1), and reps never exceed their doc
    reps.keys.filter(_ < 10000).foreach { v =>
      assert(reps(v + 10000) == reps(v))
      assert(reps(v) <= v)
    }
    assert(cl.filter($"keep" =!= ($"doc" === $"rep")).count() == 0)
    // at least half the corpus drops (every original's twin is a dup)
    assert(cl.filter(!$"keep").count() >= emb.count())
  }

  test("cosineCandidates maxBucketSize: hot LSH bucket drops, small " +
    "buckets exact") {
    // 30 jittered near-parallel vectors share every hyperplane sign
    // (one bucket — the boilerplate-burst shape); a 2-vector near-dup
    // pair points the other way. Cap 10 drops the hot bucket from the
    // candidate join (fragmenting its cluster: the banded recall
    // trade, refinement-sound); the sub-cap pair stays exact.
    val hot = (0 until 30).map(i =>
      (i.toLong, Array(1000f + i * 0.001f, 0f, 0f, 0f)))
    val pair = Seq((100L, Array(-500f, 3f, 0f, 0f)),
      (101L, Array(-500f, 3.001f, 0f, 0f)))
    val u = (hot ++ pair).toDF("vec_id", "embedding").localCheckpoint()
    def keptOf(cap: Option[Int]): Set[Long] =
      Dedup.cosineClusters(u, "vec_id", "embedding", 0.95,
          planes = 16, dim = 4, maxBucketSize = cap)
        .filter($"keep").select($"doc").as[Long].collect().toSet
    val exact = keptOf(None)
    assert(exact.count(_ < 100L) == 1 && exact.count(_ >= 100L) == 1)
    val capped = keptOf(Some(10))
    assert(exact.subsetOf(capped), "cap dropped a row the exact form keeps")
    assert(capped.count(_ < 100L) == 30, "capped hot bucket should fragment")
    assert(capped.count(_ >= 100L) == 1, "sub-cap bucket must stay exact")
  }

  test("dupSpanFraction: shared spans counted, unique docs score 0") {
    val d = Seq(
      (0L, "alpha beta gamma delta epsilon"),
      (1L, "alpha beta gamma zeta eta"), // shares shingle "alpha beta gamma"
      (2L, "totally unrelated words here now"))
      .toDF("doc_id", "text")
    val out = TextAnalysis.dupSpanFraction(d, "doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    assert(out(0L)._1 == 3 && out(0L)._2 == 1) // 3 shingles, 1 shared
    assert(out(1L)._2 == 1)
    assert(out(2L) == ((3L, 0L, 0.0)))
  }

  test("filterPipeline: gate flags compose into keep") {
    val out = TextAnalysis.filterPipeline(docs.limit(50), "doc_id", "text")
      .cache()
    assert(out.count() == 50)
    assert(out.filter($"keep" =!= ($"lang_ok" && $"quality_ok" &&
      $"repetition_ok" && $"length_ok")).count() == 0)
    // the synthetic corpus is English word salad: language and length
    // gates pass universally; repetition catches the salty duplicates
    assert(out.filter($"length_ok").count() == 50)
  }

  test("stratifiedSample: deterministic, rates roughly honored") {
    val out = TextAnalysis.stratifiedSample(docs, "doc_id", "lang",
      Map("en" -> 0.5, "zh" -> 0.25), defaultRate = 0.0).cache()
    assert(out.count() == docs.count())
    // repeated runs agree row for row
    val again = TextAnalysis.stratifiedSample(docs, "doc_id", "lang",
      Map("en" -> 0.5, "zh" -> 0.25), defaultRate = 0.0)
    assert(out.exceptAll(again).count() == 0)
    // zero-rate strata drop everything; sampled strata keep a real share
    assert(out.filter($"stratum" === "es" && $"keep").count() == 0)
    val en = out.filter($"stratum" === "en")
    val rate = en.filter($"keep").count().toDouble / en.count()
    assert(rate > 0.3 && rate < 0.7, s"en keep rate $rate far from 0.5")
  }

  test("budgetSelect matches the naive global-window greedy prefix") {
    import org.apache.spark.sql.expressions.Window
    val budget = 2000L
    val got = TextAnalysis.budgetSelect(docs.limit(100), "doc_id", "text",
      budget)
    val scored = docs.limit(100).select($"doc_id".as("doc"),
      TextAnalysis.qualityScore($"text").as("quality"),
      TextAnalysis.tokenCountBpe($"text").cast("long").as("n_tokens"))
    val w = Window.orderBy($"quality".desc, $"doc")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val naive = scored.withColumn("cum", sum($"n_tokens").over(w))
      .select($"doc", $"quality", $"n_tokens",
        ($"cum" <= budget).as("selected"))
    assert(got.exceptAll(naive).count() == 0)
    assert(naive.exceptAll(got).count() == 0)
    // the budget is actually binding at this size
    assert(got.filter($"selected").count() > 0)
    assert(got.filter(!$"selected").count() > 0)
  }

  test("budgetSelect constant-quality corpus: exact, no global window") {
    // every document shares one quality value, so ~100% of rows land in
    // the crossing histogram bucket — the input shape that degenerated
    // the pre-r6 residual into a single-partition global window. The
    // range-partitioned two-phase cumsum must (a) stay exact against the
    // naive greedy prefix and (b) never plan an Exchange SinglePartition.
    val spark2 = docs.sparkSession
    import spark2.implicits._
    val const = (0L until 400L).map(i => (i, "alpha beta gamma delta"))
      .toDF("doc_id", "text")
    // identical text → identical quality and n_tokens: greedy order
    // degenerates to doc asc, budget cuts mid-corpus
    val one = TextAnalysis.budgetSelect(const.limit(1), "doc_id", "text", 1L)
    val perDoc = one.select($"n_tokens").head.getLong(0)
    val budget = perDoc * 150 + 1
    val got = TextAnalysis.budgetSelect(const, "doc_id", "text", budget)
      .cache()
    assert(got.count() == 400)
    // greedy prefix by doc asc: exactly docs 0..149 fit
    assert(got.filter($"selected").count() == 150)
    assert(got.filter($"selected").agg(max($"doc")).head.getLong(0) == 149L)
    // the residual cumsum must be partitioned: a windowed plan with no
    // partition spec would show up as an Exchange SinglePartition
    val plan = got.queryExecution.executedPlan.toString
    assert(!plan.contains("SinglePartition"),
      s"degenerate single-partition window in plan:\n$plan")
  }

  test("IVF top-k: scores agree with exact cosine, self excluded") {
    val q = emb.filter($"vec_id" < 3)
    val ivf = Similarity.ivfTopK(emb, q, "vec_id", "embedding", 5).cache()
    assert(ivf.filter($"query_id" === $"vec_id").count() == 0)
    val bf = Similarity.bruteForceTopK(emb, q, "vec_id", "embedding",
        emb.count().toInt)
      .select($"query_id", $"vec_id", $"cos".as("cos_bf"))
    val joined = ivf.join(bf, Seq("query_id", "vec_id")).cache()
    assert(joined.count() == ivf.count())
    assert(joined.filter($"cos" =!= $"cos_bf").count() == 0)
  }

  test("trained IVF: k-means cells partition the corpus, recall beats gate") {
    // every vector lands in exactly one of nlist cells — via the
    // pre-trained overload (train once, assign from the matrix)
    val cent16 = Similarity.ivfTrain(emb, "vec_id", "embedding", 16)
    val assigned = Similarity.ivfAssign(emb, "vec_id", "embedding", cent16)
      .cache()
    assert(assigned.count() == emb.count())
    val cells = assigned.groupBy("cell").count().collect()
    assert(cells.forall(r => r.getInt(0) >= 0 && r.getInt(0) < 16))
    assert(cells.length > 1, "k-means collapsed to a single cell")
    // recall vs brute force at nprobe=12/nlist=32 must clear the oracle
    // gate with margin; the same trained matrix feeds search and gate
    val cent32 = Similarity.ivfTrain(emb, "vec_id", "embedding", 32)
    val rec = Similarity.ivfRecall(emb, emb.filter($"vec_id" < 5),
      "vec_id", "embedding", 10, cent32, nprobe = 12).collect()
    val min = rec.map(_.getDouble(1)).min
    assert(min >= 0.6, s"min recall $min below gate")
    info(s"IVF recall per query: ${rec.map(_.getDouble(1)).mkString(",")}")
  }

  test("IVF multiple assignment raises the recall floor at fixed nprobe") {
    // same trained matrix, same nprobe=12/nlist=32/k=10; only the
    // corpus-side index fans out to the 2/3 nearest cells. Queries are
    // DISJOINT from every init pool (mid-id range) so the floor isn't
    // an artifact of seeding near the query vectors.
    val cent = Similarity.ivfTrain(emb, "vec_id", "embedding", 32)
    val q = emb.filter($"vec_id" >= 200 && $"vec_id" < 208)
    def floor(ma: Int): Double =
      Similarity.ivfRecall(emb, q, "vec_id", "embedding", 10, cent,
        nprobe = 12, multiAssign = ma).collect().map(_.getDouble(1)).min
    val f1 = floor(1); val f2 = floor(2); val f3 = floor(3)
    info(s"recall floors ma=1/2/3: $f1/$f2/$f3")
    assert(f2 >= 0.8, s"ma=2 floor $f2")
    assert(f3 >= 0.9, s"ma=3 floor $f3")
    assert(f2 >= f1 && f3 >= f2, "multi-assign must not lower recall")
    // the storage trade is exactly ×ma, and every vector keeps its
    // nearest cell among its assignments
    val a2 = Similarity.ivfAssign(emb, "vec_id", "embedding", cent, 2)
    assert(a2.count() == 2 * emb.count())
    val nearest = Similarity.ivfAssign(emb, "vec_id", "embedding", cent)
    assert(nearest.join(a2, Seq("vec_id", "cell"), "left_anti").count() == 0)
  }

  test("multimodal decode: deterministic stub features over binary payloads") {
    val media = Multimodal.mediaFromDocuments(docs.limit(30))
    assert(media.schema("payload").dataType.typeName == "binary")
    val dec = Multimodal.decodeFeatures(media).cache()
    assert(dec.count() == 30)
    val r = dec.filter($"media_id" === 0).head
    assert(r.getAs[Long]("n_bytes") > 0)
    assert(r.getAs[Int]("width") == (r.getAs[Long]("n_bytes") % 640) + 1)
    // deterministic: run twice, same checksums
    val cs1 = dec.orderBy("media_id").select("checksum").collect().toSeq
    val cs2 = Multimodal.decodeFeatures(media).orderBy("media_id")
      .select("checksum").collect().toSeq
    assert(cs1 == cs2)
  }

  test("frame sampling explodes stride-spaced frame indexes for video only") {
    val dec = Multimodal.decodeFeatures(
      Multimodal.mediaFromDocuments(docs.limit(30)))
    val frames = Multimodal.sampleFrames(dec, 4).cache()
    assert(frames.select("media_id").distinct().count() ==
      dec.filter($"media_type" === "video").count())
    val byId = frames.groupBy("media_id").agg(max("frame_idx").as("mx"))
      .join(dec.select($"media_id", $"n_frames"), "media_id")
    assert(byId.filter($"mx" >= $"n_frames").count() == 0)
  }

  test("dataset assembly: split is deterministic and roughly proportioned") {
    val s1 = docs.select($"doc_id",
      TextAnalysis.splitAssign($"doc_id").as("split"))
    val s2 = docs.select($"doc_id",
      TextAnalysis.splitAssign($"doc_id").as("split"))
    assert(s1.exceptAll(s2).count() == 0) // reproducible
    val dist = s1.groupBy("split").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val n = docs.count().toDouble
    assert(dist("train") / n > 0.7 && dist("train") / n < 0.9)
    assert(dist.getOrElse("val", 0L) > 0 && dist.getOrElse("test", 0L) > 0)
  }

  test("dataset assembly: splitByCluster keeps duplicate clusters in one split") {
    val u = docs.select($"doc_id", $"text").unionByName(
      docs.select(($"doc_id" + 10000).as("doc_id"), $"text"))
    val got = Dedup.splitByCluster(u, $"doc_id", $"text")
    // clusters are pure: one distinct split per representative
    val impure = got.groupBy($"rep_id")
      .agg(countDistinct($"split").as("k")).filter($"k" > 1).count()
    assert(impure === 0)
    // rep rows keep their own raw assignment (rep hashes itself)
    val repRows = got.filter($"doc_id" === $"rep_id")
      .select($"doc_id", $"split")
    val raw = u.select($"doc_id",
      TextAnalysis.splitAssign($"doc_id").as("split"))
    assert(repRows.exceptAll(raw).count() === 0)
    // and the fix is load-bearing here: the +10000 twins' RAW
    // assignments straddle splits for at least one cluster — the leak
    // splitByCluster exists to close
    val leaky = got.select($"doc_id", $"rep_id")
      .join(raw, "doc_id")
      .groupBy($"rep_id").agg(countDistinct($"split").as("k"))
      .filter($"k" > 1).count()
    assert(leaky > 0, "fixture never leaks under raw split; weaken test")
  }

  test("dataset assembly: redaction removes emails and phones") {
    val d = Seq((1L, "mail me at jo.doe+x@sub.example.org thanks"),
      (2L, "call +1 (555) 010-7788 now"),
      (3L, "clean text, no pii at all")).toDF("doc_id", "text")
    val out = d.select($"doc_id",
      TextAnalysis.piiCount($"text").as("n"),
      TextAnalysis.redact($"text").as("r")).orderBy("doc_id").collect()
    assert(out(0).getInt(1) == 1 &&
      out(0).getString(2) == "mail me at <EMAIL> thanks")
    assert(out(1).getInt(1) == 1 &&
      out(1).getString(2) == "call <PHONE> now")
    assert(out(2).getInt(1) == 0 &&
      out(2).getString(2) == "clean text, no pii at all")
  }

  test("dataset assembly: packing respects budgets per group stream") {
    val packed = TextAnalysis.packShards(docs, "doc_id", "text", 2048)
      .cache()
    assert(packed.count() == docs.count())
    // offsets stay within the budget, and each document starts where the
    // previous one in its group ended (contiguous token stream)
    assert(packed.filter($"offset" < 0 || $"offset" >= 2048).count() == 0)
    val byShard = packed.groupBy("shard")
      .agg(sum($"n_tokens").as("tok"), count(lit(1)).as("docs"))
    // a shard only exceeds its budget via one straddling document
    val over = byShard.join(packed, "shard")
      .groupBy("shard").agg(max($"n_tokens").as("mx"),
        sum($"n_tokens").as("tot"))
      .filter($"tot" > lit(2048) + $"mx")
    assert(over.count() == 0)
  }

  test("DotProduct codegen expression matches the HOF formulation") {
    import org.apache.spark.sql.types.DoubleType
    def hof(x: org.apache.spark.sql.Column, y: org.apache.spark.sql.Column) =
      aggregate(zip_with(x, y, (p, q) => p.cast(DoubleType) * q.cast(DoubleType)),
        lit(0.0), (acc, v) => acc + v)
    val pair = emb.select($"embedding".as("a"))
      .crossJoin(emb.limit(3).select($"embedding".as("b")))
    assert(pair.filter(
      graft.functions.DotProduct($"a", $"b") =!= hof($"a", $"b"))
      .count() == 0)
    // null array → null; int arrays work too
    val edge = Seq((Some(Seq(1, 2, 3)), Seq(4, 5, 6)), (None, Seq(1, 2, 3)))
      .toDF("a", "b")
    val r = edge.select(graft.functions.DotProduct($"a", $"b").as("d"))
      .collect()
    assert(r(0).getDouble(0) == 32.0 && r(1).isNullAt(0))
    // a null ELEMENT null-propagates the result (HOF/oracle parity),
    // in both codegen and interpreted eval
    val elemNull = Seq(
      (Seq[Option[Int]](Some(1), None, Some(3)), Seq(4, 5, 6)),
      (Seq[Option[Int]](Some(1), Some(2), Some(3)), Seq(4, 5, 6)))
      .toDF("a", "b")
    val en = elemNull
      .select(graft.functions.DotProduct($"a", $"b").as("d")).collect()
    assert(en(0).isNullAt(0) && en(1).getDouble(0) == 32.0)
  }

  test("RollingHash codegen expression matches the HOF recurrence") {
    import org.apache.spark.sql.types.LongType
    def hof(c: org.apache.spark.sql.Column) =
      aggregate(transform(filter(split(c, ""), x => x =!= ""), x => ascii(x)),
        lit(0L), (acc, x) => (acc * 31 + x.cast(LongType)) % lit(2147483647L))
    assert(docs.filter(graft.functions.RollingHash($"text") =!= hof($"text"))
      .count() == 0)
    // empty string hashes to 0; null in → null out; "a" → 97
    val edge = Seq(Some(""), None, Some("a")).toDF("s")
    val r = edge.select(graft.functions.RollingHash($"s").as("h")).collect()
    assert(r(0).getLong(0) == 0L && r(1).isNullAt(0) && r(2).getLong(0) == 97L)
  }

  test("custom expressions callable from SQL text (FunctionRegistry)") {
    graft.plans.GraftFunctions.register(spark)
    val r = spark.sql(
      "SELECT graft_rolling_hash('a') AS h, graft_dot(array(1.0, 2.0), array(3.0, 4.0)) AS d")
      .head
    assert(r.getLong(0) == 97L && r.getDouble(1) == 11.0)
    // arity errors surface at analysis
    intercept[Exception] { spark.sql("SELECT graft_rolling_hash('a','b')").collect() }
    // the r6 signature expressions: SQL spelling agrees with Column API
    val s2 = spark.sql(
      "SELECT graft_simhash60(lower('Hello World')) AS sh, " +
        "graft_minhash(lower('a b c d'), 3, 4) AS mh, " +
        "graft_simhash60('   ') AS empty").head
    val viaCol = Dedup.simhash(
      Seq((1L, "Hello World")).toDF("doc_id", "text"), "doc_id", "text")
      .head.getLong(1)
    assert(s2.getLong(0) == viaCol)
    assert(s2.getSeq[Long](1).length == 4)
    assert(s2.isNullAt(2)) // zero tokens → null
    // non-literal n rejected at analysis
    intercept[Exception] {
      spark.sql("SELECT graft_minhash('a', length('xx'), 4)").collect()
    }
    // NFC through the SQL surface: decomposed escape sequence composes
    // (the escape is the combining acute; chr() is mod-256 ASCII)
    val nfc = spark.sql(
      "SELECT graft_nfc('cafe\\u0301') AS n").head.getString(0)
    assert(nfc == "café" && nfc.length == 4)
    // shingle hashes: SQL spelling agrees with the Column path, and the
    // short-doc whole-text fallback holds
    val sh = spark.sql(
      "SELECT graft_shingle_hashes('a b c d', 3) AS s, " +
        "graft_shingle_hashes('one', 3) AS short").head
    assert(sh.getSeq[Long](0) ==
      Seq(TextAnalysis.rollLocal("a b c"), TextAnalysis.rollLocal("b c d")))
    assert(sh.getSeq[Long](1) == Seq(TextAnalysis.rollLocal("one")))
    intercept[Exception] {
      spark.sql("SELECT graft_shingle_hashes('a', length('xx'))").collect()
    }
  }

  test("GraftExtensions injects functions at session build time") {
    import org.apache.spark.sql.SparkSession
    val default = spark
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      val s2 = SparkSession.builder()
        .master("local[2]")
        .withExtensions(new graft.plans.GraftExtensions)
        .getOrCreate()
      assert(s2 ne default)
      assert(s2.sql("SELECT graft_rolling_hash('a') AS h").head.getLong(0)
        == 97L)
    } finally {
      SparkSession.setDefaultSession(default)
      SparkSession.setActiveSession(default)
    }
  }

  test("pqTrain/ivfTrain accept array<double> vectors (r6 ADVICE)") {
    val dbl = emb.limit(80)
      .select($"vec_id", $"embedding".cast("array<double>").as("embedding"))
    val m = Similarity.pqTrain(dbl, "vec_id", "embedding", m = 4, ksub = 8)
    assert(m.centroids.length == 4 && m.centroids.forall(_.length == 8))
    assert(Similarity.ivfTrain(dbl, "vec_id", "embedding", 4).length == 4)
  }

  test("PQ: map-only encode, exact-at-full-coverage ADC, recall floor") {
    val e = emb.localCheckpoint()
    val model = Similarity.pqTrain(e, "vec_id", "embedding", m = 8, ksub = 64)
    assert(model.centroids.length == 8 &&
      model.centroids.forall(_.length == 64) && model.subdim == 8)
    // encode is a map-only projection: codes in range, no exchange
    val codes = Similarity.pqEncode(e, "vec_id", "embedding", model)
    val plan = codes.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"pqEncode shuffles:\n$plan")
    assert(codes.filter(exists($"code",
      c => c < 0 || c >= 64) || size($"code") =!= 8).count() == 0)
    // full-coverage shortlist makes ADC+rerank EXACTLY brute force —
    // pins the distance tables, the code lookups, and the rerank join
    val q = e.filter($"vec_id" < 5)
    val full = Similarity.pqRecall(e, q, "vec_id", "embedding", 10,
      model, shortlist = 500).collect()
    assert(full.forall(_.getDouble(1) == 1.0),
      full.map(r => r.getLong(0) -> r.getDouble(1)).mkString(","))
    // the honest approximate floor at the gate shape (PqProbe: random
    // unit vectors are PQ's worst case; measured floor 0.8 at sf0.001)
    val approx = Similarity.pqRecall(e, q, "vec_id", "embedding", 10,
      model, shortlist = 100).collect()
    assert(approx.forall(_.getDouble(1) >= 0.7),
      approx.map(r => r.getLong(0) -> r.getDouble(1)).mkString(","))
  }

  test("IVFPQ: probe-pruned ADC clears the composed floor") {
    val e = emb.localCheckpoint()
    val cent = Similarity.ivfTrain(e, "vec_id", "embedding", nlist = 32)
    val model = Similarity.pqTrain(e, "vec_id", "embedding", 8, 64)
    val q = e.filter($"vec_id" < 5)
    // probing EVERY cell with a full shortlist = exactly brute force —
    // pins the cell join, the ADC lookups, and the rerank
    val full = Similarity.ivfPqRecall(e, q, "vec_id", "embedding", 10,
      cent, model, nprobe = 32, shortlist = 500).collect()
    assert(full.forall(_.getDouble(1) == 1.0),
      full.map(r => r.getLong(0) -> r.getDouble(1)).mkString(","))
    // the honest composed floor at the gate shape (PqProbe: 0.8 at
    // sf0.001, 0.7 at sf0.01)
    val approx = Similarity.ivfPqRecall(e, q, "vec_id", "embedding", 10,
      cent, model, nprobe = 16, shortlist = 100).collect()
    assert(approx.forall(_.getDouble(1) >= 0.6),
      approx.map(r => r.getLong(0) -> r.getDouble(1)).mkString(","))
  }

  test("connectedComponents: chains collapse, isolates self-rep, string ids") {
    val nodes = (0L to 9L).toDF("id")
    // two chains 0-1-2 and 5-6, plus isolates 3,4,7,8,9
    val edges = Seq((0L, 1L), (1L, 2L), (5L, 6L)).toDF("id_a", "id_b")
    val out = Dedup.connectedComponents(nodes, "id", edges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out == Map(0L -> 0L, 1L -> 0L, 2L -> 0L, 3L -> 3L, 4L -> 4L,
      5L -> 5L, 6L -> 5L, 7L -> 7L, 8L -> 8L, 9L -> 9L))
    // string ids take the hashed-edge-space path, same shape
    val snodes = Seq("a", "b", "c", "d").toDF("id")
    val sedges = Seq(("c", "b")).toDF("id_a", "id_b")
    val sout = Dedup.connectedComponents(snodes, "id", sedges)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(sout == Map("a" -> "a", "b" -> "b", "c" -> "b", "d" -> "d"))
  }

  test("decontaminate: overlap counts exact, clean docs zero, corpus un-shuffled") {
    val d = Seq(
      (0L, "alpha beta gamma delta epsilon"), // = bench doc → all 3 shingles hit
      (1L, "zeta eta theta iota kappa"),      // clean
      (2L, "x y alpha beta gamma z"),         // contains 1 bench shingle
      (3L, "so"),                             // short doc, not in bench
      (4L, "tiny doc")                        // short doc, = short bench doc
    ).toDF("doc_id", "text")
    val bench = Seq("alpha beta gamma delta epsilon", "tiny doc")
      .toDF("btext")
    val out = Dedup.decontaminate(d, "doc_id", "text", bench, "btext")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2)))
      .toMap
    assert(out(0L) == (3L, true))  // 5 tokens → 3 shingles, all in bench
    assert(out(1L) == (0L, false))
    assert(out(2L) == (1L, true))  // "alpha beta gamma" only
    assert(out(3L) == (0L, false)) // whole-text shingle "so" not in bench
    assert(out(4L) == (1L, true))  // whole-text fallback matches both ways
    // scale shape: both joins on the corpus side broadcast — the full
    // corpus never crosses an exchange (only matched rows aggregate)
    val plan = Dedup.decontaminate(d, "doc_id", "text", bench, "btext")
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan)
  }

  test("minhashNovelty: history dups flagged, novel batch rows pass") {
    val hist = docs.limit(40).select($"doc_id", $"text")
    val index = Dedup.minhashSignature(hist, "doc_id", "text", 3, 16)
    // batch: exact copies of 10 history docs + 10 genuinely new docs
    val copies = hist.limit(10)
      .select(($"doc_id" + 5000).as("doc_id"), $"text")
    val fresh = docs.filter($"doc_id" >= 400 && $"doc_id" < 410)
      .select(($"doc_id" + 9000).as("doc_id"), $"text")
    val out = Dedup.minhashNovelty(copies.unionByName(fresh),
      "doc_id", "text", index).cache()
    assert(out.count() == 20)
    // every exact copy shares EVERY band with its original → non-novel
    assert(out.filter($"doc" < 9000 && $"novel").count() == 0)
    assert(out.filter($"doc" < 9000 && $"n_dups" < 1).count() == 0)
    // the fresh tail has no history twin (near-dup collisions aside,
    // these sf0.001 docs are distinct texts): all novel
    assert(out.filter($"doc" >= 9400 && !$"novel").count() == 0)
  }

  test("decontaminateSet: map-only twin of the join form, exchange-free") {
    val bench = docs.filter($"doc_id" % 20 === 0)
    val set = Dedup.contaminationSet(bench, "text")
    val viaSet = Dedup.decontaminateSet(docs, "doc_id", "text", set)
    val viaJoin = Dedup.decontaminate(docs, "doc_id", "text", bench, "text")
    assert(viaSet.exceptAll(viaJoin).count() == 0)
    assert(viaJoin.exceptAll(viaSet).count() == 0)
    // pure projection: usable per-row in a stream
    val plan = viaSet.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"set form shuffles:\n$plan")
  }

  test("Bloom decontamination: superset of exact flags, no false " +
      "negatives, bounded over-drop, exchange-free") {
    val bench = docs.filter($"doc_id" % 20 === 0)
    val set = Dedup.contaminationSet(bench, "text")
    val bloom = Dedup.contaminationBloom(bench, "text")
    val exact = Dedup.decontaminateSet(docs, "doc_id", "text", set)
      .select($"doc", $"contaminated".as("e"))
    val might = Dedup.decontaminateBloom(docs, "doc_id", "text", bloom)
    val j = exact.join(might.select($"doc", $"contaminated".as("m")),
      Seq("doc")).cache()
    // the safety contract: a contaminated doc can NEVER slip through
    assert(j.filter($"e" && !$"m").count() == 0)
    // over-drop stays an fpp-class fraction of the clean docs
    val clean = j.filter(!$"e").count()
    val fp = j.filter(!$"e" && $"m").count()
    assert(clean == 0 || fp <= math.max(5L, clean / 20),
      s"$fp false positives over $clean clean docs")
    // same plan shape as the exact form: pure projection
    val plan = might.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"bloom form shuffles:\n$plan")
    j.unpersist()
  }

  test("topKPerKey: deterministic cap, ties by the order columns") {
    import graft.operators.TopKPerKey.topKPerKey
    val d = Seq((1L, "a", 10L), (2L, "a", 30L), (3L, "a", 30L),
        (4L, "a", 5L), (5L, "b", 1L))
      .toDF("id", "k", "q")
    val out = topKPerKey(d, Seq("k"), Seq($"q".desc, $"id"), 2)
      .orderBy($"id").collect().map(_.getLong(0)).toSeq
    // a: q=30 twice (ids 2,3 — id breaks the tie), then 10; cap 2
    assert(out == Seq(2L, 3L, 5L))
    // a user column named __graft_rn survives
    val d2 = d.withColumn("__graft_rn", $"id" * 2)
    assert(topKPerKey(d2, Seq("k"), Seq($"id"), 1)
      .columns.contains("__graft_rn"))
  }

  test("mixtureBalance: binding stratum keeps rate 1e6, proportions honored") {
    // 60 a-docs, 30 b-docs, 10 c-docs with target 50/30/20 → binding
    // stratum is c (10/0.2 = 50 feasible total ≤ 60/0.5, 30/0.3);
    // total=50 → take a=25/b=15/c=10 → rates 416666/500000/1000000 ppm
    val rows = (0 until 60).map(i => (i.toLong, "a")) ++
      (100 until 130).map(i => (i.toLong, "b")) ++
      (200 until 210).map(i => (i.toLong, "c")) ++
      Seq((900L, "undeclared"))
    val d = rows.toDF("doc_id", "lang")
    val out = TextAnalysis.mixtureBalance(d, "doc_id", "lang",
      Map("a" -> 5000, "b" -> 3000, "c" -> 2000)).cache()
    assert(out.count() == 100) // undeclared stratum dropped
    val rates = out.select($"stratum", $"rate_ppm").distinct()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(rates("c") == 1000000L) // binding stratum admits everything
    assert(rates("a") == 25L * 1000000L / 60L)
    assert(rates("b") == 15L * 1000000L / 30L)
    // every c-doc kept (rate 1e6 > any hash)
    assert(out.filter($"stratum" === "c" && !$"keep").count() == 0)
    // keep decision is pure hash-vs-rate (partitioning-independent)
    val re = out.filter($"keep").count()
    assert(TextAnalysis.mixtureBalance(d.repartition(7), "doc_id", "lang",
      Map("a" -> 5000, "b" -> 3000, "c" -> 2000))
      .filter($"keep").count() == re)
  }

  test("new native expressions: null/edge semantics") {
    import graft.functions.{BpeSymbols, CountInSet, NormalizeNfc, PqAssignCodes}
    // CountInSet: null array → null; null elements skipped; duplicate
    // matches count once
    val cis = Seq((1L, Seq(Some(5L), None, Some(5L), Some(7L))),
        (2L, null.asInstanceOf[Seq[Option[Long]]]))
      .toDF("id", "arr")
      .select($"id", CountInSet($"arr", Array(5L, 9L)).as("n"))
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) -1 else r.getInt(1))).toMap
    assert(cis == Map(1L -> 1, 2L -> -1))
    // BpeSymbols: surrogate pairs stay whole symbols (codePoint walk)
    val emoji = Seq("a😀b").toDF("w")
      .select(BpeSymbols($"w", Nil).as("s")).head.getSeq[String](0)
    assert(emoji == Seq("a", "😀", "b"))
    // NormalizeNfc: null in, null out; already-NFC passes through
    val nfc = Seq((1L, Some("abc")), (2L, None))
      .toDF("id", "t")
      .select($"id", NormalizeNfc($"t").as("n")).collect()
      .map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) null else r.getString(1))).toMap
    assert(nfc == Map(1L -> "abc", 2L -> null))
    // PqAssignCodes: vector shorter than m*subdim pads with zeros
    // (codes still defined), wrong codebook shape rejected eagerly
    val cb = Array.tabulate(2, 2, 2)((_, c, _) => c.toDouble)
    val short = Seq(Seq(0.9f, 0.8f)).toDF("v")
      .select(PqAssignCodes($"v", cb).as("code")).head.getSeq[Int](0)
    assert(short == Seq(1, 0)) // sub0=[.9,.8]→cell1; sub1 all-missing→cell0
    intercept[IllegalArgumentException] {
      graft.functions.PqAssignCodes(
        org.apache.spark.sql.GraftColumnBridge.expression($"v"),
        Array(1.0), 2, 2, 2)
    }
  }

  test("bpeTrain: hand-computed merge sequence, deterministic, exhaustion") {
    // corpus: "aaab" x3, "aab" x2. Stage 0 pairs: (a,a)=6+2=8, (a,b)=5
    // -> merge (a,a). Stage 1: aaab=[aa,a,b], aab=[aa,b]; pairs
    // (aa,a)=3, (a,b)=3, (aa,b)=2 -> tie, lexicographic: (a,b) wins.
    // Stage 2: aaab=[aa,ab], aab=[aa,b]; (aa,ab)=3 > (aa,b)=2.
    val d = Seq((1L, "aaab aaab aaab aab aab")).toDF("doc_id", "text")
    val merges = TextAnalysis.bpeTrain(d, "text", 3)
    assert(merges == Seq(("a", "a", 8L), ("a", "b", 3L), ("aa", "ab", 3L)))
    // deterministic across partitionings
    val docs40 = docs.limit(40)
    val m1 = TextAnalysis.bpeTrain(docs40, "text", 4)
    val m2 = TextAnalysis.bpeTrain(docs40.repartition(7), "text", 4)
    assert(m1 == m2 && m1.length == 4)
    // merge exhaustion stops early instead of looping
    val tiny = Seq((1L, "ab")).toDF("doc_id", "text")
    val mt = TextAnalysis.bpeTrain(tiny, "text", 10)
    assert(mt == Seq(("a", "b", 1L)))
    // BpeSymbols applies merges left-to-right in order
    val syms = Seq(("aaab")).toDF("w")
      .select(graft.functions.BpeSymbols(col("w"),
        Seq(("a", "a"), ("a", "b"))).as("s"))
      .head.getSeq[String](0)
    assert(syms == Seq("aa", "ab"))
  }

  test("bpeEncode: hand-computed ids, UNK, empty doc, train round-trip") {
    val merges = Seq("t" -> "h", "th" -> "e")
    val vocab = TextAnalysis.bpeVocab(('a' to 'z').map(_.toString), merges)
    // a..z -> 0..25, th -> 26, the -> 27
    assert(vocab.length == 28 && vocab(26) == "th" && vocab(27) == "the")
    val d = Seq((1L, "The cat"), (2L, "xy!"), (3L, "")).toDF("doc_id", "text")
    val out = TextAnalysis.bpeEncode(d, "doc_id", "text", merges, vocab)
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    // "the" -> t,h,e -> th,e -> the -> [27]; "cat" -> [2,0,19]
    assert(out(1L) == Seq(27, 2, 0, 19))
    // '!' is out-of-vocab -> UNK
    assert(out(2L) == Seq(23, 24, -1))
    assert(out(3L) == Seq.empty[Int])
    // round-trip with TRAINED merges: every in-alphabet symbol the
    // training produces is in the vocab, so no UNK appears
    val corpus = Seq((1L, "aaab aaab aaab aab aab")).toDF("doc_id", "text")
    val trained = TextAnalysis.bpeTrain(corpus, "text", 2)
      .map(m => (m._1, m._2))
    val v2 = TextAnalysis.bpeVocab(Seq("a", "b"), trained)
    val enc = TextAnalysis.bpeEncode(corpus, "doc_id", "text", trained, v2)
      .head.getSeq[Int](1)
    // merges (a,a),(a,b): aaab -> [aa, ab] = ids [2, 3]; aab -> [aa, b]
    assert(enc == Seq(2, 3, 2, 3, 2, 3, 2, 1, 2, 1))
    assert(!enc.contains(-1))
  }

  test("normalize: NFC composes, control chars strip, runs collapse") {
    val d = Seq(
      (0L, "cafe\u0301 and A\u030A"), // decomposed -> composed
      (1L, "café and Å"),        // already NFC: same output
      (2L, "a\u0007b\u0000c"),        // control chars vanish
      (3L, "  x\t\ty   z  "),              // runs collapse, ends trim
      (4L, "line1\nline2")                 // newline survives
    ).toDF("doc_id", "text")
    val out = d.select($"doc_id",
        TextAnalysis.normalize($"text").as("n"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out(0L) == "café and Å")
    assert(out(1L) == out(0L)) // byte-identical after normalization
    assert(out(2L) == "abc")
    assert(out(3L) == "x y z")
    assert(out(4L) == "line1\nline2")
    // dedup consequence: the two renderings now collapse together
    val u = d.filter($"doc_id" < 2)
      .select($"doc_id", TextAnalysis.normalize($"text").as("text"))
    assert(Dedup.exact(u, $"text", $"doc_id").count() == 1)
  }

  test("tfidfPairs: exact cosines by hand, idf weighting, boundary kept") {
    // vocab dfs: alpha/beta/gamma/the = 2, zeta/eta = 1; N = 4 →
    // idfQ = 1+⌊log2(4/df)⌋: df2 → 2, df1 → 3.
    // docs 1,2: w = (2,2,2), n2 = 12 → cos = 1.0
    // doc 3: the·3·2=6, zeta·3 → n2 = 45; doc 4 mirror with eta
    // cos(3,4) = 36/45 = 0.8 EXACTLY — the boundary pair at t = 0.8
    // (unweighted tf cosine would be 9/10; the idf weighting is what
    // produces 0.8, so the value pins weighting AND the exact compare)
    val d = Seq((1L, "alpha beta gamma"), (2L, "alpha beta gamma"),
      (3L, "the the the zeta"), (4L, "the the the eta"))
      .toDF("doc_id", "text")
    val want = Set((1L, 2L, 12L, 1.0), (3L, 4L, 36L, 0.8))
    // 6-token vocab → dense arm dispatches; denseVocabMax = 0 forces
    // the prefix arm — both pinned to the same hand-computed truth
    for (vmax <- Seq(Dedup.AllPairsDenseVocabMax, 0L)) {
      val got = Dedup.tfidfPairs(d, "doc_id", "text", 0.8,
          denseVocabMax = vmax)
        .select($"doc_a", $"doc_b", $"dot", $"cos")
        .as[(Long, Long, Long, Double)].collect().toSet
      assert(got == want, s"denseVocabMax=$vmax")
    }
  }

  test("tfidfPairs: brute-force parity on the real corpus") {
    // second input: the corpus plus a copy of every 3rd doc under a
    // larger id — identical-vector cliques whose member pairs can run
    // against the signature order, so the expanded dense arm must swap
    // n2_a/n2_b along with the ids (pinned by comparing whole rows)
    val base = docs.select($"doc_id", $"text")
    val withCopies = base.unionByName(base.filter($"doc_id" % 3 === 0)
      .select(($"doc_id" + 100000).as("doc_id"), $"text"))
    for (corpus <- Seq(base, withCopies)) {
      val n = corpus.count()
      val toks = corpus.select($"doc_id".as("doc"),
        explode(TextAnalysis.tokens(lower($"text"))).as("tok"))
      val tf = toks.groupBy("doc", "tok").agg(count(lit(1)).as("tf"))
      val dfc = tf.groupBy("tok").agg(count(lit(1)).as("dfd"))
      // independent weight derivation: float log2+floor (exact at these
      // magnitudes) instead of the operator's comparison ladder
      val w = tf.join(dfc, Seq("tok")).select($"doc", $"tok",
        ($"tf" * (lit(1L) +
          floor(log2(expr(s"CAST($n AS BIGINT) div dfd"))).cast("long")))
          .as("w"))
      val n2 = w.groupBy("doc").agg(sum($"w" * $"w").as("n2"))
      val brute = w.alias("a").join(w.alias("b"),
          col("a.tok") === col("b.tok") && col("a.doc") < col("b.doc"))
        .groupBy(col("a.doc").as("doc_a"), col("b.doc").as("doc_b"))
        .agg(sum(col("a.w") * col("b.w")).as("dot"))
        .join(n2.select($"doc".as("doc_a"), $"n2".as("n2_a")), Seq("doc_a"))
        .join(n2.select($"doc".as("doc_b"), $"n2".as("n2_b")), Seq("doc_b"))
        .filter($"dot".cast("double") >=
          lit(0.8) * sqrt($"n2_a".cast("double") * $"n2_b".cast("double")))
        .select($"doc_a", $"doc_b", $"dot", $"n2_a", $"n2_b")
        .as[(Long, Long, Long, Long, Long)].collect().toSet
      // the 31-token corpus dispatches the dense arm; denseVocabMax = 0
      // forces the prefix arm over the same corpus — both must equal the
      // brute force
      for (vmax <- Seq(Dedup.AllPairsDenseVocabMax, 0L)) {
        val got = Dedup.tfidfPairs(corpus, "doc_id", "text", 0.8,
            denseVocabMax = vmax)
          .select($"doc_a", $"doc_b", $"dot", $"n2_a", $"n2_b")
          .as[(Long, Long, Long, Long, Long)].collect().toSet
        assert(got == brute, s"denseVocabMax=$vmax n=$n")
        assert(got.nonEmpty)
      }
    }
  }

  test("containmentJoin: asymmetry, boundary, identical sets — both arms") {
    // A ⊂ B: containment(A→B) = 1.0, (B→A) = 3/6 = 0.5 EXACTLY (the
    // boundary pair at t = 0.5 — integer compare must keep it);
    // C disjoint; D duplicates A (identical sets → 1.0 both orders)
    val d = Seq((1L, "a b c"), (2L, "a b c d e f"), (3L, "x y"),
      (4L, "c b a")).toDF("doc_id", "text")
    val want = Set(
      (1L, 2L, 3L, 3L, 1.0), (2L, 1L, 3L, 6L, 0.5),
      (1L, 4L, 3L, 3L, 1.0), (4L, 1L, 3L, 3L, 1.0),
      (4L, 2L, 3L, 3L, 1.0), (2L, 4L, 3L, 6L, 0.5))
    for (vmax <- Seq(Dedup.AllPairsDenseVocabMax, 0L)) {
      val got = Dedup.containmentJoin(d, "doc_id", "text", 0.5,
          denseVocabMax = vmax)
        .as[(Long, Long, Long, Long, Double)].collect().toSet
      assert(got == want, s"denseVocabMax=$vmax")
    }
  }

  test("containmentJoin: brute-force parity on the real corpus, both arms") {
    val toks = docs.select($"doc_id".as("doc"),
      explode(array_distinct(TextAnalysis.tokens(lower($"text"))))
        .as("tok"))
    val sz = toks.groupBy("doc").agg(count(lit(1)).as("n"))
    val brute = toks.alias("a").join(toks.alias("b"),
        col("a.tok") === col("b.tok") && col("a.doc") =!= col("b.doc"))
      .groupBy(col("a.doc").as("id_a"), col("b.doc").as("id_b"))
      .agg(count(lit(1)).as("inter"))
      .join(sz.select($"doc".as("id_a"), $"n".as("sz_a")), Seq("id_a"))
      .filter($"inter" * 1000000L >= $"sz_a" * 950000L)
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    for (vmax <- Seq(Dedup.AllPairsDenseVocabMax, 0L)) {
      val got = Dedup.containmentJoin(docs, "doc_id", "text", 0.95,
          denseVocabMax = vmax)
        .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
      assert(got == brute, s"denseVocabMax=$vmax")
      assert(got.nonEmpty)
    }
  }

  test("containmentCross: planted truncations found, both arms") {
    // left = first-half-token truncations of every 10th doc → each
    // must be contained at EXACTLY 1.0 in its own original (distinct
    // half-tokens ⊆ distinct full tokens, always)
    val half = docs.filter($"doc_id" % 10 === 0)
      .withColumn("__ws", TextAnalysis.tokens($"text"))
      .select(($"doc_id" + 20000).as("doc_id"),
        array_join(expr("slice(__ws, 1, greatest(size(__ws) div 2, 1))"),
          " ").as("text"))
    val nHalf = half.count()
    for (vmax <- Seq(Dedup.AllPairsDenseVocabMax, 0L)) {
      val got = Dedup.containmentCross(half, docs, "doc_id", "text",
          0.9, denseVocabMax = vmax)
        .select($"id_a", $"id_b", $"containment")
        .as[(Long, Long, Double)].collect()
      val self = got.filter { case (a, b, _) => a == b + 20000 }
      assert(self.length == nHalf, s"denseVocabMax=$vmax")
      assert(self.forall(_._3 == 1.0), s"denseVocabMax=$vmax")
    }
    // hand case incl. cross-side identical sets and the 0.5 boundary
    val l = Seq((1L, "a b c"), (2L, "p q")).toDF("doc_id", "text")
    val r = Seq((10L, "c b a x"), (11L, "a b"), (12L, "p z"))
      .toDF("doc_id", "text")
    val want = Set((1L, 10L, 3L, 3L, 1.0), (2L, 12L, 1L, 2L, 0.5))
    for (vmax <- Seq(Dedup.AllPairsDenseVocabMax, 0L)) {
      val got = Dedup.containmentCross(l, r, "doc_id", "text", 0.5,
          denseVocabMax = vmax)
        .as[(Long, Long, Long, Long, Double)].collect().toSet
      // (1 in 11): inter 2 of 3 = 0.667 ≥ 0.5 → also present
      assert(got == want + ((1L, 11L, 2L, 3L, 2.0 / 3)),
        s"denseVocabMax=$vmax")
    }
  }

  test("tfidfJoin: cross-corpus brute parity, both arms") {
    val left = docs.select($"doc_id", $"text")
    val right = docs.select(($"doc_id" + 10000).as("doc_id"),
      concat($"text", lit(" zz"),
        pmod($"doc_id", lit(5)).cast("string")).as("text"))
    // independent brute force under the shared union-idf quantization
    val n = left.count() + right.count()
    def toksOf(df: org.apache.spark.sql.DataFrame) =
      df.select($"doc_id".as("doc"),
        explode(TextAnalysis.tokens(lower($"text"))).as("tok"))
    def tfOf(t: org.apache.spark.sql.DataFrame) =
      t.groupBy("doc", "tok").agg(count(lit(1)).as("tf"))
    val tfL = tfOf(toksOf(left))
    val tfR = tfOf(toksOf(right))
    val dfc = tfL.unionByName(tfR).groupBy("tok")
      .agg(count(lit(1)).as("dfd"))
    def wOf(tf: org.apache.spark.sql.DataFrame) =
      tf.join(dfc, Seq("tok")).select($"doc", $"tok",
        ($"tf" * (lit(1L) +
          floor(log2(expr(s"CAST($n AS BIGINT) div dfd"))).cast("long")))
          .as("w"))
    val wL = wOf(tfL)
    val wR = wOf(tfR)
    def n2Of(w: org.apache.spark.sql.DataFrame) =
      w.groupBy("doc").agg(sum($"w" * $"w").as("n2"))
    val brute = wL.alias("a").join(wR.alias("b"),
        col("a.tok") === col("b.tok"))
      .groupBy(col("a.doc").as("id_a"), col("b.doc").as("id_b"))
      .agg(sum(col("a.w") * col("b.w")).as("dot"))
      .join(n2Of(wL).select($"doc".as("id_a"), $"n2".as("n2_a")),
        Seq("id_a"))
      .join(n2Of(wR).select($"doc".as("id_b"), $"n2".as("n2_b")),
        Seq("id_b"))
      .filter($"dot".cast("double") >=
        lit(0.9) * sqrt($"n2_a".cast("double") * $"n2_b".cast("double")))
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    for (vmax <- Seq(Dedup.AllPairsDenseVocabMax, 0L)) {
      val got = Dedup.tfidfJoin(left, right, "doc_id", "text", 0.9,
          denseVocabMax = vmax)
        .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
      assert(got == brute, s"denseVocabMax=$vmax")
      assert(got.nonEmpty)
    }
  }

  // 70 pairwise-distinct characters: no k-gram can repeat INSIDE one
  // copy, so span structure is exactly what each test constructs
  private val s70: String =
    (('a' to 'z') ++ ('A' to 'Z') ++ ('0' to '9') ++ "!@#$%^&*").mkString
  assert(s70.length == 70 && s70.distinct.length == 70)

  test("substringSpans: cross-doc shared run merges to one maximal span") {
    val d = Seq((1L, ("A" * 10) + s70 + ("B" * 10)),
      (2L, ("C" * 5) + s70 + ("D" * 25)),
      (9L, "too-short")).toDF("doc_id", "text")
    val got = Dedup.substringSpans(d, "doc_id", "text", k = 64)
      .select($"doc", $"span", $"span_start", $"span_end", $"len",
        $"n_grams")
      .as[(Long, Long, Long, Long, Long, Long)].collect().toSet
    // 7 duplicated 64-gram positions per copy, merged to one span of
    // exactly the shared 70 chars at each doc's own offset
    assert(got == Set((1L, 1L, 11L, 80L, 70L, 7L),
      (2L, 1L, 6L, 75L, 70L, 7L)))
  }

  test("substringSpans: within-doc repetition splits on gaps; no dup → empty") {
    // '.' ∉ s70 and s70's chars are pairwise distinct, so the only
    // duplicated 64-grams are the 7 pure-s70 windows of each copy
    val gap = "." * 30
    val d = Seq((1L, s70 + gap + s70)).toDF("doc_id", "text")
    val got = Dedup.substringSpans(d, "doc_id", "text", k = 64)
      .select($"span", $"span_start", $"span_end")
      .as[(Long, Long, Long)].collect().toSet
    assert(got == Set((1L, 1L, 70L), (2L, 101L, 170L)))
    val clean = Seq((1L, s70 + gap)).toDF("doc_id", "text")
    assert(Dedup.substringSpans(clean, "doc_id", "text", 64)
      .count() == 0)
  }

  test("GramHashes: per-position xxhash64(substring) parity, incl. non-BMP") {
    // the r18 substringSpans proxy: element i of GramHashes(text, k)
    // must equal xxhash64(substring(text, i+1, k)) — Spark's xxhash64
    // hashes a string's UTF-8 bytes with seed 42, which is exactly
    // what the fused pass computes over each k-CODE-POINT window.
    // Multi-byte and non-BMP chars (zh is 3 UTF-8 bytes, the emoji 4
    // bytes / a surrogate pair) pin the code-point window arithmetic.
    val texts = Seq("abcdefg", "a中文b😀cd", "ab", "")
    for (k <- Seq(1, 3); t <- texts) {
      val df = Seq(Tuple1(t)).toDF("t")
      val fused = df.select(
          graft.functions.GramHashes($"t", k).as("hs"))
        .as[Seq[Long]].head()
      val n = t.codePointCount(0, t.length)
      val expected = (1 to math.max(0, n - k + 1)).map { i =>
        df.select(xxhash64(expr(s"substring(t, $i, $k)")))
          .as[Long].head()
      }
      assert(fused == expected, s"k=$k text=$t")
    }
  }

  test("sourceOverlap: hand-computed pair matrix, zero-overlap pairs kept") {
    // 3-gram sets: g1 = {abc, bcd}, g2 = {abc, bcx}, g3 = {qrs};
    // within-group repeats collapse (two identical g1 docs)
    val d = Seq((1L, "g1", "a b c d"), (2L, "g1", "a b c d"),
      (3L, "g2", "a b c x"), (4L, "g3", "q r s"))
      .toDF("doc_id", "source", "text")
    val got = Dedup.sourceOverlap(d, "source", "text", n = 3)
      .as[(String, String, Long, Long, Double)].collect().toSet
    assert(got == Set(
      ("g1", "g2", 1L, 3L, 1.0 / 3),
      ("g1", "g3", 0L, 3L, 0.0),
      ("g2", "g3", 0L, 3L, 0.0)))
  }

  test("substringCoverage: summed disjoint spans over doc length, zeros kept") {
    val gap = "." * 30
    val d = Seq(
      (1L, ("A" * 10) + s70 + ("B" * 10)), // one 70-char span / 90
      (2L, ("C" * 5) + s70 + ("D" * 25)),  // one 70-char span / 100
      (3L, s70 + gap + s70),               // two 70-char spans / 170
      // 30 dots + 30 E's + 30 dots: every 64-window has a p-dependent
      // dot/E composition (no 64-char run repeats anywhere in the
      // corpus — doc 3's dot run is only 30) → zero coverage
      (7L, gap + ("E" * 30) + gap),
      (9L, "short")).toDF("doc_id", "text")
    val got = Dedup.substringCoverage(d, "doc_id", "text", k = 64)
      .as[(Long, Long, Long, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(got(1L) == ((90L, 70L, 70.0 / 90)))
    assert(got(2L) == ((100L, 70L, 0.7)))
    assert(got(3L) == ((170L, 140L, 140.0 / 170)))
    assert(got(7L) == ((90L, 0L, 0.0)))
    assert(got(9L) == ((5L, 0L, 0.0)))
  }

  test("substringSpans: corpus spans are disjoint, ordered, ≥ k long") {
    val out = Dedup.substringSpans(docs, "doc_id", "text", k = 64)
      .orderBy($"doc", $"span_start")
      .select($"doc", $"span", $"span_start", $"span_end", $"len")
      .as[(Long, Long, Long, Long, Long)].collect()
    assert(out.nonEmpty) // the corpus ships templated near-dups
    out.groupBy(_._1).foreach { case (_, spans) =>
      spans.sliding(2).foreach {
        case Array(a, b) =>
          assert(b._3 > a._4 + 1) // disjoint, non-adjacent
          assert(b._2 == a._2 + 1) // island ids dense
        case _ => ()
      }
    }
    assert(out.forall(s => s._5 >= 64 && s._5 == s._4 - s._3 + 1))
  }

  test("quality classifier: features by hand; logistic training separates") {
    // "a b" → unigrams a, b plus bigram a_b = 3 feature occurrences;
    // "a" alone → 1 (no bigram); "" → no rows
    val f1 = TextAnalysis.hashedFeatures(
      Seq((1L, "a b"), (2L, "a"), (3L, "")).toDF("doc_id", "text"),
      "doc_id", "text", dim = 1024)
    assert(f1.groupBy($"doc").agg(sum($"cnt")).as[(Long, Long)]
      .collect().toMap == Map(1L -> 3L, 2L -> 1L))
    // separable corpus: two disjoint vocabularies → logistic GD must
    // reach ~perfect train accuracy (behavior pin, not weight pin —
    // float gradient sums reduce in partition order)
    val r = new scala.util.Random(3)
    val vg = Seq("good", "excellent", "clean", "clear")
    val vb = Seq("bad", "awful", "junk", "noise")
    val docs = (0 until 120).map { i =>
      val v = if (i % 2 == 1) vg else vb
      (i.toLong, (0 until 10).map(_ => v(r.nextInt(4))).mkString(" "),
        i % 2)
    }
    val df = docs.toDF("doc", "text", "y")
    val feats = TextAnalysis.hashedFeatures(df, "doc", "text", dim = 256)
    val w = TextAnalysis.trainLogistic(feats,
      df.select($"doc", $"y"), dim = 256, iters = 30, lr = 1.0)
    val wDf = w.zipWithIndex.map { case (v, i) => (i.toLong, v) }
      .toSeq.toDF("dim", "w")
    val acc = TextAnalysis.scoreLinear(feats, wDf)
      .join(df.select($"doc", $"y"), Seq("doc"))
      .filter(($"margin" > 0) === ($"y" === 1)).count().toDouble /
      docs.size
    assert(acc >= 0.95, s"train accuracy $acc")
  }

  test("charGramFeatures: grams by hand; short/empty docs absent") {
    // "abcd" → grams abc, bcd (positions 1..len-2 of the LOWERED
    // text); "ab" and "" are shorter than n and emit nothing
    val f = TextAnalysis.charGramFeatures(
      Seq((1L, "AbCd"), (2L, "ab"), (3L, "")).toDF("doc_id", "text"),
      "doc_id", "text", n = 3, dim = 1 << 20)
    val got = f.select($"doc", $"dim", $"cnt")
      .as[(Long, Long, Long)].collect().toSet
    def h(s: String) = TextAnalysis.rollLocal(s) % (1 << 20)
    assert(got === Set((1L, h("abc"), 1L), (1L, h("bcd"), 1L)))
    // repeated gram counts: "aaaa" → aaa ×2
    val f2 = TextAnalysis.charGramFeatures(
      Seq((1L, "aaaa")).toDF("doc_id", "text"), "doc_id", "text", 3, 1 << 20)
    assert(f2.select($"cnt").as[Long].collect().toSeq == Seq(2L))
  }

  test("langidServe: argmax margins with alphabetical tie-break") {
    val feats = Seq((1L, 0L, 2L), (1L, 1L, 1L), (2L, 0L, 1L))
      .toDF("doc", "dim", "cnt")
    // doc 1: en margin 2·1+1·3 = 5, fr margin 2·2+1·1 = 5 (tie → en);
    // doc 2: en 1, fr 2 → fr
    val w = Seq(("en", 0L, 1L), ("en", 1L, 3L), ("fr", 0L, 2L),
      ("fr", 1L, 1L)).toDF("lang", "dim", "w")
    val got = TextAnalysis.langidServe(feats, w)
      .select($"doc", $"margin", $"lang_pred")
      .as[(Long, Long, String)].collect().toSet
    assert(got === Set((1L, 5L, "en"), (2L, 2L, "fr")))
  }

  test("PrefixMergeDot: dual-ordinal accept — a simulated hash-collision " +
      "candidate rejects instead of double-emitting") {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    import org.apache.spark.unsafe.types.UTF8String
    def arr(toks: (Double, String, Long)*): GenericArrayData =
      new GenericArrayData(toks.map { case (m, t, w) =>
        InternalRow(m, UTF8String.fromString(t), w) }.toArray[Any])
    // A = [x, y, z], B = [x, y, q] under global order m DESC; shared
    // tokens {x, y}, first shared = x (a-rank 1, b-rank 1)
    val a = arr((0.9, "x", 2L), (0.8, "y", 3L), (0.5, "z", 1L))
    val b = arr((0.9, "x", 5L), (0.8, "y", 7L), (0.4, "q", 1L))
    val e = graft.functions.PrefixMergeDot(
      null: org.apache.spark.sql.catalyst.expressions.Expression,
      null, null, null)
    // genuine first-shared row: both ordinals point at x → exact dot
    assert(e.merge(a, b, 1, 1) == 2L * 5 + 3L * 7)
    // non-first genuine row (generated at y on both sides): reject
    assert(e.merge(a, b, 2, 2) == null)
    // SIMULATED 64-bit collision row: the join matched a's x (rank 1)
    // against b's q (rank 3) because xxhash64(x) == xxhash64(q); the
    // merge sees first-shared x at b-index 0 ≠ rankB−1 = 2 → reject.
    // With the a-side-only check this row would have DUPLICATED the
    // genuine (1, 1) accept.
    assert(e.merge(a, b, 1, 3) == null)
    // disjoint arrays: no shared token at all
    val c = arr((0.7, "u", 1L), (0.3, "v", 2L))
    assert(e.merge(a, c, 1, 1) == null)
  }

  test("dsirWeights: driver-side replica parity, edge docs, domain ordering") {
    val dim = 1 << 16 // collision-free at this corpus size
    val tgtTexts = Seq("alpha beta gamma", "alpha beta", "beta gamma delta")
    val rawDocs = Map(0L -> "alpha beta gamma", 1L -> "beta gamma",
      2L -> "omega psi chi", 3L -> "psi chi omega omega",
      5L -> "solo")
    val raw = (rawDocs.toSeq :+ (4L -> "")).toDF("doc_id", "text")
    val target = tgtTexts.zipWithIndex.map { case (t, i) => (100L + i, t) }
      .toDF("doc_id", "text")
    val got = TextAnalysis.dsirWeights(raw, target, "doc_id", "text", dim)
      .select($"doc", $"n_feats", $"logw").as[(Long, Long, Double)]
      .collect().map(r => r._1 -> (r._2, r._3)).toMap
    // empty doc emits no row; a 1-token doc has exactly 1 feature
    assert(!got.contains(4L))
    assert(got(5L)._1 == 1L)
    // replica from first principles: unigrams + adjacent bigrams,
    // rolling-hash buckets, add-one smoothed log-ratio
    def feats(s: String): Seq[String] = {
      val w = s.split("\\s+").filter(_.nonEmpty).toSeq
      w ++ w.sliding(2).filter(_.size == 2).map(_.mkString(" "))
    }
    def b(g: String): Long = TextAnalysis.rollLocal(g) % dim
    val ctM = tgtTexts.flatMap(feats).groupBy(b)
      .view.mapValues(_.size.toLong).toMap
    val crM = rawDocs.values.toSeq.flatMap(feats).groupBy(b)
      .view.mapValues(_.size.toLong).toMap
    val (tT, tR) = (ctM.values.sum, crM.values.sum)
    rawDocs.foreach { case (id, txt) =>
      val fs = feats(txt)
      assert(got(id)._1 == fs.size, s"n_feats at $id")
      val exp = fs.groupBy(b).map { case (bk, gs) =>
        gs.size * (math.log((ctM.getOrElse(bk, 0L) + 1.0) / (tT + dim)) -
          math.log((crM(bk) + 1.0) / (tR + dim)))
      }.sum
      assert(math.abs(got(id)._2 - exp) < 1e-6, s"logw at $id")
    }
    // target-domain ordering: target-vocab docs outscore off-domain
    for (t <- Seq(0L, 1L); o <- Seq(2L, 3L))
      assert(got(t)._2 > got(o)._2, s"logw($t) !> logw($o)")
  }

  test("trained langid: char-3-gram one-vs-rest beats the marker toy (behavior pin)") {
    // planted multilingual corpus with language-characteristic
    // function words AND content words whose char 3-grams are
    // distinctive (sch/über for de, ñ/ción for es, …) — the signal a
    // char-gram model learns and the marker toy only partially sees
    val vocab = Map(
      "en" -> Seq("the", "house", "dog", "quickly", "running", "with",
        "through", "garden"),
      "es" -> Seq("el", "perro", "casa", "rápidamente", "través",
        "jardín", "señor", "canción"),
      "fr" -> Seq("le", "chien", "maison", "rapidement", "à",
        "travers", "jardin", "être"),
      "de" -> Seq("der", "hund", "haus", "schnell", "läuft", "durch",
        "über", "garten"))
    val langs = vocab.keys.toSeq.sorted
    val r = new scala.util.Random(7)
    val docs = (0 until 160).map { i =>
      val lang = langs(i % 4)
      val v = vocab(lang)
      (i.toLong, (0 until 8).map(_ => v(r.nextInt(v.size))).mkString(" "),
        lang)
    }
    val df = docs.toDF("doc_id", "text", "lang")
    val w = TextAnalysis.langidTrain(df, "doc_id", "text", "lang",
      langs, n = 3, dim = 256, iters = 10, lr = 1.0)
    val feats = TextAnalysis.charGramFeatures(df, "doc_id", "text", 3, 256)
    val pred = TextAnalysis.langidServe(feats, w)
      .select($"doc", $"lang_pred").as[(Long, String)].collect().toMap
    val accTrained = docs.count(d => pred.get(d._1).contains(d._3))
      .toDouble / docs.size
    val markerPred = df.select($"doc_id", TextAnalysis.langId($"text"))
      .as[(Long, String)].collect().toMap
    val accMarker = docs.count(d => markerPred.get(d._1).contains(d._3))
      .toDouble / docs.size
    assert(accTrained >= 0.95, s"trained accuracy $accTrained")
    assert(accTrained >= accMarker,
      s"trained $accTrained < marker $accMarker")
  }

  test("text analysis: langid marker hit and quality bounds") {
    val d = Seq((0L, "the cat and the dog of the house"),
      (1L, "el perro de la casa que ladra los dias"),
      (2L, "zzz qqq xxx")).toDF("doc_id", "text")
    val out = d.select($"doc_id", TextAnalysis.langId($"text").as("l"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out(0L) == "en" && out(1L) == "es" && out(2L) == "und")
    val q = docs.select(TextAnalysis.qualityScore($"text").as("q"))
      .agg(min("q"), max("q")).head
    assert(q.getDouble(0) >= 0.0 && q.getDouble(1) <= 1.0)
  }
}
