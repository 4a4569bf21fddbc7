package graft.llm

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Deduplication operators for training-data pipelines: exact,
  * MinHash+LSH, SimHash, and n-gram Jaccard. All shuffle-conscious:
  *
  *  - exact dedup: one hash-partitioned groupBy on the content key;
  *  - MinHash+LSH: per-row signature (map-only) → explode b band keys →
  *    self-join on band key (shuffle on band, never all-pairs) → distinct
  *    candidate pairs. Cost O(rows·b) instead of O(rows²);
  *  - SimHash: per-row 20-bit signature via one explode+groupBy;
  *  - n-gram Jaccard: exact verification on a candidate pair set.
  *
  * All hashing is md5/polynomial arithmetic that DuckDB reproduces exactly,
  * so every op is oracle-checkable.
  */
object Dedup {

  // -------------------------------------------------------------------
  // exact dedup
  // -------------------------------------------------------------------

  /** Exact dedup on a content column: keep the min-id row per distinct
    * content (deterministic winner). Output keeps the group size so the
    * caller can see what collapsed. */
  def exact(df: DataFrame, content: Column, id: Column): DataFrame =
    df.groupBy(md5(content.cast(StringType)).as("content_hash"))
      .agg(min(id).as("keep_id"), count(lit(1)).as("n_dups"))

  /** Duplicate-aware SOFT dedup: keep every row, downweight duplicates.
    * Each row of an n-way exact-duplicate cluster carries weight 1/n, so
    * a weighted pass over the corpus sees the deduplicated distribution
    * while provenance, per-source stats, and late re-dedup decisions all
    * survive — the keep-but-reweight alternative to [[exact]]'s
    * keep-one-drop-rest (duplicate-aware training loss weighting; same
    * spirit as count-scaled repetition control in large-corpus training).
    *
    * One count-window over the content hash — the identical single
    * hash-partitioned shuffle [[exact]] pays, with no join-back and no
    * second scan of the corpus; at 100 TB the exchange carries the rows
    * once, partitioned by a uniform md5 key (no skew beyond the true
    * duplicate cliques themselves).
    *
    * Output: (doc_id, n_dups, weight = round(1/n, 6)). */
  def softWeights(df: DataFrame, id: Column, content: Column): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(md5(content.cast(StringType)))
    df.select(id.as("doc_id"), count(lit(1)).over(w).as("n_dups"))
      .withColumn("weight", round(lit(1.0) / col("n_dups"), 6))
  }

  /** Leakage-safe train/val/test split: assign by the exact-duplicate
    * cluster REPRESENTATIVE's hash, not the row's own id, so duplicate
    * documents can never straddle splits — the classic eval
    * contamination where a test document's twin sits in train and the
    * held-out metric silently measures memorization. A per-row id-hash
    * split ([[graft.llm.TextAnalysis.splitAssign]]) leaks exactly this
    * way on any corpus with duplicates.
    *
    * One min-window over the content hash (the identical single
    * hash-partitioned exchange [[exact]] pays — no join-back, no second
    * corpus scan), then the map-only split hash of the representative.
    * For NEAR-duplicate safety, feed a canonical key from the fuzzy
    * stack instead of raw text (e.g. join [[minhashClusters]]' cluster
    * id in as `content`) — the split logic is key-agnostic.
    *
    * Output: (doc_id, rep_id, split). */
  def splitByCluster(df: DataFrame, id: Column, content: Column,
                     trainPct: Int = 80, valPct: Int = 10): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(md5(content.cast(StringType)))
    df.select(id.as("doc_id"), min(id).over(w).as("rep_id"))
      .withColumn("split",
        TextAnalysis.splitAssign(col("rep_id"), trainPct, valPct))
  }

  // -------------------------------------------------------------------
  // shingling
  // -------------------------------------------------------------------

  /** Word n-gram shingle list (with duplicates; min-hashing is multiset-
    * insensitive so no dedup needed). Documents with fewer than n words
    * shingle to the whole text. */
  def shingles(text: Column, n: Int): Column = {
    val ws = TextAnalysis.tokens(lower(text))
    val joined = transform(
      sequence(lit(0), size(ws) - n),
      i => concat_ws(" ", slice(ws, i + 1, lit(n))))
    when(size(ws) >= n, joined).otherwise(array(concat_ws(" ", ws)))
  }

  // -------------------------------------------------------------------
  // MinHash + LSH banding
  // -------------------------------------------------------------------

  /** Modulus for the minhash mixers (2^31 - 1, prime). */
  val MinhashPrime = 2147483647L

  /** Multiplier/offset of minhash function i, derived from the rolling
    * hash of "a:i"/"b:i" — a deterministic, engine-portable formula
    * evaluated ONCE driver-side and embedded as literals. Multiplier is
    * forced non-zero. */
  def mixA(i: Int): Long =
    (TextAnalysis.rollLocal(s"a:$i") % (MinhashPrime - 1)) + 1
  def mixB(i: Int): Long = TextAnalysis.rollLocal(s"b:$i") % MinhashPrime

  /** Minhash value i over a shingle-hash column: (a_i·h + b_i) mod p.
    * Each shingle is rolling-hashed ONCE; the k signature values are
    * integer mixes of that one hash — k× cheaper than the former
    * k-md5-calls-per-shingle form. a·h + b ≤ (p-1)² + p < 2^63: no
    * overflow in either engine. */
  def minhashMix(h: Column, i: Int): Column =
    (h * lit(mixA(i)) + lit(mixB(i))) % lit(MinhashPrime)

  /** One row per (document, shingle string): word n-grams built
    * RELATIONALLY — posexplode tokens, lead() over a per-document
    * window, codegen'd concat — instead of the array-HOF form
    * ([[shingles]]): transform/slice lambdas are CodegenFallback and
    * re-evaluate per reference, which benched ~2× slower. Costs one
    * shuffle on the doc key (the window sort), which downstream
    * signature aggregation repartitions on anyway. Documents with fewer
    * than n tokens contribute their whole text as one shingle,
    * identical to [[shingles]]' fallback. */
  private[llm] def shingleRows(df: DataFrame, id: String, text: String,
                               n: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tok = df.select(col(id).as("doc"),
      posexplode(TextAnalysis.tokens(lower(col(text))))
        .as(Seq("pos", "tok")))
    val w = Window.partitionBy("doc").orderBy("pos")
    val leads = col("tok") +: (1 until n).map(j =>
      lead(col("tok"), j).over(w))
    val full = tok.select(col("doc") +: leads.zipWithIndex.map {
        case (c, i) => c.as(s"t$i") }: _*)
      .filter(col(s"t${n - 1}").isNotNull)
      .select(col("doc"),
        concat_ws(" ", (0 until n).map(i => col(s"t$i")): _*).as("sh"))
    val short = df.select(col(id).as("doc"),
        TextAnalysis.tokens(lower(col(text))).as("ws"))
      .filter(size(col("ws")) < n)
      .select(col("doc"), concat_ws(" ", col("ws")).as("sh"))
    full.unionByName(short)
  }

  /** k-value minhash signature as columns mh0..mh{k-1}.
    *
    * MAP-ONLY (r6): the native codegen expression
    * [[graft.functions.MinHashSig]] slides the n-gram window over each
    * row's own tokens and keeps k running minima in one pass — NO
    * SHUFFLE. The former relational pipeline ([[minhashSignatureRelational]],
    * retained as the equivalence pin) paid TWO corpus-wide exchanges
    * per pass: the `Window.partitionBy(doc)` assembling shingles and
    * the min-aggregate groupBy — both reassembling per-row state. */
  def minhashSignature(df: DataFrame, id: String, text: String,
                       n: Int, k: Int): DataFrame = {
    val arr = graft.functions.MinHashSig(lower(col(text)), n, k)
    // null-text rows are dropped on the CHEAP column predicate, not on
    // the expression result — a filter on isNotNull(minhash(...)) would
    // evaluate the whole signature a second time in the Filter node
    // (per-operator codegen has no cross-operator CSE). The expression
    // never returns null for non-null text (zero tokens still yield the
    // empty-string shingle, as in the relational short-doc branch).
    df.filter(col(text).isNotNull)
      .select(col(id).as("doc"), arr.as("mharr"))
      .select(col("doc") +: (0 until k).map(i =>
        element_at(col("mharr"), i + 1).as(s"mh$i")): _*)
  }

  /** MinHash-estimated Jaccard over explicit candidate pairs: the
    * fraction of agreeing signature components — the unbiased estimator
    * MinHash exists to provide (E[est] = true n-gram Jaccard; std err
    * ~1/√k). The cheap screen between LSH candidate generation and the
    * exact [[jaccardOnPairs]] verify: signatures are map-only
    * ([[minhashSignature]]), the pairs join is linear in |pairs|, and
    * k·matches/k is a binary-exact double (engine-portable compare). */
  def minhashEstimate(df: DataFrame, id: String, text: String,
                      pairs: DataFrame, n: Int = 3,
                      k: Int = 16): DataFrame = {
    val sig = minhashSignature(df, id, text, n, k)
    val a = sig.select(col("doc").as("id_a") +:
      (0 until k).map(i => col(s"mh$i").as(s"__a$i")): _*)
    val b = sig.select(col("doc").as("id_b") +:
      (0 until k).map(i => col(s"mh$i").as(s"__b$i")): _*)
    val matches = (0 until k).map(i =>
      when(col(s"__a$i") === col(s"__b$i"), 1).otherwise(0)).reduce(_ + _)
    pairs.select(col("id_a"), col("id_b"))
      .join(a, Seq("id_a")).join(b, Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        (matches.cast(DoubleType) / k).as("est_jaccard"))
  }

  /** The shingle-rows → hash-once → k-min-aggregate relational form of
    * [[minhashSignature]] (shuffle carries one k-wide row per document;
    * per-shingle work is one string hash + k multiply-add-mods — the
    * r1-era md5-per-shingle hot spot stays dead). Kept so the
    * expression's bit-exactness is pinned against an independent
    * computation path (LlmSpec) and as the reference the DuckDB oracle
    * mirrors in SQL. */
  private[graft] def minhashSignatureRelational(df: DataFrame, id: String,
                                                text: String,
                                                n: Int, k: Int): DataFrame = {
    val sh = shingleRows(df, id, text, n)
      .select(col("doc"), TextAnalysis.tokenHash(col("sh")).as("h"))
    val aggs = (0 until k).map(i => min(minhashMix(col("h"), i)).as(s"mh$i"))
    sh.groupBy("doc").agg(aggs.head, aggs.tail: _*)
  }

  /** Candidate near-dup pairs via MinHash LSH: documents sharing any band
    * key. Returns distinct (id_a, id_b) with id_a < id_b. The self-join
    * shuffles on the band key only — no quadratic blow-up across buckets.
    *
    * `maxBucketSize` caps the hot-bucket quadratic: a band bucket with
    * more than `maxBucketSize` documents is dropped from the candidate
    * join (its members are near-identical boilerplate that exact dedup
    * or a dedicated pass should collapse first — emitting its O(n²)
    * pairs is never what a 100 TB pipeline wants). None = no cap, which
    * keeps the operator exact (the oracle-checked default). */
  /** LSH band-key columns over a signature frame's mh0..mh{k-1}. */
  /** Per-row LSH band-key ARRAY of a text column — the signature the
    * maintained MinHash novelty ingest
    * ([[graft.streaming.Events.minhashNoveltyIngestBatch]]) stores and
    * probes: the map-only [[graft.functions.MinHashSig]] signature,
    * sliced into `bands` md5 band keys (bit-identical to
    * [[sigBandCols]] over [[minhashSignature]] — the md5 input is the
    * same "b:" prefix + "|"-joined decimal values, so the DuckDB
    * oracle replays it). NULL text → NULL band array (no signature, no
    * duplicate evidence). Callers should stage the raw signature array
    * in its own projection when referencing this per band (the
    * ingest's `sign` step does). */
  def minhashBandArray(sigArr: Column, k: Int = 16,
                       bands: Int = 4): Column = {
    val r = k / bands
    array((0 until bands).map { b =>
      concat(lit(s"$b:"),
        md5(concat_ws("|", (b * r until (b + 1) * r)
          .map(i => element_at(sigArr, i + 1).cast(StringType)): _*)))
    }: _*)
  }

  private def sigBandCols(k: Int, bands: Int): Seq[Column] = {
    val r = k / bands
    (0 until bands).map { b =>
      concat(lit(s"$b:"),
        md5(concat_ws("|", (b * r until (b + 1) * r)
          .map(i => col(s"mh$i").cast(StringType)): _*)))
    }
  }

  def minhashCandidates(df: DataFrame, id: String, text: String,
                        n: Int = 3, k: Int = 16, bands: Int = 4,
                        maxBucketSize: Option[Int] = None)
      : DataFrame = {
    val sig = minhashSignature(df, id, text, n, k)
    val bandCols = sigBandCols(k, bands)
    val keyed0 = sig.select(col("doc"), explode(array(bandCols: _*)).as("band"))
    val keyed = maxBucketSize match {
      case None => keyed0
      case Some(cap) =>
        // bucket sizes via a window over the SAME subplan (a join
        // against a separate count-agg would evaluate the whole
        // signature pipeline twice); hot buckets never enter the
        // self-join
        import org.apache.spark.sql.expressions.Window
        keyed0
          .withColumn("__bucket_n",
            count(lit(1)).over(Window.partitionBy(col("band"))))
          .filter(col("__bucket_n") <= cap)
          .drop("__bucket_n")
    }
    val a = keyed.alias("a")
    val b = keyed.alias("b")
    a.join(b, col("a.band") === col("b.band") &&
        col("a.doc") < col("b.doc"))
      .select(col("a.doc").as("id_a"), col("b.doc").as("id_b"))
      .distinct()
  }

  /** Cross-corpus similarity join (entity resolution / fuzzy matching):
    * pairs a left row with every right row whose n-gram Jaccard clears
    * `threshold` — the two-sided sibling of [[minhashCandidates]].
    * Dedup asks "what repeats inside one corpus"; fuzzy join asks
    * "which records of A describe the same thing as B" (catalog
    * matching, leakage of an eval corpus against a second crawl,
    * near-dup transfer between snapshots).
    *
    * Shape at scale: both sides get map-only signatures
    * ([[minhashSignature]] — no shuffle), band keys explode map-side,
    * and the ONLY corpus-sized exchange is the band-key equi-join —
    * never an all-pairs product, and each side shuffles once. With
    * `exact = false` candidates are screened by the signature-agreement
    * estimator (k·matches/k — binary-exact, engine-portable);
    * `exact = true` re-verifies candidates with exact shingle-set
    * Jaccard (linear in candidate shingle volume, the
    * [[jaccardOnPairs]] pattern run two-sided so ids may collide
    * between corpora).
    *
    * Output: (id_a from left, id_b from right,
    * est_jaccard | jaccard ≥ threshold). */
  def fuzzyJoin(left: DataFrame, right: DataFrame, id: String, text: String,
                threshold: Double, n: Int = 3, k: Int = 16, bands: Int = 4,
                exact: Boolean = false): DataFrame = {
    val sigL = minhashSignature(left, id, text, n, k)
    val sigR = minhashSignature(right, id, text, n, k)
    def banded(sig: DataFrame, as: String) =
      sig.select(col("doc").as(as),
        explode(array(sigBandCols(k, bands): _*)).as("band"))
    val cands = banded(sigL, "id_a").join(banded(sigR, "id_b"), Seq("band"))
      .select(col("id_a"), col("id_b")).distinct()
    if (!exact) {
      val a = sigL.select(col("doc").as("id_a") +:
        (0 until k).map(i => col(s"mh$i").as(s"__a$i")): _*)
      val b = sigR.select(col("doc").as("id_b") +:
        (0 until k).map(i => col(s"mh$i").as(s"__b$i")): _*)
      val matches = (0 until k).map(i =>
        when(col(s"__a$i") === col(s"__b$i"), 1).otherwise(0)).reduce(_ + _)
      cands.join(a, Seq("id_a")).join(b, Seq("id_b"))
        .select(col("id_a"), col("id_b"),
          (matches.cast(DoubleType) / k).as("est_jaccard"))
        .filter(col("est_jaccard") >= threshold)
    } else {
      def shs(df: DataFrame, as: String) =
        shingleRows(df, id, text, n)
          .select(col("doc").as(as), TextAnalysis.tokenHash(col("sh")).as("sh"))
          .distinct()
      val shA = shs(left, "id_a"); val shB = shs(right, "id_b")
      val szA = shA.groupBy("id_a").agg(count(lit(1)).as("sz_a"))
      val szB = shB.groupBy("id_b").agg(count(lit(1)).as("sz_b"))
      val inter = cands.join(shA, Seq("id_a")).join(shB, Seq("id_b", "sh"))
        .groupBy("id_a", "id_b").agg(count(lit(1)).as("inter"))
      cands.join(inter, Seq("id_a", "id_b"), "left_outer")
        .na.fill(0L, Seq("inter"))
        .join(szA, Seq("id_a")).join(szB, Seq("id_b"))
        .select(col("id_a"), col("id_b"),
          graft.functions.Round6(col("inter").cast(DoubleType) /
            (col("sz_a") + col("sz_b") - col("inter"))).as("jaccard"))
        .filter(col("jaccard") >= threshold)
    }
  }

  // -------------------------------------------------------------------
  // incremental dedup (new batch vs a persisted signature index)
  // -------------------------------------------------------------------

  /** Novelty screen for INCREMENTAL ingestion: flag batch documents
    * that near-duplicate a persisted signature index — the daily-crawl
    * vs years-of-history shape, where re-running full-corpus dedup per
    * increment would re-shuffle 100 TB to admit a few GB.
    *
    * `index` is a [[minhashSignature]] frame (doc, mh0..mh{k-1}) — the
    * model a deployment persists once per corpus build (k longs per
    * doc; at 100 TB of text the index is ~0.1% of the data). Both sides
    * expand to band keys map-side; the equi-join on the band key is the
    * only corpus-sized shuffle, and it moves the BATCH side to the
    * index — with the index stored bucketed by band key the exchange
    * shrinks to the batch alone. The per-doc aggregate counts distinct
    * matched history docs, so the result is auditable (which increment
    * rows were near-dups, and how strongly), not just a filter.
    *
    * Batch-INTERNAL duplicates are deliberately out of scope: run
    * [[minhashClusters]] over the novel survivors (batch-sized, cheap)
    * — novelty-vs-history and self-consistency are different policies
    * and pipelines legitimately order them differently.
    *
    * Output: (doc, n_dups = distinct index docs sharing ≥1 band,
    * novel = n_dups == 0) — one row per batch doc with non-null text. */
  def minhashNovelty(batch: DataFrame, id: String, text: String,
                     index: DataFrame, n: Int = 3, k: Int = 16,
                     bands: Int = 4): DataFrame = {
    val bandCols = sigBandCols(k, bands)
    val indexBands = index
      .select(col("doc").as("hist"), explode(array(bandCols: _*)).as("band"))
    minhashNoveltyBanded(batch, id, text, indexBands, n, k, bands)
  }

  /** Expanded band-key form of the novelty index: (hist, band), what a
    * deployment PERSISTS — written once per corpus build via
    * `Layout.writeBucketed(indexBands(...), table, B, Seq("band"))` so
    * the incremental join reads co-located buckets and only the BATCH
    * side is exchanged (asserted at the plan level in LayoutSpec). */
  def indexBands(index: DataFrame, k: Int = 16, bands: Int = 4): DataFrame =
    index.select(col("doc").as("hist"),
      explode(array(sigBandCols(k, bands): _*)).as("band"))

  /** [[minhashNovelty]] against a PRE-EXPANDED (hist, band) index — the
    * serving path for a bucket-stored index (see [[indexBands]]). */
  def minhashNoveltyBanded(batch: DataFrame, id: String, text: String,
                           indexBands: DataFrame, n: Int = 3, k: Int = 16,
                           bands: Int = 4): DataFrame = {
    val bandCols = sigBandCols(k, bands)
    val batchBands = minhashSignature(batch, id, text, n, k)
      .select(col("doc"), explode(array(bandCols: _*)).as("band"))
    val matches = batchBands.join(indexBands, Seq("band"))
      .groupBy("doc").agg(countDistinct(col("hist")).as("n_dups"))
    batch.filter(col(text).isNotNull)
      .select(col(id).as("doc"))
      .join(matches, Seq("doc"), "left_outer")
      .na.fill(0L, Seq("n_dups"))
      .withColumn("novel", col("n_dups") === 0)
  }

  // -------------------------------------------------------------------
  // benchmark decontamination
  // -------------------------------------------------------------------

  /** Flags training documents whose word n-grams overlap a benchmark
    * ("contamination") set — the eval-leakage guard a training-data
    * pipeline runs before any model sees the corpus (the GPT-3/PaLM
    * style n-gram decontamination; n=8..13 in practice, parameterized
    * here).
    *
    * Scale shape: the benchmark side is model-sized next to the corpus
    * (eval suites are thousands of documents; the corpus is 100 TB), so
    * its DISTINCT shingle-hash set is computed once and BROADCAST. The
    * corpus side generates shingles and is filtered by the broadcast
    * hash join map-side — the corpus itself is never exchanged. Only
    * MATCHED (doc, shingle) rows — rare by construction — reach the one
    * aggregation shuffle (distinct-count per doc), and the per-doc
    * counts coming back are broadcast again for the final flag join, so
    * the full pipeline moves O(|matches| + |bench|) bytes through
    * exchanges regardless of corpus size. If contamination were
    * pervasive (counts ≈ corpus), drop the second broadcast hint and
    * the flag join degrades to one ordinary shuffle join — still never
    * quadratic.
    *
    * Shingles are rolling-hashed to integer keys before the join (the
    * same winnowing trade as [[jaccardOnPairs]]: the exchange carries
    * longs, not strings; the oracle hashes identically). Documents
    * shorter than n tokens contribute their whole text as one shingle —
    * a short doc equal to a short benchmark doc still matches.
    *
    * Output: one row per input doc — (doc, n_contaminated = distinct
    * overlapping shingles, contaminated = n_contaminated >= minOverlap).
    */
  def decontaminate(docs: DataFrame, id: String, text: String,
                    bench: DataFrame, benchText: String,
                    n: Int = 3, minOverlap: Int = 1): DataFrame = {
    val benchSh = bench
      .select(explode(shingles(col(benchText), n)).as("sh"))
      .select(TextAnalysis.tokenHash(col("sh")).as("sh"))
      .distinct()
    val matched = shingleRows(docs, id, text, n)
      .select(col("doc"), TextAnalysis.tokenHash(col("sh")).as("sh"))
      .join(broadcast(benchSh), Seq("sh"))
      .groupBy("doc")
      .agg(countDistinct(col("sh")).as("n_contaminated"))
    docs.select(col(id).as("doc"))
      .join(broadcast(matched), Seq("doc"), "left_outer")
      .na.fill(0L, Seq("n_contaminated"))
      .withColumn("contaminated", col("n_contaminated") >= minOverlap)
  }

  /** Driver-side contamination set: the benchmark's DISTINCT shingle
    * hashes as one sorted array — model-sized (eval suites are
    * thousands of documents; a 375k-shingle set is 3 MB), shipped to
    * executors once per task like any broadcast model. The input to
    * [[decontaminateSet]] and `Events.decontaminateStream`. */
  def contaminationSet(bench: DataFrame, benchText: String,
                       n: Int = 3): Array[Long] =
    bench.select(explode(graft.functions.ShingleHashes(
        lower(col(benchText)), n)).as("h"))
      .distinct().collect().map(_.getLong(0))

  /** Map-only decontamination: same output contract as
    * [[decontaminate]] ((doc, n_contaminated, contaminated) per doc,
    * distinct-match counting), but the membership test is a native
    * scalar against the broadcast sorted set ([[graft.functions.CountInSet]])
    * instead of a join — NO exchange anywhere in the plan, which is
    * what lets the same operator run per-row inside Structured
    * Streaming (no stream-stream join, no aggregation state). Batch
    * pipelines can prefer either; the join form keeps the set fully
    * distributed, this form trades one driver collect of the benchmark
    * hashes for a pure projection. Equivalence is pinned in LlmSpec. */
  def decontaminateSet(docs: DataFrame, id: String, text: String,
                       set: Array[Long], n: Int = 3,
                       minOverlap: Int = 1): DataFrame =
    // ShingleHashes + CountInSet keep the projection inside whole-stage
    // codegen; the transform(shingles(...), RollingHash) spelling rode
    // on a CodegenFallback HOF and ran the row interpreted (3.6 s →
    // 0.3 s on the sf0.1 row — see ShingleHashes' scaladoc)
    docs.select(col(id).as("doc"),
        coalesce(
          graft.functions.CountInSet(
            graft.functions.ShingleHashes(lower(col(text)), n),
            set).cast(LongType),
          lit(0L)).as("n_contaminated"))
      .withColumn("contaminated", col("n_contaminated") >= minOverlap)

  /** Distributed contamination Bloom filter — the scale path past
    * [[contaminationSet]]. The exact sorted set collects every distinct
    * benchmark shingle hash to the driver: model-sized for one eval
    * suite (3 MB-class), impossible for a contamination REGISTRY of
    * billions of n-grams (every benchmark release + heldout splits +
    * customer evals). This builds the sketch as a DISTRIBUTED
    * `stat.bloomFilter` aggregate — only the bit array reaches the
    * driver — and the error direction is the safe one for
    * decontamination: NO false negatives (a contaminated doc can never
    * slip through), an over-drop fraction of clean docs.
    *
    * Size fpp for the DOC level, not the probe level: with minOverlap=1
    * a doc is over-dropped if ANY of its shingles false-positives, so
    * P(over-drop) ≈ shinglesPerDoc × fpp — at the textbook 1% fpp this
    * measured a 19% over-drop on the sf0.001 docs. The 1e-6 default
    * gives ~3·10⁻⁴ per 300-shingle doc at ~28.8 bits/key (~3.4 GiB
    * per 10⁹ keys — still one broadcast). Two passes over the bench
    * side only (count for sizing, then the aggregate); deterministic
    * (fixed hash seed, bit-OR merge is order-free). An empty benchmark
    * set gives an empty filter, which flags nothing. */
  def contaminationBloom(bench: DataFrame, benchText: String, n: Int = 3,
                         fpp: Double = 1e-6)
      : org.apache.spark.util.sketch.BloomFilter = {
    val h = bench.select(explode(graft.functions.ShingleHashes(
        lower(col(benchText)), n)).as("h"))
      .distinct()
    val keys = h.count()
    // the aggregate over zero rows has no bit array to return, so the
    // empty filter is built directly, sized as for one key
    if (keys == 0L) org.apache.spark.util.sketch.BloomFilter.create(1L, fpp)
    else h.stat.bloomFilter("h", keys, fpp)
  }

  /** Map-only Bloom decontamination: same output contract and plan
    * shape as [[decontaminateSet]] (pure projection, stream-composable,
    * no exchange), with the membership scalar probing the Bloom filter
    * ([[graft.functions.CountInBloom]]). `contaminated` here means
    * "might be contaminated": a superset of the exact flags — LlmSpec
    * pins the no-false-negative containment and a bounded
    * false-positive fraction. */
  def decontaminateBloom(docs: DataFrame, id: String, text: String,
                         bloom: org.apache.spark.util.sketch.BloomFilter,
                         n: Int = 3, minOverlap: Int = 1): DataFrame =
    docs.select(col(id).as("doc"),
        coalesce(
          graft.functions.CountInBloom(
            graft.functions.ShingleHashes(lower(col(text)), n),
            bloom).cast(LongType),
          lit(0L)).as("n_contaminated"))
      .withColumn("contaminated", col("n_contaminated") >= minOverlap)

  // -------------------------------------------------------------------
  // n-gram Jaccard (exact verification)
  // -------------------------------------------------------------------

  /** Jaccard similarity over distinct HASHED word n-gram sets for a
    * given pair list (id_a, id_b). Used to verify LSH candidates; the
    * join explodes shingles and shuffles on (pair, shingle-hash) —
    * linear in total shingle volume of the candidate set, not in corpus
    * size. Shingles are rolling-hashed to 64-bit keys before the
    * distinct/join (the standard winnowing-style trade: shuffle carries
    * longs instead of strings; collision error ~|S|²/2³¹ per doc —
    * negligible, and the oracle hashes identically). */
  def jaccardOnPairs(docs: DataFrame, pairs: DataFrame,
                     id: String, text: String, n: Int = 3): DataFrame = {
    val sh = shingleRows(docs, id, text, n)
      .select(col("doc"), TextAnalysis.tokenHash(col("sh")).as("sh"))
      .distinct()
    val sizes = sh.groupBy("doc").agg(count(lit(1)).as("sz"))
    val inter = pairs
      .join(sh.select(col("doc").as("id_a"), col("sh")), Seq("id_a"))
      .join(sh.select(col("doc").as("id_b"), col("sh")), Seq("id_b", "sh"))
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("inter"))
    pairs
      .join(inter, Seq("id_a", "id_b"), "left_outer")
      .na.fill(0L, Seq("inter"))
      .join(sizes.select(col("doc").as("id_a"), col("sz").as("sz_a")), Seq("id_a"))
      .join(sizes.select(col("doc").as("id_b"), col("sz").as("sz_b")), Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        graft.functions.Round6(col("inter").cast(DoubleType) /
          (col("sz_a") + col("sz_b") - col("inter"))).as("jaccard"))
  }

  // -------------------------------------------------------------------
  // exact set-similarity family: Jaccard, containment, tf-idf cosine
  //
  // Six public entries (self and cross form of each measure), one
  // private kernel per measure. Every kernel is one front (token table,
  // frequencies, the arm probe), one arm — the shared dense signature
  // sweep ([[denseSweep]]) or the measure's prefix join — and one
  // output projection over the arm-neutral pair frame (a, b, p_a, p_b,
  // x, n_a, n_b): ids, per-side payload p (set size or squared norm),
  // exact integer score x (intersection or dot), clique sizes. The self
  // form is the cross form with one side ([[SimSides]]); it differs in
  // exactly four places: frequencies/idf come from the one side, the
  // self pair predicate ([[pairPred]]) applies before scoring, clique
  // rows are added (member pairs when expanded, [[cliqueRows]] when
  // not), and the expanded symmetric form orders each pair a < b,
  // swapping the payloads with the ids.
  // -------------------------------------------------------------------

  /** EXACT set-similarity self-join: every pair of documents whose
    * word-token sets have Jaccard ≥ `threshold` — no LSH, no
    * probabilistic recall; the exact complement to
    * [[minhashCandidates]] when a pipeline must certify "no duplicate
    * above t survives" (licensing audits, eval-set isolation).
    *
    * ADAPTIVE between two exact plans, dispatched on measured vocabulary
    * size by the family's shared front ([[setFront]]):
    *
    *   - **Large vocab** (the real-corpus regime): AllPairs/PPJoin
    *     prefix filtering (Bayardo et al., WWW'07; Xiao et al., WWW'08;
    *     reference has no such operator — its dedup is delegated
    *     wholesale). Tokens are globally ordered rarest-first, each
    *     document exposes only its first `|d| - ceil(t·|d|) + 1` tokens
    *     as join keys (the AllPairs lemma guarantees any pair with
    *     J ≥ t shares a prefix token), plus the PPJoin positional
    *     filter and first-shared-token dedup; the exact intersection is
    *     a map-side array_intersect at the join site — candidate
    *     volume, not corpus², drives the cost, and nothing but the
    *     doc-array build and the prefix equi-join shuffles.
    *
    *   - **Small vocab** (≤ [[AllPairsDenseVocabMax]] distinct tokens):
    *     prefix filtering is provably useless — every token is frequent,
    *     so prefix buckets approach corpus size and candidate volume
    *     approaches n² with fat per-candidate work. Instead each token
    *     set becomes a DENSE BITSET (`ceil(V/64)` longs) and the family's
    *     one signature sweep ([[denseSweep]]) runs: documents collapse
    *     to DISTINCT bitsets (dedup corpora are exactly where exact-set
    *     duplicates abound), the distinct-signature pairs are compared
    *     by codegen'd `bit_count(a&b)` popcounts under a broadcast
    *     nested-loop join (D signatures ≪ n docs, and D² wins over
    *     candidate machinery precisely because the true result is
    *     itself dense), and qualifying signature pairs expand back to
    *     doc pairs — output-bound, like every exact join must be.
    *
    * Every decision is integer-exact: the threshold is an exact
    * parts-per-million rational ([[ppm]]) and size, positional and
    * final filters compare integer products, so J-exactly-t pairs are
    * always kept.
    *
    * Output: (doc_a, doc_b, inter, uni, jaccard), doc_a < doc_b.
    * With `expandCliques = false` — the clique-representative product
    * shape — docs with identical token SETS collapse to
    * (representative = min id, clique size) BEFORE pairing: output is
    * one row per qualifying distinct-set pair with two extra columns
    * (n_a, n_b), plus one SELF row (doc_a == doc_b, jaccard 1) per
    * clique of ≥ 2 identical docs; k copies cost one row, not k²
    * pairs. '''At scale set `expandCliques = false`''' — this holds
    * uniformly for every join in the family (allPairs/containment/
    * tfidf/Jaro-Winkler, self and cross forms): duplicate cliques make
    * expanded output QUADRATIC in clique size (measured at sf1: 84×
    * output blowup collapsing to ~1×), the reps form carries the same
    * information, and expanding it back is a cheap post-join explode
    * for the rare consumer that truly needs per-member pairs. The
    * default stays `true` only because pair-expanded output is the
    * definitional contract the oracles certify. `denseVocabMax` /
    * `denseSigMax` override the plan-dispatch ceilings (tests pin each
    * arm against the brute-force oracle by forcing it).
    *
    * NOTE: this call runs EAGER probe jobs (vocabulary count, and —
    * small-vocab only — a distinct-signature count) to pick the plan,
    * the one deliberate break from the repo's lazy-builder convention.
    * `freq` (vocab-sized) and the dense arm's bitset table (doc-count ×
    * ≤64 longs) are localCheckpointed so probe work is not recomputed
    * when the returned plan executes; the raw token table is NOT — it
    * is corpus-sized, and re-deriving a map-only explode off the scan
    * is cheaper than materializing it at any scale. */
  def allPairs(df: DataFrame, id: String, text: String,
               threshold: Double,
               denseVocabMax: Long = AllPairsDenseVocabMax,
               denseSigMax: Long = AllPairsDenseSigMax,
               expandCliques: Boolean = true): DataFrame =
    jaccardKernel(simSides(df, None, id, text), threshold, denseVocabMax,
      denseSigMax, expandCliques)

  /** EXACT cross-corpus set-similarity JOIN: every (left, right) pair
    * whose word-token sets have Jaccard ≥ `threshold` — the exact
    * complement to [[fuzzyJoin]] (LSH, probabilistic recall), for when
    * the match set must be certified complete: eval-set decontamination
    * with a similarity bar rather than exact n-gram hits, licensing
    * audits of a new crawl against an owned corpus, cross-snapshot
    * reconciliation. [[allPairs]]'s kernel and dispatch (see its
    * scaladoc) with two sides: the global token-frequency order — and
    * hence the prefixes the AllPairs lemma reasons about — is computed
    * over the UNION of both corpora, which the lemma requires (a shared
    * total order); the dense arm keeps per-side distinct-signature
    * collapse and sweeps the D_L × D_R product, broadcasting the right
    * side.
    *
    * Both inputs use the same `id`/`text` column names (the
    * [[fuzzyJoin]] convention). Output: (id_a from left, id_b from
    * right, inter, uni, jaccard) — ids are independent namespaces, no
    * ordering constraint between them. With `expandCliques = false`
    * each SIDE collapses to its distinct token sets (reps + clique
    * sizes as n_a/n_b); identical cross-side sets meet as a regular
    * J = 1 candidate, so there are no self rows. '''At scale set
    * `expandCliques = false`''' — uniform family guidance, see
    * [[allPairs]]. */
  def allPairsJoin(left: DataFrame, right: DataFrame, id: String,
                   text: String, threshold: Double,
                   denseVocabMax: Long = AllPairsDenseVocabMax,
                   denseSigMax: Long = AllPairsDenseSigMax,
                   expandCliques: Boolean = true)
      : DataFrame =
    jaccardKernel(simSides(left, Some(right), id, text), threshold,
      denseVocabMax, denseSigMax, expandCliques)

  /** The Jaccard kernel behind [[allPairs]] and [[allPairsJoin]]. */
  private def jaccardKernel(in: SimSides, threshold: Double,
                            denseVocabMax: Long, denseSigMax: Long,
                            expandCliques: Boolean): DataFrame = {
    val tN = ppm(threshold)
    val self = in.n == 1
    // size bound: min·1e6 ≥ t·max, else J < t regardless
    def bound(pa: Column, pb: Column) =
      least(pa, pb) * 1000000L >= lit(tN) * greatest(pa, pb)
    def keep(x: Column, pa: Column, pb: Column) =
      x * 1000000L >= lit(tN) * (pa + pb - x)
    val (toks, freq, dense) = setFront(in, denseVocabMax, denseSigMax)
    val pairs = dense match {
      case Some((sides, score)) =>
        denseSweep(sides, score, ordered = false, bound, keep, expandCliques)
      case None =>
        // PPJoin shape: each doc becomes ONE row carrying its whole
        // token set as a rank-ordered array (farr); prefix tokens (the
        // RAREST) are re-exploded as join keys with their 1-based rank.
        // Three filters run inside the join projection — no candidate
        // materialization, no .distinct(), no re-join against the token
        // table, so the only shuffles are the doc-array build and the
        // prefix-token equi-join:
        //   (a) the size bound above.
        //   (b) positional filter: at a shared token with ranks (i, j),
        //       no shared token can precede it in either list (both
        //       lists sort by the same global rarest-first order), so
        //       overlap ≤ 1 + min(sz_a-i, sz_b-j); prune when that
        //       misses the required overlap ⌈t/(1+t)·(sz_a+sz_b)⌉.
        //       Dropping a pair at its FIRST shared occurrence is safe:
        //       the bound is valid for the whole pair there.
        //   (c) first-shared-token dedup: a pair surfaces once per
        //       shared prefix token; emit ONLY at the globally-smallest
        //       shared token — head of array_intersect(farr_a, farr_b)
        //       (both arrays sort by the same total order, Spark
        //       preserves left-array order, and the smallest shared
        //       token is always inside both prefixes, since prefixes
        //       hold each doc's rank-smallest tokens).
        // The SAME array_intersect then yields the exact intersection
        // size (tokens are distinct within a doc), so verification is a
        // map-side size() — the exact count never crosses an exchange.
        val tabs = (0 until in.n).map(s =>
          docArrTab(in.of(toks, s), freq, collapse = !expandCliques))
        val pre = tabs.map(prefixExplodeTab(_, tN))
        val cross = pre.head.alias("pa").join(pre.last.alias("pb"),
            col("pa.tok") === col("pb.tok") &&
              pairPred(self, ordered = false, col("pa.doc"), col("pb.doc")))
          .filter(bound(col("pa.sz"), col("pb.sz")))
          // ubound ≥ ⌈tN·(sz_a+sz_b) / (1e6+tN)⌉ ⟺ ubound·(1e6+tN) ≥
          // tN·(sz_a+sz_b) — exact in integers, no float boundary lies
          .filter((lit(1L) + least(col("pa.sz") - col("pa.rnk"),
              col("pb.sz") - col("pb.rnk"))) * lit(1000000L + tN) >=
            lit(tN) * (col("pa.sz") + col("pb.sz")))
          .withColumn("ix", array_intersect(col("pa.farr"), col("pb.farr")))
          .filter(element_at(col("ix"), 1) === col("pa.tok"))
          .select(pairCols(col("pa.doc"), col("pb.doc"), col("pa.sz"),
            col("pb.sz"), size(col("ix")).cast(LongType), col("pa.n"),
            col("pb.n")): _*)
          .filter(keep(col("x"), col("p_a"), col("p_b")))
        if (self && !expandCliques)
          cross.unionByName(cliqueRows(tabs.head, "doc", "sz", keep))
        else cross
    }
    val (a, b) = if (self) ("doc_a", "doc_b") else ("id_a", "id_b")
    val uni = col("p_a") + col("p_b") - col("x")
    val out = pairs.select(col("a").as(a), col("b").as(b),
      col("x").as("inter"), uni.as("uni"),
      (col("x").cast(DoubleType) / uni).as("jaccard"), col("n_a"),
      col("n_b"))
    if (expandCliques) out.drop("n_a", "n_b") else out
  }

  /** The self or cross input of a set-similarity kernel as ONE frame
    * (doc, __t), `n` sides. A self call is the one-sided form: doc is
    * the id and every row is side 0. A cross call tags each row with
    * its side — doc = struct(s, i) — so the frequency/idf aggregates
    * and the arm probe run once over the union (the shared total order
    * the prefix filters require), and [[of]] splits a derived table
    * back into one side with plain ids. */
  private final case class SimSides(docs: DataFrame, n: Int) {
    def of(df: DataFrame, s: Int): DataFrame =
      if (n == 1) df
      else df.filter(col("doc").getField("s") === s)
        .withColumn("doc", col("doc").getField("i"))
  }

  private def simSides(left: DataFrame, right: Option[DataFrame],
                       id: String, text: String): SimSides = right match {
    case None =>
      SimSides(left.select(col(id).as("doc"), col(text).as("__t")), 1)
    case Some(r) =>
      def tag(df: DataFrame, s: Int) = df.select(
        struct(lit(s).as("s"), col(id).as("i")).as("doc"),
        col(text).as("__t"))
      SimSides(tag(left, 0).unionByName(tag(r, 1)), 2)
  }

  /** Threshold as an EXACT parts-per-million rational: float math at
    * the boundary lies (IEEE 0.8·5 = 4.0000000000000002, whose ceil
    * shortens the prefix below what the AllPairs lemma requires and
    * silently drops J-exactly-t pairs), so all pruning of the set
    * measures is integer. */
  private def ppm(threshold: Double): Long = {
    require(threshold > 0 && threshold <= 1,
      s"threshold must be in (0,1]: $threshold")
    val tN = math.round(threshold * 1000000)
    require(math.abs(tN / 1e6 - threshold) < 1e-12,
      s"threshold must have at most 6 decimal places: $threshold")
    tN
  }

  /** The self form's pair predicate, applied before scoring: unordered
    * measures (Jaccard, cosine) emit each pair once as a < b, ordered
    * containment emits both orders a ≠ b. A cross form pairs all. */
  private def pairPred(self: Boolean, ordered: Boolean, a: Column,
                       b: Column): Column =
    if (!self) lit(true) else if (ordered) a =!= b else a < b

  /** Pair-frame columns (a, b, p_a, p_b, x, n_a, n_b). */
  private def pairCols(a: Column, b: Column, pa: Column, pb: Column,
                       x: Column, na: Column, nb: Column): Seq[Column] =
    Seq(a.as("a"), b.as("b"), pa.as("p_a"), pb.as("p_b"), x.as("x"),
      na.as("n_a"), nb.as("n_b"))

  /** One self row per clique of ≥ 2 identical members (the self form's
    * representative output): the pair of the representative with
    * itself, scored as x = p — the same `keep` test and output op
    * sequence as every other pair (never a literal 1.0). */
  private def cliqueRows(tab: DataFrame, id: String, p: String,
                         keep: (Column, Column, Column) => Column)
      : DataFrame =
    tab.filter(col("n") >= 2)
      .select(pairCols(col(id), col(id), col(p), col(p), col(p), col("n"),
        col("n")): _*)
      .filter(keep(col("x"), col("p_a"), col("p_b")))

  /** Front of the set measures (Jaccard, containment): distinct token
    * table, the frequency table — checkpointed BEFORE the probe, so the
    * (vocab-sized) token-frequency shuffle runs once and every later
    * consumer, either arm, reads its blocks — and the arm probe.
    * Returns the tokens, the frequencies and, when the dense arm
    * dispatches, its per-side tables with their popcount score. */
  private def setFront(in: SimSides, denseVocabMax: Long,
                       denseSigMax: Long)
      : (DataFrame, DataFrame, Option[(Seq[DataFrame], Column)]) = {
    val toks = in.docs.select(col("doc"),
      explode(array_distinct(TextAnalysis.tokens(lower(col("__t")))))
        .as("tok"))
    val freq = toks.groupBy("tok").agg(count(lit(1)).as("gf"))
      .localCheckpoint()
    // vocab probe: ONE bounded job over the (already-needed) frequency
    // table — limit(max+1) both decides the arm exactly and, when the
    // dense arm wins, IS the vocabulary (the bit codebook)
    val dense = probeVocab(freq, denseVocabMax).filter(_.nonEmpty)
      .flatMap { vocab =>
        val nWords = (vocab.length + 63) / 64
        val bits = denseBits(toks.sparkSession, vocab)
        // one bitset checkpoint PER SIDE: the sides' sweep stages then
        // read plain ids and compile to one shared class each (a side
        // literal in the sweep plan doubles its generated classes)
        val dws = (0 until in.n).map(s =>
          denseDocWords(in.of(toks, s), bits, nWords).localCheckpoint())
        denseGuard(dws, lit(0L), nWords * 8L, denseSigMax)
          .map(_ -> denseInterCol(nWords))
      }
    (toks, freq, dense)
  }

  /** Per-doc rank-ordered token-array table: (doc, farr, sz, n). With
    * `collapse`, docs with IDENTICAL token sets group to their
    * representative (min doc id) and n = clique size — the
    * expandCliques=false product shape, and a pre-join shrink of the
    * quadratic candidate space; without it n = 1 per doc (constant,
    * folded out of the plan). */
  private def docArrTab(toks: DataFrame, freq: DataFrame,
                        collapse: Boolean): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ranked = toks.join(freq, Seq("tok"))
      .withColumn("rnk", row_number().over(
        Window.partitionBy(col("doc")).orderBy(col("gf"), col("tok"))))
    val base = ranked
      .groupBy("doc").agg(
        transform(sort_array(collect_list(struct(col("rnk"), col("tok")))),
          x => x("tok")).as("farr"))
      .withColumn("sz", size(col("farr")).cast(LongType))
    if (!collapse) base.withColumn("n", lit(1L))
    else base.groupBy(col("farr")).agg(min(col("doc")).as("doc"),
      first(col("sz")).as("sz"), count(lit(1)).as("n"))
  }

  /** Prefix-key explosion over a [[docArrTab]] — ONE copy of the
    * ppm-integer prefix-length math (every set-measure form keys its
    * prefix side through it). Output: (doc, sz, farr, n, tok, rnk). */
  private def prefixExplodeTab(docTab: DataFrame, tN: Long): DataFrame =
    docTab
      .withColumn("plen", expr(
        s"CAST(sz + 1 - ((CAST($tN AS BIGINT) * sz + 999999) div " +
          "CAST(1000000 AS BIGINT)) AS INT)"))
      .select(col("doc"), col("sz"), col("farr"), col("n"),
        posexplode(expr("slice(farr, 1, plen)")).as(Seq("pos0", "tok")))
      .withColumn("rnk", (col("pos0") + 1).cast(LongType)).drop("pos0")

  /** Vocabulary ceiling for the family's dense-signature plan. Below it,
    * every token is frequent (prefix filtering can't prune) and bitsets
    * stay narrow (≤ 64 words); above it rare tokens exist and the
    * prefix plan regains selectivity. The dense plan additionally
    * assumes distinct token SETS ≪ documents (true of dedup corpora by
    * construction) — an assumption [[AllPairsDenseSigMax]] now MEASURES
    * rather than trusts; its broadcast is D·(V/64) longs. */
  val AllPairsDenseVocabMax = 4096L

  /** Distinct-signature ceiling for the dense arm (r8 verdict #1): the
    * D² sweep and the forced signature broadcast are bounded by
    * distinct-signature count, not vocabulary — a small-vocab corpus can
    * still carry up to min(n, 2^V) distinct sets. At the ceiling the
    * sweep is ≤ ~2·10⁹ pairs of ≤64-word popcounts (bounded minutes on
    * one executor core-set, never an outage) and the broadcast ≤
    * [[AllPairsDenseBroadcastCap]]; above it the prefix arm — degraded
    * on small vocabs but shuffle-based and spillable — takes over. */
  val AllPairsDenseSigMax = 65536L

  /** Hard byte cap on the dense arm's signature broadcast
    * (D · signature bytes must stay under it — a broadcast() hint
    * overrides Spark's own size thresholds, so the cap is enforced at
    * dispatch). */
  val AllPairsDenseBroadcastCap: Long = 64L << 20

  /** Arm-dispatch probe: collects at most `max + 1` vocabulary tokens.
    * Returns Some(vocab) when the vocabulary fits the dense arm (the
    * collected tokens then double as its bit codebook — one bounded job
    * decides the arm AND trains the model), None when it exceeds `max`
    * (prefix arm; nothing vocab-sized was held on the driver). */
  private def probeVocab(freq: DataFrame, max: Long): Option[Array[String]] = {
    if (max <= 0) return None
    val toks = freq.select(col("tok"))
      .limit(math.min(max, Int.MaxValue - 1L).toInt + 1)
      .collect().map(_.getString(0))
    if (toks.length > max) None else Some(toks)
  }

  /** Dense bit assignment for the small-vocab plans: one fixed bit per
    * token, sorted-vocab order (arbitrary but total). The vocab is
    * model-sized (≤ [[AllPairsDenseVocabMax]] by dispatch), so the
    * assignment is driver-side over the probe's collected vocabulary —
    * the centroid/codebook pattern — not a Window.orderBy with no
    * partition (the r8 bench tail's "No Partition Defined" warning
    * source; an unpartitioned window also serializes the assignment
    * through one task). */
  private def denseBits(spark: SparkSession,
                        vocab: Array[String]): DataFrame = {
    import spark.implicits._
    vocab.sorted.zipWithIndex.toSeq.toDF("tok", "bit")
  }

  /** Per-doc dense bitset build: bit_or per 64-bit word, zero-filled to
    * `nWords` width (sig), plus its popcount — the set size p.
    * Single-word vocabs (≤64 tokens) take pure-builtin popcounts — the
    * higher-order aggregate/zip_with lambdas evaluate interpreted,
    * outside whole-stage codegen; bit_count on a long stays inside. */
  private def denseDocWords(toks: DataFrame, bits: DataFrame,
                            nWords: Int): DataFrame =
    toks.join(broadcast(bits), Seq("tok"))
      .groupBy(col("doc"), (col("bit") / 64).cast("int").as("wi"))
      .agg(expr("bit_or(shiftleft(1L, CAST(bit % 64 AS INT)))").as("wv"))
      .groupBy("doc")
      .agg(map_from_entries(collect_list(struct(col("wi"), col("wv"))))
        .as("m"))
      .select(col("doc"), transform(sequence(lit(0), lit(nWords - 1)),
        i => coalesce(element_at(col("m"), i), lit(0L))).as("sig"))
      .withColumn("p", if (nWords == 1)
        expr("CAST(bit_count(sig[0]) AS BIGINT)")
      else expr(
        "aggregate(sig, 0L, (acc, x) -> acc + CAST(bit_count(x) AS BIGINT))"))

  /** Codegen-friendly popcount of `sig_a & sig_b` (see
    * [[denseDocWords]]). */
  private def denseInterCol(nWords: Int): Column =
    if (nWords == 1) expr("CAST(bit_count(sig_a[0] & sig_b[0]) AS BIGINT)")
    else expr("aggregate(zip_with(sig_a, sig_b, " +
      "(x, y) -> CAST(bit_count(x & y) AS BIGINT)), 0L, " +
      "(acc, v) -> acc + v)")

  /** Dense-arm guard, shared by both fronts: ONE probe job over the
    * checkpointed per-side dense tables `dws` (doc, sig, p, …) measures
    * each side's distinct-signature count D and the max of `wmx`. The dense
    * arm runs only when every side's D ≤ `denseSigMax`, `wmx` fits an
    * int (the weighted front's overflow guard; the set front passes 0)
    * and the broadcast (right or only) side's D · `sigBytes` ≤
    * [[AllPairsDenseBroadcastCap]] — the sweep is D_a × D_b and a
    * forced broadcast overrides size thresholds, so unguarded a
    * small-vocab corpus with many distinct sets would OOM or go
    * quadratic with no fallback. Returns the per-side (doc, sig, p)
    * tables, or None for the prefix arm — degraded on small vocabs but
    * shuffle-based and spillable, the survivable plan. */
  private def denseGuard(dws: Seq[DataFrame], wmx: Column,
                         sigBytes: Long, denseSigMax: Long)
      : Option[Seq[DataFrame]] = {
    val pr = dws.zipWithIndex
      .map { case (dw, s) => dw.select(lit(s).as("s"), col("sig"),
        wmx.as("wmx")) }
      .reduce(_ unionByName _)
      .groupBy("s").agg(countDistinct(col("sig")), max(col("wmx")))
      .collect().map(r => r.getInt(0) ->
        ((r.getLong(1), if (r.isNullAt(2)) 0L else r.getLong(2)))).toMap
    val ds = dws.indices.map(pr.getOrElse(_, (0L, 0L)))
    if (ds.forall { case (d, w) => d <= denseSigMax && w <= Int.MaxValue } &&
        ds.last._1 * sigBytes <= AllPairsDenseBroadcastCap)
      Some(dws.map(_.select("doc", "sig", "p")))
    else None
  }

  /** The family's ONE dense signature sweep (every measure's
    * small-vocabulary arm). `sides` holds one (self) or two (cross)
    * per-doc tables (doc, sig, p) from [[denseGuard]]; `score` is the
    * exact integer score over (sig_a, sig_b) — a popcount or a dot.
    *
    *  1. Collapse: ONE aggregate on the signature itself, sid = smallest
    *     member (unique), p a pure function of sig so first() is exact.
    *  2. Sweep: the D_a × D_b signature pairs under a broadcast
    *     nested-loop join (the self form behind [[pairPred]]), the
    *     cheap size `bound` before the score, then the exact `keep`.
    *  3. Output: with `expand`, qualifying signature pairs expand back
    *     to member docs (output-bound) and the self form adds the
    *     member pairs inside each clique; without it, signature-level
    *     rows (representative, clique size) and, in the self form, one
    *     [[cliqueRows]] row per clique of ≥ 2 — the member-expansion
    *     joins never run.
    *
    * Output: the pair frame (a, b, p_a, p_b, x, n_a, n_b); expanded
    * rows carry n = 1. */
  private def denseSweep(sides: Seq[DataFrame], score: Column,
                         ordered: Boolean,
                         bound: (Column, Column) => Column,
                         keep: (Column, Column, Column) => Column,
                         expand: Boolean): DataFrame = {
    val self = sides.size == 1
    val sigs = sides.map(_.groupBy(col("sig"))
      .agg(min(col("doc")).as("sid"), first(col("p")).as("p"),
        count(lit(1)).as("n")))
    def sideOf(s: DataFrame, k: String) = s.select(col("sid").as(s"sid_$k"),
      col("sig").as(s"sig_$k"), col("p").as(s"p_$k"), col("n").as(s"n_$k"))
    val sigPairs = sideOf(sigs.head, "a")
      .join(broadcast(sideOf(sigs.last, "b")),
        pairPred(self, ordered, col("sid_a"), col("sid_b")))
      .filter(bound(col("p_a"), col("p_b")))
      .withColumn("x", score)
      .filter(keep(col("x"), col("p_a"), col("p_b")))
      .select(pairCols(col("sid_a"), col("sid_b"), col("p_a"), col("p_b"),
        col("x"), col("n_a"), col("n_b")): _*)
    if (!expand)
      return if (self) sigPairs.unionByName(cliqueRows(sigs.head, "sid",
        "p", keep)) else sigPairs
    // (sid, doc, p) per member via one join against the signature table
    val members = sides.zip(sigs).map { case (dw, s) =>
      dw.select(col("doc"), col("sig"))
        .join(s.select(col("sig"), col("sid"), col("p")), Seq("sig"))
        .select(col("sid"), col("doc"), col("p"))
    }
    val crossed = sigPairs
      .join(members.head.select(col("sid").as("a"), col("doc").as("da")),
        Seq("a"))
      .join(members.last.select(col("sid").as("b"), col("doc").as("db")),
        Seq("b"))
    val one = lit(1L)
    if (!self)
      return crossed.select(pairCols(col("da"), col("db"), col("p_a"),
        col("p_b"), col("x"), one, one): _*)
    // unordered self form: members of a < b signatures can pair either
    // way round — emit a < b, the payloads follow the id swap
    val sw = if (ordered) lit(false) else col("da") > col("db")
    def pick(x: String, y: String) = when(sw, col(y)).otherwise(col(x))
    val cross = crossed.select(pairCols(pick("da", "db"), pick("db", "da"),
      pick("p_a", "p_b"), pick("p_b", "p_a"), col("x"), one, one): _*)
    // identical-signature member pairs: x = p, the clique's own score
    // (members stays one subtree in all four joins, so its exchange is
    // reused)
    val m = members.head
    val intra = m.alias("u").join(m.alias("v"), col("u.sid") === col("v.sid")
        && pairPred(self, ordered, col("u.doc"), col("v.doc")))
      .select(pairCols(col("u.doc"), col("v.doc"), col("u.p"), col("v.p"),
        col("u.p"), one, one): _*)
      .filter(keep(col("x"), col("p_a"), col("p_b")))
    cross.unionByName(intra)
  }

  // -------------------------------------------------------------------
  // SimHash
  // -------------------------------------------------------------------

  /** Signature width. 60 = 4 bands × 15 bits: wide enough that distinct
    * signatures ≈ distinct documents on non-templated corpora (the r2
    * 20-bit form capped at ~1M and saturated its 5-bit band buckets),
    * while staying below the BIGINT sign bit so the floor-div/mod band
    * extraction and the literal DuckDB oracle stay exact on both engines
    * (a 64th bit lands on two's-complement sign, where Spark's
    * truncate-toward-zero division and DuckDB's floor `//` diverge). */
  val SimHashBits = 60
  val SimHashBands = 4
  /** Bits per band slice: 15 → 32,768 distinct bucket values per band,
    * so band buckets stay small even when distinct signatures ≈ corpus
    * size (the r2 scale-killer was 32 values per band). */
  val SimHashBandBits: Int = SimHashBits / SimHashBands

  /** Per-band remix constants for the simhash bit source: the rolling
    * token hash is 31-bit, so each 15-bit band slice draws its bits from
    * an independent integer mix (a_b·h + b_b) mod p of that one hash —
    * same family as the minhash mixers, derived driver-side and shared
    * with the oracle SQL generator. */
  def simhashMixA(b: Int): Long =
    (TextAnalysis.rollLocal(s"sh:a:$b") % (MinhashPrime - 1)) + 1
  def simhashMixB(b: Int): Long =
    TextAnalysis.rollLocal(s"sh:b:$b") % MinhashPrime

  /** 60-bit SimHash per document over whitespace tokens: each token is
    * rolling-hashed ONCE, remixed into [[SimHashBands]] independent
    * 31-bit values, and bit j = b·15+r of the signature is set when the
    * sum over tokens of ±1 (by bit r of mix b) is positive.
    *
    * MAP-ONLY (r6): evaluated by the native codegen expression
    * [[graft.functions.SimHash60]] in one pass over each row's own
    * tokens — no explode, no groupBy, NO SHUFFLE. The former relational
    * form ([[simhashRelational]], retained as the equivalence pin)
    * shuffled a 60-column partial-sum row per document just to
    * reassemble per-row state; at 100 TB that corpus-wide exchange was
    * the dominant cost of every simhash consumer. Zero-token documents
    * are absent from the result in both forms (the expression returns
    * null there; the groupBy never saw a row). */
  def simhash(df: DataFrame, id: String, text: String): DataFrame =
    // "document has at least one token" is exactly `text RLIKE '\S'` —
    // filtering on the cheap column predicate instead of on
    // isNotNull(simhash(...)) keeps the signature expression out of the
    // Filter node, which would otherwise evaluate it a second time per
    // row (per-operator codegen has no cross-operator CSE). On the
    // surviving rows the expression never returns null.
    df.filter(col(text).isNotNull && col(text).rlike("\\S"))
      .select(col(id).as("doc"),
        graft.functions.SimHash60(lower(col(text))).as("simhash"))

  /** The explode → remix → 60-bit-sum → groupBy relational form of
    * [[simhash]] — arithmetic identical (multiply-add-mod, floor-div/mod
    * powers of two on nonnegative longs, engine-portable); kept so the
    * expression's bit-exactness is pinned against an independent
    * computation path (LlmSpec) and as the reference the DuckDB oracle
    * mirrors in SQL. */
  private[graft] def simhashRelational(df: DataFrame, id: String,
                                       text: String): DataFrame = {
    val tok = df.select(col(id).as("doc"),
        explode(TextAnalysis.tokens(lower(col(text)))).as("tok"))
      .withColumn("th", TextAnalysis.tokenHash(col("tok")))
    val mixed = tok.select(col("doc") +:
      (0 until SimHashBands).map(b =>
        ((col("th") * lit(simhashMixA(b)) + lit(simhashMixB(b)))
          % lit(MinhashPrime)).as(s"m$b")): _*)
    val bitSums = (0 until SimHashBits).map { j =>
      val (b, r) = (j / SimHashBandBits, j % SimHashBandBits)
      sum(((col(s"m$b") / lit(1L << r)).cast(LongType) % 2)
        * 2 - 1).as(s"v$j")
    }
    val sums = mixed.groupBy("doc").agg(bitSums.head, bitSums.tail: _*)
    val sig = (0 until SimHashBits).map { j =>
      when(col(s"v$j") > 0, lit(1L << j)).otherwise(lit(0L))
    }.reduce(_ + _)
    sums.select(col("doc"), sig.as("simhash"))
  }

  /** Hamming distance between two fixed-width signatures: popcount of
    * the XOR. Both Spark's and DuckDB's bit_count operate on the
    * two's-complement representation (Java `Long.bitCount` semantics),
    * so the value agrees across engines even for negative longs
    * (64-bit dHash signatures with bit 63 set). */
  def hamming(a: Column, b: Column): Column =
    bit_count(a.cast(LongType).bitwiseXOR(b.cast(LongType)))
      .cast(IntegerType)

  /** SimHash near-dup pairs at scale: banded hamming join run in
    * DISTINCT-SIGNATURE space.
    *
    * Templated corpora concentrate many documents onto few signatures,
    * so the quadratic part — the banded self-join — runs over distinct
    * signatures only, and doc pairs are re-expanded with two linear
    * joins afterwards. Banding: the signature splits into
    * [[SimHashBands]] disjoint 15-bit slices; by pigeonhole any pair
    * within hamming distance < bands shares at least one slice, so
    * candidate signature pairs come from equi-joins on the slice value
    * (never all-pairs), with the exact popcount verify inside the join
    * condition. Completeness requires maxHamming < SimHashBands
    * (default 3 < 4). With 15-bit slices each band key has 32,768
    * distinct values, so bucket sizes stay ~D/32768 even on
    * non-templated corpora (the r2 5-bit form saturated at D/32).
    *
    * The pair list is quadratic per near-dup cluster by definition —
    * a 100 TB dedup pass should consume [[simhashClusters]] (linear
    * per-doc keep/drop) instead and use this form for inspection. */
  def simhashPairs(df: DataFrame, id: String, text: String,
                   maxHamming: Int = 3): DataFrame = {
    require(maxHamming < SimHashBands,
      s"banded search complete only for maxHamming < $SimHashBands")
    // the signature aggregate (explode every token + 60 bit-sums) is the
    // expensive subtree and is referenced three times below (distinct
    // signatures + both sides of the doc re-expansion); an eager
    // localCheckpoint computes it once and shares the materialized blocks.
    // Deliberately NOT persist(): a CacheManager entry lives until the
    // session ends (nothing here could unpersist it after the lazily-
    // consumed result is used), and repeated calls re-register the same
    // plan ("already cached" warnings) — checkpoint blocks are instead
    // released by the ContextCleaner once the result is dropped. One
    // narrow row per document — negligible storage at any corpus size
    // (on a real cluster, prefer a reliable checkpoint dir).
    val sig = simhash(df, id, text).localCheckpoint()
    expandSigPairs(sig, simhashSigPairs(sig, maxHamming))
  }

  /** Re-expand a signature-space edge list to doc pairs — two linear
    * joins plus the same-signature (dist 0) self-join. `sig` is
    * (doc, simhash); output (id_a, id_b, dist) with id_a < id_b.
    * Shared by [[simhashPairs]] and the perceptual-image dedup
    * ([[graft.llm.Multimodal.imageDedupPairs]]), whose 64-bit dHash
    * signatures ride the identical machinery. */
  private[graft] def expandSigPairs(sig: DataFrame,
                                    sigPairs: DataFrame): DataFrame = {
    val da = sig.select(col("doc").as("doc_a"), col("simhash").as("sa"))
    val db = sig.select(col("doc").as("doc_b"), col("simhash").as("sb"))
    val cross = sigPairs.join(da, "sa").join(db, "sb")
      .select(least(col("doc_a"), col("doc_b")).as("id_a"),
        greatest(col("doc_a"), col("doc_b")).as("id_b"),
        hamming(col("sa"), col("sb")).as("dist"))
    val same = sig.alias("p").join(sig.alias("q"),
        col("p.simhash") === col("q.simhash") && col("p.doc") < col("q.doc"))
      .select(col("p.doc").as("id_a"), col("q.doc").as("id_b"),
        lit(0).cast(IntegerType).as("dist"))
    same.unionByName(cross)
  }

  /** Banded hamming self-join over DISTINCT signatures → signature-space
    * edge list (sa, sb). The quadratic part of SimHash search runs here,
    * on ~|distinct signatures| nodes — never over documents.
    *
    * Parameterized on band geometry so other fixed-width signatures
    * reuse it: SimHash text dedup uses the 60-bit default (4×15-bit
    * bands), perceptual image dHash the full 64 bits as 4×16-bit
    * bands. Pigeonhole completeness needs maxHamming < bands in both
    * cases; callers enforce it. Negative signatures (bit 63 set on the
    * 64-bit form) are safe: shiftright's sign extension is masked off
    * per band, and [[hamming]]'s XOR+popcount is representation-exact
    * on two's-complement longs in Spark and DuckDB alike.
    *
    * `maxBucketSize` caps the hot-bucket quadratic ([[minhashCandidates]]'s
    * rule, r17): a band bucket holding more than `maxBucketSize`
    * DISTINCT signatures — templated near-identical text whose other
    * bands carry the variation — is dropped from the self-join
    * (Σ|bucket|² hamming evaluations otherwise). Recall trade of the
    * banded kind: two signatures pair iff they SHARE an uncapped band,
    * so near-dup pairs whose every common band is capped are missed;
    * exact signature twins are ONE node here (the frame is distinct)
    * and never affected. None = no cap — the pigeonhole-complete,
    * oracle-checked default. */
  private[graft] def simhashSigPairs(sig: DataFrame, maxHamming: Int,
                                     bandBits: Int = SimHashBandBits,
                                     nBands: Int = SimHashBands,
                                     maxBucketSize: Option[Int] = None)
      : DataFrame = {
    val bits = bandBits
    val sigs = sig.select(col("simhash")).distinct()
    // shiftright, not `/`: Spark's `/` on longs is DOUBLE division, and
    // a 60-bit signature >= 2^53 loses its low bits in the conversion —
    // band 0 (bits 0-14) would be extracted from the ROUNDED value and
    // equal true bands could fail to meet (silent recall loss)
    val bandCols = (0 until nBands).map { b =>
      concat(lit(s"$b:"),
        shiftright(col("simhash"), b * bits)
          .bitwiseAND(lit((1L << bits) - 1)).cast(StringType))
    }
    val banded0 = sigs.select(col("simhash"),
      explode(array(bandCols: _*)).as("band"))
    val banded = maxBucketSize match {
      case None => banded0
      case Some(cap) =>
        // window over the same subplan (the minhashCandidates shape):
        // hot buckets never enter the self-join
        import org.apache.spark.sql.expressions.Window
        banded0
          .withColumn("__bucket_n",
            count(lit(1)).over(Window.partitionBy(col("band"))))
          .filter(col("__bucket_n") <= cap)
          .drop("__bucket_n")
    }
    banded.alias("x").join(banded.alias("y"),
        col("x.band") === col("y.band") &&
          col("x.simhash") < col("y.simhash") &&
          hamming(col("x.simhash"), col("y.simhash")) <= maxHamming)
      .select(col("x.simhash").as("sa"), col("y.simhash").as("sb"))
      .distinct()
  }

  /** Cluster collapse of the SimHash near-dup graph: every document gets
    * the MIN doc id of its connected component as `rep`, and
    * `keep = (doc = rep)` — the per-document keep/drop decision a 100 TB
    * dedup pass actually wants, linear in corpus size where the raw pair
    * list ([[simhashPairs]]) is quadratic per cluster.
    *
    * Components come from hash-min label propagation WITH POINTER
    * JUMPING: each round first takes the min label over graph neighbors
    * (one equi-join + min-aggregate), then compresses paths by replacing
    * each label with its label's label (one self-join). The jump squares
    * the propagation distance per round, so convergence takes O(log
    * diameter) rounds instead of O(diameter) — templated near-dup
    * corpora produce CHAINS (doc i ~ doc i+1 ~ ...) whose diameter grows
    * with corpus size, where plain propagation (the first cut of this
    * operator) needed 25+ rounds at sf0.1 and a round cap would silently
    * return unconverged labels. Fixpoint is detected by a count of
    * changed labels; `maxIter` is a safety net at 2^maxIter-diameter
    * reach, and hitting it throws rather than returning a wrong answer.
    *
    * Only nodes that HAVE an edge participate in the loop — and the
    * nodes here are DISTINCT SIGNATURES, not documents (see the r6 note
    * in the body); the (typically vast) singleton majority joins back in
    * at the end. `localCheckpoint` truncates lineage each round (on a
    * cluster, use a reliable checkpoint dir). The driver loop is control
    * flow only — all data movement stays distributed. */
  def simhashClusters(df: DataFrame, id: String, text: String,
                      maxHamming: Int = 3, maxIter: Int = 20,
                      driverEdgeLimit: Long = 1000000L): DataFrame = {
    // The component graph lives in DISTINCT-SIGNATURE space (r6): nodes
    // are signatures, edges the banded-hamming signature pairs, and each
    // document inherits its signature's component with one linear join.
    // The former doc-space form fed collapseComponents the expanded
    // doc-pair list, which is quadratic per duplicate GROUP — a corpus
    // where every page has m near-identical copies produced ~m²/2 edges
    // per cluster (10× sf1 probe: 8,628 → 1.3M edges, 15× runtime for
    // 10× data, spilling past the driver union-find limit). In signature
    // space the same corpus keeps the ~same edge count at any
    // duplication multiplicity, and every per-doc step is one join or
    // aggregate. Identical output: same-signature docs are hamming-0
    // neighbors, so the doc-space components were exactly the expanded
    // signature components.
    val sig = simhash(df, id, text).localCheckpoint()
    val edges = simhashSigPairs(sig, maxHamming)
      .select(col("sa").as("id_a"), col("sb").as("id_b"))
      .localCheckpoint()
    inheritSigComponents(df.select(col(id).as("doc")).distinct(),
      sig.select(col("doc"), col("simhash").as("sfp")),
      edges, maxIter, driverEdgeLimit)
  }

  /** Shared tail of every signature-space cluster collapse
    * ([[simhashClusters]] / [[minhashClusters]] / perceptual image
    * dedup): run components over the SIGNATURE edge list, then one
    * linear join hands each document its signature's component and the
    * MIN ORIGINAL id per component becomes `rep`. `allDocs` is the
    * complete (doc) universe — documents with no signature (empty
    * text, undecodable payload) stay their own singleton clusters.
    * `byFp` is (doc, sfp); `edges` (id_a, id_b) lives in sfp space. */
  private[graft] def inheritSigComponents(allDocs: DataFrame,
                                          byFp: DataFrame,
                                          edges: DataFrame, maxIter: Int,
                                          driverEdgeLimit: Long): DataFrame = {
    val labels = componentLabels(edges, maxIter, driverEdgeLimit)
    val sigLabel = byFp.select(col("sfp")).distinct()
      .join(labels.withColumnRenamed("doc", "sfp"),
        Seq("sfp"), "left_outer")
      .select(col("sfp"),
        coalesce(col("label"), col("sfp")).as("slabel"))
    // doc → its signature's component; rep = MIN ORIGINAL id per
    // component (any orderable id type — numeric or string)
    val byDoc = byFp.join(sigLabel, Seq("sfp"))
      .select(col("doc"), col("slabel"))
    val reps = byDoc.groupBy("slabel").agg(min(col("doc")).as("rep"))
    val docRep = byDoc.join(reps, Seq("slabel"))
      .select(col("doc"), col("rep"))
    allDocs
      .join(docRep, Seq("doc"), "left_outer")
      .select(col("doc"), coalesce(col("rep"), col("doc")).as("rep"))
      .withColumn("keep", col("doc") === col("rep"))
  }

  /** Per-doc keep/drop over the MinHash-LSH near-dup graph — the same
    * cluster collapse as [[simhashClusters]], with the component graph
    * in DISTINCT-SIGNATURE space (r6, same reasoning): nodes are
    * distinct k-value signature vectors (xxhash64 fingerprint), edges
    * connect fingerprints sharing a band key, and documents inherit
    * their fingerprint's component with one linear join. The former
    * doc-space [[minhashCandidates]] edge list is quadratic per
    * duplicate group (m copies → m²/2 edges); here duplication
    * multiplicity never enters the graph. `maxBucketSize` keeps its
    * doc-count semantics: a band bucket whose DOCUMENT population
    * exceeds the cap contributes no edges (the population is the sum of
    * per-fingerprint doc counts — one aggregate, still
    * signature-space-sized state). One deliberate improvement over the
    * doc-space form: IDENTICAL-signature documents are one node, so
    * they collapse together even when every band they share is capped —
    * the cap bounds join cost, and merging exact signature twins costs
    * nothing regardless of bucket heat. */
  def minhashClusters(df: DataFrame, id: String, text: String,
                      n: Int = 3, k: Int = 16, bands: Int = 4,
                      maxBucketSize: Option[Int] = None,
                      maxIter: Int = 20,
                      driverEdgeLimit: Long = 1000000L): DataFrame = {
    val r = k / bands
    val sig = minhashSignature(df, id, text, n, k).localCheckpoint()
    val fp = xxhash64((0 until k).map(i => col(s"mh$i")): _*)
    val docSig = sig.select(col("doc"), fp.as("sfp"))
    val bandCols = (0 until bands).map { b =>
      concat(lit(s"$b:"),
        md5(concat_ws("|", (b * r until (b + 1) * r)
          .map(i => col(s"mh$i").cast(StringType)): _*)))
    }
    val sigBand = sig.select(fp.as("sfp"),
        explode(array(bandCols: _*)).as("band"))
      .distinct()
    val kept = maxBucketSize match {
      case None => sigBand
      case Some(cap) =>
        val perFp = docSig.groupBy("sfp").agg(count(lit(1)).as("fn"))
        import org.apache.spark.sql.expressions.Window
        sigBand.join(perFp, Seq("sfp"))
          .withColumn("__bucket_n",
            sum(col("fn")).over(Window.partitionBy(col("band"))))
          .filter(col("__bucket_n") <= cap)
          .select(col("sfp"), col("band"))
    }
    val edges = kept.alias("a").join(kept.alias("b"),
        col("a.band") === col("b.band") && col("a.sfp") < col("b.sfp"))
      .select(col("a.sfp").as("id_a"), col("b.sfp").as("id_b"))
      .distinct()
      .localCheckpoint()
    inheritSigComponents(df.select(col(id).as("doc")).distinct(),
      docSig, edges, maxIter, driverEdgeLimit)
  }

  /** Connected-component collapse shared by the dedup families: every
    * document gets the MIN doc id of its component in `pairsDf`
    * (columns id_a/id_b) as `rep`, plus `keep = (doc = rep)`.
    *
    * Numeric ids run the propagation directly in id space. Non-numeric
    * ids (string doc ids, URLs, UUIDs — the 100 TB norm) are xxhash64'd
    * into a 64-bit working space for the loop (collision odds ~n²/2⁶⁴,
    * the standard blocking trade) and the representative is recovered as
    * the MIN ORIGINAL id per component — lexicographic for strings —
    * with one linear groupBy+join, so the output is always in the
    * caller's own id type. (r3 ADVICE: the old unconditional long cast
    * turned string edges into NULLs and silently kept everything.) */
  /** PUBLIC connected components over an explicit undirected edge list
    * — the graph primitive behind every cluster collapse here
    * (simhash/minhash/cosine), exposed directly because training-data
    * pipelines carry their own dedup graphs (url canonicalization
    * chains, cross-source link graphs). `edges` columns: (id_a, id_b);
    * isolated nodes keep themselves. Output (doc, rep = min original id
    * of the component, keep = doc==rep). Union-find on the driver while
    * the edge list is model-sized (< `driverEdgeLimit`), distributed
    * pointer-jumping (O(log diameter) rounds) above it; string ids ride
    * an xxhash64 edge space with min-original-id recovery. Compared
    * end-to-end by the `op_components` driver row against a DuckDB
    * recursive-CTE fixpoint. */
  def connectedComponents(nodes: DataFrame, id: String, edges: DataFrame,
                          maxIter: Int = 20,
                          driverEdgeLimit: Long = 1000000L): DataFrame =
    collapseComponents(nodes, id, edges, maxIter, driverEdgeLimit)

  /** Canonical-document selection: within each near-dup cluster keep
    * the BEST-SCORING document, not the min-id one. The cluster
    * operators (`minhashClusters`/`simhashClusters`/`cosineClusters`)
    * return min-id representatives because that is cheap and stable;
    * real pipelines keep the highest-quality or newest copy (quality
    * score, crawl recency, source priority). This joins any (doc, rep)
    * cluster map against any (doc, score) table and re-elects each
    * cluster's winner by (score desc, doc asc) — the argmax is
    * `max(struct(score, -doc))` inside ONE hash aggregate per cluster
    * (no window, map-side combined), then one broadcast-size join back
    * (cluster count ≤ doc count; the agg output is one row per rep).
    *
    * Output: (doc, rep, canonical, keep) — `rep` the structural
    * min-id representative, `canonical` the elected winner,
    * `keep` = doc == canonical. */
  def canonicalByScore(clusters: DataFrame, scores: DataFrame,
                       scoreCol: String = "score"): DataFrame = {
    val j = clusters.select(col("doc"), col("rep"))
      .join(scores.select(col("doc"), col(scoreCol).as("__s")), Seq("doc"))
    val best = j.groupBy(col("rep"))
      .agg(max(struct(col("__s"), (-col("doc")).as("neg"))).as("m"))
      .select(col("rep"), (-col("m.neg")).as("canonical"))
    j.join(best, Seq("rep"))
      .select(col("doc"), col("rep"), col("canonical"),
        (col("doc") === col("canonical")).as("keep"))
  }

  private[llm] def collapseComponents(df: DataFrame, id: String,
                                      pairsDf: DataFrame, maxIter: Int,
                                      driverEdgeLimit: Long): DataFrame = {
    val idType = df.schema(id).dataType
    val allDocs = df.select(col(id).as("doc")).distinct()
    if (idType.isInstanceOf[NumericType]) {
      // evaluate the expensive pairs plan ONCE, then work off the
      // checkpointed edge list (its count is free afterwards)
      val pairs = pairsDf
        .select(col("id_a").cast(LongType), col("id_b").cast(LongType))
        .localCheckpoint()
      val labels = componentLabels(pairs, maxIter, driverEdgeLimit)
      allDocs
        .join(labels.select(col("doc").cast(idType).as("doc"),
          col("label").cast(idType).as("label")), Seq("doc"), "left_outer")
        .select(col("doc"), coalesce(col("label"), col("doc")).as("rep"))
        .withColumn("keep", col("doc") === col("rep"))
    } else {
      val rawPairs = pairsDf.select(col("id_a"), col("id_b"))
        .localCheckpoint()
      val mapping = rawPairs.select(col("id_a").as("orig"))
        .unionByName(rawPairs.select(col("id_b").as("orig")))
        .distinct()
        .select(col("orig"), xxhash64(col("orig")).as("doc"))
      val hashed = rawPairs.select(xxhash64(col("id_a")).as("id_a"),
        xxhash64(col("id_b")).as("id_b")).localCheckpoint()
      val labels = componentLabels(hashed, maxIter, driverEdgeLimit)
      val byDoc = labels.join(mapping, Seq("doc"))
      val reps = byDoc.groupBy("label").agg(min(col("orig")).as("rep"))
      val docRep = byDoc.join(reps, Seq("label"))
        .select(col("orig").as("doc"), col("rep"))
      allDocs
        .join(docRep, Seq("doc"), "left_outer")
        .select(col("doc"), coalesce(col("rep"), col("doc")).as("rep"))
        .withColumn("keep", col("doc") === col("rep"))
    }
  }

  /** Component labels (doc → min-long label) for a MATERIALIZED LongType
    * edge list: union-find on the driver while the edge list is
    * model-sized (it is ~|near-dup docs|, tiny relative to corpus), the
    * distributed pointer-jumping loop above the threshold. */
  private def componentLabels(pairs: DataFrame, maxIter: Int,
                              driverEdgeLimit: Long): DataFrame = {
    val spark = pairs.sparkSession
    import spark.implicits._
    if (pairs.count() <= driverEdgeLimit) {
      val parent = scala.collection.mutable.Map.empty[Long, Long]
      def find(x: Long): Long = {
        var r = x
        while (parent.getOrElse(r, r) != r) r = parent(r)
        var c = x
        while (parent.getOrElse(c, c) != c) {
          val n = parent(c); parent(c) = r; c = n
        }
        r
      }
      val es = pairs.collect().map(r => (r.getLong(0), r.getLong(1)))
      es.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        // larger root attaches under smaller → root = component min
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      es.iterator.flatMap { case (a, b) => Iterator(a, b) }
        .toSet.toSeq.map((d: Long) => (d, find(d)))
        .toDF("doc", "label")
    } else distributedComponents(pairs, maxIter)
  }

  /** Distributed connected components: hash-min label propagation WITH
    * POINTER JUMPING. Each round takes the min label over graph
    * neighbors (equi-join + min-aggregate), then compresses paths by
    * replacing each label with its label's label (self-join). The jump
    * squares the propagation distance per round → O(log diameter)
    * rounds; templated near-dup corpora produce CHAINS whose diameter
    * grows with corpus size, where plain propagation needed 25+ rounds
    * at sf0.1 and a round cap would silently return unconverged labels
    * (hence the throw). `localCheckpoint` truncates lineage each round
    * (on a cluster, use a reliable checkpoint dir); the driver loop is
    * control flow only. */
  /** Materialize a (small) intermediate with truncated lineage and an
    * EXPLICIT release handle. localCheckpoint() frees its blocks only
    * when the driver GCs the RDD, and persist() registers a CacheManager
    * entry that lives until the session ends — in the iterative loop
    * below either choice accumulated superseded round state for the rest
    * of a long-lived session (the r3 bench's "already cached" warnings /
    * `ddl_alter_columns` regression). Pinning the row RDD directly gives
    * deterministic unpersist the moment a round's state is superseded. */
  private def pin(df: DataFrame)
      : (DataFrame, () => Unit) = {
    val rdd = df.rdd
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    (df.sparkSession.createDataFrame(rdd, df.schema),
      () => { rdd.unpersist(false); () })
  }

  private[llm] def distributedComponents(pairs: DataFrame,
                                         maxIter: Int): DataFrame = {
    val edges = pairs.select(col("id_a").as("src"), col("id_b").as("dst"))
      .unionByName(pairs.select(col("id_b").as("src"), col("id_a").as("dst")))
    var (labels, releaseLabels) = pin(
      edges.select(col("src").as("doc")).distinct()
        .select(col("doc"), col("doc").as("label")))
    var iter = 0
    var converged = false
    while (!converged && iter < maxIter) {
      val nbrMin = edges
        .join(labels.select(col("doc").as("src"), col("label")), "src")
        .groupBy(col("dst").as("doc")).agg(min("label").as("nbr"))
      val (prop, releaseProp) = pin(
        labels.join(nbrMin, Seq("doc"))
          .select(col("doc"), least(col("label"), col("nbr")).as("label")))
      // pointer jump: label ← min(label, label(label))
      val (next, releaseNext) = pin(
        prop.alias("a")
          .join(prop.select(col("doc").as("pl"), col("label").as("plabel"))
            .alias("p"), col("a.label") === col("pl"))
          .select(col("a.doc"),
            least(col("a.label"), col("plabel")).as("label")))
      // this count materializes `next` (and transitively `prop`), after
      // which the superseded round state can be dropped immediately
      val changed = next
        .join(labels.withColumnRenamed("label", "old"), "doc")
        .filter(col("label") =!= col("old")).count()
      releaseProp()
      releaseLabels()
      labels = next
      releaseLabels = releaseNext
      converged = changed == 0
      iter += 1
    }
    if (!converged) {
      releaseLabels()
      throw new IllegalStateException(
        s"distributedComponents did not converge in $maxIter rounds")
    }
    // the final round's pin stays materialized for the caller's consume;
    // its blocks are released by the ContextCleaner once dropped
    labels
  }

  // -------------------------------------------------------------------
  // embedding-cosine near-dup
  // -------------------------------------------------------------------

  /** Cosine similarity of two float-vector columns, accumulated in double
    * element-by-element in index order (deterministic, engine-portable),
    * rounded to 6 places. The dots are the codegen'd
    * [[graft.functions.DotProduct]] loop. */
  def cosine(a: Column, b: Column): Column = {
    def dot(x: Column, y: Column): Column = graft.functions.DotProduct(x, y)
    // Round6, not SQL round: the SQL form's BigDecimal round is a
    // dtoa + decimal parse per call — invisible per result row, the
    // dominant cost per candidate PAIR (r17; Round6's scaladoc has
    // the measurement)
    graft.functions.Round6(dot(a, b) / sqrt(dot(a, a) * dot(b, b)))
  }

  /** [[cosine]] with the zero-norm pole made a VALUE: `try_divide`
    * returns NULL where a zero divisor (a zero-norm vector — its
    * cosine is undefined) would be an ANSI DIVIDE_BY_ZERO error;
    * every non-degenerate pair computes the bit-identical division.
    * A NULL similarity passes no threshold, so in a similarity
    * filter a zero vector is "not a duplicate of anything" — the
    * only self-consistent reading of an undefined angle. */
  def cosineZeroSafe(a: Column, b: Column): Column = {
    def dot(x: Column, y: Column): Column = graft.functions.DotProduct(x, y)
    graft.functions.Round6(
      try_divide(dot(a, b), sqrt(dot(a, a) * dot(b, b))))
  }

  /** Near-duplicate pairs by embedding cosine over a candidate pair list. */
  def cosineOnPairs(emb: DataFrame, pairs: DataFrame, id: String,
                    vec: String, threshold: Double): DataFrame = {
    val e = emb.select(col(id), col(vec))
    pairs
      .join(e.select(col(id).as("id_a"), col(vec).as("va")), Seq("id_a"))
      .join(e.select(col(id).as("id_b"), col(vec).as("vb")), Seq("id_b"))
      .select(col("id_a"), col("id_b"), cosine(col("va"), col("vb")).as("cos"))
      .filter(col("cos") >= threshold)
  }

  /** Candidate near-dup pairs by sign-LSH blocking: vectors sharing the
    * full 16-bit hyperplane bucket ([[Similarity.bucketCode]]). An
    * equi-join on the bucket code — the shuffle is on 65,536 bucket
    * values, never all-pairs. Same-bucket-only blocking is the standard
    * recall trade (a near-dup pair straddling a hyperplane is missed;
    * exact duplicates always share every sign bit).
    *
    * `maxBucketSize` caps the hot-bucket quadratic
    * ([[minhashCandidates]]' rule, r17): a jittered boilerplate burst
    * is h DISTINCT near-identical vectors sharing every plane sign —
    * one bucket, h² candidate pairs, each paying a full-vector cosine
    * verify downstream. Over-cap buckets are dropped from the
    * self-join (the banded recall trade; exact duplicates are immune
    * when the caller rep-collapses to distinct-vector space first, as
    * [[cosineClusters]] does). None = the exact, oracle-checked
    * default. */
  def cosineCandidates(emb: DataFrame, id: String, vec: String,
                       planes: Int = Similarity.Planes,
                       dim: Int = Similarity.Dim,
                       maxBucketSize: Option[Int] = None): DataFrame = {
    val coded0 = emb.select(col(id).as("doc"),
      Similarity.bucketCode(col(vec), planes, dim).as("bucket"))
    val coded = maxBucketSize match {
      case None => coded0
      case Some(cap) =>
        import org.apache.spark.sql.expressions.Window
        coded0
          .withColumn("__bucket_n",
            count(lit(1)).over(Window.partitionBy(col("bucket"))))
          .filter(col("__bucket_n") <= cap)
          .drop("__bucket_n")
    }
    coded.alias("a").join(coded.alias("b"),
        col("a.bucket") === col("b.bucket") && col("a.doc") < col("b.doc"))
      .select(col("a.doc").as("id_a"), col("b.doc").as("id_b"))
  }

  /** Embedding near-dup collapse, end to end: LSH-bucket candidates →
    * exact cosine verify at `threshold` → connected-component collapse
    * to a per-vector keep/drop — the corpus-linear product shape
    * ([[simhashClusters]]' embedding twin).
    *
    * Runs in DISTINCT-VECTOR space (the same move as [[simhashPairs]]'
    * distinct-signature space): duplicated corpora concentrate many ids
    * onto few distinct embeddings, and pairing doc ids directly grows
    * candidate volume quadratically with the duplication factor (the r4
    * scale probe: 16× self-union went superlinear). Vectors are
    * fingerprinted with xxhash64 (collision odds ~n²/2⁶⁴ — the standard
    * blocking trade); one min-id representative per distinct vector
    * enters the bucket join, and docs sharing a vector attach to their
    * representative with LINEAR star edges — the component structure is
    * identical to the full pair graph's. */
  def cosineClusters(emb: DataFrame, id: String, vec: String,
                     threshold: Double,
                     planes: Int = Similarity.Planes,
                     dim: Int = Similarity.Dim,
                     maxIter: Int = 20,
                     driverEdgeLimit: Long = 1000000L,
                     maxBucketSize: Option[Int] = None): DataFrame = {
    val keyed = emb.select(col(id).as("doc"), col(vec).as("__v"))
      .withColumn("__vh", xxhash64(col("__v")))
    // rows within a __vh group carry the same vector, so first() is
    // deterministic in value; min(doc) makes the representative stable
    val reps = keyed.groupBy("__vh")
      .agg(min(col("doc")).as("doc"), first(col("__v")).as("__v"))
      .localCheckpoint()
    val repEmb = reps.select(col("doc"), col("__v").as(vec))
    val cross = cosineOnPairs(repEmb,
        cosineCandidates(repEmb, "doc", vec, planes, dim, maxBucketSize),
        "doc", vec, threshold)
      .select(col("id_a"), col("id_b"))
    // duplicates attach to their representative: linear, no verify
    // needed (cos(v, v) = 1 ≥ any threshold)
    val star = keyed.alias("k")
      .join(reps.select(col("__vh"), col("doc").as("id_a")).alias("r"),
        Seq("__vh"))
      .filter(col("k.doc") =!= col("id_a"))
      .select(col("id_a"), col("k.doc").as("id_b"))
    collapseComponents(emb, id, cross.unionByName(star),
      maxIter, driverEdgeLimit)
  }

  /** SemDeDup-style SEMANTIC dedup (Abbas et al., 2023, arXiv:2303.09540
    * — "SemDeDup: Data-efficient learning at web-scale through semantic
    * deduplication"): partition the embedding space with k-means, then
    * dedup ONLY within each cell — the design that makes embedding-space
    * dedup tractable at corpus scale by bounding the quadratic step to
    * cell size (n²/nlist per cell instead of n²), at the cost of missing
    * pairs that straddle a cell boundary (exact duplicates never do:
    * identical vectors have identical centroid distances and the
    * deterministic first-centroid tie-break, so they always co-locate).
    *
    * Keep rule: a vector is DROPPED iff some lower-id vector in its cell
    * has cosine ≥ `threshold` with it — the deterministic id-order
    * greedy scan (SemDeDup keeps one representative per ε-ball; min-id
    * mirrors the [[exactDedup]] canonical convention and needs no
    * iteration).
    *
    * Assignment rule: every vector goes to its nearest centroid by
    * one native flat argmin ([[Similarity.ivfAssign]] →
    * [[graft.functions.NearestCentroid]]) at every nlist and every
    * vector width — constant generated-code size, the input read once
    * per row. There is no other assignment arm. For repeated passes,
    * train once with [[Similarity.ivfTrain]], sized by
    * [[Similarity.servingNlist]], and call the pre-trained overload.
    *
    * Shape at scale: training is [[Similarity.ivfTrain]] (model-sized
    * driver state), assignment is map-only, the within-cell pair join
    * shuffles on cell ids (nlist keys, sized so cells fit; raise nlist
    * as the corpus grows), the drop set is one distinct on dropped
    * ids. Output: (id, cell, kept). */
  def semanticDedup(emb: DataFrame, id: String, vec: String,
                    nlist: Int, threshold: Double): DataFrame = {
    // a corpus smaller than nlist needs fewer cells, not an exception
    // (ivfTrain requires corpus ≥ nlist); the count is model-sized next
    // to training's own corpus scans
    val n = emb.count()
    if (n == 0)
      return emb.select(col(id), lit(0).as("cell"), lit(true).as("kept"))
    semanticDedup(emb, id, vec,
      Similarity.ivfTrain(emb, id, vec, math.min(nlist.toLong, n).toInt),
      threshold)
  }

  /** [[semanticDedup]] with PRE-TRAINED centroids — the serving shape
    * for incremental runs: train once offline with
    * [[Similarity.ivfTrain]] at [[Similarity.servingNlist]] cells, then
    * every dedup pass is the native flat assignment + the within-cell
    * join at any nlist; the corpus is never re-scanned to rebuild the
    * model (the [[Similarity.ivfTopK]] pre-trained convention, r9). */
  def semanticDedup(emb: DataFrame, id: String, vec: String,
                    cents: Array[Array[Double]],
                    threshold: Double): DataFrame =
    dedupAssigned(Similarity.ivfAssign(emb, id, vec, cents), id, vec,
      threshold)

  /** Max DISTINCT (cell, vector) groups per cell before
    * [[dedupAssigned]] salt-splits the cell's pair join (r16 verdict
    * #1). Sizing: per join key the split form generates ≤ cap² ≈
    * 6.7·10⁷ candidate pairs — one task-sized unit of streamed cosine
    * work — and total per-cell work is ≤ gcnt·cap (linear in the hot
    * cell). [[Similarity.servingNlist]] targets ~128 rows per cell,
    * so legitimate cells sit ~64× BELOW this cap even before the
    * exact-duplicate rep collapse shrinks them further — only
    * jittered-boilerplate pathologies (10⁶ distinct near-identical
    * vectors in one cell) cross it, and those trade bounded recall
    * for bounded work per the scaladoc below. */
  val MaxCellGroups = 8192

  /** Pivot-peel width for over-cap cells (r17): the `PivotPeelWidth`
    * groups with the SMALLEST min-ids in an over-cap cell join against
    * every group in the cell (O(gcnt·width) — 128× cheaper than the
    * salted join it short-circuits at the default cap). Because every
    * non-pivot group's min id exceeds every pivot's, a group that
    * qualifies against ANY pivot gets its EXACT min-id bound from the
    * pivot evidence alone (derivation in [[dedupAssigned]]); only
    * pivot-UNREACHABLE groups fall back to the salted buckets. The
    * real-world over-cap shape — one dense boilerplate clique — is
    * resolved exactly (one representative kept), not approximately.
    * 0 disables the peel (the salt-only form, kept as a probe arm). */
  val PivotPeelWidth = 64

  /** Within-cell min-id greedy dedup over an ASSIGNED frame — the
    * tail of [[semanticDedup]].
    *
    * The pair join runs over ONE REPRESENTATIVE per distinct
    * (cell, vector), not per row (r15 verdict #1 — the last unbounded
    * quadratic on the 100 TB path): the naive within-cell self-join is
    * Σ|cell|², and k-means packs boilerplate/near-constant embeddings
    * into ONE cell regardless of nlist — a 10⁶-member exact-duplicate
    * cluster is 10¹² candidate pairs under the naive form and exactly
    * ONE representative here. This is the same hazard [[allPairs]]
    * documents and routes around, now built in.
    *
    * Keep/drop is PROVABLY unchanged (LlmSpec pins parity against the
    * naive form, [[dedupAssignedPairJoin]]). Derivation: identical
    * vectors score identically against everything, so for the min-id
    * greedy rule only each group's MIN id matters as a dropper. Let
    * G(y) be y's identical-vector group and m(G) a group's min id;
    * y is dropped iff some same-cell x with x.id < y.id has
    * cosine ≥ T, i.e. iff y.id > bnd(G(y)) where
    * bnd(G) = min( {m(G) if cosine(v_G, v_G) ≥ T} ∪
    *               {m(H) : H ≠ G same-cell, cosine(v_G, v_H) ≥ T} ).
    * (The self term uses the SAME computed cosine expression the pair
    * form evaluates on an identical pair — bit-identical, so even the
    * rounded-self-cosine-below-threshold edge at T = 1.0 agrees.)
    *
    * One DELIBERATE divergence: zero-norm vectors. The naive join
    * evaluates its cosine condition on every hash-matched pair —
    * including each row's SELF-match, before the id< guard (the
    * optimizer orders the conjuncts) — so under ANSI any zero vector
    * in the corpus is a DIVIDE_BY_ZERO error, not a result. Here the
    * pair tests use [[cosineZeroSafe]] (`try_divide` — bit-identical
    * division for every non-degenerate pair, NULL at the zero-norm
    * pole), so a zero vector's undefined cosine passes no threshold:
    * it is KEPT and drops nothing, never crashed on. LlmSpec pins
    * both behaviors.
    *
    * Shape at scale: the group-by carries map-side partial min (the
    * shuffle moves ~one row per distinct vector per mapper, so a hot
    * exact-duplicate cluster collapses BEFORE the wire); the rep pair
    * join is the old join in distinct-vector space, with the SELF pair
    * riding the same join (`<=` instead of `<` — one join, no separate
    * self branch); bounds aggregate onto the (cell, min-id) group key
    * — codegen-cheap on the 2-rows-per-qualifying-pair hot stream,
    * with the group's vector re-attached by one bounded-size join —
    * so the apply-back joins only the BOUNDED groups (≈ the number of
    * near-dup clusters, broadcast in the common case,
    * AQE-skew-splittable sort-merge past that) and is linear in the
    * hot key — never a per-group buffer (a collect_list of member ids
    * would re-concentrate a 10⁹-member cluster into one multi-GB
    * buffer).
    *
    * DISTINCT-vector skew (r16 verdict #1 — the one quadratic left
    * after the rep collapse): the rep pair join is Σ|groups(cell)|²,
    * and boilerplate that embeds with tiny variations (timestamps /
    * counters in otherwise-identical pages) produces 10⁶ DISTINCT
    * near-identical vectors that k-means packs into ONE cell — ~10¹²
    * rep pairs with zero collapse. Cells whose GROUP count exceeds
    * `maxCellGroups` are therefore salt-split: their groups spread
    * over ceil(gcnt/cap) buckets by vector hash (deterministic), and
    * the pair join adds the bucket to its equi key, bounding per-cell
    * work at ~gcnt·cap pairs (linear in the hot cell, ~cap² per join
    * key ⇒ task-sized) instead of gcnt².
    *
    * Before the salted join, over-cap cells run a PIVOT PEEL
    * ([[PivotPeelWidth]], r17): the `pivotWidth` smallest-min-id
    * groups join against every group in the cell (O(gcnt·width)).
    * Because every non-pivot group's min id exceeds every pivot's, a
    * group qualifying ≥ 1 pivot gets its EXACT bound from pivot
    * evidence alone — min{m(H) : qualifying H} is attained at a pivot
    * whenever any pivot qualifies, since every qualifying non-pivot
    * contributes a strictly larger min id. Resolved groups skip the
    * salted join (they have nothing left to learn; evidence they can
    * still SUPPLY to unresolved same-bucket groups rides the residual
    * join's y side, order-free since a resolved group never appears
    * as x). The real over-cap shape — one dense boilerplate clique,
    * whose lowest-id member is a pivot by construction — therefore
    * resolves EXACTLY: one representative kept, at ~width/cap of the
    * salted join's cost. Only pivot-UNREACHABLE groups (no pivot
    * within the threshold — an adversarial multi-cluster cell) pay
    * the salted join's RECALL trade, which is of the same kind as
    * nlist/multiAssign: qualifying pairs that straddle salt buckets
    * are missed, so an unreachable near-dup cluster keeps up to
    * ceil(gcnt/cap) representatives instead of exactly one. Below the
    * cap — every legitimately-sized cell: [[Similarity.servingNlist]]
    * targets ~128 rows/cell, so the default cap sits 64× above the
    * target mean — the salt is constant 0 and keep/drop is EXACT,
    * byte-for-byte the r16 behavior (LlmSpec pins parity; pins the
    * peel exact on pivot-covered cells and the monotone sandwich
    * naive ⊇ peeled ⊇ salt-only on a pivot-unreachable one; and pins
    * the salt-only arm against the naive oracle per bucket). The
    * over-cap decision (r18, replacing the r17 in-plan window that
    * taxed every clean corpus with a groups-sized exchange + sort)
    * is one bounded aggregate over the checkpointed groups: the
    * over-cap cell list is ≤ total_groups/maxCellGroups rows by
    * construction — a model-sized, deterministic driver probe, never
    * a data collect and never sampling. When it is empty (every
    * legitimately-sized corpus) the salt columns are literals and the
    * optimizer folds the entire over-cap branch out of the plan; when
    * it is not, the exact counts broadcast-join back and the salted
    * form is byte-identical to the r17 window form. */
  private[graft] def dedupAssigned(assigned: DataFrame, id: String,
                                   vec: String, threshold: Double,
                                   maxCellGroups: Int = MaxCellGroups,
                                   pivotWidth: Int = PivotPeelWidth)
      : DataFrame = {
    // null-id rows can neither drop nor be dropped (strict < and the
    // id join-back both reject null) — pass them through kept, exactly
    // the naive form's behavior
    val nullIds = assigned.filter(col(id).isNull)
      .select(col(id), col("cell"), lit(true).as("kept"))
    val rows = assigned.filter(col(id).isNotNull)
      .select(col(id), col("cell"), col(vec))
    val groups0 = rows.groupBy(col("cell"), col(vec))
      .agg(min(col(id)).as("__gmin"))
    // qualifying rep pairs — cosine evaluated ONCE per unordered pair
    // (the naive form's triangular-join cost, in distinct-vector
    // space). `<=` admits each group's SELF pair: ids are unique, so
    // equal mins means the same group, and a self-similar group
    // (cosine(v, v) ≥ T as COMPUTED — bit-identical to what the naive
    // form evaluates on an identical pair, so even the rounded-self-
    // cosine edge at T = 1.0 agrees; NULL hence false for zero
    // vectors. NaN-element vectors never reach this comparison at all
    // — assignment routes them to the NULL cell and === rejects null,
    // which matters because Spark orders NaN ABOVE every double, so a
    // NaN cosine ≥ T would evaluate TRUE, not false — r16 ADVICE)
    // bounds itself at its
    // own min — emitting (m, m) is harmless for singletons (no member
    // exceeds the min) and exactly the self term of bnd(G) otherwise.
    // Each qualifying pair bounds BOTH endpoints via one explode, keyed
    // directly by the endpoint's (cell, vector), so no remap join is
    // needed; a null cell never joins (===), itself included — the
    // naive form's behavior.
    // the pair stream is keyed by (cell, gmin), NOT (cell, vector):
    // ids are globally unique, so each group's min id NAMES the group
    // — and the qualifying-pair stream is the hot path (a near-dup
    // clique emits 2 rows per qualifying pair), so its partial-agg
    // key must be codegen-cheap. Keyed on the raw float array, every
    // emitted row paid an INTERPRETED NormalizeNaNAndZero transform +
    // a 256-byte hash just to be grouped (measured: the jittered
    // hot-cell probe sat minutes in ArrayTransform.nullSafeEval);
    // keyed on (int, long) it is a codegen long hash. The vector is
    // re-attached AFTER the min-agg by one bounded-size join against
    // `groups` so the row-level apply-back below keeps its exact
    // (cell, vector) key.
    // self-norms are staged ONCE PER GROUP (the rpTopK convention):
    // cosineZeroSafe inline recomputes dot(x,x) and dot(y,y) for every
    // candidate pair, tripling the pair-stream FLOPs. Same doubles,
    // same multiplication, same Round6 — sqrt(n2x·n2y) over the staged
    // norms is bit-identical to the inline form, so keep/drop parity
    // with the naive oracle is arithmetic, not approximate.
    // the groups frame is MATERIALIZED once (localCheckpoint): it is
    // referenced by both sides of the small pair join, the pivot join,
    // the residual join, and the bounds vector re-attach — lazily,
    // every reference re-executed the scan + assignment + group-by
    // upstream (AQE stage reuse recovered only part of it: measured
    // ~2× on dd_semantic with the peel branches in the plan). The
    // checkpoint is groups-sized (one row per DISTINCT (cell, vector)
    // — the corpus's distinct vectors, already the operator's working
    // set), eager, and linear; the disabled arm (Int.MaxValue) keeps
    // the pure-lazy two-reference form.
    val gn0 = groups0.withColumn("__n2",
      graft.functions.DotProduct(col(vec), col(vec)))
    val gn1 =
      if (maxCellGroups == Int.MaxValue) gn0 else gn0.localCheckpoint()
    // adaptive salt split (scaladoc above): over-cap cells spread
    // their groups across hash buckets; everyone else gets salt 0.
    // r18 (r17 verdict #1): the r17 form computed the per-cell group
    // count as a window INSIDE the checkpointed lineage — one extra
    // groups-sized exchange + sort on every call, and the over-cap
    // branches (pivot window, residual join, resolved distinct) stayed
    // in the plan even when every cell was under cap, costing the
    // pre-trained semantic dedup rows ~0.3-0.4 s of steady-state
    // premium at sf0.1 (the round's only real regressions). Now the
    // over-cap cells are decided by ONE bounded aggregate over the
    // checkpoint:
    // `oc` holds only cells whose group count exceeds the cap — at
    // most total_groups/maxCellGroups rows by construction (8192×
    // smaller than the corpus's distinct vectors), so the isEmpty
    // probe is a model-sized driver decision (the family's bounded-
    // collect convention, cf. noveltyKeyExistsJoin's prefix collect),
    // NOT a data collect. Counts are exact, so keep/drop is
    // byte-identical to the window form.
    //  - no over-cap cell (every legitimately-sized corpus): salt is a
    //    literal 0 and __oc literal false — the optimizer folds the
    //    whole big-cell branch away and the plan is the r16 shape over
    //    checkpoint blocks (plan-verified: dd_semantic shuffle
    //    Exchange 13 → 4, plans/r18/dd_semantic_{before,after}.txt).
    //  - over-cap cells exist: their exact counts broadcast-join back
    //    onto the groups (build side ≤ groups/8192 rows — broadcast-
    //    safe by construction), and the salt derives from the joined
    //    count exactly as the window form did. NULL-cell groups never
    //    match the join (=== rejects null) and get salt 0 — harmless,
    //    they pair with nothing either way.
    // Int.MaxValue disables the split statically: salt is a literal 0
    // and neither the count aggregate nor the probe run — byte-
    // identical to the pre-split (r16) form; the skew probe uses this
    // as its UNSPLIT baseline arm.
    val gn =
      if (maxCellGroups == Int.MaxValue)
        gn1.withColumn("__salt", lit(0L)).withColumn("__oc", lit(false))
      else {
        val oc = gn1.groupBy(col("cell"))
          .agg(count(lit(1)).as("__gcnt"))
          .filter(col("__gcnt") > maxCellGroups)
          .localCheckpoint()
        if (oc.isEmpty)
          gn1.withColumn("__salt", lit(0L)).withColumn("__oc", lit(false))
        else gn1.join(broadcast(oc), Seq("cell"), "left_outer")
          .withColumn("__oc", col("__gcnt").isNotNull)
          .withColumn("__salt",
            when(col("__oc"),
              pmod(xxhash64(col(vec)),
                ceil(col("__gcnt") / lit(maxCellGroups.toDouble))))
              .otherwise(lit(0L)))
          .drop("__gcnt")
      }
    def pairCos(): Column = graft.functions.Round6(
      try_divide(graft.functions.DotProduct(col(s"x.$vec"),
        col(s"y.$vec")), sqrt(col("x.__n2") * col("y.__n2"))))
    def emit(pairs: DataFrame): DataFrame = pairs
      .select(explode(array(
          struct(col("x.cell").as("__bcell"),
            col("x.__gmin").as("__bg"), col("y.__gmin").as("__b")),
          struct(col("y.cell").as("__bcell"),
            col("y.__gmin").as("__bg"), col("x.__gmin").as("__b"))))
        .as("p"))
      .select(col("p.__bcell").as("__bcell"), col("p.__bg").as("__bg"),
        col("p.__b").as("__b"))
    // under-cap cells (every cell, in the common case): the plain
    // within-cell pair join — salt is 0 throughout, so the key needs
    // no salt conjunct and keep/drop is EXACT, byte-for-byte r16.
    // When the split is disabled, __oc is literally false and the
    // optimizer folds the whole big-cell branch away.
    val small = gn.filter(!col("__oc"))
    val pairsSmall = small.alias("x").join(small.alias("y"),
        col("x.cell") === col("y.cell") &&
          col("x.__gmin") <= col("y.__gmin"))
      .filter(pairCos() >= threshold)
    // over-cap cells, stage 1 — PIVOT PEEL ([[PivotPeelWidth]]): the
    // `pivotWidth` smallest-gmin groups join against EVERY group in
    // the cell (O(gcnt·width), unordered — pivot-pivot pairs evaluate
    // twice, the min-agg absorbs it; pivot self-pairs ride along).
    // EXACTNESS: every non-pivot gmin exceeds every pivot gmin, so
    // for a group qualifying ≥1 pivot the true bound
    // min{m(H) : qualifying H} IS min{m(p) : qualifying pivot p} —
    // any qualifying non-pivot contributes a larger value. Such
    // groups (the whole dense clique, in the real over-cap shape) are
    // fully RESOLVED here and skip the salted join below.
    val big = gn.filter(col("__oc"))
    val wrank = org.apache.spark.sql.expressions.Window
      .partitionBy(col("cell")).orderBy(col("__gmin"))
    val pivots = big.withColumn("__grank", row_number().over(wrank))
      .filter(col("__grank") <= pivotWidth).drop("__grank")
    val pairsPivot = pivots.alias("x").join(big.alias("y"),
        col("x.cell") === col("y.cell"))
      .filter(pairCos() >= threshold)
    // a group is resolved iff it received pivot evidence (appeared as
    // a qualifying y — pivots included, via their self/peer pairs; at
    // T = 1.0 a group whose rounded self-cosine misses the threshold
    // resolves nothing and correctly falls through to the residual)
    val resolved = pairsPivot
      .select(col("y.cell").as("cell"), col("y.__gmin").as("__gmin"))
      .distinct().withColumn("__res", lit(true))
    // over-cap cells, stage 2 — the salted residual: only
    // pivot-UNREACHABLE groups still need pairing (the x side), but
    // they may be dropped by RESOLVED same-bucket groups too, so the
    // y side keeps everyone: a resolved y joins in either id order
    // (it never appears as x, so no pair is produced twice), an
    // unresolved y under the `<=` order (once per unordered pair,
    // self-pairs included). Evidence emitted to a resolved endpoint
    // is ≥ its exact pivot bound — absorbed by the min, never wrong.
    val bigF = big.join(resolved, Seq("cell", "__gmin"), "left")
      .withColumn("__res", coalesce(col("__res"), lit(false)))
    val pairsResidual = bigF.filter(!col("__res")).alias("x")
      .join(bigF.alias("y"),
        col("x.cell") === col("y.cell") &&
          col("x.__salt") === col("y.__salt") &&
          (col("x.__gmin") <= col("y.__gmin") || col("y.__res")))
      .filter(pairCos() >= threshold)
    val bounds0 = emit(pairsSmall)
      .unionByName(emit(pairsPivot))
      .unionByName(emit(pairsResidual))
      .groupBy(col("__bcell"), col("__bg"))
      .agg(min(col("__b")).as("__bnd"))
    val bounds = bounds0.join(gn.select(col("cell").as("__bcell"),
        col("__gmin").as("__bg"), col(vec).as("__bvec")),
      Seq("__bcell", "__bg"))
    // apply-back: only BOUNDED groups exist in `bounds` (≈ the number
    // of near-dup clusters, usually ≪ corpus), so this is a broadcast
    // join against the full row set — no second full-data shuffle; an
    // unmatched row has no bound and is kept
    rows.join(bounds,
        col("cell") === col("__bcell") && col(vec) === col("__bvec"),
        "left_outer")
      .select(col(id), col("cell"),
        (col("__bnd").isNull || col(id) <= col("__bnd")).as("kept"))
      .unionByName(nullIds)
  }

  /** The NAIVE within-cell pair join [[dedupAssigned]] replaced (r16) —
    * kept as the keep/drop parity oracle for LlmSpec and the hot-cell
    * skew probe. Σ|cell|² in ROW space: do not use at scale. */
  private[graft] def dedupAssignedPairJoin(assigned: DataFrame,
                                           id: String, vec: String,
                                           threshold: Double): DataFrame = {
    val dropped = assigned.alias("x").join(assigned.alias("y"),
        col("x.cell") === col("y.cell") &&
          col(s"x.$id") < col(s"y.$id"))
      .filter(cosine(col(s"x.$vec"), col(s"y.$vec")) >= threshold)
      .select(col(s"y.$id").as(id)).distinct()
      .withColumn("__drp", lit(true))
    assigned.join(dropped, Seq(id), "left_outer")
      .select(col(id), col("cell"),
        coalesce(!col("__drp"), lit(true)).as("kept"))
  }

  /** Incremental SEMANTIC novelty — [[minhashNovelty]]'s twin in
    * embedding space: each batch vector is novel unless some INDEX
    * vector has cosine ≥ `threshold` with it. This convenience form
    * trains and assigns the index INLINE (several full index scans) —
    * one-shot exploration only; the daily-increment serving shape is
    * the pre-trained overload below, where the index is assigned to
    * trained cells once, offline at deployment. Either way the batch is
    * assigned map-only and joins only its own cell's index slice, so
    * per-batch cost is |batch|·|index|/nlist, never |batch|·|index|.
    * Exact duplicates are always found (identical vectors co-locate);
    * near-dups straddling a cell boundary can be missed — raise
    * `multiAssign` (the IVF recall lever, [[Similarity.ivfAssign]]) to
    * probe the batch vector's m nearest cells. Output: (id, novel). */
  def semanticNovelty(batch: DataFrame, index: DataFrame, id: String,
                      vec: String, nlist: Int, threshold: Double,
                      multiAssign: Int = 1): DataFrame = {
    val n = index.count()
    if (n == 0) return batch.select(col(id), lit(true).as("novel"))
    val cents = Similarity.ivfTrain(index, id, vec,
      math.min(nlist.toLong, n).toInt)
    semanticNovelty(batch,
      Similarity.ivfAssign(index, id, vec, cents)
        .select(col("cell"), col(vec)),
      id, vec, cents, threshold, multiAssign)
  }

  /** [[semanticNovelty]] with a PRE-TRAINED model — the documented
    * serving shape made callable (r8 verdict #5: the convenience form
    * above retrains k-means and re-assigns the whole index on EVERY
    * call; this overload is the "index assigned once, offline at
    * deployment" path the scaladoc sells, mirroring
    * [[Similarity.ivfTopK]]'s pre-trained overload). `indexCells` is the
    * pre-assigned index — (cell, `vec`) columns, from
    * [[Similarity.ivfAssign]] over the same `cents`, written
    * partitionBy("cell") at deployment so a batch's probe is a
    * partition-pruned read of its own cells. Per-batch cost is then
    * genuinely |batch|·|index|/nlist: batch assignment is map-only
    * against the centroid literals and the only index work is the
    * cell equi-join. */
  def semanticNovelty(batch: DataFrame, indexCells: DataFrame,
                      id: String, vec: String,
                      cents: Array[Array[Double]], threshold: Double,
                      multiAssign: Int): DataFrame = {
    // the probe is an EXISTS test, so the index side needs only its
    // DISTINCT (cell, vector) rows (r16 — dedupAssigned's hot-cell
    // rule applied here): a boilerplate cluster of 10⁶ identical index
    // vectors would otherwise meet every in-cell batch row 10⁶ times;
    // distinct-collapsed it is met once. Map-side partial aggregation
    // collapses the duplicates before the shuffle wire, and the EXISTS
    // answer is provably unchanged (exists over a multiset ≡ exists
    // over its support). cosineZeroSafe keeps zero-norm vectors a
    // RESULT (undefined cosine passes no threshold → no duplicate
    // evidence → novel) instead of an ANSI division error.
    // self-norms staged once per side (the dedupAssigned convention,
    // r17): the probe is a |batch|·|cell slice| pair stream, and the
    // inline cosine recomputes both self-dots per pair. Same doubles,
    // same multiplication, same Round6 — bit-identical decisions.
    val idx = indexCells.select(col("cell"), col(vec).as("__graft_iv"))
      .dropDuplicates("cell", "__graft_iv")
      .withColumn("__graft_in2",
        graft.functions.DotProduct(col("__graft_iv"), col("__graft_iv")))
    val assignedBatch =
      (if (multiAssign <= 1) Similarity.ivfAssign(batch, id, vec, cents)
       else Similarity.ivfAssign(batch, id, vec, cents, multiAssign))
        .withColumn("__graft_bn2",
          graft.functions.DotProduct(col(vec), col(vec)))
    val hits = assignedBatch.join(idx, Seq("cell"))
      .filter(graft.functions.Round6(try_divide(
          graft.functions.DotProduct(col(vec), col("__graft_iv")),
          sqrt(col("__graft_bn2") * col("__graft_in2")))) >= threshold)
      .select(col(id)).distinct().withColumn("__graft_hit", lit(true))
    batch.select(col(id)).join(hits, Seq(id), "left_outer")
      .select(col(id), coalesce(!col("__graft_hit"), lit(true)).as("novel"))
  }

  // -------------------------------------------------------------------
  // line / paragraph dedup (CCNet-style)
  // -------------------------------------------------------------------

  /** Corpus-wide line-level exact dedup with document reassembly — the
    * CCNet/RefinedWeb paragraph dedup: boilerplate lines (nav bars,
    * cookie banners, license blurbs) repeat across millions of pages,
    * and stripping every occurrence but the global first is the
    * standard pre-filter that runs BEFORE whole-document near-dedup
    * (a doc that is 80% boilerplate is not a near-dup of anything
    * until its boilerplate is gone).
    *
    * Shape at scale: explode lines (map-only) → one hash-partitioned
    * groupBy on the line value electing the global first occurrence —
    * `min(struct(doc, pos))` is the deterministic lexicographic winner
    * under any partitioning — → equi-join winners back → one
    * groupBy(doc) reassembly. Two shuffles, both on keys partial
    * aggregation compresses (the line table collapses to its distinct
    * lines map-side); no driver state, no all-pairs step anywhere.
    *
    * Output: (doc, n_lines, n_kept, text) — surviving lines re-joined
    * with `delim` in original order, '' when nothing survived. */
  def dedupLines(df: DataFrame, id: String, text: String,
                 delim: String = "\n"): DataFrame = {
    val d = java.util.regex.Pattern.quote(delim)
    val lines = df.select(col(id).as("doc"),
      posexplode(split(col(text), d)).as(Seq("pos", "line")))
    val first = lines.groupBy(col("line"))
      .agg(min(struct(col("doc"), col("pos"))).as("__first"))
    val kept = lines.join(first, Seq("line"))
      .filter(struct(col("doc"), col("pos")) === col("__first"))
    val rebuilt = kept.groupBy(col("doc"))
      .agg(count(lit(1)).as("n_kept"),
        array_join(transform(
          array_sort(collect_list(struct(col("pos"), col("line")))),
          x => x.getField("line")), delim).as("text"))
    df.select(col(id).as("doc"),
        size(split(col(text), d)).cast(LongType).as("n_lines"))
      .join(rebuilt, Seq("doc"), "left")
      .select(col("doc"), col("n_lines"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("text"), lit("")).as("text"))
  }

  // -------------------------------------------------------------------
  // exact weighted-cosine near-dup over token TF-IDF vectors
  // -------------------------------------------------------------------

  /** floor(log2(x)) for a positive integer column, as a pure comparison
    * ladder (Σ_{k≥1} [x ≥ 2^k]) — integer-exact and engine-portable,
    * where a float log2 could disagree with an oracle engine in the
    * last ulp exactly at the power-of-two boundaries the floor turns
    * into off-by-ones. 62 codegen'd long comparisons, no branches. */
  private[llm] def floorLog2(c: Column): Column =
    (1 to 62).map(k => when(c >= lit(1L << k), lit(1L)).otherwise(lit(0L)))
      .reduce(_ + _)

  /** Rank/bound table for the weighted (tf-idf) prefix arms — ONE
    * copy for the self- and cross-corpus forms: joins the per-(doc,
    * tok) normalized weights `wn` (doc, tok, w, n2, wh) with the
    * corpus-max table `mx`, assigns the SHARED global rank order
    * (mx DESC, tok ASC), and computes the two suffix bounds — rb
    * (Σ ŵ·mx, the prefix-length bound) and rbn (the suffix l2 norm,
    * the Cauchy-Schwarz positional bound's half). */
  private def weightedRanked(wn: DataFrame, mx: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val suffixW = Window.partitionBy(col("doc")).orderBy(col("rnk"))
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    wn.join(broadcast(mx), Seq("tok"))
      .withColumn("rnk", row_number().over(
        Window.partitionBy(col("doc"))
          .orderBy(col("mx").desc, col("tok"))))
      .withColumn("rb", sum(col("wh") * col("mx")).over(suffixW))
      .withColumn("rbn", sqrt(sum(col("wh") * col("wh")).over(suffixW)))
  }

  /** Per-doc table of the weighted prefix arms — ONE copy of the
    * collapse semantics (the [[docArrTab]] of the weighted family):
    * n2, the rank-indexed rbn bound array, the rank-ordered (m, t, w)
    * merge array earr ([[graft.functions.PrefixMergeDot]]'s input —
    * prefix tokens are SLICED FROM IT too, so it is the one per-doc
    * array and no separate token array rides the exchange), and the
    * prefix length. With `collapse` (expandCliques=false), docs with
    * IDENTICAL earr — ⟺ identical token multiset under the shared
    * corpus-wide idf, since m is a pure function of t — group to
    * (rep = min doc, clique size n); n2/rbn/plen are deterministic
    * functions of earr, so first() is exact. */
  private def weightedDocTab(tl: DataFrame, tSlack: Double,
                             collapse: Boolean): DataFrame = {
    val docTab0 = tl.groupBy("doc").agg(
      first(col("n2")).as("n2"),
      transform(array_sort(collect_list(struct(col("rnk"), col("rbn")))),
        x => x.getField("rbn")).as("rbn"),
      transform(array_sort(collect_list(struct(col("rnk"),
          struct(col("mx").as("m"), col("tok").as("t"), col("w")).as("e")))),
        x => x.getField("e")).as("earr"),
      sum(when(col("rb") >= tSlack, 1).otherwise(0)).as("plen"))
    if (!collapse) docTab0.withColumn("n", lit(1L))
    else docTab0
      .groupBy(col("earr"))
      .agg(min(col("doc")).as("doc"), first(col("n2")).as("n2"),
        first(col("rbn")).as("rbn"), first(col("plen")).as("plen"),
        count(lit(1)).as("n"))
  }

  /** Prefix-key explosion over a [[weightedDocTab]] with HASHED join
    * keys — ONE copy of the weighted prefix construction: the SMJ
    * sorts/compares longs and candidate rows carry no strings at all
    * (a 64-bit collision only wastes a candidate — the merge kernel's
    * dual-ordinal first-shared check rejects it; it can neither
    * mis-accept nor double-emit). Output: (doc, n2, rbn, earr, n,
    * rnk, hk). */
  private def weightedPrefixTab(docTab: DataFrame): DataFrame =
    docTab.select(col("doc"), col("n2"), col("rbn"), col("earr"),
        col("n"),
        posexplode(expr("slice(earr, 1, plen)")).as(Seq("pos0", "e")))
      .withColumn("rnk", col("pos0") + 1)
      .withColumn("hk", xxhash64(col("e").getField("t")))
      .drop("pos0", "e")

  /** EXACT cosine-similarity self-join over token TF-IDF vectors — the
    * weighted complement of [[allPairs]] (set/Jaccard) and the sparse
    * complement of [[cosinePairs]] (dense embeddings): every unordered
    * doc pair whose bag-of-words tf·idf vectors have cosine ≥
    * `threshold`. Bayardo/Awekar AllPairs prefix filtering
    * (WWW'07 / WWW'09), re-expressed as DataFrame ops.
    *
    * Weights are INTEGER-quantized so the join's pair SET is decidable
    * identically in any engine: w(doc,tok) = tf · (1 + ⌊log2(N div
    * df)⌋) with ⌊log2⌋ the comparison ladder above — rare tokens weigh
    * ~log2(N), stopwords 1, and every dot product / squared norm is an
    * exact BIGINT (bounded by 2^53 for any document under ~10^6
    * tokens, so the final cosine — computed as
    * dot / sqrt(double(n2_a)·double(n2_b)) with this exact op order —
    * is the same IEEE double on every engine; the threshold compare
    * therefore never flips across engines, even at a knife-edge).
    *
    * Plan shape at scale (the float bounds below do PRUNING only —
    * conservative slack `1 - 1e-9` — while membership is always
    * decided by the exact integer verify):
    *   1. tf: groupBy(doc, tok) — map-side combined.
    *   2. df + N: token-level aggregate (broadcast back), one eager
    *      count for N ([[graft.llm.TextAnalysis.hashTfidf]]'s
    *      convention).
    *   3. n2 = Σw² per doc; mx(tok) = corpus max of the normalized
    *      weight ŵ = w/√n2 — both key-compressed aggregates.
    *   4. Global token order: mx DESC (highest-possible-contribution
    *      first), so the per-doc REVERSE cumulative bound rb_k =
    *      Σ_{i≥k} ŵ_i·mx_i (a doc-partitioned window) decays fast;
    *      positions with rb_k ≥ t are the prefix. rb_1 bounds the
    *      doc's best possible cosine against ANY partner, so docs
    *      below t emit no join keys at all.
    *   5. Candidates: equi-join on prefix tokens. The globally-first
    *      shared token of a qualifying pair is provably inside BOTH
    *      prefixes (if every shared token sat in x's suffix, cos ≤
    *      rb_{k} < t), so each pair surfaces at that token exactly
    *      once — the [[allPairs]] first-shared-token dedup, keyed on
    *      the ordered token array.
    *   6. Verify: exact integer dot via one codegen'd two-pointer
    *      merge over the two rank-sorted weighted-token arrays
    *      ([[graft.functions.PrefixMergeDot]]), which also decides
    *      the first-shared-token dedup — map-side, after pruning.
    *
    * Small-vocabulary corpora (every token frequent) break the prefix
    * filter the same way they break [[allPairs]]'s — every doc's
    * prefix holds the same few tokens, so the equi-join approaches n²
    * rows each CARRYING its doc's full weight map. The same cure
    * applies, weighted: vocab ≤ `denseVocabMax` → per-doc DENSE int
    * weight vectors, and the family's one signature sweep
    * ([[denseSweep]]) collapses docs to DISTINCT vectors and runs the
    * codegen'd [[graft.functions.DotProduct]] loop under a broadcast
    * nested-loop join — guarded, as [[allPairs]]'s arm is, on a
    * measured distinct-signature count and a broadcast byte cap, plus
    * an int-overflow guard on the weights, falling back to the prefix
    * arm above any of them. (The dense table is doc-count × V ints and
    * is localCheckpointed before the guard probe — the same
    * materialization shape as [[allPairs]]'s bitset table.) Output:
    * (doc_a, doc_b, dot, n2_a, n2_b, cos) with doc_a < doc_b, cos
    * rounded to 6 places. With `expandCliques = false`, docs with
    * identical weighted-token MULTISETS (same tokens and tf under the
    * shared corpus idf) collapse to (representative, clique size)
    * before pairing: one row per qualifying distinct-vector pair with
    * (n_a, n_b) appended, plus one self row (doc_a == doc_b) per ≥
    * 2-member clique, its cos computed and filtered by the same op
    * sequence as every pair (never a literal 1.0 — at n2 beyond 2²⁶
    * the product rounds and n2/√(n2·n2) can dip below an exact-1.0
    * threshold). '''At scale set `expandCliques = false`''' — uniform
    * family guidance, see [[allPairs]]. */
  def tfidfPairs(df: DataFrame, id: String, text: String,
                 threshold: Double,
                 denseVocabMax: Long = AllPairsDenseVocabMax,
                 denseSigMax: Long = AllPairsDenseSigMax,
                 expandCliques: Boolean = true): DataFrame =
    cosineKernel(simSides(df, None, id, text), threshold, denseVocabMax,
      denseSigMax, expandCliques)

  /** EXACT cross-corpus weighted-cosine JOIN — [[tfidfPairs]]'s
    * two-sided form, completing the family symmetry with
    * [[allPairsJoin]] (sets) and [[fuzzyJoin]] (LSH): every (left,
    * right) pair with tf·idf cosine ≥ `threshold`. Use cases mirror
    * the Jaccard join's (decontamination with a weighted bar,
    * cross-crawl audit) when stopword overlap must not count toward
    * the similarity the way raw Jaccard counts it.
    *
    * One similarity space for both sides: document frequencies, N,
    * and hence the integer idf quantization are computed over the
    * UNION of both corpora (the shared-total-order requirement, same
    * as [[allPairsJoin]]'s union frequency table), so a string that
    * appears in both corpora has ONE weight. The sides travel as one
    * tagged frame ([[SimSides]]), so the count, the frequency
    * checkpoint, the dense checkpoint and the guard probe each run
    * once for both. Same kernel and dispatch as [[tfidfPairs]]: small
    * shared vocab → per-side dense int vectors, per-side
    * distinct-signature collapse, D_L × D_R sweep broadcasting the
    * RIGHT side; otherwise the maxweight prefix arm with the
    * corpus-max normalized weights taken over BOTH sides. Output:
    * (id_a from left, id_b from right, dot, n2_a, n2_b, cos). With
    * `expandCliques = false` each side collapses to distinct
    * weighted-token multisets (reps + n_a/n_b); no self rows. '''At
    * scale set `expandCliques = false`''' — uniform family guidance,
    * see [[allPairs]]. */
  def tfidfJoin(left: DataFrame, right: DataFrame, id: String,
                text: String, threshold: Double,
                denseVocabMax: Long = AllPairsDenseVocabMax,
                denseSigMax: Long = AllPairsDenseSigMax,
                expandCliques: Boolean = true): DataFrame =
    cosineKernel(simSides(left, Some(right), id, text), threshold,
      denseVocabMax, denseSigMax, expandCliques)

  /** The tf-idf cosine kernel behind [[tfidfPairs]] and [[tfidfJoin]]:
    * the weighted front (count, tf, document frequency, w, n2, the
    * dense `wvec` table and its guard probe), then [[denseSweep]] or
    * the weighted prefix join. */
  private def cosineKernel(in: SimSides, threshold: Double,
                           denseVocabMax: Long, denseSigMax: Long,
                           expandCliques: Boolean): DataFrame = {
    require(threshold > 0 && threshold <= 1,
      s"threshold must be in (0,1]: $threshold")
    val self = in.n == 1
    val n = in.docs.count()
    val tf0 = in.docs.select(col("doc"),
        explode(TextAnalysis.tokens(lower(col("__t")))).as("tok"))
      .groupBy("doc", "tok").agg(count(lit(1)).as("tf"))
    // a cross call stages the union's tf: its frequency, dense and guard
    // jobs would each re-run the union's token explode and aggregation,
    // measured as most of dd_tfidf_join's construction time; the self
    // form keeps its three-job budget
    val tf = if (self) tf0 else tf0.localCheckpoint()
    // vocab-sized; checkpointed before the probe job so the document-
    // frequency aggregation runs once, not once per consumer
    val dfc = tf.groupBy("tok").agg(count(lit(1)).as("dfd"))
      .localCheckpoint()
    val w = tf.join(broadcast(dfc), Seq("tok"))
      .select(col("doc"), col("tok"),
        // `div`, not `/`: Spark's Divide on longs is DOUBLE division
        (col("tf") * (lit(1L) +
          floorLog2(expr(s"CAST($n AS BIGINT) div dfd")))).as("w"))
    // wmx rides along for the dense arm's overflow guard
    val n2 = w.groupBy("doc").agg(sum(col("w") * col("w")).as("n2"),
      max(col("w")).as("wmx"))
    // every cosine — pairs and clique rows, both arms — is this one op
    // sequence over the exact integers
    def cos(x: Column, pa: Column, pb: Column) = x.cast(DoubleType) /
      sqrt(pa.cast(DoubleType) * pb.cast(DoubleType))
    def keep(x: Column, pa: Column, pb: Column) = cos(x, pa, pb) >= threshold
    val dense = probeVocab(dfc, denseVocabMax).filter(_.nonEmpty)
      .flatMap { vocab =>
        // w is a LONG (tf·idf of a pathological one-token doc can exceed
        // 2³¹) and the IntegerType cast below would wrap SILENTLY,
        // corrupting dots while n2 stays right: the guard's wmx check
        // sends such a corpus to the prefix arm, whose merge kernel
        // stays in long arithmetic
        val dw = w
          .join(broadcast(denseBits(w.sparkSession, vocab)), Seq("tok"))
          .groupBy("doc").agg(map_from_entries(collect_list(
            struct(col("bit"), col("w").cast(IntegerType)))).as("m"))
          .join(n2, Seq("doc"))
          .select(col("doc"), col("n2").as("p"), col("wmx"),
            transform(sequence(lit(0), lit(vocab.length - 1)),
              i => coalesce(element_at(col("m"), i), lit(0))).as("sig"))
          .localCheckpoint()
        denseGuard((0 until in.n).map(in.of(dw, _)), col("wmx"),
          vocab.length * 4L, denseSigMax)
      }
    val pairs = dense match {
      case Some(sides) =>
        // the dot is exact in double below 2⁵³; x carries it as the long
        denseSweep(sides, graft.functions.DotProduct(col("sig_a"),
            col("sig_b")).cast(LongType), ordered = false,
          (_, _) => lit(true), keep, expandCliques)
      case None =>
        val wn = w.join(n2.drop("wmx"), Seq("doc"))
          .withColumn("wh", col("w").cast(DoubleType) /
            sqrt(col("n2").cast(DoubleType)))
        // corpus-max normalized weights over every side keep the suffix
        // bound valid for cross-side partners
        val mx = wn.groupBy("tok").agg(max(col("wh")).as("mx"))
        // conservative float slack: prune only when the bound is clearly
        // below t — a ulp of window-sum noise must never drop a true pair
        val tSlack = threshold * (1 - 1e-9)
        // rank and collapse PER SIDE (a left doc must never collapse
        // into a right rep) under the shared order
        val tabs = (0 until in.n).map(s => weightedDocTab(
          weightedRanked(in.of(wn, s), mx), tSlack,
          collapse = !expandCliques))
        val pre = tabs.map(weightedPrefixTab)
        val cross = pre.head.alias("pa").join(pre.last.alias("pb"),
            col("pa.hk") === col("pb.hk") &&
              pairPred(self, ordered = false, col("pa.doc"), col("pb.doc")))
          // positional filter (Cauchy-Schwarz): at a shared token with
          // ranks (i, j), every shared token sits at rank ≥ i in a and
          // ≥ j in b, so dot ≤ ‖â suffix(i)‖·‖b̂ suffix(j)‖. Valid as a
          // PAIR filter at the globally-first shared row (where i, j are
          // minimal); earlier rows it may drop were doomed to the dedup
          // filter anyway. Two array reads — runs BEFORE the merge
          // verify, which is the point.
          .filter(element_at(col("pa.rbn"), col("pa.rnk")) *
            element_at(col("pb.rbn"), col("pb.rnk")) >= tSlack)
          // fused first-shared dedup + exact integer dot: one codegen'd
          // two-pointer merge over the rank-sorted arrays (null = this
          // candidate row is not the pair's globally-first shared token,
          // checked by BOTH sides' ordinals — the b-ordinal is what
          // makes a 64-bit hash collision reject instead of
          // double-emitting)
          .withColumn("dot", graft.functions.PrefixMergeDot(
            col("pa.earr"), col("pb.earr"), col("pa.rnk"), col("pb.rnk")))
          .filter(col("dot").isNotNull)
          .select(pairCols(col("pa.doc"), col("pb.doc"), col("pa.n2"),
            col("pb.n2"), col("dot"), col("pa.n"), col("pb.n")): _*)
          .filter(keep(col("x"), col("p_a"), col("p_b")))
        if (self && !expandCliques)
          cross.unionByName(cliqueRows(tabs.head, "doc", "n2", keep))
        else cross
    }
    val (a, b) = if (self) ("doc_a", "doc_b") else ("id_a", "id_b")
    val out = pairs.select(col("a").as(a), col("b").as(b),
      col("x").as("dot"), col("p_a").as("n2_a"), col("p_b").as("n2_b"),
      graft.functions.Round6(cos(col("x"), col("p_a"), col("p_b")))
        .as("cos"), col("n_a"), col("n_b"))
    if (expandCliques) out.drop("n_a", "n_b") else out
  }

  /** EXACT containment self-join: every ORDERED pair (a, b), a ≠ b,
    * with |T_a ∩ T_b| / |T_a| ≥ `threshold` over distinct word-token
    * sets — the asymmetric complement of [[allPairs]] (Jaccard
    * penalizes the size gap; containment doesn't), and the measure
    * that catches what whole-doc near-dup misses: quotes, excerpts,
    * and partial copies where a small document lives inside a large
    * one. Training-data canon: drop-or-attribute the contained side.
    *
    * Pruning is integer-ppm exact end to end (no float appears
    * anywhere): a qualifying pair shares ≥ ⌈t·|T_a|⌉ tokens, so under
    * the global rarest-first order at least one shared token sits in
    * a's first |T_a| − ⌈t·|T_a|⌉ + 1 tokens — a's PREFIX keys the
    * join, while the b side indexes ALL its tokens (containment puts
    * no bound on |T_b| beyond |T_b| ≥ t·|T_a|, so there is no b-prefix
    * to exploit — the candidate volume is driven by a's RARE prefix
    * tokens against b's full posting lists, which is exactly an
    * inverted-index probe). First-shared-token dedup and the exact
    * `array_intersect` verify are the [[allPairs]] machinery; the
    * final filter is inter·10⁶ ≥ t·10⁶·|T_a|.
    *
    * Small vocabularies degrade the prefix arm the same way they
    * degrade [[allPairs]]'s — and the same front and dense signature
    * sweep apply verbatim (containment = popcount(a&b) against sz_a),
    * dispatched on the identical measured vocabulary/signature/
    * broadcast guards; the sweep covers ordered signature pairs (2×
    * the Jaccard sweep) and identical-set signatures expand to both
    * orders at containment 1.
    *
    * Output: (id_a, id_b, inter, sz_a, containment) — containment =
    * inter / sz_a as the double both engines derive from the same two
    * BIGINTs. With `expandCliques = false` the output stays in
    * distinct-token-set space: one row per qualifying ORDERED set
    * pair with (n_a, n_b) clique sizes appended, plus one self row
    * (id_a == id_b, containment 1) per ≥ 2-member clique. '''At
    * scale set `expandCliques = false`''' — uniform family guidance,
    * see [[allPairs]]. */
  def containmentJoin(df: DataFrame, id: String, text: String,
                      threshold: Double,
                      denseVocabMax: Long = AllPairsDenseVocabMax,
                      denseSigMax: Long = AllPairsDenseSigMax,
                      expandCliques: Boolean = true)
      : DataFrame =
    containmentKernel(simSides(df, None, id, text), threshold,
      denseVocabMax, denseSigMax, expandCliques)

  /** EXACT cross-corpus containment JOIN — [[containmentJoin]]'s
    * two-sided form: every (left, right) pair with |T_a ∩ T_b| /
    * |T_a| ≥ `threshold`, a from LEFT, b from RIGHT. The
    * decontamination form of containment: "is this eval document
    * (mostly) inside ANY training document" catches truncated,
    * quoted, and re-wrapped leakage that exact n-gram hits
    * ([[decontaminate]]) undercount and Jaccard ([[allPairsJoin]])
    * misses outright when the containing side is long. Same kernel
    * and integer-ppm decision chain as the self form; the global
    * rarest-first order is computed over the UNION of both corpora
    * (the shared-total-order requirement); the LEFT side keys the
    * join on its prefix, the RIGHT side is the full inverted index.
    * Dense dispatch mirrors [[allPairsJoin]]'s: per-side bitsets on
    * the shared codebook, D_L × D_R sweep broadcasting the right
    * side under the measured guards. Output: (id_a from left, id_b
    * from right, inter, sz_a, containment). With `expandCliques =
    * false` each side collapses to distinct token sets (reps +
    * n_a/n_b); no self rows. '''At scale set `expandCliques =
    * false`''' — uniform family guidance, see [[allPairs]]. */
  def containmentCross(left: DataFrame, right: DataFrame, id: String,
                       text: String, threshold: Double,
                       denseVocabMax: Long = AllPairsDenseVocabMax,
                       denseSigMax: Long = AllPairsDenseSigMax,
                       expandCliques: Boolean = true)
      : DataFrame =
    containmentKernel(simSides(left, Some(right), id, text), threshold,
      denseVocabMax, denseSigMax, expandCliques)

  /** The containment kernel behind [[containmentJoin]] and
    * [[containmentCross]]. */
  private def containmentKernel(in: SimSides, threshold: Double,
                                denseVocabMax: Long, denseSigMax: Long,
                                expandCliques: Boolean): DataFrame = {
    val tN = ppm(threshold)
    val self = in.n == 1
    // cheap bound: inter ≤ min(sz_a, sz_b), so sz_b must reach t·sz_a
    def bound(pa: Column, pb: Column) = pb * 1000000L >= lit(tN) * pa
    def keep(x: Column, pa: Column, pb: Column) =
      x * 1000000L >= lit(tN) * pa
    val (toks, freq, dense) = setFront(in, denseVocabMax, denseSigMax)
    val pairs = dense match {
      case Some((sides, score)) =>
        denseSweep(sides, score, ordered = true, bound, keep, expandCliques)
      case None =>
        // expandCliques=false: docs with IDENTICAL token sets collapse
        // to (representative = min id, clique size n) BEFORE the
        // quadratic join — 10 copies of a boilerplate doc stop costing
        // 100 output pairs, and the prefix join itself shrinks to
        // distinct-set space
        val tabs = (0 until in.n).map(s =>
          docArrTab(in.of(toks, s), freq, collapse = !expandCliques))
        // a-side: prefix keys only; b-side: every token — the inverted
        // index
        val index = tabs.last.select(col("doc"), col("sz"), col("farr"),
          col("n"), explode(col("farr")).as("tok"))
        val cross = prefixExplodeTab(tabs.head, tN).alias("pa")
          .join(index.alias("pb"), col("pa.tok") === col("pb.tok") &&
            pairPred(self, ordered = true, col("pa.doc"), col("pb.doc")))
          .filter(bound(col("pa.sz"), col("pb.sz")))
          .withColumn("ix", array_intersect(col("pa.farr"), col("pb.farr")))
          .filter(element_at(col("ix"), 1) === col("pa.tok"))
          .select(pairCols(col("pa.doc"), col("pb.doc"), col("pa.sz"),
            col("pb.sz"), size(col("ix")).cast(LongType), col("pa.n"),
            col("pb.n")): _*)
          .filter(keep(col("x"), col("p_a"), col("p_b")))
        if (self && !expandCliques)
          cross.unionByName(cliqueRows(tabs.head, "doc", "sz", keep))
        else cross
    }
    val out = pairs.select(col("a").as("id_a"), col("b").as("id_b"),
      col("x").as("inter"), col("p_a").as("sz_a"),
      (col("x").cast(DoubleType) / col("p_a")).as("containment"),
      col("n_a"), col("n_b"))
    if (expandCliques) out.drop("n_a", "n_b") else out
  }

  // -------------------------------------------------------------------
  // exact duplicated-substring spans (suffix-array-free ExactSubstr)
  // -------------------------------------------------------------------

  /** Maximal duplicated-substring spans: for every position whose
    * k-char gram occurs at MORE THAN ONE (doc, position) in the
    * corpus, merge overlapping-or-adjacent positions per doc into
    * maximal spans — the Spark-native form of exact-substring training
    * -data dedup (Lee et al. 2022, "Deduplicating Training Data Makes
    * Language Models Better", which builds a corpus suffix array; a
    * suffix array is a sequential construction — the distributed
    * equivalent is exactly this fixed-k gram partition, since any
    * duplicated substring of length ≥ k contains a duplicated k-gram,
    * and every maximal duplicated run is a union of duplicated
    * k-gram positions). Within-doc repeats count: a doc repeating its
    * own boilerplate twice is duplication. Complements
    * [[dedupLines]] (line granularity) and
    * [[TextAnalysis.dupSpanFraction]] (within-doc only).
    *
    * Plan shape at scale:
    *   1. Position table: one map-only fused pass per doc
    *      ([[graft.functions.GramHashes]]) — Σ(len−k+1) rows of
    *      (doc, p, 8-byte gram hash), never a per-position gram
    *      string.
    *   2. Duplicated hashes: groupBy(hash) count — partial aggregation
    *      collapses each partition's repeats map-side (the skew-safe
    *      choice over a partitioned window: a boilerplate gram
    *      occurring 10⁸ times combines before the exchange) — then a
    *      LEFT SEMI join back. The exchange carries 8-byte keys
    *      instead of k-byte grams (r18, guide §2.3).
    *   3. Exact verify: candidate positions re-attach their doc's text
    *      (one doc-keyed join — the same partitioning step 4 needs),
    *      cut the true gram, and re-count BY GRAM; only grams with a
    *      true count > 1 survive, so hash collisions cannot create a
    *      duplicated position and the result is byte-identical to
    *      grouping on raw grams.
    *   4. Spans: per-doc ordered window (partitioned by doc — never
    *      global): a position starts a new span when it clears the
    *      running max end by more than one char; islands then reduce
    *      by groupBy(doc, span).
    *
    * Output: (doc, span, span_start, span_end, len, n_grams) — span is
    * the 1-based per-doc island index, positions 1-based inclusive,
    * docs shorter than k emit nothing. */
  def substringSpans(df: DataFrame, id: String, text: String,
                     k: Int): DataFrame = {
    require(k > 0, s"k must be positive: $k")
    import org.apache.spark.sql.expressions.Window
    // r18 (guide §2.3 — shuffle keys/metadata, not payloads): the
    // former position table materialized a fresh k-char gram string
    // per corpus position (twice — once per consumer) and keyed the
    // duplicate-count aggregate on those 64-byte strings. Positions
    // now carry an 8-byte xxHash64 proxy ([[graft.functions
    // .GramHashes]] — one fused, allocation-free pass per doc), the
    // count aggregate and semi join run in hash space, and only the
    // CANDIDATE positions (those whose hash count exceeds 1 — the
    // duplicated fraction plus the ~n²/2⁶⁴ collision rate) re-derive
    // their true gram for the exact re-verification the scaladoc's
    // exactness contract requires. A gram's positions all share its
    // hash, so every position of a truly duplicated gram reaches the
    // verify step and the verified duplicate-position set is EXACTLY
    // the old one — the hash only narrows what the wide path touches.
    val pos = df.filter(length(col(text)) >= k)
      .select(col(id).as("doc"),
        posexplode(graft.functions.GramHashes(col(text), k)))
      .select(col("doc"), (col("pos") + 1).cast(LongType).as("p"),
        col("col").as("h"))
    val duph = pos.groupBy("h").agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") > 1)
    val cand = pos.join(duph.select("h"), Seq("h"), "left_semi")
    // exact verify: re-attach the text (one join keyed by doc — the
    // partitioning the span window below needs anyway), cut the true
    // gram for candidate positions only, and keep positions whose
    // GRAM count exceeds 1
    val candG = cand.join(df.select(col(id).as("doc"),
        col(text).as("__t")), Seq("doc"))
      .select(col("doc"), col("p"),
        expr(s"substring(__t, cast(p as int), $k)").as("gram"))
    val dupg = candG.groupBy("gram").agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") > 1)
    val dup = candG.join(dupg.select("gram"), Seq("gram"), "left_semi")
    val w = Window.partitionBy(col("doc")).orderBy(col("p"))
    val spans = dup
      .withColumn("pm", max(col("p")).over(
        w.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("new", when(col("pm").isNull ||
        col("p") > col("pm") + k, 1L).otherwise(0L))
      .withColumn("span", sum(col("new")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    spans.groupBy(col("doc"), col("span"))
      .agg(min(col("p")).as("span_start"),
        (max(col("p")) + (k - 1)).as("span_end"),
        (max(col("p")) + (k - 1) - min(col("p")) + 1).as("len"),
        count(lit(1)).as("n_grams"))
  }

  /** Inter-group n-gram overlap matrix — the corpus-level
    * contamination audit: for every unordered pair of groups
    * (sources, snapshots, languages), the Jaccard of their DISTINCT
    * word-n-gram-hash sets. This is the number a pipeline review asks
    * for before mixing sources ("how much of source B is already in
    * source A?"), the aggregate complement of the per-document
    * [[decontaminate]] family — and it shares their shingle hashing
    * ([[graft.functions.ShingleHashes]]) so the oracle replays the
    * integers exactly.
    *
    * Shape at scale: explode shingle hashes (map-only) → ONE distinct
    * on (group, hash) — partial aggregation collapses within-group
    * repeats map-side, and the shuffled table is bounded by distinct
    * (group, hash) pairs, not corpus size. Per-group sizes are a
    * key-compressed aggregate; the intersection join shuffles the
    * distinct-hash table against itself on hash — group-pair overlap
    * counts come out of one groupBy. G groups → G·(G−1)/2 output
    * rows; nothing is all-pairs over DOCUMENTS, only over groups.
    *
    * Output: (grp_a, grp_b, inter, uni, jaccard), grp_a < grp_b
    * lexicographically, zero-overlap pairs included. */
  def sourceOverlap(df: DataFrame, group: String, text: String,
                    n: Int = 3): DataFrame = {
    val gh = df.select(col(group).as("grp"),
        explode(graft.functions.ShingleHashes(lower(col(text)), n))
          .as("sh"))
      .distinct()
    val sizes = gh.groupBy("grp").agg(count(lit(1)).as("sz"))
    val inter = gh.alias("a").join(gh.alias("b"),
        col("a.sh") === col("b.sh") && col("a.grp") < col("b.grp"))
      .groupBy(col("a.grp").as("grp_a"), col("b.grp").as("grp_b"))
      .agg(count(lit(1)).as("inter"))
    // every group pair appears, overlap or not
    val pairs = sizes.select(col("grp").as("grp_a"), col("sz").as("sz_a"))
      .join(sizes.select(col("grp").as("grp_b"), col("sz").as("sz_b")),
        col("grp_a") < col("grp_b"))
    pairs.join(inter, Seq("grp_a", "grp_b"), "left")
      .select(col("grp_a"), col("grp_b"),
        coalesce(col("inter"), lit(0L)).as("inter"),
        (col("sz_a") + col("sz_b") - coalesce(col("inter"), lit(0L)))
          .as("uni"))
      .withColumn("jaccard",
        col("inter").cast(DoubleType) / col("uni"))
  }

  /** Per-document duplicated-coverage summary over
    * [[substringSpans]] — the number training pipelines actually act
    * on (Lee et al. 2022 drop documents whose duplicated fraction
    * crosses a bar; the spans themselves are the audit trail). One
    * left join back to the full corpus: every doc gets a row, zero
    * coverage included, `frac` the one double division of two exact
    * BIGINTs. Maximal spans are disjoint by construction, so summing
    * their lengths never double-counts. Output: (doc, n_chars,
    * covered, frac). */
  def substringCoverage(df: DataFrame, id: String, text: String,
                        k: Int): DataFrame = {
    val cov = substringSpans(df, id, text, k)
      .groupBy("doc").agg(sum(col("len")).as("covered"))
    df.select(col(id).as("doc"),
        length(col(text)).cast(LongType).as("n_chars"))
      .join(cov, Seq("doc"), "left")
      .select(col("doc"), col("n_chars"),
        coalesce(col("covered"), lit(0L)).as("covered"),
        (coalesce(col("covered"), lit(0L)).cast(DoubleType) /
          col("n_chars")).as("frac"))
  }
}
