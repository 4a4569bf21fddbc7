package graft

import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._
import graft.llm.{Dedup, TextAnalysis}
import graft.mat.Profile
import graft.operators.WeightedSample

/** Wave-6 pipeline operators: table profiling, weighted sampling,
  * CCNet-style line dedup, unigram-LM scoring. */
class PipelineOpsSpec extends SparkSpec {
  import spark.implicits._

  // ---- Profile -----------------------------------------------------

  test("profile: counts, nulls, exact ndv, min/max as strings") {
    val df = Seq((1L, Some("x")), (2L, None), (2L, Some("y")))
      .toDF("a", "b")
    val got = Profile.profile(df)
      .as[(String, Long, Long, Long, String, String)].collect().toSeq
    assert(got === Seq(
      ("a", 3L, 3L, 2L, "1", "2"),
      ("b", 3L, 2L, 2L, "x", "y")))
  }

  test("profile: approx path agrees on tiny cardinalities, single pass") {
    val df = Seq((1L, "x"), (2L, "y"), (3L, "y")).toDF("a", "b")
    assert(Profile.profile(df, approx = true).collect().toSeq ===
      Profile.profile(df).collect().toSeq)
  }

  test("profile: all-null column yields null min/max and ndv 0") {
    val df = Seq(Tuple1(1L)).toDF("a")
      .withColumn("b", lit(null).cast("string"))
    val row = Profile.profile(df, Seq("b")).collect().head
    assert(row.getLong(2) === 0L && row.getLong(3) === 0L
      && row.isNullAt(4) && row.isNullAt(5))
  }

  test("profile: a failing column fails the call and cancels its siblings") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd,
      SparkListenerJobStart}
    import org.scalatest.concurrent.Eventually._
    import org.scalatest.time.SpanSugar._
    val started = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val ended = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        if (Option(js.properties).flatMap(p =>
            Option(p.getProperty("spark.job.tags")))
            .exists(_.contains("graft-profile-")))
          started.add(js.jobId)
      override def onJobEnd(je: SparkListenerJobEnd): Unit =
        ended.add(je.jobId)
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      // one partition, so each column's scan is one task on its own
      // core: the slow column needs 400 x 25 ms = 10 s, the bad one
      // fails on its first row
      val slow = udf((x: Long) => { Thread.sleep(25); x })
      val boom = udf((x: Long) =>
        if (x >= 0) throw new IllegalStateException("profile-boom") else x)
      val df = spark.range(0, 400, 1, 1).toDF("a")
        .withColumn("slow", slow($"a"))
        .withColumn("bad", boom($"a"))
      val t0 = System.nanoTime()
      val err = intercept[Exception](Profile.profile(df).collect())
      val elapsed = (System.nanoTime() - t0) / 1e9
      val chain = Iterator.iterate[Throwable](err)(_.getCause)
        .takeWhile(_ != null).map(String.valueOf).mkString(" / ")
      assert(chain.contains("profile-boom"), chain)
      // the failure surfaced without waiting for the slow column
      assert(elapsed < 6.0, s"profile took $elapsed s to fail")
      // and the slow column's job was cancelled, not left running
      eventually(timeout(3.seconds), interval(50.millis)) {
        assert(!started.isEmpty)
        assert(started.asScala.forall(ended.contains),
          s"tagged jobs still active: ${started.asScala -- ended.asScala}")
      }
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  // ---- WeightedSample ----------------------------------------------

  test("weighted sample: deterministic, k-bounded, key formula replayed") {
    val df = Tables.load(spark, sf, "documents")
      .select($"doc_id", $"n_chars")
    val s1 = WeightedSample.sample(df, "doc_id", $"n_chars", 20)
      .select($"doc_id", $"es_key").collect().toSeq
    val s2 = WeightedSample.sample(df.repartition(7), "doc_id", $"n_chars", 20)
      .select($"doc_id", $"es_key").collect().toSeq
    assert(s1 === s2 && s1.size === 20)
    // replay one key by hand from the shared rolling hash
    val r = s1.head
    val id = r.getLong(0)
    val w = df.filter($"doc_id" === id).head().getLong(1).toDouble
    val h = TextAnalysis.rollLocal(s"es:$id")
    val u = (h % 1000000007L + 1).toDouble / 1000000008.0
    val expected = BigDecimal(math.log(u) / w)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(r.getDouble(1) === expected)
  }

  test("weighted sample: higher weight never lowers a row's key") {
    val one = Seq((7L, 1L), (7L, 100L)).toDF("doc_id", "w")
    val keys = one.select(WeightedSample.esKey($"doc_id", $"w"))
      .as[Double].collect()
    assert(keys(1) > keys(0), s"key must rise with weight: ${keys.toSeq}")
  }

  test("weighted sample: global top-k compiles to TakeOrderedAndProject") {
    val df = Tables.load(spark, sf, "documents").select($"doc_id", $"n_chars")
    val plan = WeightedSample.sample(df, "doc_id", $"n_chars", 10)
      .queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"),
      s"expected per-partition top-k merge, got:\n$plan")
  }

  // ---- dedupLines --------------------------------------------------

  test("dedupLines: global first occurrence survives, within-doc dups die") {
    val docs = Seq((1L, "a\nb\na"), (2L, "b\nc"), (3L, "a"))
      .toDF("doc_id", "text")
    val got = Dedup.dedupLines(docs, "doc_id", "text")
      .orderBy($"doc").as[(Long, Long, Long, String)].collect().toSeq
    assert(got === Seq(
      (1L, 3L, 2L, "a\nb"),   // second 'a' is a dup of position 0
      (2L, 2L, 1L, "c"),      // 'b' first seen in doc 1
      (3L, 1L, 0L, "")))      // nothing survives
  }

  test("dedupLines: token conservation — kept lines partition distinct lines") {
    val docs = Tables.load(spark, sf, "documents").limit(200)
      .select($"doc_id", regexp_replace($"text", " (\\w+ \\w+ \\w+) ", " $1\n")
        .as("text"))
    val out = Dedup.dedupLines(docs, "doc_id", "text")
    val keptTotal = out.agg(sum($"n_kept")).as[Long].head()
    val distinctLines = docs
      .select(explode(split($"text", "\n")).as("l"))
      .select(countDistinct($"l")).as[Long].head()
    assert(keptTotal === distinctLines,
      s"every distinct line must survive exactly once: $keptTotal vs $distinctLines")
  }

  test("dedupLines: custom delimiter with regex metacharacters") {
    val docs = Seq((1L, "x|y"), (2L, "y|z")).toDF("doc_id", "text")
    val got = Dedup.dedupLines(docs, "doc_id", "text", delim = "|")
      .orderBy($"doc").as[(Long, Long, Long, String)].collect().toSeq
    assert(got === Seq((1L, 2L, 2L, "x|y"), (2L, 2L, 1L, "z")))
  }

  // ---- unigramScore ------------------------------------------------

  test("unigramScore: hand-computed add-one-smoothed nll") {
    val docs = Seq((1L, "a a b"), (2L, "c")).toDF("doc_id", "text")
    val got = TextAnalysis.unigramScore(docs, "doc_id", "text")
      .orderBy($"doc").as[(Long, Int, Double)].collect().toSeq
    // counts a=2,b=1,c=1; T=4, V=3, denom=7
    def r6(x: Double) = BigDecimal(x)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val nll1 = r6(-(2 * math.log(3.0 / 7) + math.log(2.0 / 7)) / 3)
    val nll2 = r6(-math.log(2.0 / 7) / 1)
    assert(got === Seq((1L, 3, nll1), (2L, 1, nll2)))
  }

  test("unigramScore: rarer vocabulary scores higher nll at equal length") {
    val docs = Seq((1L, "x x x x"), (2L, "x x x q")).toDF("doc_id", "text")
    val got = TextAnalysis.unigramScore(docs, "doc_id", "text")
      .orderBy($"doc").as[(Long, Int, Double)].collect().toSeq
    assert(got(1)._3 > got(0)._3,
      s"the rare-token doc must be less typical: $got")
  }

  test("unigramScore: zero-token docs are excluded, not divided by zero") {
    val docs = Seq((1L, "a"), (2L, "   ")).toDF("doc_id", "text")
    val got = TextAnalysis.unigramScore(docs, "doc_id", "text")
      .select($"doc").as[Long].collect().toSeq
    assert(got === Seq(1L))
  }

  test("bigramScore: hand-computed transition nll") {
    val docs = Seq((1L, "a b a b"), (2L, "a a b b")).toDF("doc_id", "text")
    val got = TextAnalysis.bigramScore(docs, "doc_id", "text")
      .orderBy($"doc").as[(Long, Int, Double)].collect().toSeq
    // pairs: d1 = ab,ba,ab; d2 = aa,ab,bb -> ctx a:4 b:2;
    // big ab:3 ba:1 aa:1 bb:1; V=2
    def r6(x: Double) = BigDecimal(x)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val nll1 = r6(-(2 * math.log(4.0 / 6) + math.log(2.0 / 4)) / 3)
    val nll2 = r6(-(math.log(2.0 / 6) + math.log(4.0 / 6) +
      math.log(2.0 / 4)) / 3)
    assert(got === Seq((1L, 4, nll1), (2L, 4, nll2)))
    // the bigram point: same unigram bag, different word order,
    // different likelihood
    assert(nll1 !== nll2)
  }

  test("bigramScore: docs with fewer than 2 tokens are excluded") {
    val docs = Seq((1L, "a b"), (2L, "a"), (3L, "")).toDF("doc_id", "text")
    val got = TextAnalysis.bigramScore(docs, "doc_id", "text")
      .select($"doc").as[Long].collect().toSeq
    assert(got === Seq(1L))
  }

  test("hashTfidf: hand-computed buckets, counts, and smoothed idf") {
    val docs = Seq((1L, "a a b"), (2L, "b")).toDF("doc_id", "text")
    val dim = 8
    val got = TextAnalysis.hashTfidf(docs, "doc_id", "text", dim)
      .orderBy($"doc", $"dim").as[(Long, Long, Long, Double)]
      .collect().toSeq
    val ba = (TextAnalysis.rollLocal("a") % dim).toInt
    val bb = (TextAnalysis.rollLocal("b") % dim).toInt
    assert(ba !== bb, "test assumes a and b land in distinct buckets")
    def r6(x: Double) = BigDecimal(x)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    // N=2; bucket(a) df=1, bucket(b) df=2
    val wa = r6(2.0 * (math.log(3.0 / 2) + 1)) // tf 2, df 1
    val wb = r6(1.0 * (math.log(3.0 / 3) + 1)) // tf 1, df 2
    val expected = Seq((1L, ba.toLong, 2L, wa), (1L, bb.toLong, 1L, wb),
      (2L, bb.toLong, 1L, wb)).sortBy(t => (t._1, t._2))
    assert(got === expected)
  }

  test("hashTfidf: bucket collisions merge counts (dim = 1)") {
    val docs = Seq((1L, "a b c")).toDF("doc_id", "text")
    val got = TextAnalysis.hashTfidf(docs, "doc_id", "text", dim = 1)
      .as[(Long, Long, Long, Double)].collect().toSeq
    // every token collapses into bucket 0 with tf 3
    assert(got.map(t => (t._1, t._2, t._3)) === Seq((1L, 0L, 3L)))
  }

  // ---- Rolling -----------------------------------------------------

  test("rolling trailing window: hand-computed 10-second horizon") {
    import java.sql.Timestamp
    def t(s: Long) = new Timestamp(s * 1000L)
    // key A at 0,5,12,30; key B at 3 — frames: [t-10, t] inclusive
    val df = Seq(
      (1L, "A", t(0), 1.0), (2L, "A", t(5), 2.0),
      (3L, "A", t(12), 4.0), (4L, "A", t(30), 8.0),
      (5L, "B", t(3), 5.0)).toDF("event_id", "key", "ts", "value")
    val got = graft.operators.Rolling
      .trailing(df, "key", "ts", "value", horizonSec = 10L)
      .orderBy($"event_id")
      .select($"event_id", $"roll_n", $"roll_sum", $"roll_avg",
        $"roll_min", $"roll_max")
      .as[(Long, Long, Double, Double, Double, Double)].collect().toSeq
    assert(got === Seq(
      (1L, 1L, 1.0, 1.0, 1.0, 1.0),        // frame {0}
      (2L, 2L, 3.0, 1.5, 1.0, 2.0),        // frame {0,5}
      (3L, 2L, 6.0, 3.0, 2.0, 4.0),        // frame [2,12]: {5,12}, drops 0
      (4L, 1L, 8.0, 8.0, 8.0, 8.0),        // 30-10=20 > 12: alone
      (5L, 1L, 5.0, 5.0, 5.0, 5.0)))       // key B independent
  }

  test("rolling: same-timestamp rows are RANGE peers sharing one frame") {
    import java.sql.Timestamp
    def t(s: Long) = new Timestamp(s * 1000L)
    val df = Seq((1L, "A", t(7), 1.0), (2L, "A", t(7), 2.0))
      .toDF("event_id", "key", "ts", "value")
    val got = graft.operators.Rolling
      .trailing(df, "key", "ts", "value", horizonSec = 5L)
      .select($"roll_n", $"roll_sum").distinct()
      .as[(Long, Double)].collect().toSeq
    assert(got === Seq((2L, 3.0)))
  }

  // ---- canonicalByScore --------------------------------------------

  test("canonicalByScore: best score wins, ties break to min doc, singletons self") {
    val clusters = Seq((1L, 1L), (2L, 1L), (3L, 1L), (4L, 4L))
      .toDF("doc", "rep")
    val scores = Seq((1L, 0.5), (2L, 0.9), (3L, 0.9), (4L, 0.1))
      .toDF("doc", "score")
    val got = Dedup.canonicalByScore(clusters, scores)
      .orderBy($"doc").as[(Long, Long, Long, Boolean)].collect().toSeq
    // 2 and 3 tie at 0.9 -> min doc 2 is canonical; 4 is its own
    assert(got === Seq((1L, 1L, 2L, false), (2L, 1L, 2L, true),
      (3L, 1L, 2L, false), (4L, 4L, 4L, true)))
  }

  // ---- keyProfile --------------------------------------------------

  test("keyProfile: hand-computed distribution and skew ratio") {
    val df = Seq("a", "a", "a", "b").map(Tuple1(_)).toDF("k")
    val got = graft.sources.Skew.keyProfile(df, "k")
      .as[(Long, Long, Long, Double, Double, Double)].head()
    // sizes {1,3}: p50 = 2.0, p99 = 1 + 0.99*2 = 2.98 (interpolated);
    // skew = max/mean = 3 / (4/2) = 1.5
    assert(got === ((2L, 4L, 3L, 2.0, 2.98, 1.5)))
  }

  // ---- EditDistJoin ------------------------------------------------

  test("editDistJoin: substitution, insertion, deletion all at dist 1") {
    val df = Seq((1L, "cat"), (2L, "bat"), (3L, "cats"), (4L, "at"),
      (5L, "dog"), (6L, "")).toDF("id", "nm")
    val got = graft.operators.EditDistJoin.selfJoin(df, "id", "nm")
      .orderBy($"id_a", $"id_b").as[(Long, Long, Int)].collect().toSeq
    // cat~bat (substitution), cat~cats (insertion), cat~at (deletion),
    // bat~at (deletion); ""~"at" is dist 2; dog matches nothing
    val in = Seq((1L, "cat"), (2L, "bat"), (3L, "cats"), (4L, "at"),
      (5L, "dog"), (6L, ""))
    val expected = for {
      a <- in; b <- in if a._1 < b._1
      d = levenshteinRef(a._2, b._2) if d <= 1
    } yield (a._1, b._1, d)
    assert(got === expected.sortBy(t => (t._1, t._2)))
    assert(got.map(t => (t._1, t._2)).toSet ===
      Set((1L, 2L), (1L, 3L), (1L, 4L), (2L, 4L)))
  }

  private def levenshteinRef(a: String, b: String): Int = {
    val dp = Array.tabulate(a.length + 1, b.length + 1) { (i, j) =>
      if (i == 0) j else if (j == 0) i else 0
    }
    for (i <- 1 to a.length; j <- 1 to b.length)
      dp(i)(j) = math.min(math.min(dp(i - 1)(j) + 1, dp(i)(j - 1) + 1),
        dp(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
    dp(a.length)(b.length)
  }

  test("editDistJoin: blocking finds everything brute force finds (property)") {
    // random short strings over a 3-letter alphabet — dense near-pair
    // space exercises all three edit kinds and variant collisions
    val strs = (0 until 60).map { i =>
      val r = new scala.util.Random(i * 7 + 1)
      (i.toLong, (0 until (1 + r.nextInt(4)))
        .map(_ => ('a' + r.nextInt(3)).toChar).mkString)
    }
    val dedup = strs.groupBy(_._2).map { case (_, g) => g.minBy(_._1) }.toSeq
    val df = dedup.toDF("id", "nm")
    val got = graft.operators.EditDistJoin.selfJoin(df, "id", "nm")
      .as[(Long, Long, Int)].collect().toSet
    val brute = (for {
      a <- dedup; b <- dedup if a._1 < b._1
      d = levenshteinRef(a._2, b._2) if d <= 1
    } yield (a._1, b._1, d)).toSet
    assert(got === brute)
  }

  // ---- JaroWinklerJoin ---------------------------------------------

  test("jaroWinkler: DuckDB-pinned values at full double precision") {
    import org.apache.spark.unsafe.types.UTF8String
    def jw(a: String, b: String): Double =
      graft.functions.JaroWinkler.compute(
        UTF8String.fromString(a), UTF8String.fromString(b))
    // textbook + adversarial cases, every expected value probed from
    // DuckDB jaro_winkler_similarity at full precision — transposition
    // int-div, boost threshold, window edges, and empty-string
    // semantics (either side empty → 0.0, including both-empty) all
    // pinned to the oracle engine's exact doubles
    val pinned = Seq(
      ("MARTHA", "MARHTA", 0.9611111111111111),
      ("DIXON", "DICKSONX", 0.8133333333333332),
      ("JELLYFISH", "SMELLYFISH", 0.8962962962962964),
      ("DWAYNE", "DUANE", 0.8400000000000001),
      ("TRATE", "TRACE", 0.9066666666666667),
      ("abcdxxxx", "abcdyyyyzzz", 0.6212121212121212), // no boost ≤ 0.7
      ("abcdxy", "bcadxy", 0.9444444444444445), // 3 mismatches → t = 1
      ("aeiou", "uoiea", 0.4666666666666666),
      ("same", "same", 1.0),
      ("", "", 0.0), ("a", "", 0.0), ("", "a", 0.0),
      // random 5-letter-alphabet pairs, DuckDB-probed
      ("aacbbbaeaed", "a", 0.6969696969696969),
      ("bb", "eaebedbde", 0.5370370370370371),
      ("abdcc", "bca", 0.5111111111111111),
      ("da", "cecade", 0.5555555555555555),
      ("da", "cecebaabc", 0.0),
      ("ba", "cdcbccb", 0.0),
      ("caebebbddce", "caba", 0.6742424242424242),
      ("dcabec", "dddb", 0.611111111111111))
    pinned.foreach { case (a, b, want) =>
      assert(jw(a, b) == want, s"jw($a, $b)")
      assert(jw(b, a) == want, s"jw($b, $a) symmetric")
    }
    // column path (codegen) agrees with the static scalar
    val df = pinned.map { case (a, b, _) => (a, b) }.toDF("a", "b")
    val colVals = df.select(
        graft.functions.JaroWinkler($"a", $"b").as("jw"))
      .as[Double].collect().toSeq
    assert(colVals == pinned.map(_._3))
  }

  test("jaroWinklerJoin: blocking finds everything brute force finds (property)") {
    import org.apache.spark.unsafe.types.UTF8String
    def jw(a: String, b: String): Double =
      graft.functions.JaroWinkler.compute(
        UTF8String.fromString(a), UTF8String.fromString(b))
    // random strings over a tiny alphabet (dense similarity space),
    // WITH duplicates — exercises the distinct-collapse, the intra
    // cliques, and the cross expansion
    val strs = (0 until 80).map { i =>
      val r = new scala.util.Random(i * 13 + 5)
      (i.toLong, (0 until (3 + r.nextInt(8)))
        .map(_ => ('a' + r.nextInt(3)).toChar).mkString)
    }
    val t = 0.88
    val df = strs.toDF("id", "nm")
    val got = graft.operators.JaroWinklerJoin.selfJoin(df, "id", "nm", t)
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    val brute = (for {
      a <- strs; b <- strs if a._1 < b._1
      if jw(a._2, b._2) >= t
    } yield (a._1, b._1)).toSet
    assert(got === brute)
    assert(got.nonEmpty)
  }

  test("jaroWinklerJoin.crossJoin: two-sided brute parity incl. identical names") {
    import org.apache.spark.unsafe.types.UTF8String
    def jw(a: String, b: String): Double =
      graft.functions.JaroWinkler.compute(
        UTF8String.fromString(a), UTF8String.fromString(b))
    def gen(seed: Int, n: Int) = (0 until n).map { i =>
      val r = new scala.util.Random(seed + i * 31)
      (i.toLong, (0 until (3 + r.nextInt(7)))
        .map(_ => ('a' + r.nextInt(3)).toChar).mkString)
    }
    val l = gen(1, 60)
    // right side: fresh randoms plus exact copies of some left names
    // (identical cross-side strings must verify at exactly 1.0)
    val r = gen(1000, 40) ++ l.take(10).map { case (i, s) => (900L + i, s) }
    val t = 0.88
    val got = graft.operators.JaroWinklerJoin.crossJoin(
        l.toDF("id", "nm"), r.toDF("id", "nm"), "id", "nm", t)
      .select($"id_a", $"id_b", $"jw")
      .as[(Long, Long, Double)].collect().toSet
    val brute = (for {
      a <- l; b <- r
      v = jw(a._2, b._2) if v >= t
    } yield (a._1, b._1, math.rint(v * 1e6) / 1e6)).toSet
    assert(got == brute)
    assert(got.exists(_._3 == 1.0)) // the planted identical names
  }

  test("jaroWinklerJoin: pair with jw EXACTLY at threshold survives the band") {
    // r9 advice (medium): the jaro floor was rounded UP (ceil), making
    // the length-band/match-floor pruning ~1 ppm stricter than the
    // provable bound — a pair at jw = t exactly was pruned before the
    // verify. IEEE-exact witness (searched over the all-matched
    // prefix-4 family): |a| = 6, |b| = 8, m = 6, t = 0 → jaro =
    // (1 + 6/8 + 1)/3, jw = jaro + 0.4·(1−jaro) = 0.95 EXACTLY in
    // doubles. Old ceil'd band at t = 0.95: jmin = 916667, b3 =
    // 750001, requires 6e6 ≥ 750001·8 = 6000008 → pruned; the floor'd
    // band (b3 = 749998) keeps it for the exact verify.
    val a = "abcdef"
    val b = "abcdefgh"
    import org.apache.spark.unsafe.types.UTF8String
    assert(graft.functions.JaroWinkler.compute(
      UTF8String.fromString(a), UTF8String.fromString(b)) == 0.95)
    val df = Seq((1L, a), (2L, b)).toDF("id", "nm")
    val got = graft.operators.JaroWinklerJoin.selfJoin(df, "id", "nm", 0.95)
      .select($"id_a", $"id_b", $"jw").as[(Long, Long, Double)]
      .collect().toSet
    assert(got === Set((1L, 2L, 0.95)))
  }

  test("jaroWinklerJoin: duplicated empty/null names emit NO jw=1 cliques") {
    // r9 advice (low): the identical-name clique shortcut emitted
    // jw = 1 for duplicated empty (and null) names, but the pinned
    // definition gives 0.0 for empty and NULL for null — those pairs
    // must not exist. Non-empty duplicates still clique at 1.0.
    val df = Seq((1L, ""), (2L, ""), (3L, null), (4L, null),
      (5L, "alpha"), (6L, "alpha")).toDF("id", "nm")
    val got = graft.operators.JaroWinklerJoin.selfJoin(df, "id", "nm", 0.9)
      .select($"id_a", $"id_b", $"jw").as[(Long, Long, Double)]
      .collect().toSet
    assert(got === Set((5L, 6L, 1.0)))
  }

  // ---- sqrtSample --------------------------------------------------

  test("sqrtSample: per-stratum count is exactly min(n, ceil(rate*sqrt(n)))") {
    val df = (1L to 100L).map(i => (i, if (i <= 81) "big" else "small"))
      .toDF("doc_id", "src")
    val got = TextAnalysis.sqrtSample(df, "doc_id", "src", rate = 2.0)
      .groupBy($"stratum").count().as[(String, Long)].collect().toMap
    assert(got("big") === 18L)   // ceil(2*sqrt(81)) = 18 of 81
    assert(got("small") === 9L)  // ceil(2*sqrt(19)) = 9 of 19
    // determinism: identical on re-run
    val again = TextAnalysis.sqrtSample(df, "doc_id", "src", 2.0)
      .orderBy($"doc").collect().toSeq
    assert(again === TextAnalysis.sqrtSample(df, "doc_id", "src", 2.0)
      .orderBy($"doc").collect().toSeq)
  }

  test("sqrtSample: huge rate keeps every row (capped at n)") {
    val df = (1L to 10L).map((_, "s")).toDF("doc_id", "src")
    assert(TextAnalysis.sqrtSample(df, "doc_id", "src", 1e6).count() === 10L)
  }

  // ---- fuzzyJoin ---------------------------------------------------

  test("fuzzyJoin: every doc rediscovers its identical twin at est 1.0") {
    val d = Tables.load(spark, sf, "documents").limit(60)
      .select($"doc_id", $"text")
    val right = d.select(($"doc_id" + 10000).as("doc_id"), $"text")
    val got = Dedup.fuzzyJoin(d, right, "doc_id", "text", threshold = 0.9)
    val self = got.filter($"id_b" === $"id_a" + 10000)
    assert(self.count() === d.count())
    assert(self.filter($"est_jaccard" =!= 1.0).count() === 0)
  }

  test("fuzzyJoin exact path: jaccard matches jaccardOnPairs on the union") {
    val d = Tables.load(spark, sf, "documents").limit(40)
      .select($"doc_id", $"text")
    val right = d.select(($"doc_id" + 10000).as("doc_id"),
      concat($"text", lit(" extra token here")).as("text"))
    val got = Dedup.fuzzyJoin(d, right, "doc_id", "text",
        threshold = 0.0, exact = true)
      .select($"id_a", $"id_b", $"jaccard")
    val union = d.unionByName(right)
    val expected = Dedup.jaccardOnPairs(union,
        got.select($"id_a", $"id_b"), "doc_id", "text")
    assert(got.exceptAll(expected).isEmpty &&
      expected.exceptAll(got).isEmpty)
  }

  test("fuzzyJoin: threshold filters — higher threshold is a subset") {
    val d = Tables.load(spark, sf, "documents").limit(60)
      .select($"doc_id", $"text")
    val right = d.select(($"doc_id" + 10000).as("doc_id"),
      concat($"text", lit(" q1 q2 q3 q4 q5")).as("text"))
    val loose = Dedup.fuzzyJoin(d, right, "doc_id", "text", 0.2)
      .select($"id_a", $"id_b")
    val strict = Dedup.fuzzyJoin(d, right, "doc_id", "text", 0.8)
      .select($"id_a", $"id_b")
    assert(strict.exceptAll(loose).isEmpty)
    assert(strict.count() <= loose.count())
  }

  // ---- winsorize ---------------------------------------------------

  test("winsorize: hand-computed clip at exact group quantiles") {
    val df = (1 to 10).map(i => (i.toLong, "g", i.toLong * 10))
      .toDF("id", "grp", "v")
    // values 10..100: p0.05 = 14.5, p0.95 = 95.5 (linear interpolation)
    val got = graft.operators.Winsorize
      .winsorize(df, Seq("grp"), "v", 0.05, 0.95)
      .orderBy($"id").select($"v_w").as[Double].collect().toSeq
    assert(got === Seq(14.5, 20.0, 30.0, 40.0, 50.0, 60.0, 70.0, 80.0,
      90.0, 95.5))
  }

  test("winsorize: groups clip independently; lo=0/hi=1 is identity") {
    val df = Seq((1L, "a", 1L), (2L, "a", 100L), (3L, "b", 5L),
      (4L, "b", 7L)).toDF("id", "grp", "v")
    val id = graft.operators.Winsorize.winsorize(df, Seq("grp"), "v", 0.0, 1.0)
      .orderBy($"id").select($"v_w").as[Double].collect().toSeq
    assert(id === Seq(1.0, 100.0, 5.0, 7.0))
    val mid = graft.operators.Winsorize.winsorize(df, Seq("grp"), "v", 0.5, 0.5)
      .orderBy($"id").select($"v_w").as[Double].collect().toSeq
    assert(mid === Seq(50.5, 50.5, 6.0, 6.0))
  }

  test("winsorize: fact side joins broadcast — no fact-side exchange") {
    val df = Tables.load(spark, sf, "documents")
      .select($"doc_id", $"source", $"n_chars")
    val plan = graft.operators.Winsorize
      .winsorize(df, Seq("source"), "n_chars", 0.05, 0.95)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"expected broadcast clip join, got:\n$plan")
  }

  // ---- QuantileBin ---------------------------------------------------

  test("quantile binning: equi-depth, first count%n buckets take the extra row") {
    import graft.operators.QuantileBin
    // 7 rows, 3 bins → sizes 3,2,2; value ties broken by id
    val df = Seq((1L, 5.0), (2L, 5.0), (3L, 1.0), (4L, 9.0), (5L, 1.0),
      (6L, 7.0), (7L, 3.0)).toDF("id", "v").withColumn("g", lit("x"))
    val got = QuantileBin.assign(df, Seq("g"), "v", 3, Seq("id"))
      .orderBy($"v", $"id").select($"id", $"v_bin")
      .as[(Long, Int)].collect().toSeq
    // sorted order: (3,1),(5,1),(7,3) | (1,5),(2,5) | (4,9),(6,7)→(6,7),(4,9)
    assert(got === Seq((3L, 1), (5L, 1), (7L, 1), (1L, 2), (2L, 2),
      (6L, 3), (4L, 3)))
    intercept[IllegalArgumentException] {
      QuantileBin.assign(df, Seq("g"), "v", 3, Nil) // no total order
    }
  }

  test("quantile binning: groups bin independently, one exchange on the key") {
    import graft.operators.QuantileBin
    val df = Tables.load(spark, sf, "documents")
      .select($"doc_id", $"source", $"n_chars")
    val out = QuantileBin.assign(df, Seq("source"), "n_chars", 4, Seq("doc_id"))
    // each group's bins are 1..4 and within ±1 of equal size
    val sizes = out.groupBy($"source", $"n_chars_bin").count()
      .groupBy($"source").agg((max($"count") - min($"count")).as("spread"),
        countDistinct($"n_chars_bin").as("nbins"))
      .collect()
    assert(sizes.forall(r => r.getLong(1) <= 1 && r.getLong(2) == 4L))
    val exchanges = "Exchange hashpartitioning".r
      .findAllIn(out.queryExecution.executedPlan.toString).size
    assert(exchanges == 1, "binning must cost exactly one exchange on the key")
  }

  // ---- TimeWeighted --------------------------------------------------

  test("twap: carry-forward weighting, last obs weightless, single-obs keys absent") {
    import graft.operators.TimeWeighted
    import org.apache.spark.sql.types.DecimalType
    val df = Seq(
      // key a: v=10 for 2s, v=20 for 1s → twap (10·2+20·1)/3 = 40/3
      ("a", "2024-01-01 00:00:00", 1L, 10.0),
      ("a", "2024-01-01 00:00:02", 2L, 20.0),
      ("a", "2024-01-01 00:00:03", 3L, 99.0), // last: no weight
      ("b", "2024-01-01 00:00:00", 4L, 7.0))  // single obs: no row
      .toDF("k", "ts_s", "eid", "v")
      .withColumn("ts", $"ts_s".cast("timestamp"))
    val got = TimeWeighted.twap(df, Seq("k"), "ts",
        $"v".cast(DecimalType(18, 4)), Seq("eid"))
      .as[(String, Long, Long, Double)].collect().toSeq
    assert(got == Seq(("a", 3L, 3000000L, 13.333333))) // round(40/3, 6)
    intercept[IllegalArgumentException] {
      TimeWeighted.twap(df, Seq("k"), "ts", $"v", Nil)
    }
  }

  // ---- Regression ----------------------------------------------------

  test("ols: exact line recovered, zero-variance group yields nulls") {
    import graft.operators.Regression
    import org.apache.spark.sql.types.DecimalType
    val df = Seq(
      ("g", 1.0, 3.0), ("g", 2.0, 5.0), ("g", 3.0, 7.0),   // y = 2x + 1
      ("z", 4.0, 1.0), ("z", 4.0, 9.0))                    // var(x) = 0
      .toDF("k", "x", "y")
    val got = Regression.ols(df, Seq("k"),
        $"x".cast(DecimalType(18, 2)), $"y".cast(DecimalType(18, 2)))
      .orderBy($"k")
      .as[(String, Long, Option[Double], Option[Double], Option[Double])]
      .collect().toSeq
    assert(got == Seq(
      ("g", 3L, Some(2.0), Some(1.0), Some(1.0)),
      ("z", 2L, None, None, None)))
  }

  // ---- TableDiff -----------------------------------------------------

  test("table diff rejects the reserved presence-marker column names") {
    val bad = Seq((1L, true)).toDF("id", "__graft_old")
    assert(intercept[IllegalArgumentException](
      graft.operators.TableDiff.diff(bad, bad, Seq("id")))
      .getMessage.contains("__graft_old"))
  }

  test("table diff: added/removed/changed with null-safe column lists") {
    import graft.operators.TableDiff
    val old = Seq((1L, Some("a"), Some(1.0)), (2L, Some("b"), Some(2.0)),
      (3L, Some("c"), None), (4L, None, Some(4.0)))
      .toDF("id", "s", "v")
    val neu = Seq((1L, Some("a"), Some(1.0)),      // unchanged → no row
      (2L, Some("B"), Some(2.5)),                  // both cols changed
      (3L, Some("c"), Some(3.0)),                  // null → value IS a change
      (5L, Some("e"), Some(5.0)))                  // added; 4 removed
      .toDF("id", "s", "v")
    val got = TableDiff.diff(old, neu, Seq("id"))
      .orderBy($"id").as[(Long, String, Option[String])].collect().toSeq
    assert(got == Seq(
      (2L, "changed", Some("s,v")),
      (3L, "changed", Some("v")),
      (4L, "removed", None),
      (5L, "added", None)))
    // identical snapshots diff to nothing
    assert(TableDiff.diff(old, old, Seq("id")).count() == 0L)
    // schema mismatch refused
    intercept[IllegalArgumentException] {
      TableDiff.diff(old, neu.withColumnRenamed("v", "w"), Seq("id"))
    }
  }

  // ---- Sketches ----------------------------------------------------

  test("HLL rollup: persisted sketches re-union to the direct estimate") {
    import graft.operators.Sketches
    val o = Tables.load(spark, sf, "orders")
      .withColumn("mon", date_trunc("month", $"o_orderdate"))
    val rollup = Sketches.buildRollup(
      o, Seq("o_orderstatus"), "mon", "o_custkey", lgK = 12)
    // the rollup table is a real persistable artifact: write, read back,
    // and answer the coarser question from the FILES — the raw table is
    // never rescanned
    val tmp = java.nio.file.Files.createTempDirectory("graft-sk").toString
    rollup.write.parquet(s"$tmp/rollup")
    val persisted = spark.read.parquet(s"$tmp/rollup")
    val fromFiles = Sketches.estimateAcross(persisted, Seq("o_orderstatus"))
      .orderBy($"o_orderstatus")
      .as[(String, Long)].collect().toSeq
    val direct = o.groupBy($"o_orderstatus")
      .agg(Sketches.hllEstimate(Sketches.hllSketch($"o_custkey", 12))
        .as("distinct_est"))
      .orderBy($"o_orderstatus")
      .as[(String, Long)].collect().toSeq
    assert(fromFiles === direct) // same lgK ⇒ lossless union, bit-exact
    // and the estimate is a real distinct count, not a row count
    val exact = o.groupBy($"o_orderstatus")
      .agg(countDistinct($"o_custkey")).orderBy($"o_orderstatus")
      .as[(String, Long)].collect().toSeq
    fromFiles.zip(exact).foreach { case ((_, est), (_, ex)) =>
      assert(math.abs(est - ex) <= 0.05 * ex, s"est $est vs exact $ex")
    }
  }

  test("quantile rollup: bucketed merge equals the single-pass sample exactly") {
    import graft.operators.QuantileRollup
    val o = Tables.load(spark, sf, "orders")
      .withColumn("mon", date_trunc("month", $"o_orderdate"))
      .withColumn("all", lit(0))
    // bucketed by month, merged back up — must equal the sample one
    // direct pass over the whole group would produce (bottom-k merges
    // losslessly), so the quantile estimates are BIT-identical
    val byMon = QuantileRollup.buildRollup(o, Seq("o_orderstatus"),
      "mon", "o_orderkey", "o_totalprice", k = 64)
    val tmp = java.nio.file.Files.createTempDirectory("graft-qr").toString
    byMon.write.parquet(s"$tmp/rollup")
    val merged = QuantileRollup.estimateAcross(
        spark.read.parquet(s"$tmp/rollup"), Seq("o_orderstatus"),
        Seq(0.5, 0.99), k = 64)
      .orderBy($"o_orderstatus")
      .as[(String, Option[Double], Option[Double])].collect().toSeq
    val direct = QuantileRollup.estimateAcross(
        QuantileRollup.buildRollup(o, Seq("o_orderstatus"), "all",
          "o_orderkey", "o_totalprice", k = 64),
        Seq("o_orderstatus"), Seq(0.5, 0.99), k = 64)
      .orderBy($"o_orderstatus")
      .as[(String, Option[Double], Option[Double])].collect().toSeq
    assert(merged == direct)
    // k is PERSISTED in the rollup (qsample_k): omitting it derives the
    // build-time k, and a larger merge k is rejected loudly (a
    // bottom-128 of concatenated bottom-64s is not a uniform sample)
    val derived = QuantileRollup.estimateAcross(
        spark.read.parquet(s"$tmp/rollup"), Seq("o_orderstatus"),
        Seq(0.5, 0.99))
      .orderBy($"o_orderstatus")
      .as[(String, Option[Double], Option[Double])].collect().toSeq
    assert(derived == merged)
    // row-level guard (no extra pass over the rollup): fires on action
    val tooBig = intercept[Exception] {
      QuantileRollup.estimateAcross(byMon, Seq("o_orderstatus"),
        Seq(0.5), k = 128).collect()
    }
    def msgs(t: Throwable): String =
      if (t == null) "" else t.getMessage + "|" + msgs(t.getCause)
    assert(msgs(tooBig).contains("build-time"))
    // a SMALLER explicit k is a legal uniform subsample
    assert(QuantileRollup.estimateAcross(byMon, Seq("o_orderstatus"),
      Seq(0.5), k = 32).count() > 0)
    // fractional percentiles keep exact labels instead of rounding
    assert(QuantileRollup.estimateAcross(byMon, Seq("o_orderstatus"),
      Seq(0.125, 0.995)).columns.toSeq
      == Seq("o_orderstatus", "p12_5", "p99_5"))
    // the sample median lands near the exact median (uniform k-sample,
    // k=64 → generous tolerance band)
    val exact = o.groupBy($"o_orderstatus")
      .agg(expr("percentile(o_totalprice, 0.5)").as("m"))
      .orderBy($"o_orderstatus").as[(String, Double)].collect().toMap
    merged.foreach { case (k, p50, _) =>
      assert(math.abs(p50.get - exact(k)) <= 0.3 * exact(k),
        s"$k: sample p50 ${p50.get} vs exact ${exact(k)}")
    }
    // bottom-k is the deterministic KMV rule: recompute it brute-force
    // with the same rank expression
    val want = o.filter($"o_orderstatus" === "F")
      .select(QuantileRollup.sampleRank($"o_orderkey").as("r"),
        $"o_totalprice".cast("double").as("v"))
      .orderBy($"r", $"v").limit(64)
      .as[(Long, Double)].collect().toSeq
    val got = QuantileRollup.buildRollup(
        o.filter($"o_orderstatus" === "F"), Seq("o_orderstatus"), "all",
        "o_orderkey", "o_totalprice", k = 64)
      .select(explode($"qsample").as("p"))
      .select($"p.r", $"p.v").as[(Long, Double)].collect().toSeq
    assert(got == want)
    // all-null values → empty sample → null estimates, group kept
    val nulls = Seq(("g", 1L, Option.empty[Double]),
      ("g", 2L, None)).toDF("k", "id", "v").withColumn("b", lit(0))
    val ne = QuantileRollup.estimateAcross(
      QuantileRollup.buildRollup(nulls, Seq("k"), "b", "id", "v", 8),
      Seq("k"), Seq(0.5), 8).as[(String, Option[Double])].collect().toSeq
    assert(ne == Seq(("g", None)))
  }

  test("bottom-k pair aggregate is map-side partial (k pairs cross the exchange)") {
    val df = Seq(("a", 1L, 1.0), ("a", 2L, 2.0), ("b", 3L, 3.0))
      .toDF("k", "id", "v")
    val plan = df.groupBy($"k")
      .agg(graft.functions.BottomKPair.bottomKPair(
        graft.operators.QuantileRollup.sampleRank($"id"), $"v", 4)
        .as("s"))
      .queryExecution.executedPlan.toString
    assert(plan.contains("ObjectHashAggregate"), s"plan:\n$plan")
    assert(plan.toLowerCase.contains("partial_graft_bottom_k_pair"),
      s"map-side partial sample build must precede the exchange:\n$plan")
  }

  test("HLL sketch aggregate is map-side partial (sketches cross the exchange, not rows)") {
    import graft.operators.Sketches
    val df = Seq(("a", 1L), ("a", 2L), ("b", 1L)).toDF("k", "v")
    val plan = df.groupBy($"k").agg(Sketches.hllSketch($"v").as("sk"))
      .queryExecution.executedPlan.toString
    assert(plan.contains("ObjectHashAggregate"), s"plan:\n$plan")
    assert(plan.toLowerCase.contains("partial_hll_sketch_agg"),
      s"map-side partial sketch build must precede the exchange:\n$plan")
  }
}
