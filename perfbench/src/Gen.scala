package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Seeded input generators. Every value is a hash of (seed, salt, row
  * key), so one seed gives the same rows on any partitioning, and ground
  * truth for the output checks is a closed form over the same keys. */
final class Gen(spark: SparkSession, val seed: Long) {

  def h(salt: Int, cs: Column*): Column =
    xxhash64((lit(seed) +: lit(salt) +: cs): _*)
  def mod(salt: Int, n: Long, cs: Column*): Column =
    pmod(h(salt, cs: _*), lit(n))
  def unit(salt: Int, cs: Column*): Column =
    mod(salt, 1L << 30, cs: _*).cast(DoubleType) / lit((1L << 30).toDouble)
  private def pick(salt: Int, values: Seq[String], cs: Column*): Column =
    element_at(array(values.map(lit): _*),
      (mod(salt, values.size.toLong, cs: _*) + 1).cast(IntegerType))

  // ---------------------------------------------------------------- text

  /** Function words per language: the markers the library's language id
    * looks for, so a seeded share of documents is English. */
  private val Stop = Map(
    "en" -> Seq("the", "and", "of", "to", "in", "is"),
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht"),
    "es" -> Seq("el", "la", "de", "que", "los", "una"))

  /** A 5-letter pseudo-word from a 4,000-word vocabulary. */
  private def word(salt: Int, cs: Column*): Column =
    translate(lpad(conv(mod(salt, 4000L, cs: _*).cast(StringType), 10, 26),
        5, "0"), "0123456789abcdefghijklmnop", "abcdefghijklmnopqrstuvwxyz")

  /** Word array of the document with content key `ck`: 20–79 words, a
    * sixth of them function words of its language (60% en). */
  def words(ck: Column): Column = {
    val lang = lang_(ck)
    val n = (mod(50, 60L, ck) + 20).cast(IntegerType)
    transform(sequence(lit(1), n), j =>
      when(mod(51, 6L, ck, j) === 0,
        when(lang === "en", pick(52, Stop("en"), ck, j))
          .when(lang === "de", pick(52, Stop("de"), ck, j))
          .otherwise(pick(52, Stop("es"), ck, j)))
        .otherwise(word(53, ck, j)))
  }
  private def lang_(ck: Column): Column = {
    val u = mod(54, 10L, ck)
    when(u < 6, "en").when(u < 8, "de").otherwise("es")
  }
  def text(ck: Column): Column = array_join(words(ck), " ")

  /** A 64-dim vector of the content key (uniform components). */
  val Dim = 64
  def vec(ck: Column): Column =
    transform(sequence(lit(0), lit(Dim - 1)), j =>
      (unit(60, ck, j) * 2.0 - 1.0).cast(FloatType))
  /** `v` plus small seeded noise: cosine to `v` stays above 0.98. */
  def noisy(v: Column, id: Column): Column =
    transform(v, (x, j) => (x + (unit(61, id, j) * 2.0 - 1.0) * 0.05)
      .cast(FloatType))

  // ----------------------------------------------------------- warehouse

  val Epoch = "1992-01-01 00:00:00"

  def orders(n: Long, ncust: Long): DataFrame =
    spark.range(1, n + 1).select(col("id").as("o_orderkey"))
      .select(col("o_orderkey"),
        (mod(1, ncust, col("o_orderkey")) + 1).as("o_custkey"),
        pick(2, Seq("F", "O", "P"), col("o_orderkey")).as("o_orderstatus"),
        round(unit(3, col("o_orderkey")) * 500000.0, 2).as("o_totalprice"),
        (to_timestamp(lit(Epoch)) + make_dt_interval(
          mod(4, 2400L, col("o_orderkey")).cast(IntegerType)))
          .as("o_orderdate"),
        pick(5, Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
          "5-LOW"), col("o_orderkey")).as("o_orderpriority"))

  def lineitem(orders: DataFrame, nparts: Long): DataFrame = {
    val k = col("l_orderkey"); val ln = col("l_linenumber")
    orders.select(col("o_orderkey").as("l_orderkey"), col("o_orderdate"),
        explode(sequence(lit(1), (mod(6, 7L, col("o_orderkey")) + 1)
          .cast(IntegerType))).as("l_linenumber"))
      .select(k, ln,
        (mod(7, nparts, k, ln) + 1).as("l_partkey"),
        (mod(8, math.max(nparts / 20, 1L), k, ln) + 1).as("l_suppkey"),
        (mod(9, 50L, k, ln) + 1).cast(DoubleType).as("l_quantity"),
        round(unit(10, k, ln) * 100000.0, 2).as("l_extendedprice"),
        round(unit(11, k, ln) * 0.1, 2).as("l_discount"),
        round(unit(12, k, ln) * 0.08, 2).as("l_tax"),
        pick(13, Seq("A", "N", "R"), k, ln).as("l_returnflag"),
        pick(14, Seq("F", "O"), k, ln).as("l_linestatus"),
        (col("o_orderdate") + make_dt_interval(
          (mod(15, 120L, k, ln) + 1).cast(IntegerType))).as("l_shipdate"))
  }

  val Segments = Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
    "MACHINERY")

  def customer(n: Long): DataFrame =
    spark.range(1, n + 1).select(col("id").as("c_custkey"))
      .select(col("c_custkey"),
        format_string("Customer#%09d", col("c_custkey")).as("c_name"),
        mod(16, 25L, col("c_custkey")).cast(IntegerType).as("c_nationkey"),
        round(unit(17, col("c_custkey")) * 10000.0 - 1000.0, 2)
          .as("c_acctbal"),
        pick(18, Segments, col("c_custkey")).as("c_mktsegment"))

  def events(n: Long, users: Long): DataFrame =
    spark.range(0, n).select(col("id").as("event_id"))
      .select(col("event_id"),
        (to_timestamp(lit("2024-01-01 00:00:00")) + make_dt_interval(
          lit(0), lit(0), lit(0),
          (mod(19, 30L * 86400L * 1000000L, col("event_id")) / 1e6)
            .cast(DecimalType(18, 6)))).as("ts"),
        mod(20, users, col("event_id")).as("user_id"),
        pick(21, Seq("view", "click", "purchase", "signup", "error"),
          col("event_id")).as("event_type"),
        round(unit(22, col("event_id")) * 200.0, 2).as("value"))

  /** Orders changed by incremental cycle `i` (1-based): base keys whose
    * residue mod `period` is i mod `period`, plus `fresh` new keys. */
  def orderDelta(i: Int, n: Long, ncust: Long, period: Int,
                 fresh: Long): DataFrame = {
    val k = col("o_orderkey")
    val updated = spark.range(1, n + 1).select(col("id").as("o_orderkey"))
      .filter(mod(23, period.toLong, k) === (i % period))
    val added = spark.range(n + (i - 1) * fresh + 1, n + i * fresh + 1)
      .select(col("id").as("o_orderkey"))
    orderVersion(updated.unionByName(added), lit(i), ncust)
  }

  /** Order rows at `version` (0 = the base load). */
  def orderVersion(keys: DataFrame, v: Column, ncust: Long): DataFrame = {
    val k = col("o_orderkey")
    val version = v.cast(IntegerType) // hashed: one type for every caller
    keys.select(k,
      (mod(1, ncust, k) + 1).as("o_custkey"),
      when(version === 0, pick(2, Seq("F", "O", "P"), k))
        .otherwise(pick(24, Seq("F", "O", "P"), k, version))
        .as("o_orderstatus"),
      round(when(version === 0, unit(3, k)).otherwise(unit(25, k, version))
        * 500000.0, 2).as("o_totalprice"),
      (to_timestamp(lit(Epoch)) + make_dt_interval(
        mod(4, 2400L, k).cast(IntegerType))).as("o_orderdate"),
      version.cast(IntegerType).as("version"))
  }

  /** Ground truth after cycles 1..k: each key at its latest version. */
  def ordersAfter(k: Int, n: Long, ncust: Long, period: Int,
                  fresh: Long): DataFrame = {
    val key = col("o_orderkey")
    val r = mod(23, period.toLong, key)
    val last = when(lit(k) < r, lit(0L))
      .otherwise(r + lit(period.toLong) * floor((lit(k) - r) / period))
    val base = spark.range(1, n + 1).select(col("id").as("o_orderkey"))
      .withColumn("v", last)
    val added = spark.range(n + 1, n + k * fresh + 1)
      .select(col("id").as("o_orderkey"))
      .withColumn("v", ceil((col("o_orderkey") - n) / fresh.toDouble))
    orderVersion(base.unionByName(added), col("v"), ncust)
  }

  /** The customer source table as of cycle `i`: each customer changes
    * every `period` cycles, at its own residue. */
  def customerSource(i: Int, n: Long, period: Int): DataFrame = {
    val c = col("c_custkey")
    val r = mod(30, period.toLong, c)
    val v = when(lit(i) < r, lit(0L))
      .otherwise(r + lit(period.toLong) * floor((lit(i) - r) / period))
    spark.range(1, n + 1).select(col("id").as("c_custkey"))
      .withColumn("v", v)
      .select(c,
        when(col("v") === 0, pick(18, Segments, c))
          .otherwise(pick(31, Segments, c, col("v"))).as("c_mktsegment"),
        round(unit(32, c, col("v")) * 10000.0, 2).as("c_acctbal"),
        (to_timestamp(lit("2024-01-01 00:00:00")) +
          make_dt_interval(col("v").cast(IntegerType))).as("updated_at"))
  }

  /** Versions each customer has had by cycle `i` (the SCD2 row count). */
  def customerVersions(i: Int, n: Long, period: Int): Column = {
    val r = mod(30, period.toLong, col("c_custkey"))
    // changes at cycles r, r+period, ... (cycle 0 is the base load)
    val first = when(r === 0, lit(period.toLong)).otherwise(r)
    when(lit(i.toLong) < first, lit(1L))
      .otherwise(floor((lit(i.toLong) - first) / period) + 2)
  }
}

/** The seeded LLM corpus and crawl arrivals, on top of [[Gen]]'s text
  * and vector generators. */
final class CorpusGen(g: Gen) {
  import g._
  private val spark = SparkSession.active

  /** `n0` originals plus planted duplicates, `10 × n0` documents:
    * kind 0 original, 1 exact copy, 2 near-duplicate (one word edited),
    * 3 embedding copy (fresh text, the original's vector plus noise).
    * Originals hold the lowest ids, so an exact copy's min-id group
    * winner is its original. */
  def corpus(n0: Long): DataFrame = {
    val id = col("doc_id"); val kind = col("kind")
    spark.range(0, n0 * 10).select(col("id").as("doc_id"))
      .withColumn("kind", when(id < n0, 0)
        .otherwise(pmod(id, lit(3L)) + 1).cast(IntegerType))
      .withColumn("orig", when(kind === 0, id).otherwise(mod(70, n0, id)))
      .withColumn("w", words(when(kind === 3, id + (1L << 40))
        .otherwise(col("orig"))))
      .withColumn("v", vec(col("orig")))
      .select(id, kind, col("orig"),
        when(kind === 2, array_join(transform(col("w"), (x, j) =>
            when(j === mod(71, 1L << 20, id) % size(col("w")),
              concat(lit("x"), id.cast(StringType))).otherwise(x)), " "))
          .otherwise(array_join(col("w"), " ")).as("text"),
        when(kind <= 1, col("v")).otherwise(noisy(col("v"), id))
          .as("embedding"))
  }

  /** Texts of the held-out evaluation set the corpus is decontaminated
    * against: every 50th original. */
  def evalSet(n0: Long): DataFrame =
    spark.range(0, n0).filter(col("id") % 50 === 7)
      .select(text(col("id")).as("text"))

  /** The index seed of the ingest stream: `s` distinct documents. */
  def seedDocs(s: Long): DataFrame =
    withContent(spark.range(0, s).select(col("id").as("doc_id"),
      col("id").as("ck"), lit(false).as("fresh")))

  /** Micro-batch `b` of `a` arrivals (a multiple of 5): a fifth are
    * copies of seed documents, a fifth copies of the previous batch's
    * fresh documents (fresh themselves in batch 0), three fifths fresh.
    * The 40% duplicate share is an assumption, taken from the estimate
    * that as many as 40% of web pages duplicate other pages (Manning,
    * Raghavan and Schütze, Introduction to Information Retrieval, 2008,
    * §19.6). */
  def arrivals(b: Long, a: Int, s: Long): DataFrame = {
    val j = col("id") - lit(b * a); val slot = pmod(j, lit(5L))
    val ck = when(slot === 0, mod(40, s, lit(b), j))
      .when(slot === 1 && lit(b) > 0,
        lit(s + (b - 1) * a) + mod(41, (a / 5).toLong, lit(b), j) * 5 + 2)
      .otherwise(lit(s + b * a) + j)
    withContent(spark.range(b * a, (b + 1) * a).select(
      (col("id") + lit(1000000000L)).as("doc_id"), ck.as("ck"),
      (slot >= 2 || (slot === 1 && lit(b) === 0)).as("fresh")))
  }

  private def withContent(df: DataFrame): DataFrame =
    df.withColumn("text", text(col("ck")))
      .withColumn("k", md5(lower(col("text")).cast("binary")))
      .withColumn("embedding", vec(col("ck")))
}
