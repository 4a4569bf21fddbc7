package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery, Trigger}

/** Streaming analytics over the `events` table (additive scope — the
  * reference is batch-only, SURVEY §2.5).
  *
  * The transform functions are written against plain DataFrames so the
  * SAME code runs in batch mode (oracle-checkable against DuckDB) and
  * under Structured Streaming (`readStream` → transform → `writeStream`):
  * `window()`/`session_window` are streaming-native operators that Spark
  * also evaluates in batch.
  */
object Events {

  /** Epoch-micros of a timestamp column. NTZ is cast to TimestampType
    * first (sessions pin UTC, so the instant is unchanged); every OTHER
    * non-timestamp type still reaches unix_micros unchanged and fails
    * analysis LOUDLY — a blanket cast-to-timestamp would silently
    * reinterpret an integer epoch-micros column as SECONDS. */
  private def tsUsOf(df: DataFrame, c: String): Column =
    df.schema(c).dataType match {
      case TimestampNTZType => unix_micros(col(c).cast(TimestampType))
      case _ => unix_micros(col(c))
    }

  /** Tumbling-window event counts + value sums per event_type.
    * Streaming: works with `withWatermark` upstream; state is one row per
    * (window, type) — bounded by watermark eviction. */
  def tumblingCounts(events: DataFrame, width: String = "1 hour"): DataFrame =
    events
      .groupBy(window(col("ts"), width), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast(DecimalType(18, 4))).cast(DoubleType)
          .as("sum_value"))
      .select(col("window.start").as("win_start"), col("event_type"),
        col("n"), col("sum_value"))

  /** Sliding-window counts (1h window, 30m slide). */
  def slidingCounts(events: DataFrame, width: String = "1 hour",
                    slide: String = "30 minutes"): DataFrame =
    events
      .groupBy(window(col("ts"), width, slide), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("win_start"), col("event_type"), col("n"))

  /** Per-user session aggregation with a gap timeout — the
    * `session_window` operator. In streaming this is the canonical
    * stateful sessionization; in batch Spark evaluates it with a
    * sort-within-group, and DuckDB oracles it with gaps-and-islands SQL. */
  def sessions(events: DataFrame, gap: String = "30 minutes"): DataFrame =
    events
      .groupBy(session_window(col("ts"), gap), col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast(DecimalType(18, 4))).cast(DoubleType)
          .as("sum_value"))
      .select(col("user_id"),
        col("session_window.start").as("sess_start"),
        col("session_window.end").as("sess_end"),
        col("n_events"), col("sum_value"))

  /** JSON props extraction (events.props is a JSON string column). */
  def withProps(events: DataFrame): DataFrame =
    events.withColumn("k",
      get_json_object(col("props"), "$.k").cast(IntegerType))

  // -----------------------------------------------------------------
  // custom state: KeyValueGroupedDataset.flatMapGroupsWithState
  // -----------------------------------------------------------------

  final case class Ev(event_id: Long, ts_us: Long, user_id: Long,
                      value: Double)
  /** Streaming twin of [[Ev]]: keeps the watermarked `ts` column so the
    * event-time watermark survives the projection (metadata travels with
    * the column — dropping it voids EventTimeTimeout). */
  final case class EvT(event_id: Long, ts: java.sql.Timestamp, ts_us: Long,
                       user_id: Long, value: Double)
  final case class SessU(user_id: Long, start_us: Long, end_us: Long,
                         n_events: Long, sum_value: Double)
  final case class SessAcc(start: Long, last: Long, n: Long, sum: Double)
  /** Streaming session state: the open session folded from MATURE
    * (ts ≤ watermark) events — O(1), the structure of the mature
    * prefix is frozen because any new arrival at ts ≤ watermark is
    * late and dropped — plus the raw not-yet-mature events, whose
    * session grouping can still change. */
  final case class SessBuf(open: Option[SessAcc],
                           buf: List[(Long, Double)])

  /** The session fold shared by the batch and streaming paths: feed
    * events in ts order, close a session when the gap is reached.
    * Session windows are end-exclusive — an event arriving exactly
    * `gap` after the last one starts a NEW session, matching
    * session_window's interval-overlap merge. */
  private def foldSession(cur: SessAcc, tsUs: Long, value: Double,
                          gapUs: Long): (Option[SessAcc], SessAcc) =
    if (cur == null) (None, SessAcc(tsUs, tsUs, 1, value))
    else if (tsUs - cur.last >= gapUs)
      (Some(cur), SessAcc(tsUs, tsUs, 1, value))
    else (None, SessAcc(cur.start, tsUs, cur.n + 1, cur.sum + value))

  /** Per-user sessionization, BATCH form: custom session logic (the
    * extension point for what `session_window` can't express —
    * value-dependent gaps, early emission) evaluated scale-safely as a
    * secondary sort: repartition by user, sort partitions by
    * (user, ts), one forward pass per partition. Memory is O(1) per
    * task regardless of how many events one user has (the r2 form
    * buffered each user's full event array); the sort itself spills
    * through Spark's external sorter. Event times flow as MICROSECONDS
    * (unix_micros) so boundaries match session_window exactly.
    * Parity-tested against [[sessions]]; streaming twin:
    * [[sessionsCustomStateStreaming]]. */
  def sessionsCustomState(events: DataFrame,
                          gapSeconds: Long = 1800): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    val gapUs = gapSeconds * 1000000L
    events.select(col("event_id"), tsUsOf(events, "ts").as("ts_us"),
        col("user_id"), col("value"))
      .as[Ev]
      .repartition(col("user_id"))
      .sortWithinPartitions(col("user_id"), col("ts_us"))
      .mapPartitions { it =>
        new Iterator[SessU] {
          private var uid = 0L
          private var cur: SessAcc = null
          private val pending = scala.collection.mutable.Queue.empty[SessU]
          private def emit(a: SessAcc): Unit =
            pending += SessU(uid, a.start, a.last + gapUs, a.n, a.sum)
          private def advance(): Unit = {
            while (pending.isEmpty && it.hasNext) {
              val e = it.next()
              if (cur != null && e.user_id != uid) { emit(cur); cur = null }
              uid = e.user_id
              val (closed, next) = foldSession(cur, e.ts_us, e.value, gapUs)
              closed.foreach(emit)
              cur = next
            }
            if (pending.isEmpty && !it.hasNext && cur != null) {
              emit(cur); cur = null
            }
          }
          def hasNext: Boolean = { advance(); pending.nonEmpty }
          def next(): SessU = { advance(); pending.dequeue() }
        }
      }
      .toDF()
      .select(col("user_id"),
        timestamp_micros(col("start_us")).as("sess_start"),
        timestamp_micros(col("end_us")).as("sess_end"),
        col("n_events"), col("sum_value"))
  }

  /** Per-user sessionization, STREAMING form: `flatMapGroupsWithState`
    * with WATERMARK-FINAL emission. A session [start, last+gap) is
    * emitted only once the watermark passes last+gap — until then a
    * valid (non-late) arrival can still extend it or merge it with a
    * neighbor, so emitting earlier would produce sessions that can
    * never be retracted (and cross-batch out-of-order events would
    * corrupt the open fold). Each invocation folds events that have
    * MATURED (ts ≤ watermark — their relative structure is frozen,
    * because any new arrival at-or-below the watermark is late and
    * dropped by Spark) into the open session via the shared batch
    * fold; not-yet-mature events stay buffered raw. State per key is
    * one [[SessAcc]] plus the above-watermark buffer — bounded by the
    * watermark delay window, not the session length. Event-time
    * timeouts wake the key when the open session can next finalize or
    * a buffered event matures; a key with no state left is removed
    * (no per-batch wakeups of historical keys). */
  def sessionsCustomStateStreaming(events: DataFrame,
                                   gapSeconds: Long = 1800): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    val gapUs = gapSeconds * 1000000L
    events.select(col("event_id"), col("ts"),
        tsUsOf(events, "ts").as("ts_us"),
        col("user_id"), col("value"))
      .as[EvT]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessBuf, SessU](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (uid: Long, it: Iterator[EvT], state: GroupState[SessBuf]) =>
          val prev = state.getOption.getOrElse(SessBuf(None, Nil))
          val incoming = if (state.hasTimedOut) Nil
            else it.map(e => (e.ts_us, e.value)).toList
          val wmUs = state.getCurrentWatermarkMs() * 1000L
          val buf = (prev.buf ++ incoming).sortBy(_._1)
          val (mature, future) = buf.partition(_._1 <= wmUs)
          val out = scala.collection.mutable.ArrayBuffer.empty[SessAcc]
          var cur = prev.open.orNull
          for ((ts, v) <- mature) {
            val (closed, next) = foldSession(cur, ts, v, gapUs)
            closed.foreach(out += _)
            cur = next
          }
          // the in-progress session finalizes once no valid arrival
          // can reach its gap window anymore
          val open =
            if (cur != null && cur.last + gapUs <= wmUs) {
              out += cur; None
            } else Option(cur)
          if (open.isEmpty && future.isEmpty) state.remove()
          else {
            state.update(SessBuf(open, future))
            // next event-time at which anything can change: the open
            // session's finality boundary or the first buffered
            // event's maturity — an early wake re-evaluates and emits
            // nothing, a missing wake would delay emission forever
            val nextUs = (open.map(_.last + gapUs).toList ++
              future.headOption.map(_._1).toList).min
            state.setTimeoutTimestamp(math.max(nextUs / 1000L,
              state.getCurrentWatermarkMs() + 1))
          }
          out.iterator.map(a =>
            SessU(uid, a.start, a.last + gapUs, a.n, a.sum))
      }
      .toDF()
      .select(col("user_id"),
        timestamp_micros(col("start_us")).as("sess_start"),
        timestamp_micros(col("end_us")).as("sess_end"),
        col("n_events"), col("sum_value"))
  }

  /** Streaming exact-dedup on event_id — the streaming twin of
    * Dedup.exact: seen-key state is evicted once older than the
    * watermark (`dropDuplicatesWithinWatermark`), so state stays
    * bounded on an unbounded stream. */
  def dedupedStream(stream: DataFrame): DataFrame =
    stream.dropDuplicatesWithinWatermark("event_id")

  /** Streaming NEAR-dup dedup by content signature (r6): the 60-bit
    * SimHash is a per-row map-only expression
    * ([[graft.functions.SimHash60]] — no aggregation state), so
    * signature dedup composes with watermarked streaming exactly like
    * key dedup does. Documents whose signature was already seen inside
    * the watermark horizon are dropped; hamming-0 near-dups (templated
    * boilerplate, mirrored pages) never reach the sink. `textCol` rows
    * with no tokens keep a null signature and are passed through (null
    * keys never match each other in dropDuplicates semantics would drop
    * them — they are exempted explicitly). Batch DataFrames run the
    * identical code. */
  def dedupStreamBySignature(stream: DataFrame, textCol: String): DataFrame = {
    val signed = stream.withColumn("simhash",
      graft.functions.SimHash60(lower(col(textCol))))
    val dedup =
      if (stream.isStreaming)
        signed.filter(col("simhash").isNotNull)
          .dropDuplicatesWithinWatermark("simhash")
      else signed.filter(col("simhash").isNotNull)
        .dropDuplicates("simhash")
    dedup.unionByName(signed.filter(col("simhash").isNull))
  }

  /** Streaming IMAGE novelty: drop incoming images that are perceptual
    * near-duplicates of a pre-built dHash signature index — the
    * multimodal sibling of [[decontaminateStream]], applied at
    * ingestion. Per row: real decode → 64-bit dHash (map-only typed
    * mapPartitions, [[graft.llm.Multimodal.withDhash]]), then the 4
    * band keys probe a plan-literal band-bucketed index
    * ([[graft.llm.Multimodal.dhashBandIndex]] over a MODEL-SIZED
    * signature set — the decontaminateSet contract) and an exact
    * popcount verifies the candidates. Pigeonhole-complete for
    * maxHamming ≤ 3; no join, no state, no watermark — batch frames
    * run the identical code. Rows keep their columns plus `novel`;
    * known near-dups are dropped. Payloads no reader decodes are KEPT
    * (novel = true): absence of a signature is absence of duplicate
    * evidence, not proof of duplication. */
  def imageNoveltyStream(stream: DataFrame, indexSigs: Seq[Long],
                         maxHamming: Int = 3): DataFrame =
    graft.llm.Multimodal.withDhash(stream)
      .withColumn("novel", !bandIndexDup(col("dhash"), indexSigs,
        maxHamming))
      .filter(col("novel"))

  /** Streaming AUDIO novelty — [[imageNoveltyStream]]'s twin over aFP
    * fingerprints ([[graft.llm.Multimodal.withAfp]]): drop arriving
    * clips within `maxHamming` of a model-sized fingerprint index via
    * the same 4-band plan-literal lookup. Map-only — no join, no
    * state, no watermark. */
  def audioNoveltyStream(stream: DataFrame, indexSigs: Seq[Long],
                         maxHamming: Int = 3): DataFrame =
    graft.llm.Multimodal.withAfp(stream)
      .withColumn("novel", !bandIndexDup(col("afp"), indexSigs,
        maxHamming))
      .filter(col("novel"))

  /** Max signatures the plan-literal novelty index may hold. The
    * `typedLit` form embeds the entire band-bucketed index into the
    * query plan — plan size, analysis time, and task-binary size all
    * grow linearly with it — so it is bounded to model-sized indexes
    * (the decontaminateSet contract); a corpus-scale index lives in a
    * TABLE and is probed by the stream-static banded equi-join form
    * ([[imageNoveltyJoin]] / [[audioNoveltyJoin]]), whose cost is flat
    * in plan terms regardless of index size. */
  val MaxLiteralIndexSigs = 65536

  /** Shared band-bucketed duplicate test for a 64-bit signature column
    * against a model-sized index: 4 band-key lookups into a
    * plan-literal map ([[graft.llm.Multimodal.dhashBandIndex]] —
    * geometry-generic over any 64-bit signature) + exact popcount
    * verify; pigeonhole-complete for maxHamming < 4. NULL signatures
    * (undecodable payloads) are never duplicates. Index size is
    * guarded by [[MaxLiteralIndexSigs]]. */
  private def bandIndexDup(sig: Column, indexSigs: Seq[Long],
                           maxHamming: Int): Column = {
    require(maxHamming < 4,
      "4×16-bit band lookup complete only for maxHamming < 4")
    require(indexSigs.size <= MaxLiteralIndexSigs,
      s"plan-literal novelty index holds ${indexSigs.size} signatures " +
        s"(max $MaxLiteralIndexSigs) — a corpus-scale index belongs in " +
        "a table, probed via imageNoveltyJoin/audioNoveltyJoin")
    val idx = graft.llm.Multimodal.dhashBandIndex(indexSigs)
    val mLit = typedLit(idx)
    val cands = flatten(array((0 until 4).map { b =>
      coalesce(
        element_at(mLit, lit(b.toLong << 16) +
          shiftright(sig, b * 16).bitwiseAND(lit(0xffffL))),
        typedLit(Seq.empty[Long]))
    }: _*))
    sig.isNotNull &&
      exists(cands, c =>
        bit_count(c.bitwiseXOR(sig)) <= lit(maxHamming))
  }

  /** Default per-band candidate cap for the join-form novelty probes:
    * at most this many index signatures (the DETERMINISTIC smallest-k
    * by signature value) are considered per 16-bit band bucket. Real
    * perceptual-hash/SimHash corpora spread bands, so the cap never
    * trips outside pathological skew (a constant image flood hashing
    * to one band value); above it, decisions can only err toward
    * FALSE-NOVEL (a true near-dup whose every shared band is capped
    * past its candidates is kept), never false-drop. Monitor with
    * [[cappedBandBuckets]]; pass `maxBucket = Int.MaxValue` to
    * disable. The rule (sort by sig, keep the first k) is identical
    * in the streaming-grouped and batch forms, so cross-form parity
    * holds capped or not. */
  val DefaultMaxBandBucket = 4096

  /** The 4 16-bit band keys of a 64-bit signature column —
    * band·2¹⁶ + the band's bits, the shared geometry of every banded
    * novelty form ([[graft.llm.Multimodal.bandIndexRows]] emits the
    * identical keys on the index side). */
  private def bandKeyCols(sig: Column): Seq[Column] =
    (0 until 4).map(b => lit(b.toLong << 16) +
      shiftright(sig, b * 16).bitwiseAND(lit(0xffffL)))

  /** Reject any of `names` already present in `df`: a scratch or output
    * column silently clobbering a caller column (or an ambiguous
    * reference later) is worse than a loud reject. */
  private def rejectReserved(df: DataFrame, names: Seq[String],
                             owner: String): Unit =
    names.filter(df.columns.contains).foreach(c =>
      throw new IllegalArgumentException(
        s"column name $c is reserved by $owner"))

  /** Scratch and output column names of the three table probes
    * ([[noveltyBandedJoin]], [[noveltyBandExistsJoin]],
    * [[noveltyKeyExistsJoin]]): each probe rejects its own, and the
    * ingest loops reject them up front, before the replay probe. */
  private val BandedProbeNames = Seq("__graft_bsig", "novel") ++
    (0 until 4).flatMap(b => Seq(s"__graft_bk$b", s"__graft_sigs$b"))
  private val BandExistsProbeNames =
    Seq("__graft_barr", "__graft_band", "novel")
  private val KeyProbeNames = Seq("__graft_key", "novel")

  /** The exact bottom-`k` rows by `sig` per `keys` group — the
    * deterministic per-bucket candidate cap ([[DefaultMaxBandBucket]]).
    * A NULL key (a commit-marker row) is its own group, so it survives. */
  private def bottomK(df: DataFrame, keys: Seq[String], k: Int): DataFrame =
    df.withColumn("__graft_rn", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(keys.map(col): _*).orderBy("sig")))
      .filter(col("__graft_rn") <= k).drop("__graft_rn")

  /** Max touched-partition values a batch-form probe turns into a
    * literal IN partition filter — past this the filter list is itself
    * a plan-size cost and the batch touches most partitions anyway, so
    * the probe reads the whole index (prune nothing, decide
    * identically). The prefix geometries stay far below it (≤ 256
    * prefixes); an embedding index's cells can reach it. */
  val MaxProbedCellFilters = 10000

  /** `index` restricted to the `pfxCol` partitions named in the
    * one-column frame `touched` — a batch's touched prefixes or cells,
    * metadata-sized after distinct. The values become LITERAL partition
    * filters: static partition pruning, so a small batch reads only its
    * fraction of the index (StreamingSpec pins the PartitionFilters).
    * No touched value reads nothing; past [[MaxProbedCellFilters]]
    * values the whole index is read. One collect. */
  private def prunedToTouched(index: DataFrame, pfxCol: String,
                              touched: DataFrame): DataFrame = {
    val vals = touched.distinct().collect().map(_.get(0)).toSeq
    if (vals.isEmpty) index.filter(lit(false))
    else if (vals.length <= MaxProbedCellFilters)
      index.filter(col(pfxCol).isin(vals: _*))
    else index
  }

  /** Count of band buckets in a band-exploded index whose population
    * exceeds `maxBucket` — the LOUD metric for the novelty-probe cap:
    * nonzero means [[noveltyBandedJoin]] is dropping candidates in
    * those buckets (false-novel possible there) and the index data is
    * pathologically skewed in signature space. One hash aggregate
    * over the index — a maintenance-cadence metric, not a per-batch
    * cost (the ingest loops log it from `maybeCompact`). */
  def cappedBandBuckets(banded: DataFrame,
                        maxBucket: Int = DefaultMaxBandBucket): Long =
    banded.filter(col("sig").isNotNull)
      .groupBy("band_key").agg(count(lit(1)).as("n"))
      .filter(col("n") > maxBucket).count()

  /** JOIN-form novelty filter against a BAND-EXPLODED signature index
    * (`banded`: one `(band_key, sig)` row per signature per band — the
    * shape [[createSignatureIndex]] persists, partitioned by
    * `band_pfx`). Decisions are identical to the plan-literal
    * [[bandIndexDup]] form (StreamingSpec pins parity): a signature is
    * a duplicate iff some index signature within `maxHamming` shares a
    * 16-bit band (pigeonhole-complete for maxHamming < 4); NULL
    * signatures never match (undecodable payloads stay novel). Rows
    * keep every caller column plus `novel`; known near-dups are
    * dropped.
    *
    * Two physical forms, same decisions:
    *
    *  - '''Batch''' (the ingest loop's per-micro-batch shape): the
    *    frame's distinct signatures explode to their 4 band keys and
    *    equi-join the index ONCE on `band_key`; an exact popcount
    *    verifies each candidate pair, and the surviving duplicate
    *    signatures anti-join the frame. On a `band_pfx`-partitioned
    *    index the batch's touched prefixes become LITERAL partition
    *    filters first (r14 — static pruning: a small batch READS only
    *    its fraction of the index; StreamingSpec pins the
    *    PartitionFilters), and because the batch-side signature set is
    *    micro-batch-sized it builds the join's hash side, so the index
    *    streams off the pruned scan with NO exchange (spec-pinned). A
    *    hot band bucket becomes many join ROWS (streamed,
    *    AQE-splittable), never an unbounded in-memory array.
    *    Catalyst's runtime bloom filter additionally injects a
    *    batch-derived `band_key` bloom on the index side (the
    *    BloomProbe main REPORTS the injection under current conf
    *    defaults — a manual probe, not an asserted invariant),
    *    dropping non-matching rows at the scan — and since the bloom
    *    keys the band, buckets are kept or dropped WHOLE, so the
    *    `maxBucket` cap's per-bucket ranking is unaffected.
    *  - '''Streaming''' (stream-static, append-mode legal — no
    *    watermark, no state): the static index groups to per-band
    *    candidate arrays ONCE, materialized at stream-construction
    *    time (`localCheckpoint` — r15, r14 verdict #3: the
    *    stream-static contract re-executes the static-side PLAN each
    *    micro-batch, which previously re-ran the index
    *    distinct+group+collect shuffle per batch, O(index·batches);
    *    the checkpointed form re-reads materialized blocks instead),
    *    and the stream takes 4 stateless LEFT equi-joins, one per
    *    band — the stream side is never exploded or re-aggregated (a
    *    streaming frame cannot legally aggregate). The index is
    *    therefore FIXED for the stream's lifetime (it already was —
    *    re-execution never guaranteed fresh reads — now it is pinned
    *    and documented). Per-batch cost still scans the materialized
    *    index (a stream's touched prefixes are unknown at plan time,
    *    so the batch form's literal partition pruning cannot apply):
    *    a corpus-scale CONTINUOUS ingest belongs on the foreachBatch
    *    loops, which probe batch-form with pruning — the streaming
    *    form warns loudly past [[MaxStreamStaticIndexRows]] band rows.
    *
    * Both forms apply the deterministic `maxBucket` candidate cap —
    * see [[DefaultMaxBandBucket]]; the INGEST loops' index tables are
    * pre-capped at write time ([[createSignatureIndex]]), so their
    * probes disable the cap here and carry no Window at all (r14). */
  def noveltyBandedJoin(signed: DataFrame, sigCol: String,
                        banded: DataFrame, maxHamming: Int,
                        maxBucket: Int = DefaultMaxBandBucket,
                        pfxShift: Int = -1)
      : DataFrame = {
    require(maxHamming < 4,
      "4×16-bit band lookup complete only for maxHamming < 4")
    require(maxBucket > 0, s"maxBucket must be positive: $maxBucket")
    // the probe's scratch names and its OUTPUT column `novel` must not
    // collide with caller columns
    rejectReserved(signed, BandedProbeNames, "noveltyBandedJoin's probe")
    val sig = col(sigCol)
    def probeRows(b: DataFrame): DataFrame = b
      .select(col("band_key").cast(LongType).as("band_key"),
        col("sig").cast(LongType).as("sig"))
      .filter(col("sig").isNotNull)
    val idx = probeRows(banded)
    if (signed.isStreaming) {
      val grouped = groupedBandIndex(idx, maxBucket)
      var df = signed
      val sigsCols = (0 until 4).map { b =>
        val bk = s"__graft_bk$b"
        val sc = s"__graft_sigs$b"
        val g = grouped.select(col("band_key").as(bk), col("sigs").as(sc))
        df = df.withColumn(bk, bandKeyCols(sig)(b))
          .join(g, Seq(bk), "left_outer")
        sc
      }
      val cands = flatten(array(sigsCols.map(c =>
        coalesce(col(c), typedLit(Seq.empty[Long]))): _*))
      val dup = sig.isNotNull &&
        exists(cands, c => bit_count(c.bitwiseXOR(sig)) <= lit(maxHamming))
      df.withColumn("novel", !dup)
        .drop((0 until 4).flatMap(b =>
          Seq(s"__graft_bk$b", s"__graft_sigs$b")): _*)
        .filter(col("novel"))
    } else {
      val bsig = col("__graft_bsig")
      val hasPfx = banded.columns.contains("band_pfx")
      val batchSigs0 = signed.select(sig.cast(LongType).as("__graft_bsig"))
        .filter(bsig.isNotNull).distinct()
      // prefix pruning (r14, verdict #1): on a band_pfx-partitioned
      // index ([[createSignatureIndex]]'s layout) the batch's touched
      // prefixes — metadata-sized, ≤ 2^(18-BandPfxShift) values after
      // distinct — become LITERAL partition filters on the index read:
      // static partition pruning, only the touched fraction of the
      // index is ever read. The signature set is consumed twice
      // (prefix collection + the join), so it is pinned first.
      val batchSigs =
        if (hasPfx) batchSigs0.localCheckpoint() else batchSigs0
      val pruned =
        if (!hasPfx) idx
        else {
          // the prune shift MUST match the grain the index was written
          // with (PfxShiftProp — the ingest loop threads it): a
          // mismatched shift would select the wrong partitions and
          // silently mark true duplicates novel. A caller who does NOT
          // know the grain (pfxShift < 0, the default) prunes with the
          // UNION of every grain the library writes — the stored
          // values come from exactly one of them, so the union filter
          // is a superset of the correct selection at either grain
          // (never a miss; the cost is up to 4 extra literals that may
          // collide with low fine-grain partitions, a bounded
          // overshoot, ~4/64 worst case)
          val shifts =
            if (pfxShift >= 0) Seq(pfxShift)
            else Seq(BandPfxShift, TinyIndexPfxShift)
          probeRows(prunedToTouched(banded, "band_pfx", batchSigs
            .select(explode(array(shifts.flatMap(sh =>
              bandKeyCols(bsig).map(k => shiftright(k, sh))): _*)).as("p"))))
        }
      val capped =
        if (maxBucket == Int.MaxValue) pruned
        else bottomK(pruned, Seq("band_key"), maxBucket)
      val dupSigs = batchSigs
        .select(bsig, explode(array(bandKeyCols(bsig): _*)).as("band_key"))
        .join(capped, Seq("band_key"))
        .filter(bit_count(col("sig").bitwiseXOR(bsig)) <= lit(maxHamming))
        .select(bsig).distinct()
      signed.join(dupSigs, sig.cast(LongType) === bsig, "left_anti")
        .withColumn("novel", lit(true))
    }
  }

  /** Band rows above which the stream-static probe form logs a loud
    * warning: each micro-batch of a stream-static join re-scans the
    * (materialized) index, so a corpus-scale index pays O(index) IO
    * per batch with no prefix pruning (a stream's touched prefixes are
    * unknown at plan time). Past this size the foreachBatch ingest
    * loops — whose batch-form probes push literal partition filters —
    * are the right tool, and the warning says so. */
  val MaxStreamStaticIndexRows: Long = 10000000L

  /** The per-band candidate arrays of a band-exploded index,
    * deterministically capped and MATERIALIZED (`localCheckpoint`) —
    * the static side of [[noveltyBandedJoin]]'s streaming form, built
    * ONCE per stream (r15, r14 verdict #3: un-materialized, the
    * stream-static contract re-executed the distinct+group+collect
    * shuffle on every micro-batch — O(index·batches); checkpointed,
    * micro-batches re-read the materialized blocks). StreamingSpec
    * pins that the returned plan carries no Aggregate — what a
    * micro-batch re-executes is a block scan. */
  private[graft] def groupedBandIndex(idx: DataFrame,
                                      maxBucket: Int): DataFrame = {
    val grouped = idx.groupBy("band_key")
      .agg(slice(array_sort(collect_list(col("sig"))), 1, maxBucket)
        .as("sigs"))
      .localCheckpoint()
    val n = grouped.select(sum(size(col("sigs")))).collect()
      .headOption.flatMap(r => Option(r.get(0)).map(_.toString.toLong))
      .getOrElse(0L)
    if (n > MaxStreamStaticIndexRows)
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        s"stream-static novelty probe over $n indexed signatures: every " +
          "micro-batch re-scans the whole materialized index (no prefix " +
          "pruning is possible for a stream). Corpus-scale continuous " +
          "ingest belongs on the foreachBatch ingest loop " +
          "(startNoveltyIngest over a *NoveltyIngestBatch entry), which " +
          "probes batch-form with literal partition pruning.")
    grouped
  }

  /** [[noveltyBandedJoin]] over a RAW signature index (one signature
    * per row in `idxSigCol`): derives the band-exploded form first
    * ([[graft.llm.Multimodal.bandIndexRows]] — distinct + explode, one
    * index-sized shuffle per call). Callers probing repeatedly should
    * persist the banded form once ([[createSignatureIndex]]) and probe
    * it via [[noveltyBandedJoin]] directly. */
  private def noveltySigJoin(signed: DataFrame, sigCol: String,
                             index: DataFrame, idxSigCol: String,
                             maxHamming: Int): DataFrame =
    noveltyBandedJoin(signed, sigCol,
      graft.llm.Multimodal.bandIndexRows(index, idxSigCol), maxHamming)

  /** Collapse a frame's NEAR-DUPLICATE signatures to one representative
    * each: connected components of the intra-frame banded hamming graph
    * in distinct-signature space (the [[graft.llm.Dedup.simhashClusters]]
    * machinery), rep = MIN signature per component; rows whose
    * signature is not its component's representative are dropped,
    * NULL-signature rows pass through. This is the opt-in INTRA-BATCH
    * arm of the signature novelty-ingest loop (`collapseIntraBatch` of
    * [[textNoveltyIngestBatch]] and its image/audio twins): the index
    * probe tests arrivals against HISTORY only, so same-batch near-dups
    * would otherwise all pass.
    * Note the granularity is the signature, not the row: rows SHARING
    * the representative signature still pass together (exact-payload
    * row dedup is upstream's job — it needs a row identity this
    * generic loop doesn't have). `maxBucketSize` is the hot-band-bucket
    * cap ([[graft.llm.Dedup.simhashSigPairs]], r17) — None = exact. */
  def collapseBySignature(signed: DataFrame, sigCol: String,
                          maxHamming: Int, maxIter: Int = 20,
                          driverEdgeLimit: Long = 1000000L,
                          maxBucketSize: Option[Int] = None): DataFrame = {
    require(maxHamming < 4,
      "4×16-bit band lookup complete only for maxHamming < 4")
    require(!signed.columns.contains("__graft_repsig"),
      "column name __graft_repsig is reserved by collapseBySignature")
    val sig = col(sigCol).cast(LongType)
    val sigs = signed.select(sig.as("simhash"))
      .filter(col("simhash").isNotNull).distinct()
      .localCheckpoint()
    val edges = graft.llm.Dedup.simhashSigPairs(sigs, maxHamming,
        bandBits = 16, nBands = 4, maxBucketSize = maxBucketSize)
      .select(col("sa").as("id_a"), col("sb").as("id_b"))
      .localCheckpoint()
    val repSigs = graft.llm.Dedup.inheritSigComponents(
        sigs.select(col("simhash").as("doc")),
        sigs.select(col("simhash").as("doc"), col("simhash").as("sfp")),
        edges, maxIter, driverEdgeLimit)
      .filter(col("keep")).select(col("doc").as("__graft_repsig"))
    signed.join(repSigs, sig === col("__graft_repsig"), "left_semi")
      .unionByName(signed.filter(sig.isNull))
  }

  /** Collapse a frame's near-duplicate BAND ARRAYS to one
    * representative each — [[collapseBySignature]]'s MinHash-geometry
    * twin (r14, verdict #5): nodes are the frame's DISTINCT band
    * arrays, edges connect arrays SHARING an LSH band (the
    * minhashNovelty rule applied inside the batch), rep = the
    * component's MINIMUM array (lexicographic — deterministic and
    * engine-portable); rows keep iff their array is its component's
    * rep, NULL-array rows pass through. Granularity is the band array,
    * not the row: rows sharing a rep array pass together (row identity
    * is upstream's job — the ingest family's convention).
    * `maxBucketSize` is the hot-band-bucket cap (r17) — None = exact. */
  /** Hash-space edge collision metric (r17 verdict #5): the collapse
    * operators emit component edges as `xxhash64` of the node payload
    * (16 B/row instead of the array/vector width), accepting the
    * ~n²/2⁶⁴ birthday model — a collision silently merges two
    * components. This makes the acceptance OBSERVABLE: returns
    * |distinct nodes| − |distinct hashes| (0 = no collision this
    * batch), one bounded aggregate over the already-checkpointed
    * distinct-node frame. Callers warn loudly on a nonzero count —
    * the merge direction only coarsens near-dup granularity (extra
    * rows dropped, never kept wrongly back into the index), same
    * error class the banded caps document. */
  private[graft] def hashEdgeCollisions(nodes: DataFrame,
                                        h: Column): Long = {
    val r = nodes.agg(count(lit(1)).as("n"),
      countDistinct(h).as("d")).first()
    r.getLong(0) - r.getLong(1)
  }

  private def warnHashCollisions(op: String, nodes: DataFrame,
                                 h: Column): Unit = {
    val c = hashEdgeCollisions(nodes, h)
    if (c > 0)
      System.err.println(s"[graft] $op: $c distinct nodes share an " +
        "xxhash64 value — their components were merged and near-dup " +
        "granularity coarsened for those rows (the documented " +
        "n²/2⁶⁴ hash-space edge model)")
  }

  def collapseByBands(signed: DataFrame, bandsCol: String,
                      maxIter: Int = 20,
                      driverEdgeLimit: Long = 1000000L,
                      maxBucketSize: Option[Int] = None): DataFrame = {
    require(!signed.columns.contains("__graft_repbar"),
      "column name __graft_repbar is reserved by collapseByBands")
    val barr = col(bandsCol)
    val arrs = signed.select(barr.as("doc")).filter(col("doc").isNotNull)
      .distinct().localCheckpoint()
    warnHashCollisions("collapseByBands", arrs, xxhash64(col("doc")))
    val exploded0 = arrs.select(col("doc"), explode(col("doc")).as("band"))
    // maxBucketSize caps the hot-band quadratic (minhashCandidates'
    // rule, r17): a band shared by more than `maxBucketSize` DISTINCT
    // arrays is dropped from the self-join — the banded recall trade;
    // identical arrays are one node and never affected. None = exact.
    val exploded = maxBucketSize match {
      case None => exploded0
      case Some(cap) =>
        import org.apache.spark.sql.expressions.Window
        exploded0
          .withColumn("__bucket_n",
            count(lit(1)).over(Window.partitionBy(col("band"))))
          .filter(col("__bucket_n") <= cap)
          .drop("__bucket_n")
    }
    // edges in xxhash64 space (the collapseByVector convention, r17):
    // an edge row carrying both band ARRAYS pays the array width per
    // candidate pair through the distinct + checkpoint; hashed rows
    // are 16 bytes and the component loop takes its numeric fast
    // path. The lexicographic-min rep array is re-derived after
    // labeling by one min-agg — the aggregate collapseComponents'
    // own rep election uses, so semantics are unchanged.
    val (ha, hb) = (xxhash64(col("a.doc")), xxhash64(col("b.doc")))
    val edges = exploded.alias("a").join(exploded.alias("b"),
        col("a.band") === col("b.band") && col("a.doc") < col("b.doc"))
      .select(least(ha, hb).as("id_a"), greatest(ha, hb).as("id_b"))
      .distinct().localCheckpoint()
    val labels = graft.llm.Dedup.connectedComponents(
        arrs.select(xxhash64(col("doc")).as("doc")), "doc", edges,
        maxIter, driverEdgeLimit)
    val reps = arrs.withColumn("__h", xxhash64(col("doc")))
      .join(labels.select(col("doc").as("__h"), col("rep").as("__lbl")),
        Seq("__h"))
      .groupBy(col("__lbl")).agg(min(col("doc")).as("__graft_repbar"))
      .select(col("__graft_repbar"))
    signed.join(reps, barr === col("__graft_repbar"), "left_semi")
      .unionByName(signed.filter(barr.isNull))
  }

  /** Collapse a frame's near-duplicate VECTORS to one representative
    * each — [[collapseBySignature]]'s embedding twin (r14, verdict #5):
    * nodes are the frame's DISTINCT vectors, edges connect same-cell
    * vectors with exact cosine ≥ `threshold` (cells from `cents` — the
    * SemDeDup within-cell bound, so the collapse is never all-pairs;
    * near-dups straddling a cell boundary can be missed, the standard
    * IVF caveat, and exact duplicates never are), rep = the
    * component's MINIMUM vector (lexicographic); rows keep iff their
    * vector is its component's rep, NULL-vector rows pass. Granularity
    * is the vector: rows sharing a rep vector pass together.
    *
    * DISTINCT-vector skew ([[graft.llm.Dedup.dedupAssigned]]'s r17
    * hazard rule, applied in COMPONENT space): the within-cell edge
    * join is Σ|distinct(cell)|², and a batch of jittered boilerplate
    * (one page embedded with timestamp/counter noise — all DISTINCT
    * vectors, one k-means cell) makes it quadratic in the burst. Cells
    * whose distinct-vector count exceeds `maxCellVectors` therefore
    * run the guarded form:
    *
    *  - PIVOT PEEL: the cell's `pivotWidth` lexicographically-smallest
    *    vectors edge-join against every vector in the cell
    *    (O(vcnt·width), task-sized). A vector with ≥ 1 qualifying
    *    pivot edge is COVERED; the dense boilerplate clique — any
    *    clique containing at least one pivot — is fully connected
    *    through that pivot, so its component (and its MIN-vector rep,
    *    reachable via the pivot star) is EXACT.
    *  - SALT RESIDUAL: uncovered vectors pair only within their
    *    deterministic hash bucket (`pmod(xxhash64(vec),
    *    ceil(vcnt/cap))`); a covered partner still supplies edges to
    *    an uncovered same-bucket vector (the `b.__cov` disjunct), but
    *    covered×covered residual pairs are skipped — their clique
    *    connectivity already rides the pivot edges.
    *
    * Every emitted edge is a GENUINE qualifying pair (a subset of the
    * exact edge set), so guarded components REFINE exact components:
    * kept(exact) ⊆ kept(guarded) — the guard never drops a row the
    * exact form keeps, it can only keep extra representatives. For a
    * pivot-UNREACHABLE component (> `pivotWidth` mutually-far clusters
    * packed in one over-cap cell) the fragments follow the salt: a
    * clique keeps ≤ ceil(vcnt/cap) representatives (one per bucket),
    * a chain possibly more. Identical vectors are ONE node here
    * (`vecs` is distinct), so exact-duplicate collapse is untouched
    * by construction. Below the cap — every legitimately-sized cell —
    * the edge set is byte-identical to the unguarded form
    * (StreamingSpec pins parity, clique exactness, the superset
    * direction, and the salt-only per-bucket oracle).
    * `maxCellVectors = Int.MaxValue` disables the guard statically
    * (salt literal 0, no window in the plan) — the probe's baseline
    * arm and the escape hatch for deliberately-degenerate cell
    * configs (e.g. a single-centroid oracle replay). */
  def collapseByVector(batch: DataFrame, vecCol: String,
                       cents: Array[Array[Double]], threshold: Double,
                       maxIter: Int = 20,
                       driverEdgeLimit: Long = 1000000L,
                       maxCellVectors: Int = graft.llm.Dedup.MaxCellGroups,
                       pivotWidth: Int = graft.llm.Dedup.PivotPeelWidth)
      : DataFrame = {
    require(!batch.columns.contains("__graft_repvec"),
      "column name __graft_repvec is reserved by collapseByVector")
    val v = col(vecCol)
    val vecs = batch.select(v.as("doc")).filter(col("doc").isNotNull)
      .distinct().localCheckpoint()
    warnHashCollisions("collapseByVector", vecs, xxhash64(col("doc")))
    // self-norms staged once per distinct vector (the dedupAssigned
    // convention, r17) — the inline cosine recomputed both self-dots
    // per candidate pair; same doubles, same Round6, bit-identical
    val assigned0 = vecs.withColumn("cell",
        graft.llm.Similarity.nearestCell(col("doc"), cents))
      .withColumn("n2", graft.functions.DotProduct(col("doc"), col("doc")))
    // per-cell distinct-vector count as a WINDOW over the same
    // subplan (the dedupAssigned convention — a groupBy-and-join-back
    // would re-execute the assignment per reference); upstream is the
    // `vecs` checkpoint, so re-references replay only map + window.
    // A NULL cell (NaN-element vectors) may get salted by its window
    // partition — harmless, `===` rejects null so it pairs with
    // nothing either way.
    val assigned =
      if (maxCellVectors == Int.MaxValue)
        assigned0.withColumn("__oc", lit(false))
          .withColumn("__salt", lit(0L))
      else assigned0
        .withColumn("__vcnt", count(lit(1)).over(
          org.apache.spark.sql.expressions.Window.partitionBy(col("cell"))))
        .withColumn("__oc", col("__vcnt") > maxCellVectors)
        .withColumn("__salt",
          when(col("__oc"),
            pmod(xxhash64(col("doc")),
              ceil(col("__vcnt") / lit(maxCellVectors.toDouble))))
            .otherwise(lit(0L)))
        .drop("__vcnt")
    def qcos(): Column = graft.functions.Round6(try_divide(
      graft.functions.DotProduct(col("a.doc"), col("b.doc")),
      sqrt(col("a.n2") * col("b.n2"))))
    // edges are emitted in xxhash64 space: an edge row carrying both
    // full vectors is ~2 KB at dim 256, so a 10⁶-member clique's
    // ~width·h star edges would be 100+ GB on the wire — hashed they
    // are 16 bytes/row. collapseComponents' non-numeric branch applies
    // the SAME hash internally (same collision model, ~n²/2⁶⁴);
    // hashing at EMIT time keeps the pair-stream narrow AND routes the
    // component loop through its numeric fast path. The component's
    // lexicographic-min REP VECTOR is re-derived after labeling by one
    // min-agg over the (hash, vector) nodes — `min` on ArrayType is
    // the exact aggregate collapseComponents' own rep election uses.
    def hEdges(pairs: DataFrame): DataFrame = {
      val (ha, hb) = (xxhash64(col("a.doc")), xxhash64(col("b.doc")))
      pairs.select(least(ha, hb).as("id_a"), greatest(ha, hb).as("id_b"))
    }
    // under-cap cells (every cell in the common case): the plain
    // within-cell triangular join — byte-identical edges to the
    // unguarded form. When the guard is disabled, __oc is literally
    // false and the optimizer folds the over-cap branches away.
    val small = assigned.filter(!col("__oc"))
    val eSmall = hEdges(small.alias("a").join(small.alias("b"),
        col("a.cell") === col("b.cell") && col("a.doc") < col("b.doc"))
      .filter(qcos() >= threshold))
    // over-cap cells, stage 1 — pivot peel. Pivot-pivot pairs arrive
    // in both orders; least/greatest + the final distinct normalize.
    val big = assigned.filter(col("__oc"))
    val wrank = org.apache.spark.sql.expressions.Window
      .partitionBy(col("cell")).orderBy(col("doc"))
    val pivots = big.withColumn("__r", row_number().over(wrank))
      .filter(col("__r") <= pivotWidth).drop("__r")
    val pairsPivot = pivots.alias("a").join(big.alias("b"),
        col("a.cell") === col("b.cell") && col("a.doc") =!= col("b.doc"))
      .filter(qcos() >= threshold)
    val ePivot = hEdges(pairsPivot).distinct()
    val covered = pairsPivot
      .select(col("b.cell").as("cell"), col("b.doc").as("doc"))
      .distinct().withColumn("__cov", lit(true))
    // over-cap cells, stage 2 — the salted residual: uncovered x only
    // (covered vectors' clique connectivity rides the pivot edges; a
    // pivot's full edge set was evaluated in stage 1); covered y still
    // supplies edges in either order, an uncovered y under `<` (once
    // per unordered pair).
    val bigF = big.join(covered, Seq("cell", "doc"), "left")
      .withColumn("__cov", coalesce(col("__cov"), lit(false)))
    val eResid = bigF.filter(!col("__cov")).alias("a")
      .join(bigF.alias("b"),
        col("a.cell") === col("b.cell") &&
          col("a.__salt") === col("b.__salt") &&
          (col("a.doc") < col("b.doc") || col("b.__cov")))
      .filter(qcos() >= threshold)
    val edges = eSmall.unionByName(ePivot).unionByName(hEdges(eResid))
      .localCheckpoint()
    val nodes = vecs.select(xxhash64(col("doc")).as("doc"))
    val labels = graft.llm.Dedup.connectedComponents(nodes, "doc", edges,
        maxIter, driverEdgeLimit)
    val reps = vecs.withColumn("__h", xxhash64(col("doc")))
      .join(labels.select(col("doc").as("__h"), col("rep").as("__lbl")),
        Seq("__h"))
      .groupBy(col("__lbl")).agg(min(col("doc")).as("__graft_repvec"))
      .select(col("__graft_repvec"))
    batch.join(reps, v === col("__graft_repvec"), "left_semi")
      .unionByName(batch.filter(v.isNull))
  }

  /** [[imageNoveltyStream]] with the index in a DataFrame/TABLE — the
    * corpus-scale form: arriving images are decoded to dHash (map-only,
    * all caller columns kept) and tested against the banded index via
    * [[noveltySigJoin]]. `index` carries one 64-bit signature per row in
    * `idxSigCol`. Batch frames run the identical code. */
  def imageNoveltyJoin(stream: DataFrame, index: DataFrame,
                       idxSigCol: String = "sig",
                       maxHamming: Int = 3): DataFrame =
    noveltySigJoin(graft.llm.Multimodal.withDhash(stream), "dhash",
      index, idxSigCol, maxHamming)

  /** [[audioNoveltyStream]] with the index in a DataFrame/TABLE — see
    * [[imageNoveltyJoin]]. */
  def audioNoveltyJoin(stream: DataFrame, index: DataFrame,
                       idxSigCol: String = "sig",
                       maxHamming: Int = 3): DataFrame =
    noveltySigJoin(graft.llm.Multimodal.withAfp(stream), "afp",
      index, idxSigCol, maxHamming)

  /** TEXT novelty against a SimHash index table — the text member of
    * the join-form family ([[imageNoveltyJoin]]): arrivals are
    * SimHash60-signed (native codegen expression, map-only, all caller
    * columns kept) and probed via the same banded join — a 60-bit
    * signature splits into the identical 4×16-bit bands (the top band
    * just carries constant-zero high bits on both sides), so
    * pigeonhole completeness for maxHamming < 4 holds unchanged.
    * Token-less/NULL texts have no signature and are KEPT (absence of
    * a signature is absence of duplicate evidence). */
  def textNoveltyJoin(stream: DataFrame, index: DataFrame,
                      textCol: String = "text",
                      idxSigCol: String = "sig",
                      maxHamming: Int = 3): DataFrame =
    noveltySigJoin(stream.withColumn("simhash",
        graft.functions.SimHash60(lower(col(textCol)))),
      "simhash", index, idxSigCol, maxHamming)

  /** Streaming benchmark decontamination: drop documents sharing any
    * word n-gram with a fixed contamination set as they ARRIVE — the
    * eval-leakage guard applied at ingestion instead of as a batch
    * sweep. Because the membership test is a map-only native scalar
    * over a broadcast sorted set (`Dedup.decontaminateSet` /
    * `CountInSet`), this is a pure projection + filter: no
    * stream-stream join, no aggregation state, no watermark required.
    * `set` comes from `Dedup.contaminationSet(bench, ...)`, computed
    * once offline per benchmark release. Identical semantics in batch
    * (StreamingSpec pins AvailableNow ≡ batch). */
  def decontaminateStream(stream: DataFrame, id: String, text: String,
                          set: Array[Long], n: Int = 3,
                          minOverlap: Int = 1): DataFrame = {
    graft.llm.Dedup
      .decontaminateSet(stream, id, text, set, n, minOverlap)
      .filter(!col("contaminated"))
  }

  /** Streaming quality filter — the ingestion-time form of the linear
    * classifier ([[graft.llm.TextAnalysis.scoreLinear]]): documents
    * below the margin bar never reach the sink. The batch serving path
    * is featurize-groupBy + broadcast join; a stream wants NO
    * aggregation state, so the margin here is a pure per-row FOLD over
    * the token+bigram features with the (model-sized) weight table as
    * a plan literal — same integers, occurrence at a time:
    * Σ w(h(f)) = Σ cnt·w. Map-only ⇒ composes with any watermark or
    * none, and batch DataFrames run the identical code (the
    * decontaminateStream convention). Rows keep their columns plus
    * `margin`; docs with margin ≤ `keepAbove` (including token-less
    * rows at margin 0) are dropped. */
  def classifyStream(stream: DataFrame, text: String,
                     weights: Map[Int, Long], dim: Int,
                     keepAbove: Long = 0L): DataFrame = {
    require(dim > 0, s"dim must be positive: $dim")
    val ws = graft.llm.TextAnalysis.tokens(lower(col(text)))
    val bigrams = zip_with(
      slice(ws, lit(1), greatest(size(ws) - 1, lit(0))),
      slice(ws, lit(2), greatest(size(ws) - 1, lit(0))),
      (a, b) => concat(a, lit("_"), b))
    val wlit = typedLit(weights)
    val margin = aggregate(concat(ws, bigrams), lit(0L),
      (acc, f) => acc + coalesce(element_at(wlit,
        pmod(graft.functions.RollingHash(f), lit(dim.toLong))
          .cast("int")), lit(0L)))
    stream.withColumn("margin", margin)
      .filter(col("margin") > keepAbove)
  }

  /** Streaming DSIR scoring — the ingestion-time sibling of
    * [[graft.llm.TextAnalysis.dsirWeights]]: each arriving document's
    * importance log-weight under a PRE-TRAINED per-bucket log-ratio
    * model ([[graft.llm.TextAnalysis.dsirModel]]), folded map-only
    * over the doc's own unigram+bigram hash buckets — no state, no
    * shuffle, any output mode. `defaultLr` is the model's
    * unseen-bucket value (both smoothed counts 0); rows with logw
    * below `keepAbove` are dropped — pass Double.NegativeInfinity to
    * score-only. Feature construction is
    * IDENTICAL to the batch op (whitespace tokens, space-joined
    * adjacent bigrams, shared rolling hash) and the fold rounds to
    * the batch op's 6-decimal grain, so a doc scores the same on both
    * paths at that grain (fold order vs tf-grouped sums can differ in
    * sub-grain bits — pick keep thresholds in an empty band, as the
    * compared rows do). */
  def dsirStream(stream: DataFrame, text: String,
                 model: Map[Int, Double], defaultLr: Double, dim: Int,
                 keepAbove: Double = Double.NegativeInfinity)
      : DataFrame = {
    require(dim > 0, s"dim must be positive: $dim")
    val ws = graft.llm.TextAnalysis.tokens(col(text))
    val bigrams = zip_with(
      slice(ws, lit(1), greatest(size(ws) - 1, lit(0))),
      slice(ws, lit(2), greatest(size(ws) - 1, lit(0))),
      (a, b) => concat(a, lit(" "), b))
    val mlit = typedLit(model)
    val logw = aggregate(concat(ws, bigrams), lit(0.0),
      (acc, f) => acc + coalesce(element_at(mlit,
        pmod(graft.functions.RollingHash(f), lit(dim.toLong))
          .cast("int")), lit(defaultLr)))
    stream
      .filter(size(ws) > 0)
      // round to the batch op's 6-decimal grain BEFORE the keep
      // decision: the stream folds per-occurrence in document order
      // while the batch sums tf-grouped bucket terms, so unrounded
      // values differ in the low bits and a keepAbove threshold near a
      // doc's score could flip between the two paths
      .withColumn("logw", round(logw, 6))
      .filter(col("logw") >= keepAbove)
  }

  // -----------------------------------------------------------------
  // streaming as-of enrichment
  // -----------------------------------------------------------------

  final case class AsOfTagged(key: Long, ts: java.sql.Timestamp,
                              ts_us: Long, side: Int, id: Long, v: Double)
  final case class AsOfBuf(rights: List[(Long, Double)],
                           lefts: List[(Long, Long)])
  final case class AsOfOut(id: Long, key: Long, ts_us: Long,
                           rv: Option[Double])

  /** Streaming as-of enrichment — the ingestion-time sibling of the
    * batch [[graft.operators.AsOfJoin]] (backward direction +
    * mandatory tolerance): each left event takes the LATEST right
    * (dimension) value at-or-before its timestamp, no more than
    * `toleranceSec` back, emitted once the event-time watermark passes
    * the left's timestamp (so a still-in-flight dimension update
    * cannot be missed; rights later than the watermark are outside the
    * correctness contract, as everywhere in streaming).
    *
    * `left` needs (key: long, ts: timestamp, id: long); `right` needs
    * (key: long, ts: timestamp, rv: double); both must carry
    * watermarks and non-null keys (the batch operator is the place for
    * null-key semantics). Unmatched lefts emit rv = null — left-outer,
    * like the batch operator.
    *
    * Scale shape: a tagged union shuffles ONCE on key into
    * `flatMapGroupsWithState`; per-key state is the pending lefts
    * inside the watermark horizon plus the rights inside
    * `tolerance` of the earliest still-pending left — the tolerance
    * is what BOUNDS dimension state (an unbounded-lookback streaming
    * as-of cannot evict anything and dies at scale; this is the same
    * argument as the interval join's time-bound ON clause). Rights
    * older than every possible future match are evicted each
    * invocation; event-time timeouts drain lefts when the watermark
    * moves with no new data on the key. */
  def asOfEnrichStream(left: DataFrame, right: DataFrame,
                       toleranceSec: Long): DataFrame = {
    val spark = left.sparkSession
    import spark.implicits._
    val tolUs = toleranceSec * 1000000L
    val tagged = left.select(col("key"), col("ts"),
        tsUsOf(left, "ts").as("ts_us"), lit(0).as("side"),
        col("id"), lit(0.0).as("v"))
      .unionByName(right.select(col("key"), col("ts"),
        tsUsOf(right, "ts").as("ts_us"), lit(1).as("side"),
        lit(0L).as("id"), col("rv").as("v")))
      .as[AsOfTagged]
    tagged.groupByKey(_.key)
      .flatMapGroupsWithState[AsOfBuf, AsOfOut](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (key: Long, it: Iterator[AsOfTagged], state: GroupState[AsOfBuf]) =>
          val prev = state.getOption.getOrElse(AsOfBuf(Nil, Nil))
          val incoming = if (state.hasTimedOut) Array.empty[AsOfTagged]
                         else it.toArray
          // prev.rights is stored sorted (eviction filter preserves
          // order) — merge the small sorted incoming batch instead of
          // re-sorting the whole buffer each invocation
          val newRights = incoming.filter(_.side == 1)
            .map(t => (t.ts_us, t.v)).sortBy(_._1).toList
          val rights = {
            val merged = List.newBuilder[(Long, Double)]
            var a = prev.rights
            var b = newRights
            while (a.nonEmpty && b.nonEmpty) {
              if (a.head._1 <= b.head._1) { merged += a.head; a = a.tail }
              else { merged += b.head; b = b.tail }
            }
            merged ++= a
            merged ++= b
            merged.result()
          }
          val rightsArr = rights.toArray
          val lefts = prev.lefts ++
            incoming.filter(_.side == 0).map(t => (t.id, t.ts_us))
          val wmUs = state.getCurrentWatermarkMs() * 1000L
          // a left is final once the watermark passes it: every right
          // at-or-before it has either arrived or is late-beyond-wm
          val (ready, pending) = lefts.partition(_._2 <= wmUs)
          val out = ready.map { case (id, lts) =>
            // binary search: rightmost right at-or-before the left's
            // ts, then the tolerance check — O(log n) per ready left
            // instead of a full scan
            var lo = 0
            var hi = rightsArr.length - 1
            var found = -1
            while (lo <= hi) {
              val mid = (lo + hi) >>> 1
              if (rightsArr(mid)._1 <= lts) { found = mid; lo = mid + 1 }
              else hi = mid - 1
            }
            val m =
              if (found >= 0 && lts - rightsArr(found)._1 <= tolUs)
                Some(rightsArr(found))
              else None
            AsOfOut(id, key, lts, m.map(_._2))
          }
          // rights older than tolerance before EVERY possible future
          // left (future arrivals are > wm; pending lefts are known)
          // can never match again — evict them
          val minFuture = pending.map(_._2)
            .foldLeft(wmUs)(math.min)
          val kept = rights.filter(_._1 >= minFuture - tolUs)
          if (kept.isEmpty && pending.isEmpty) state.remove()
          else {
            state.update(AsOfBuf(kept, pending))
            val nextUs = if (pending.nonEmpty) pending.map(_._2).min
                         else kept.map(_._1).max + tolUs
            state.setTimeoutTimestamp(math.max(nextUs / 1000L,
              state.getCurrentWatermarkMs() + 1))
          }
          out.iterator
      }
      .toDF()
      .select(col("id"), col("key"),
        timestamp_micros(col("ts_us")).as("ts"), col("rv"))
  }

  final case class GfObs(key: Long, ts: java.sql.Timestamp, ts_us: Long,
                         event_id: Long, value: Double)
  final case class GfState(nextTickUs: Long, carry: Double,
                           buf: List[(Long, Long, Double)])
  final case class GfOut(key: Long, tick_us: Long, filled: Double,
                         observed: Boolean)

  /** Streaming gap-fill — [[graft.operators.GapFill]]'s LOCF semantics
    * emitted INCREMENTALLY as the event-time watermark advances: per
    * key, one row per `stepSec` tick from the first observed tick,
    * each carrying the latest observation at-or-before it (ties by
    * (ts, event_id) desc, exactly the batch tie-break). A tick emits
    * once BOTH hold: the watermark passed it (every observation
    * at-or-before it has arrived) and some observation at-or-after it
    * exists (the batch spine ends at the last observed tick — so a
    * drained stream equals the batch operator row-for-row, which
    * StreamingSpec pins). The regularized feature grid materializes
    * while the stream runs instead of in a nightly batch.
    *
    * State per key: observations still above the watermark (watermark
    * horizon — the same bound every streaming agg carries), ONE carry
    * value, one tick cursor. Event-time timeouts advance quiet keys. */
  def gapFillStream(events: DataFrame, key: String, ts: String,
                    tieBreak: String, value: String,
                    stepSec: Long): DataFrame = {
    require(stepSec > 0, "stepSec must be positive")
    val spark = events.sparkSession
    import spark.implicits._
    val stepUs = stepSec * 1000000L
    def tickOf(tsUs: Long): Long = Math.floorDiv(tsUs, stepUs) * stepUs
    events.select(col(key).as("key"), col(ts).as("ts"),
        tsUsOf(events, ts).as("ts_us"), col(tieBreak).as("event_id"),
        col(value).as("value"))
      .as[GfObs]
      .groupByKey(_.key)
      .flatMapGroupsWithState[GfState, GfOut](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (k: Long, it: Iterator[GfObs], state: GroupState[GfState]) =>
          val incoming = if (state.hasTimedOut) Nil
            else it.map(o => (o.ts_us, o.event_id, o.value)).toList
          // nextTickUs = Long.MinValue means "spine not started": the
          // start tick stays fluid (an out-of-order earlier observation
          // inside the watermark can still lower it) until the first
          // tick actually emits
          val st0 = state.getOption.getOrElse(GfState(Long.MinValue, 0.0, Nil))
          val buf = (st0.buf ++ incoming).sortBy(o => (o._1, o._2))
          val wmUs = state.getCurrentWatermarkMs() * 1000L
          val started = st0.nextTickUs != Long.MinValue
          val out = scala.collection.mutable.ArrayBuffer.empty[GfOut]
          var tick =
            if (started) st0.nextTickUs
            else if (buf.nonEmpty) tickOf(buf.map(_._1).min)
            else Long.MaxValue
          var carry = st0.carry
          // a tick is final once the watermark passes the END of its
          // bucket [tick, tick+step) — a valid (non-late) observation
          // can still land inside the bucket until then, and emitting
          // at tick <= wm would both fill with a stale value and evict
          // that later arrival without folding it into the carry —
          // AND an observation at-or-after it exists (batch spine
          // bound)
          val maxObsTick = if (buf.isEmpty) Long.MinValue
                           else tickOf(buf.map(_._1).max)
          while (tick + stepUs <= wmUs && tick <= maxObsTick) {
            // latest observation inside this tick (ties: (ts, id) desc)
            val inTick = buf.filter(o => tickOf(o._1) == tick)
            val observed = inTick.nonEmpty
            if (observed) carry = inTick.maxBy(o => (o._1, o._2))._3
            out += GfOut(k, tick, carry, observed)
            tick += stepUs
          }
          // evict consumed observations: everything before the cursor
          // tick is folded into `carry`; the rest feeds future ticks.
          // (No valid arrival can target an emitted bucket: its ts
          // would be below the bucket end <= watermark, i.e. LATE, and
          // Spark drops late rows before the state function.)
          val kept =
            if (tick == Long.MaxValue) buf else buf.filter(_._1 >= tick)
          val newNext = if (started || out.nonEmpty) tick else Long.MinValue
          state.update(GfState(newNext, carry, kept))
          // Timeout only while buffered observations are waiting on
          // watermark finality: wake when the next bucket can close.
          // With an empty buffer nothing can ever emit until new data
          // arrives (which itself invokes the key), so registering a
          // wm+1 timeout would wake every historical key on every
          // micro-batch forever.
          if (kept.nonEmpty)
            state.setTimeoutTimestamp(math.max(
              (tick + stepUs) / 1000L,
              state.getCurrentWatermarkMs() + 1))
          out.iterator
      }
      .toDF()
      .select(col("key"), timestamp_micros(col("tick_us")).as("tick"),
        col("filled"), col("observed").as("observed"))
  }

  final case class RlObs(key: Long, ts: java.sql.Timestamp, ts_us: Long,
                         event_id: Long, value: Double)
  final case class RlBuf(pending: List[(Long, Long, Double)],
                         hist: List[(Long, Double)])
  final case class RlOut(event_id: Long, key: Long, ts_us: Long,
                         roll_n: Long, roll_sum: Double)

  /** Streaming trailing-window features —
    * [[graft.operators.Rolling.trailing]]'s streaming sibling: each
    * event emits (count, sum) of same-key values in the `horizonSec`
    * window ENDING at its (second-truncated) timestamp, computed
    * incrementally as the event-time watermark advances.
    *
    * Watermark-final emission: batch RANGE frames include same-second
    * peers (even ones arriving later within the second), so an event is
    * final only when the watermark passes the END of its second —
    * every frame member has then either arrived or is late-beyond-
    * watermark (the same correctness contract as every streaming op
    * here). State per key = pending (unemitted) events plus emitted
    * observations still inside `horizonSec` of any possible FUTURE
    * frame; observations older than watermark − horizon can never be
    * referenced again and are evicted each invocation — the horizon is
    * what BOUNDS state, exactly the tolerance argument of
    * `asOfEnrichStream`. Event-time timeouts drain quiet keys.
    *
    * Sums ride BigDecimal at scale 2 — the exact arithmetic batch
    * `Rolling.trailing` gets from its DECIMAL(18,2) cast — so parity
    * with the batch operator is bit-exact regardless of accumulation
    * order; StreamingSpec pins row-set equality on (n, sum). */
  def rollingStream(events: DataFrame, horizonSec: Long): DataFrame = {
    require(horizonSec > 0, "horizonSec must be positive")
    val spark = events.sparkSession
    import spark.implicits._
    val tagged = events.select(col("key"), col("ts"),
        tsUsOf(events, "ts").as("ts_us"), col("event_id"), col("value"))
      .as[RlObs]
    tagged.groupByKey(_.key)
      .flatMapGroupsWithState[RlBuf, RlOut](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (k: Long, it: Iterator[RlObs], state: GroupState[RlBuf]) =>
          val prev = state.getOption.getOrElse(RlBuf(Nil, Nil))
          val incoming = if (state.hasTimedOut) Array.empty[RlObs]
                         else it.toArray
          val pending = (prev.pending ++ incoming.map(o =>
            (Math.floorDiv(o.ts_us, 1000000L), o.event_id, o.value)))
            .sortBy(t => (t._1, t._2))
          val wmUs = state.getCurrentWatermarkMs() * 1000L
          // final once the watermark passed the END of the second
          val (ready, stillPending) =
            pending.partition(p => (p._1 + 1) * 1000000L <= wmUs)
          // frame members come from every arrived observation: emitted
          // history AND all currently-known events (ready or pending)
          val frameSrc = prev.hist ++ pending.map(p => (p._1, p._3))
          val out = ready.map { case (sec, id, _) =>
            val lo = sec - horizonSec
            // count + exact BigDecimal sum are order-independent — no
            // sort of the frame members is needed
            val in = frameSrc.filter(o => o._1 >= lo && o._1 <= sec)
            RlOut(id, k, sec * 1000000L, in.size.toLong,
              in.map(o => BigDecimal(o._2)
                .setScale(2, BigDecimal.RoundingMode.HALF_UP))
                .sum.toDouble)
          }
          // observations below watermark - horizon are out of every
          // possible future frame (late arrivals beyond wm are dropped
          // by contract) — evict; keep emitted obs as history
          val loBound = Math.floorDiv(wmUs, 1000000L) - horizonSec
          val hist = (prev.hist ++ ready.map(p => (p._1, p._3)))
            .filter(_._1 >= loBound)
          if (stillPending.isEmpty && hist.isEmpty) state.remove()
          else {
            state.update(RlBuf(stillPending, hist))
            val nextUs =
              if (stillPending.nonEmpty)
                (stillPending.map(_._1).min + 1) * 1000000L
              else (hist.map(_._1).max + horizonSec + 1) * 1000000L
            state.setTimeoutTimestamp(math.max(nextUs / 1000L,
              state.getCurrentWatermarkMs() + 1))
          }
          out.iterator
      }
      .toDF()
      .select(col("event_id"), col("key"),
        timestamp_micros(col("ts_us")).as("ts"),
        col("roll_n"), col("roll_sum"))
  }

  /** Stream-stream INTERVAL join: each "click" (odd event_id) pairs with
    * the "impressions" (even event_id) of the same user in the preceding
    * `windowExpr` (e.g. "30 minutes"). Both sides carry watermarks, and
    * the time-bound ON condition is what lets Spark EVICT join state —
    * an unbounded-state stream-stream join never survives production.
    * Works identically in batch (the standard range-join rewrite). */
  def clickImpressionJoin(events: DataFrame,
                          windowExpr: String = "30 minutes"): DataFrame = {
    val imps = events.filter(pmod(col("event_id"), lit(2)) === 0)
      .select(col("user_id").as("i_user"), col("ts").as("i_ts"),
        col("event_id").as("impression_id"))
    val clicks = events.filter(pmod(col("event_id"), lit(2)) === 1)
      .select(col("user_id").as("c_user"), col("ts").as("c_ts"),
        col("event_id").as("click_id"))
    clicks.join(imps,
      col("c_user") === col("i_user") &&
        col("i_ts") <= col("c_ts") &&
        col("i_ts") >= col("c_ts") - expr(s"INTERVAL $windowExpr"))
      .select(col("click_id"), col("impression_id"),
        col("c_user").as("user_id"), col("c_ts"), col("i_ts"))
  }

  // -----------------------------------------------------------------
  // streaming entry points
  // -----------------------------------------------------------------

  /** File-source stream over a directory of event parquet files, with a
    * watermark for state eviction. The driver has shipped event files
    * under THREE physical ts encodings across rounds — TIMESTAMP(NANOS)
    * (readable only as long), tz-micros, and NTZ-micros — so the stream's
    * required static schema is probed from the footers with a one-off
    * batch read, then ts is normalized to TimestampType exactly like
    * `Tables.load` (UTC session ⇒ instant preserved). */
  def readEventStream(spark: SparkSession, dir: String,
                      watermark: String = "1 hour"): DataFrame = {
    // nanosAsLong is needed only to PROBE (and then read) parquet
    // TIMESTAMP(NANOS) event files. It is session-global state, so it
    // is restored immediately after the probe UNLESS the files really
    // are nanos — then the running stream's per-batch parquet reads
    // need it for the query's lifetime, which is the one case where
    // leaving it set is the requirement, not a leak (callers mixing a
    // nanos event stream with other TIMESTAMP(NANOS) batch reads in
    // one session are opting into the flag either way).
    val nanosKey = "spark.sql.legacy.parquet.nanosAsLong"
    val prevNanos = spark.conf.getOption(nanosKey)
    spark.conf.set(nanosKey, "true")
    def restoreNanos(): Unit = prevNanos match {
      case Some(v) => spark.conf.set(nanosKey, v)
      case None => spark.conf.unset(nanosKey)
    }
    // An empty landing directory is the NORMAL starting state of a file
    // stream (files arrive after the query starts), so a failed probe
    // falls back to the current driver encoding (NTZ micros) instead of
    // propagating 'Unable to infer schema'.
    val physical = try spark.read.parquet(dir).schema
      catch { case _: org.apache.spark.sql.AnalysisException =>
        StructType(Seq(
          StructField("event_id", LongType),
          StructField("ts", TimestampNTZType),
          StructField("user_id", LongType),
          StructField("event_type", StringType),
          StructField("value", DoubleType),
          StructField("props", StringType)))
      }
    if (physical("ts").dataType != LongType) restoreNanos()
    val tsNorm = physical("ts").dataType match {
      case LongType => timestamp_micros(expr("ts div 1000"))
      case TimestampNTZType => col("ts").cast(TimestampType)
      case TimestampType => col("ts")
      case other => throw new IllegalArgumentException(
        s"events.ts arrived as unsupported physical type ${other.sql}")
    }
    spark.readStream
      .schema(physical)
      .parquet(dir)
      .withColumn("ts", tsNorm)
      .withWatermark("ts", watermark)
  }

  /** Wire a windowed aggregation to a sink; Append mode emits each window
    * once its watermark passes (late data beyond the watermark dropped). */
  def startTumblingQuery(stream: DataFrame, checkpoint: String,
                         outPath: String): StreamingQuery =
    tumblingCounts(stream)
      .writeStream
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .format("parquet")
      .option("path", outPath)
      .start()

  /** Stream-stream interval join → parquet sink (AvailableNow). */
  def startClickJoinQuery(stream: DataFrame, checkpoint: String,
                          outPath: String): StreamingQuery =
    clickImpressionJoin(stream)
      .writeStream
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .format("parquet")
      .option("path", outPath)
      .start()

  /** Streaming dedup → parquet sink (AvailableNow drains what's there). */
  def startDedupQuery(stream: DataFrame, checkpoint: String,
                      outPath: String): StreamingQuery =
    dedupedStream(stream)
      .writeStream
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .format("parquet")
      .option("path", outPath)
      .start()

  /** Simple-identifier check + backtick quoting for the upsert sink's
    * generated DDL. `upsertBatch` interpolates the table name into
    * DROP/ALTER statements and derives its tmp/backup scratch names by
    * suffixing, so the name must be a plain (optionally db-qualified)
    * identifier — anything needing quoting could break the swap or
    * collide with the reserved `<table>__upsert_tmp` /
    * `<table>__upsert_backup` names, which would then be silently
    * DROPPED. Rejected loudly instead. */
  private val SimpleIdent =
    "^[A-Za-z_][A-Za-z0-9_]*(\\.[A-Za-z_][A-Za-z0-9_]*)?$".r
  private def checkTableName(table: String): Unit = {
    require(SimpleIdent.findFirstIn(table).isDefined,
      s"upsert table name must be a simple [db.]table identifier: $table")
    require(!table.endsWith("__upsert_tmp") &&
      !table.endsWith("__upsert_backup"),
      s"names ending in __upsert_tmp/__upsert_backup are reserved " +
        s"by the upsert sink's swap: $table")
    require(!table.endsWith("__compact_tmp") &&
      !table.endsWith("__compact_backup"),
      s"names ending in __compact_tmp/__compact_backup are reserved " +
        s"by compactBatchTable's swap: $table")
    require(!table.endsWith("__cents"),
      s"names ending in __cents are reserved for the embedding " +
        s"index's centroid sidecar: $table")
  }
  private def quoted(table: String): String =
    table.split('.').map(p => s"`$p`").mkString(".")

  /** Table property naming the ingest-index geometry of a
    * `batch_id`-partitioned table — written by
    * [[createSignatureIndex]] (`signature`), [[createBandIndex]]
    * (`band`), and [[createEmbeddingIndex]] (`embedding`), read by
    * [[compactBatchTable]] to decide marker-row handling. The r13 form
    * sniffed the geometry from the exact column SET, which would have
    * silently treated a user table that coincidentally matched an index
    * schema as an index (dropping its NULL rows as stale markers) and
    * silently skipped marker cleanup on any sixth geometry; a declared
    * property fails LOUDLY on an unknown value instead. Absent property
    * = not an index (sink tables, user tables): plain fold, no rows
    * dropped. */
  val IndexKindProp = "graft.index.kind"

  private def setTableProps(spark: SparkSession, table: String,
                            props: Map[String, String]): Unit =
    if (props.nonEmpty)
      spark.sql(s"ALTER TABLE ${quoted(table)} SET TBLPROPERTIES (" +
        props.map { case (k, v) => s"'$k'='$v'" }.mkString(", ") + ")")

  private def tablePropsOf(spark: SparkSession, table: String)
      : Map[String, String] =
    spark.sessionState.catalog.getTableMetadata(
      spark.sessionState.sqlParser.parseTableIdentifier(table)).properties

  /** Max touched partitions before falling back to the full merge —
    * shared with the batch incremental materializer, see
    * [[graft.mat.PartitionScoped.MaxTouchedPartitions]]. */
  private def MaxTouchedPartitions: Int =
    graft.mat.PartitionScoped.MaxTouchedPartitions

  /** One micro-batch of the streaming upsert sink ([[startUpsertQuery]]):
    * collapse the batch to its LAST version per unique key — `orderCol`
    * desc, whole-row hash as the deterministic tiebreak — then MERGE
    * into `table` ([[graft.mat.Incremental.merge]]). Null-keyed rows
    * are DROPPED, loudly documented: a row with no key has no identity
    * to upsert, and passing it through as a blind insert would
    * re-insert it on every batch REPLAY — destroying the idempotence
    * the sink's delivery contract rests on. First batch creates the
    * table. Exposed for batch-mode testing; idempotent for a fixed
    * batch content, which is what makes the streaming sink replay-safe.
    *
    * '''Unpartitioned''' (`partitionCols` empty): the merged result is
    * materialized to a tmp table and rename-swapped in (never overwrite
    * a table from a plan that reads it — the Materializer caution).
    * Per-batch cost is O(|table|) — fine for modest tables, wrong at
    * 100 TB.
    *
    * '''Partition-scoped''' (`partitionCols` nonempty): the table is
    * created `partitionBy(partitionCols)` and each subsequent batch
    * rewrites ONLY the partitions containing staged keys — the batch's
    * distinct partition tuples (metadata-sized, capped at
    * [[MaxTouchedPartitions]]) become literal partition filters on the
    * target read (static partition pruning: untouched partitions are
    * never READ), the scoped merge is materialized to a tmp table, and
    * dynamic partition overwrite (`partitionOverwriteMode=dynamic` +
    * `insertInto`) commits it (only partitions present in the merged
    * result — exactly the touched set — are REWRITTEN). Per-batch cost
    * is O(touched partitions), not O(|table|).
    *
    * Partition-scoped CONTRACT: a key's partition values must be stable
    * across versions (derive them from the key, not from mutable
    * attributes). A version arriving in a different partition than its
    * predecessor cannot see the old row — the scoped merge would INSERT
    * it, leaving the key duplicated across two partitions. This is the
    * standard constraint of partition-local upserts (a global key index
    * is the alternative, and a different engine).
    *
    * Crash recovery (replay safety): the unpartitioned swap is not
    * atomic — a crash between the two RENAMEs leaves the target missing
    * and its content parked in `<table>__upsert_backup` (or fully
    * merged in `<table>__upsert_tmp`). On entry, a missing target with
    * a surviving backup/tmp is renamed back BEFORE the
    * create-vs-merge decision, so a foreachBatch replay re-merges into
    * the recovered history instead of rebuilding the table from the
    * replayed batch alone. The partition-scoped path commits through
    * the file commit protocol (staging dir, per-job commit) and its
    * re-merge is idempotent, so replay after any crash point converges. */
  def upsertBatch(batch: DataFrame, table: String,
                  uniqueKeys: Seq[String], orderCol: String,
                  partitionCols: Seq[String] = Nil): Unit = {
    require(uniqueKeys.nonEmpty, "upsert needs unique keys")
    checkTableName(table)
    if (batch.isEmpty) return
    val spark = batch.sparkSession
    val keysNotNull = uniqueKeys.map(col(_).isNotNull).reduce(_ && _)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(uniqueKeys.map(col): _*)
      .orderBy(col(orderCol).desc,
        xxhash64(batch.columns.map(col).toIndexedSeq: _*))
    val rn = "__graft_upsert_rn"
    val collapsed = batch.filter(keysNotNull)
      .withColumn(rn, row_number().over(w))
      .filter(col(rn) === 1).drop(rn)
    val tmp = s"${table}__upsert_tmp"
    val backup = s"${table}__upsert_backup"
    // crash recovery: a missing target with a surviving backup (old
    // history, pre-merge) or tmp (fully merged) is restored first —
    // without this, the tableExists check below would take the CREATE
    // path on replay and rebuild the table from this batch alone,
    // silently losing all previously merged history
    if (!spark.catalog.tableExists(table)) {
      if (spark.catalog.tableExists(backup))
        graft.mat.PartitionScoped.renameTable(spark, quoted(backup),
          quoted(table))
      else if (spark.catalog.tableExists(tmp))
        graft.mat.PartitionScoped.renameTable(spark, quoted(tmp),
          quoted(table))
    }
    if (!spark.catalog.tableExists(table)) {
      // first batch: create — possibly EMPTY when every row was
      // null-keyed (the schema is still known and downstream readers
      // get a stable table; EmptyInputSpec pins this)
      if (partitionCols.nonEmpty)
        collapsed.write.partitionBy(partitionCols: _*).saveAsTable(table)
      else collapsed.write.saveAsTable(table)
      return
    }
    // nothing staged against an EXISTING table (e.g. every row
    // null-keyed): no-op. Without this, the partition-scoped path would
    // reduce an EMPTY touched-partition set into its filter predicate
    // (throw), and the unpartitioned path would rewrite the whole table
    // with identical content — worse, through a plain (layout-dropping)
    // swap if the table is partitioned. The isEmpty probe is a limit-1
    // job on an already-collapsed micro-batch — negligible per batch.
    if (collapsed.isEmpty) return
    val target = spark.table(table)
    // touched partitions of THIS batch (null-safe literal tuples); None
    // when unpartitioned or over the metadata cap → full-table merge
    val touched: Option[org.apache.spark.sql.Column] =
      if (partitionCols.isEmpty) None
      else graft.mat.PartitionScoped.touchedPredicate(collapsed,
        partitionCols)
    touched match {
      case Some(touchedPred) =>
        // scoped read: literal partition filters → static pruning, so
        // untouched partitions are never read. The commit materializes
        // to tmp first (never overwrite partitions of a table from a
        // plan that reads it), then dynamic-partition-overwrites —
        // insertInto is position-based; merged carries the target's
        // column order (partition cols last in catalog tables), which
        // Incremental.merge preserves
        val merged = graft.mat.Incremental.merge(
          target.filter(touchedPred), collapsed, uniqueKeys)
        graft.mat.PartitionScoped.overwriteTouched(spark, table, tmp,
          merged, t => spark.sql(s"DROP TABLE IF EXISTS ${quoted(t)}"))
      case None =>
        val merged = graft.mat.Incremental.merge(target, collapsed,
          uniqueKeys)
        spark.sql(s"DROP TABLE IF EXISTS ${quoted(tmp)}")
        spark.sql(s"DROP TABLE IF EXISTS ${quoted(backup)}")
        val writer =
          if (partitionCols.nonEmpty)
            merged.write.partitionBy(partitionCols: _*)
          else merged.write
        writer.saveAsTable(tmp)
        graft.mat.PartitionScoped.renameTable(spark, quoted(table),
          quoted(backup))
        graft.mat.PartitionScoped.renameTable(spark, quoted(tmp),
          quoted(table))
        spark.sql(s"DROP TABLE IF EXISTS ${quoted(backup)}")
    }
  }

  /** Streaming UPSERT sink: each micro-batch MERGEs into a catalog
    * table on `uniqueKeys` via `foreachBatch` — the Structured
    * Streaming pattern for keyed sinks (stream of row VERSIONS in,
    * current-state table out). Within a batch the last version per key
    * wins (`orderCol` desc); across batches the MERGE updates matched
    * keys and inserts new ones. Replay safety: after a failure,
    * foreachBatch can re-deliver a batch — the collapsed MERGE is
    * idempotent for fixed batch content, which is the foreachBatch
    * exactly-once contract for idempotent sinks. On vanilla parquet
    * each batch rewrites the table (the [[graft.mat.Materializer]]
    * swap) — UNLESS `partitionCols` is given, in which case only the
    * partitions containing staged keys are rewritten (see
    * [[upsertBatch]]'s partition-scoped path — the 100 TB shape: a
    * continuous pipeline's per-batch cost tracks the batch, not the
    * accumulated history). A MERGE-capable table format would execute
    * the identical logical plan in place — Incremental.merge IS that
    * plan. */
  def startUpsertQuery(stream: DataFrame, checkpoint: String,
                       table: String, uniqueKeys: Seq[String],
                       orderCol: String,
                       partitionCols: Seq[String] = Nil): StreamingQuery =
    stream.writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        upsertBatch(batch, table, uniqueKeys, orderCol, partitionCols)
      }
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .start()

  // ------------------------------------------------------------------
  // maintained media-signature novelty index: the ingestion-dedup loop
  // a continuous multimodal pipeline actually runs — arrivals are
  // tested against an index TABLE, novel ones land in the sink, and
  // their signatures JOIN the index so the next batch dedups against
  // everything before it
  // ------------------------------------------------------------------

  /** Right-shift that maps a signature-index `band_key` (∈ [0, 2¹⁸):
    * band·2¹⁶ + 16-bit value) to its `band_pfx` partition value —
    * 2¹⁸⁻¹⁰ = 256 prefix partitions per batch_id. The prefix is the r14
    * sub-O(index) lever (verdict #1): the per-batch probe collects the
    * batch's touched prefixes (metadata-sized, ≤ 64 values) into
    * LITERAL partition filters, so a batch reads only
    * |touched prefixes|/64 of the index — the
    * [[embeddingNoveltyIngestBatch]] cell-pruning machinery applied to
    * hamming space. The pruning regime is honest: band keys are
    * hash-spread, so a batch with ≥ a few hundred distinct signatures
    * touches every prefix (full — still exchange-free and
    * bloom-filtered — scan, amortized over the large batch), while the
    * TRICKLE regime (small continuous batches, where a full scan per
    * batch is the 100 TB killer) prunes hardest; the two regimes cover
    * each other. The grain is a measured trade: finer prefixes prune
    * trickles harder but every append writes one file per touched
    * prefix — 256 prefixes cost the signature rows +1.7–2.6 s each on
    * the sf0.1 board (4 band rows per signature touch most prefixes),
    * 64 is the sweet spot; the one-row-per-band MinHash index takes
    * 256 (two hex chars) at no measured cost. Appends are grouped by
    * the partition column and folded by [[compactBatchTable]] on the
    * maintenance cadence. */
  val BandPfxShift = 12

  /** The COARSE prefix grain for small signature indexes (r15, r14
    * verdict #5): shift 16 keeps only the band index — 4 prefix
    * partitions instead of 64. The r14 grain note measured the file
    * cost of FINE grain (256 prefixes cost +1.7–2.6 s per board row);
    * the r15 job-level decomposition of `mm_audio_novelty_grow`
    * found the same tax at the other end: on a TINY index every
    * create/append still wrote one file per touched prefix of 64 and
    * paid the dynamic-partition commit + catalog registration for
    * each, a fixed floor that dominates the trickle regime. Pruning
    * buys nothing on an index that fits in a few tasks, so grain is
    * now a PER-TABLE property chosen at create from the seed size
    * ([[TinyIndexBandedRows]]), recorded under [[PfxShiftProp]], read
    * back by the ingest loop for appends and probes, and RE-CHOSEN
    * from the folded size at every compaction — a table that grows
    * past tiny gets the fine grain (and its pruning) at its next
    * maintenance fold, the same amortized slot that re-tightens the
    * cap. */
  val TinyIndexPfxShift = 16

  /** Banded-row count at or below which a signature index takes the
    * coarse grain ([[TinyIndexPfxShift]]). Matches the default cap
    * ([[DefaultMaxBandBucket]]) so the create-time guard's single
    * limit-count answers both questions. */
  val TinyIndexBandedRows = 4096

  /** Table property recording a signature index's `band_pfx` grain
    * (the shift applied to `band_key`), written by
    * [[createSignatureIndex]] and re-chosen by every compaction. */
  val PfxShiftProp = "graft.pfx.shift"

  /** `band_pfx` of a signature-index band key at grain `shift`;
    * commit-marker rows (NULL band_key) land in their own -1 prefix
    * partition, which no probe filter ever selects. */
  private def sigBandPfx(bandKey: Column, shift: Int): Column =
    when(bandKey.isNull, lit(-1L))
      .otherwise(shiftright(bandKey, shift))

  /** `band_pfx` of a MinHash band index's md5-hex band key: the first
    * TWO hex characters — 256 prefix partitions (the string geometry's
    * [[sigBandPfx]]); NULL markers land in "-". */
  private def bandStrPfx(band: Column): Column =
    when(band.isNull, lit("-")).otherwise(substring(band, 1, 2))

  /** Group an index write by its prefix partition: without this every
    * write task emits one file per partition directory it happens to
    * hold (tasks × prefixes tiny files per batch — measured 5–10×
    * slower purely in file commits); grouped, the file count is the
    * number of NON-EMPTY prefixes (≤ 64 long / 16 hex per batch).
    * This is also why the r13 `bucketBy` was DROPPED from these
    * layouts in r14: buckets multiply the floor to prefixes × buckets
    * files per append (measured 11.4 s vs 1.4 s for one batch-sized
    * append), while the exchange-freedom they bought comes free from
    * the broadcast-sized batch side of the probe join. */
  private def groupForPartitionedWrite(df: DataFrame,
                                       pfxCol: String): DataFrame =
    df.repartition(col(pfxCol))

  /** Create (replacing) a signature-index table for the novelty-ingest
    * loop, PRE-BAND-EXPLODED and PREFIX-PARTITIONED: schema
    * `(band_key BIGINT, sig BIGINT, band_pfx BIGINT, batch_id BIGINT)`
    * — 4 rows per signature ([[graft.llm.Multimodal.bandIndexRows]]
    * geometry) — partitioned by `(batch_id, band_pfx)`.
    *
    * The `band_pfx` partition is the r13→r14 scale fix
    * ([[BandPfxShift]]): the probe pushes the batch's touched prefixes
    * as LITERAL partition filters, so a small batch READS only its
    * prefixes' fraction of the index instead of scanning all of it.
    * The r13 `bucketBy(band_key)` is GONE: combined with prefix
    * partitions it multiplied every append into prefixes × buckets
    * tiny files (measured 8× slower purely in file commits), and the
    * exchange-freedom it bought is already provided by the probe's
    * batch side being broadcast-sized (a micro-batch's distinct
    * signature set — the join builds a hash side from the batch, and
    * the index streams off the pruned scan with no exchange; the
    * probe plan spec pins this). Per-batch appends are one file per
    * touched prefix inside their own `batch_id` partition (no rewrite
    * of prior batches); the `batch_id` partition makes the replay
    * probe metadata-pruned; partition GROWTH is bounded by
    * [[compactBatchTable]] on a maintenance cadence.
    *
    * `seed` supplies the starting signatures (e.g.
    * [[graft.llm.Multimodal.dhashSignatures]] over the existing
    * corpus), recorded under batch_id = -1; an EMPTY seed makes a
    * cold-start index. */
  def createSignatureIndex(spark: SparkSession, table: String,
                           seed: DataFrame, sigCol: String,
                           maxBucket: Int = DefaultMaxBandBucket): Unit = {
    checkTableName(table)
    require(maxBucket > 0, s"maxBucket must be positive: $maxBucket")
    spark.sql(s"DROP TABLE IF EXISTS ${quoted(table)}")
    val rows = graft.llm.Multimodal.bandIndexRows(
        seed.select(col(sigCol).cast(LongType).as("sig")), "sig")
      .withColumn("batch_id", lit(-1L))
    // the index IS the capped probe structure (r14, verdict #2): the
    // per-bucket candidate cap is applied AT WRITE TIME — exact
    // bottom-maxBucket per band bucket here at creation, per-batch
    // bottom-k on appends, re-tightened to exact bottom-k at every
    // compaction — so no probe ever pays a Window over the index. The
    // SINK keeps every raw signature (the loop's truth table); capped-
    // out signatures simply never become probe candidates, the same
    // deterministic false-novel-only error the r13 per-probe cap had.
    //
    // A seed with ≤ maxBucket banded rows IN TOTAL cannot overfill any
    // bucket, so the cap window (a shuffle + window over the seed) is
    // provably a no-op — skipped. The guard is a limit-count that
    // short-circuits after maxBucket+1 banded rows; the seed is
    // PERSISTED across guard + write so both jobs see ONE evaluation —
    // a non-deterministic seed (a sample(), a fresh-random column)
    // recomputed between them could pass the guard tiny yet overfill a
    // bucket in the write, silently breaking the CappedKProp invariant
    // every windowless probe rests on. Each partition computes once
    // and spills to disk if large; small seeds — the common create —
    // still save the window's two shuffle stages of job overhead.
    val pinned = rows.persist(
      org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val pfxShift =
    try {
      // one limit-count answers both guards: cap-skip (≤ maxBucket
      // banded rows cannot overfill any bucket) and the grain choice
      // (≤ TinyIndexBandedRows takes the coarse 4-prefix grain — see
      // TinyIndexPfxShift). A disabled cap (Int.MaxValue) always
      // skips the window — that branch is already decided — so the
      // count probes ONLY the grain bound (r15 ADVICE: the unclamped
      // guard made limit(Int.MaxValue).count() scan the full seed).
      val guardK =
        if (maxBucket == Int.MaxValue) TinyIndexBandedRows + 1
        else (math.min(
          math.max(maxBucket.toLong, TinyIndexBandedRows.toLong),
          Int.MaxValue.toLong - 1) + 1).toInt
      val n = pinned.limit(guardK).count()
      val capSkip = maxBucket == Int.MaxValue || n <= maxBucket
      val shift =
        if (n <= TinyIndexBandedRows) TinyIndexPfxShift else BandPfxShift
      val capped =
        if (capSkip) pinned else bottomK(pinned, Seq("band_key"), maxBucket)
      val withPfx = capped
        .withColumn("band_pfx", sigBandPfx(col("band_key"), shift))
      // a tiny seed also skips the pre-write grouping SHUFFLE: one task
      // writes every touched prefix's file (same file count, no
      // exchange, no 32 near-empty reduce tasks — r15, the ingest
      // family's fixed-cost trim; large seeds keep the grouped write)
      (if (n <= TinyIndexBandedRows) withPfx.coalesce(1)
       else groupForPartitionedWrite(withPfx, "band_pfx"))
        .write.partitionBy("batch_id", "band_pfx")
        .saveAsTable(table)
      shift
    } finally pinned.unpersist()
    setTableProps(spark, table,
      Map(IndexKindProp -> "signature",
        CappedKProp -> maxBucket.toString,
        PfxShiftProp -> pfxShift.toString))
  }

  /** Table property on a signature index recording the per-bucket
    * candidate cap k it was built with ([[createSignatureIndex]]'s
    * `maxBucket`); appends cap their contribution at k and
    * [[compactBatchTable]] re-tightens the folded base to exactly
    * bottom-k per bucket. */
  val CappedKProp = "graft.capped.k"

  /** The catalog bucket spec of `table`, required for bucket-preserving
    * appends (an append with a different spec would corrupt the
    * bucketing the probe's shuffle-free plan rests on). */
  private def bucketSpecOf(spark: SparkSession, table: String)
      : Option[org.apache.spark.sql.catalyst.catalog.BucketSpec] =
    spark.sessionState.catalog.getTableMetadata(
      spark.sessionState.sqlParser.parseTableIdentifier(table)).bucketSpec

  // ------------------------------------------------------------------
  // batch_id-partitioned table maintenance (compaction)
  // ------------------------------------------------------------------

  /** Restore a `batch_id`-partitioned table from a crash mid-
    * [[compactBatchTable]] swap: a missing target with a surviving
    * `__compact_tmp` (the COMPLETE compacted result — the first swap
    * rename only runs after the tmp write committed) or
    * `__compact_backup` (the pre-compaction original) is renamed back;
    * leftover scratch from a completed or abandoned swap is dropped.
    * Idempotent; called on entry by [[compactBatchTable]] AND by the
    * ingest loop, so a batch replay arriving after a compaction crash
    * heals the table before probing it. */
  def recoverCompacted(spark: SparkSession, table: String): Unit = {
    val tmp = s"${table}__compact_tmp"
    val backup = s"${table}__compact_backup"
    if (!spark.catalog.tableExists(table)) {
      if (spark.catalog.tableExists(tmp)) {
        graft.mat.PartitionScoped.renameTable(spark, quoted(tmp),
          quoted(table))
        spark.sql(s"DROP TABLE IF EXISTS ${quoted(backup)}")
      } else if (spark.catalog.tableExists(backup))
        graft.mat.PartitionScoped.renameTable(spark, quoted(backup),
          quoted(table))
    } else {
      if (spark.catalog.tableExists(tmp) &&
          !spark.catalog.tableExists(backup))
        // pre-swap crash: tmp may be partial — the re-run rewrites it
        spark.sql(s"DROP TABLE IF EXISTS ${quoted(tmp)}")
      else if (spark.catalog.tableExists(backup) &&
          !spark.catalog.tableExists(tmp))
        // post-swap crash: target is the compacted table, drop leftovers
        spark.sql(s"DROP TABLE IF EXISTS ${quoted(backup)}")
    }
  }

  /** Fold a `batch_id`-partitioned ingest table's COMMITTED batch
    * partitions into the base partition (batch_id = -1), bounding
    * partition growth: without maintenance the novelty-ingest loop
    * accumulates one partition per micro-batch forever, and after 10⁵
    * batches partition LISTING alone is a per-batch cost. Run on a
    * maintenance cadence against both the index and the sink.
    *
    * Replay safety: micro-batches execute serially and batch N+1 only
    * starts after batch N's checkpoint commit, so any batch with an id
    * BELOW the maximum present can never be re-delivered — the maximum
    * batch partition (the only possibly-replayable one, whose presence
    * is the ingest loop's commit record) is PRESERVED verbatim, and
    * everything else folds. A replay of the preserved batch still hits
    * its partition probe and no-ops; folded batches have no replay to
    * meet. Stale commit-marker rows (NULL sig) of folded index batches
    * are dropped in the same pass.
    *
    * Physical shape: the folded table is staged to `__compact_tmp`
    * with the SAME layout (partitioning, plus bucket spec where one
    * exists), grouped so the rewrite also FOLDS the per-append file
    * fragmentation, then rename-swapped in via
    * `__compact_backup` (never overwrite a table from a plan that
    * reads it); every crash window is healed by [[recoverCompacted]].
    * The fold rewrites O(table) once per maintenance run — the
    * amortized answer to unbounded partition growth, not a per-batch
    * cost. Sink rows keep their content but their `batch_id` coarsens
    * to -1 (it is ingest provenance, not data).
    *
    * SINGLE-WRITER contract: run from the ingest's own serial context
    * (the streaming sinks' `compactEvery` hook runs it inside
    * foreachBatch, strictly between batches) or with the stream
    * stopped — a compaction racing a live writer could fold the batch
    * that writer is mid-committing. Returns (partitions before,
    * partitions after). */
  def compactBatchTable(spark: SparkSession, table: String): (Int, Int) = {
    checkTableName(table)
    recoverCompacted(spark, table)
    require(spark.catalog.tableExists(table),
      s"compactBatchTable: no such table $table (and no crash-parked " +
        "__compact_tmp/__compact_backup to recover)")
    // leaf partition names look like "batch_id=N" (the signature
    // index/sink) or "batch_id=N/cell=K" (the embedding index) — the
    // fold key is the batch_id component wherever it sits
    val parts = spark.sql(s"SHOW PARTITIONS ${quoted(table)}")
      .collect().map(_.getString(0))
    val ids = parts.flatMap(_.split('/')
      .find(_.startsWith("batch_id="))
      .map(_.stripPrefix("batch_id=").toLong))
    val live = ids.distinct.filter(_ >= 0L)
    if (live.length <= 1) return (parts.length, parts.length)
    val maxId = live.max
    // stale commit-marker rows of FOLDED batches are dropped with the
    // fold (their commit role is over; folded batches can never
    // replay) — gated on the DECLARED geometry ([[IndexKindProp]],
    // written by the create* functions), never on schema shape: a user
    // table that merely looks like an index keeps every row, and an
    // unknown declared kind fails loudly here (batch partitions are
    // present at this point) instead of silently skipping cleanup
    val props = tablePropsOf(spark, table)
    val kind = props.get(IndexKindProp)
    val folded0 = spark.table(table).withColumn("batch_id",
      when(col("batch_id") === maxId, lit(maxId)).otherwise(lit(-1L)))
    val folded = kind match {
      case Some("signature") =>
        val noMarkers =
          folded0.filter(!(col("sig").isNull && col("batch_id") === -1L))
        props.get(CappedKProp).map(_.toInt) match {
          case Some(k) =>
            // re-tighten the folded base to exactly bottom-k per
            // bucket: between compactions each batch contributes at
            // most k per bucket (up to k·batches candidates), and
            // bottom-k of a union of per-set bottom-ks IS the union's
            // bottom-k — so the folded base equals a from-scratch
            // rebuild. The preserved max batch keeps its per-batch
            // contribution; its NULL-sig marker rides its own NULL
            // band_key window partition at rn=1, so it survives.
            bottomK(noMarkers, Seq("batch_id", "band_key"), k)
          case None => noMarkers
        }
      case Some("embedding") =>
        folded0.filter(!(col("vec").isNull && col("batch_id") === -1L))
      case Some("band") =>
        folded0.filter(!(col("band").isNull && col("batch_id") === -1L))
      case Some("key") =>
        folded0.filter(!(col("key").isNull && col("batch_id") === -1L))
      case None => folded0
      case Some(other) => throw new IllegalArgumentException(
        s"compactBatchTable: $table declares unknown $IndexKindProp " +
          s"'$other' with batch partitions present — marker-row " +
          "handling for this geometry is undefined; register it here")
    }
    // r15: the compaction slot also RE-CHOOSES the signature grain
    // from the folded size ([[TinyIndexPfxShift]]) — a tiny-created
    // index that grew past the bound gets the fine 64-prefix grain
    // (and its trickle pruning) here; the probe always reads the
    // grain from [[PfxShiftProp]], so the switch is invisible to
    // callers. The limit-count short-circuits and the fold input is
    // the committed table (deterministic), so the extra evaluation is
    // one pruned read.
    val (foldedFinal, propOverride) = kind match {
      case Some("signature") =>
        val n = folded.filter(col("sig").isNotNull)
          .limit(TinyIndexBandedRows + 1).count()
        val shift =
          if (n <= TinyIndexBandedRows) TinyIndexPfxShift
          else BandPfxShift
        (folded.withColumn("band_pfx", sigBandPfx(col("band_key"), shift)),
          Map(PfxShiftProp -> shift.toString))
      case _ => (folded, Map.empty[String, String])
    }
    val tmp = s"${table}__compact_tmp"
    val backup = s"${table}__compact_backup"
    spark.sql(s"DROP TABLE IF EXISTS ${quoted(tmp)}")
    spark.sql(s"DROP TABLE IF EXISTS ${quoted(backup)}")
    val meta = spark.sessionState.catalog.getTableMetadata(
      spark.sessionState.sqlParser.parseTableIdentifier(table))
    val bspec = bucketSpecOf(spark, table)
    // group the rewrite by its layout keys so the folded table lands
    // as one file per non-empty (partition[, bucket]) combo — the
    // compaction IS the answer to append-time file fragmentation
    val grouped = bspec match {
      case Some(bs) => foldedFinal.repartition(
        meta.partitionColumnNames.map(col) :+
          pmod(hash(bs.bucketColumnNames.map(col): _*),
            lit(bs.numBuckets)): _*)
      case None if meta.partitionColumnNames.nonEmpty =>
        foldedFinal.repartition(meta.partitionColumnNames.map(col): _*)
      case None => foldedFinal
    }
    val w0 = grouped.write.partitionBy(meta.partitionColumnNames: _*)
    val w = bspec match {
      case Some(bs) =>
        val wb = w0.bucketBy(bs.numBuckets, bs.bucketColumnNames.head,
          bs.bucketColumnNames.tail: _*)
        if (bs.sortColumnNames.nonEmpty)
          wb.sortBy(bs.sortColumnNames.head, bs.sortColumnNames.tail: _*)
        else wb
      case None => w0
    }
    w.saveAsTable(tmp)
    // the swap must not strip the graft.* table properties (the
    // geometry declaration above, the capped index's k) — saveAsTable
    // writes a fresh catalog entry, so carry them onto tmp explicitly
    setTableProps(spark, tmp,
      tablePropsOf(spark, table).filter(_._1.startsWith("graft.")) ++
        propOverride)
    graft.mat.PartitionScoped.renameTable(spark, quoted(table),
      quoted(backup))
    graft.mat.PartitionScoped.renameTable(spark, quoted(tmp),
      quoted(table))
    spark.sql(s"DROP TABLE IF EXISTS ${quoted(backup)}")
    (parts.length,
      spark.sql(s"SHOW PARTITIONS ${quoted(table)}").count().toInt)
  }

  /** The streaming sinks' maintenance hook: every `compactEvery`
    * micro-batches (0 disables), fold committed batch partitions of
    * the index and sink via [[compactBatchTable]] — the wiring that
    * keeps a CONTINUOUS ingest's partition count bounded instead of
    * growing one partition per batch forever. The just-committed batch
    * is the maximum present, so it is preserved and its replay probe
    * still works. */
  private def maybeCompact(spark: SparkSession, batchId: Long,
                           compactEvery: Int, indexTable: String,
                           sinkTable: String): Unit =
    if (compactEvery > 0 && (batchId + 1) % compactEvery == 0) {
      // surface the cap metric on the maintenance cadence (r13
      // ADVICE), BEFORE the fold trims the over-cap rows: a nonzero
      // count means those buckets accumulated more than k candidates
      // across batches and the re-tighten below will drop some —
      // duplicates of the dropped signatures err false-novel from now
      // on. Pathological signature skew, worth an operator signal
      // instead of out-of-band monitoring; one aggregate per
      // maintenance run. (Within-batch overflow is trimmed at append
      // and never visible here — same error direction, documented.)
      tablePropsOf(spark, indexTable).get(CappedKProp).map(_.toInt)
        .foreach { k =>
          val over = cappedBandBuckets(spark.table(indexTable), k)
          if (over > 0)
            System.err.println(s"[graft] novelty index $indexTable: " +
              s"$over band buckets exceed the $k-candidate cap — " +
              "duplicates there can pass as (false-)novel; raise " +
              "maxBucket on createSignatureIndex or investigate " +
              "signature skew")
        }
      compactBatchTable(spark, indexTable)
      // the sink may not exist yet (no novel row has ever landed)
      if (spark.catalog.tableExists(sinkTable))
        compactBatchTable(spark, sinkTable)
    }

  // ------------------------------------------------------------------
  // the novelty-ingest kernel: one commit protocol for every index
  // geometry; a geometry supplies only what differs
  // ------------------------------------------------------------------

  /** What one index geometry plugs into [[ingestBatch]].
    *
    * @param kind      the [[IndexKindProp]] value its index declares
    * @param createdBy the create function that makes such an index
    * @param pfxCol    the index's partition column beside `batch_id`
    * @param reserved  caller column names the loop rejects beyond
    *                  `batch_id` and `novel`: the geometry's own output
    *                  columns and its probe's and collapse's scratch
    *                  names */
  private abstract class IngestGeometry(val kind: String,
                                        val createdBy: String,
                                        val pfxCol: String,
                                        val reserved: Seq[String]) {
    /** Run `use` over the batch as the probe reads it (signed, and
      * collapsed within the batch when asked); whatever the staging
      * pins is released when `use` returns. */
    def staged(batch: DataFrame)(use: DataFrame => Unit): Unit = use(batch)
    /** The staged rows that are novel against `idx` — the index as of
      * batch start — plus `novel`. */
    def probe(staged: DataFrame, idx: DataFrame): DataFrame
    /** This batch's index data rows, from its committed sink slice. */
    def indexRows(slice: DataFrame): DataFrame
    /** `pfxCol` of an index data row; an all-NULL row (the commit
      * marker) lands in a partition no probe selects. */
    def pfx: Column
    /** Pre-write grouping of the index append (marker included). */
    def group(rows: DataFrame): DataFrame =
      groupForPartitionedWrite(rows, pfxCol)
  }

  /** Run `use` over `df` persisted for its duration: signing is the
    * expensive per-row step, and the intra-batch collapse, the probe
    * and the sink write all read the signed batch. Batch-sized, dropped
    * before return. */
  private def persisted(df: DataFrame)(use: DataFrame => Unit): Unit = {
    val cached = df.persist(
      org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try use(cached) finally cached.unpersist()
  }

  /** One micro-batch of the novelty-ingest loop, for every index
    * geometry — the `*NoveltyIngestBatch` entries are its one-call
    * spellings, and [[startNoveltyIngest]] wires one into foreachBatch:
    *
    *  1. stage the arrivals (signed map-only, all caller columns kept;
    *     same-batch near-duplicates collapsed when asked);
    *  2. test them against the index AS OF BATCH START with the
    *     geometry's batch-form probe — the index is a table, never a
    *     plan literal, so it may grow without bound, and the probe
    *     reads only the index partitions the batch touches;
    *  3. append the novel rows (+ `batch_id`) to the sink;
    *  4. read them BACK from the sink's batch partition (column- and
    *     partition-pruned — no second decode or probe), derive the
    *     index rows, and append them under this `batch_id` with one
    *     all-NULL marker row — so batch N+1 dedups against batch N.
    *
    * Replay safety (foreachBatch may re-deliver a batch): the index
    * append is the LAST write and always contains the marker row, so
    * its presence proves the batch fully committed → re-delivery is a
    * partition-pruned probe and a no-op. A crash between sink and
    * index appends re-runs the batch; the sink probe (also
    * partition-pruned — both tables are partitioned by batch_id) skips
    * the already-committed sink append, the novelty decisions are
    * unchanged because the index still lacks this batch's rows, and
    * the index append derives from the sink read-back, so it equals
    * the uncrashed one row for row. Every argument and reserved-name
    * check runs before the replay probe, so a re-delivered batch fails
    * exactly like its first delivery. Rows without duplicate evidence
    * (a NULL signature, band array, vector or key) are KEPT in the sink
    * and never enter the index. Arrivals are tested against the index
    * only, NOT against each other, unless the geometry's
    * `collapseIntraBatch` is set.
    *
    * Per-batch cost: staging O(|batch|), one pruned probe of the index,
    * two metadata-pruned existence probes, and appends sized to the
    * batch in their own partition — prior batches are never read or
    * rewritten. Partition growth is bounded
    * by [[compactBatchTable]] on a maintenance cadence; both tables
    * recover from a mid-compaction crash on entry here. */
  private def ingestBatch(batch: DataFrame, batchId: Long,
                          indexTable: String, sinkTable: String,
                          g: IngestGeometry): Unit = {
    require(batchId >= 0, s"batch_id must be >= 0 (got $batchId; -1 is " +
      "reserved for the index seed)")
    checkTableName(indexTable)
    checkTableName(sinkTable)
    rejectReserved(batch, Seq("batch_id", "novel") ++ g.reserved,
      s"the ${g.kind} novelty-ingest loop")
    if (batch.isEmpty) return
    val spark = batch.sparkSession
    recoverCompacted(spark, indexTable)
    recoverCompacted(spark, sinkTable)
    require(tablePropsOf(spark, indexTable).get(IndexKindProp)
        .contains(g.kind),
      s"$indexTable is not a batch_id-partitioned ${g.kind} index — " +
        s"(re)create it with ${g.createdBy}")
    val idx = spark.table(indexTable)
    // fully-committed replay: the index partition (written last, never
    // empty thanks to the marker row) is the commit record
    if (!idx.filter(col("batch_id") === batchId).isEmpty) return
    def sinkSlice =
      spark.table(sinkTable).filter(col("batch_id") === batchId)
    g.staged(batch) { staged =>
      val novel = g.probe(staged, idx).withColumn("batch_id", lit(batchId))
      if (!spark.catalog.tableExists(sinkTable))
        novel.write.partitionBy("batch_id").saveAsTable(sinkTable)
      else if (sinkSlice.isEmpty) {
        val cols = spark.table(sinkTable).columns
        novel.select(cols.map(col).toIndexedSeq: _*)
          .write.mode("append").insertInto(sinkTable)
      }
      val rows = g.indexRows(sinkSlice)
      val marker = spark.range(1).select(rows.schema.fields.map(f =>
        lit(null).cast(f.dataType).as(f.name)).toIndexedSeq: _*)
      g.group(rows.unionByName(marker)
          .withColumn(g.pfxCol, g.pfx)
          .withColumn("batch_id", lit(batchId)))
        .write.mode("append").partitionBy("batch_id", g.pfxCol)
        .saveAsTable(indexTable)
    }
  }

  /** The streaming novelty-ingest sink: each micro-batch runs `ingest`,
    * one of the `*NoveltyIngestBatch` entries over `indexTable` and
    * `sinkTable` —
    * {{{
    * startNoveltyIngest(stream, "/ckpt", "img_idx", "img_sink")(
    *   imageNoveltyIngestBatch(_, _, "img_idx", "img_sink"))
    * }}}
    * — so the stream continuously dedups against its own history
    * (create the index first with the geometry's create function).
    * Every `compactEvery` micro-batches (0 disables) the committed
    * batch partitions of both tables fold ([[compactBatchTable]]), which
    * keeps a continuous ingest's partition count bounded. */
  def startNoveltyIngest(stream: DataFrame, checkpoint: String,
                         indexTable: String, sinkTable: String,
                         compactEvery: Int = 0)(
                         ingest: (DataFrame, Long) => Unit)
      : StreamingQuery =
    stream.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        ingest(batch, batchId)
        maybeCompact(batch.sparkSession, batchId, compactEvery,
          indexTable, sinkTable)
      }
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .start()

  /** [[ingestBatch]] over the signature geometry
    * ([[createSignatureIndex]]): `sign` decodes arrivals to a 64-bit
    * `sigCol`, probed by the banded hamming join
    * ([[noveltyBandedJoin]]) against the band-exploded,
    * prefix-partitioned, pre-capped index. */
  private def signatureIngestBatch(batch: DataFrame, batchId: Long,
                                   indexTable: String, sinkTable: String,
                                   maxHamming: Int,
                                   sign: DataFrame => DataFrame,
                                   sigCol: String,
                                   collapseIntraBatch: Boolean): Unit =
    ingestBatch(batch, batchId, indexTable, sinkTable,
      new IngestGeometry("signature", "createSignatureIndex", "band_pfx",
          BandedProbeNames :+ "__graft_repsig") {
        // the table's declared candidate cap k and prefix grain
        private lazy val props = tablePropsOf(batch.sparkSession, indexTable)
        private lazy val k = props(CappedKProp).toInt
        private lazy val shift = props(PfxShiftProp).toInt
        override def staged(b: DataFrame)(use: DataFrame => Unit): Unit =
          persisted(sign(b)) { cached =>
            use(if (collapseIntraBatch)
              collapseBySignature(cached, sigCol, maxHamming) else cached)
          }
        // candidates were capped at append/compaction time: the probe
        // plan has NO Window over the index, and band_pfx gives the
        // prefix-pruned read
        def probe(staged: DataFrame, idx: DataFrame): DataFrame =
          noveltyBandedJoin(staged, sigCol, idx, maxHamming,
            maxBucket = Int.MaxValue, pfxShift = shift)
        def indexRows(slice: DataFrame): DataFrame =
          graft.llm.Multimodal.bandIndexRows(slice, sigCol)
        def pfx: Column = sigBandPfx(col("band_key"), shift)
        // the batch's contribution is its own bottom-k per band bucket —
        // a window over BATCH-sized data, never over the index. Between
        // compactions a bucket may hold up to k·batches candidates
        // (decisions err strictly TOWARD the uncapped truth);
        // compactBatchTable re-tightens the base to exactly bottom-k. A
        // contribution with ≤ k banded rows IN TOTAL cannot overfill any
        // bucket, so a small batch — the trickle regime, where fixed
        // per-batch cost IS the bill — skips the window's shuffle and
        // writes single-task (same files, no pre-write exchange). The
        // input is the sink TABLE's committed partition (deterministic
        // files), so the guard count and the write may both evaluate
        // it. A cap-disabled index (k = Int.MaxValue) can never
        // overfill a bucket: no window and no count (k + 1 would
        // overflow limit()).
        override def group(rows: DataFrame): DataFrame =
          if (k == Int.MaxValue) groupForPartitionedWrite(rows, pfxCol)
          else if (rows.filter(col("sig").isNotNull).limit(k + 1).count()
              <= k) rows.coalesce(1)
          else groupForPartitionedWrite(
            bottomK(rows, Seq("band_key"), k), pfxCol)
      })

  /** The novelty-ingest loop over image payloads: dHash signatures
    * ([[ingestBatch]], signature geometry). */
  def imageNoveltyIngestBatch(batch: DataFrame, batchId: Long,
                              indexTable: String, sinkTable: String,
                              maxHamming: Int = 3,
                              collapseIntraBatch: Boolean = false): Unit =
    signatureIngestBatch(batch, batchId, indexTable, sinkTable, maxHamming,
      graft.llm.Multimodal.withDhash, "dhash", collapseIntraBatch)

  /** The novelty-ingest loop over audio payloads: aFP fingerprints
    * ([[ingestBatch]], signature geometry). */
  def audioNoveltyIngestBatch(batch: DataFrame, batchId: Long,
                              indexTable: String, sinkTable: String,
                              maxHamming: Int = 3,
                              collapseIntraBatch: Boolean = false): Unit =
    signatureIngestBatch(batch, batchId, indexTable, sinkTable, maxHamming,
      graft.llm.Multimodal.withAfp, "afp", collapseIntraBatch)

  /** The novelty-ingest loop over text: SimHash60 signatures
    * ([[ingestBatch]], signature geometry) — the continuous
    * near-duplicate-text guard (each micro-batch dedups against every
    * document before it, the index is a growing table). Complements
    * [[decontaminateStream]] (fixed benchmark set) and
    * [[dedupStreamBySignature]] (intra-stream exact-signature state):
    * this one is cross-batch, near-duplicate, and unbounded-index. */
  def textNoveltyIngestBatch(batch: DataFrame, batchId: Long,
                             indexTable: String, sinkTable: String,
                             textCol: String = "text",
                             maxHamming: Int = 3,
                             collapseIntraBatch: Boolean = false): Unit =
    signatureIngestBatch(batch, batchId, indexTable, sinkTable, maxHamming,
      df => df.withColumn("simhash",
        graft.functions.SimHash60(lower(col(textCol)))),
      "simhash", collapseIntraBatch)

  // ------------------------------------------------------------------
  // maintained EMBEDDING novelty index — the semantic member of the
  // ingest family: arrivals are tested by exact cosine against an IVF
  // cell-partitioned vector index TABLE, novel ones land in the sink,
  // and their vectors JOIN the index so the next batch dedups against
  // everything before it
  // ------------------------------------------------------------------

  /** Create (replacing) an embedding novelty index for
    * [[embeddingNoveltyIngestBatch]]: rows `(cell, vec, batch_id)`
    * partitioned by `(batch_id, cell)` — `batch_id` is the replay
    * probe's metadata-pruned key, and `cell` is what makes the
    * per-batch PROBE partition-pruned: the batch's touched cells
    * become literal partition filters, so only |probed cells| / nlist
    * of the index is ever READ per batch. That is sub-O(index) —
    * a scale shape the signature index cannot offer (a hamming ball
    * has no cell; its probe scans the whole — shuffle-free — index).
    * The serving model (pre-trained centroids, e.g.
    * [[graft.llm.Similarity.ivfTrain]] over the seed or a sample)
    * persists beside the index in `<table>__cents` so later sessions
    * reload it. `seed` vectors are assigned to their cells and
    * recorded under batch_id = -1; an empty seed makes a cold-start
    * index; NULL seed vectors are skipped (no cell, no cosine). */
  def createEmbeddingIndex(spark: SparkSession, table: String,
                           seed: DataFrame, vecCol: String,
                           cents: Array[Array[Double]]): Unit = {
    checkTableName(table)
    require(cents.nonEmpty, "centroids must be non-empty — train with " +
      "Similarity.ivfTrain over the seed or a sample")
    spark.sql(s"DROP TABLE IF EXISTS ${quoted(table)}")
    spark.sql(s"DROP TABLE IF EXISTS ${quoted(table + "__cents")}")
    import spark.implicits._
    cents.zipWithIndex.map { case (w, i) => (i, w.toSeq) }.toSeq
      .toDF("cell", "w").write.saveAsTable(table + "__cents")
    // the index is EXISTS-probe state, so seed multiplicity is
    // semantically irrelevant — distinct it at create (r16,
    // dedupAssigned's hot-cell rule): a boilerplate seed with 10⁶
    // identical vectors would otherwise plant a permanent hot cluster
    // every future batch's in-cell probe pays. Zero-norm vectors are
    // dropped too (r16 ADVICE): their cosine is NULL under
    // cosineZeroSafe, so they can never supply duplicate evidence —
    // indexing them is pure dead weight, and because a recurring zero
    // vector is marked novel on EVERY batch the append path must
    // apply the same filter or the index accumulates duplicates of it
    // without bound (appends are otherwise distinct by construction:
    // a nonzero vector's second arrival is non-novel, never indexed)
    seed.select(col(vecCol).as("vec")).filter(col("vec").isNotNull)
      .filter(graft.functions.DotProduct(col("vec"), col("vec"))
        =!= lit(0.0))
      .distinct()
      .withColumn("cell",
        graft.llm.Similarity.nearestCell(col("vec"), cents))
      .withColumn("batch_id", lit(-1L))
      .select(col("cell"), col("vec"), col("batch_id"))
      .write.partitionBy("batch_id", "cell").saveAsTable(table)
    setTableProps(spark, table, Map(IndexKindProp -> "embedding"))
  }

  /** The novelty-ingest loop over embeddings ([[ingestBatch]] in cosine
    * space, index from [[createEmbeddingIndex]]):
    *
    *  - stage: the centroids reload from `<indexTable>__cents`
    *    (model-sized); `collapseIntraBatch` runs [[collapseByVector]]
    *    first (same cells, same threshold, cells over `collapseCellCap`
    *    distinct vectors take its guarded form);
    *  - probe: the batch's distinct non-null vectors are assigned
    *    map-only to their `multiProbe` nearest cells, the touched cells
    *    become LITERAL partition filters on the index read (only probed
    *    cells are read), and the cell equi-join + exact cosine ≥
    *    `threshold` ([[graft.llm.Dedup.cosine]], 6-decimal grain)
    *    yields the duplicate VECTORS, which anti-join the batch
    *    (vectors are joinable values; the loop needs no row identity);
    *  - index rows: the novel vectors, read back from the sink and
    *    assigned to their single nearest cell (the index side is
    *    single-assigned; `multiProbe` is the batch-side recall lever —
    *    the standard IVF convention); the marker row takes cell -1.
    *
    * Exact duplicates are ALWAYS found (identical vectors co-locate
    * under the deterministic assignment); near-dups straddling unprobed
    * cell boundaries can be missed — raise `multiProbe`. */
  def embeddingNoveltyIngestBatch(batch: DataFrame, batchId: Long,
                                  indexTable: String, sinkTable: String,
                                  vecCol: String, threshold: Double,
                                  multiProbe: Int = 1,
                                  collapseIntraBatch: Boolean = false,
                                  collapseCellCap: Int =
                                    graft.llm.Dedup.MaxCellGroups)
      : Unit = {
    require(multiProbe >= 1, s"multiProbe must be >= 1: $multiProbe")
    ingestBatch(batch, batchId, indexTable, sinkTable,
      new IngestGeometry("embedding", "createEmbeddingIndex", "cell",
          Seq("__graft_bvec", "__graft_iv", "__graft_pv",
            "__graft_repvec")) {
        private lazy val cents = batch.sparkSession
          .table(indexTable + "__cents")
          .collect().sortBy(_.getInt(0))
          .map(_.getSeq[Double](1).toArray)
        override def staged(b: DataFrame)(use: DataFrame => Unit): Unit =
          use(if (collapseIntraBatch)
            collapseByVector(b, vecCol, cents, threshold,
              maxCellVectors = collapseCellCap)
          else b)
        def probe(work: DataFrame, idx: DataFrame): DataFrame = {
          val bvec = col("__graft_bvec")
          val batchVecs = work.select(col(vecCol).as("__graft_bvec"))
            .filter(bvec.isNotNull).distinct()
            .localCheckpoint() // cells are both collected and joined below
          val probed =
            if (multiProbe <= 1)
              batchVecs.withColumn("cell",
                graft.llm.Similarity.nearestCell(bvec, cents))
            else
              graft.llm.Similarity.ivfAssign(
                  batchVecs.withColumn("__graft_pv", bvec),
                  "__graft_bvec", "__graft_pv", cents, multiProbe)
                .select(bvec, col("cell"))
          val slice = prunedToTouched(idx, "cell", probed.select(col("cell")))
            .filter(col("vec").isNotNull)
          // self-norms staged once per side (the dedupAssigned
          // convention); same doubles, same Round6 — bit-identical
          // probe decisions
          val dupVecs = probed
            .withColumn("__graft_bn2", graft.functions.DotProduct(bvec, bvec))
            .join(slice.select(col("cell"), col("vec").as("__graft_iv"),
                graft.functions.DotProduct(col("vec"), col("vec"))
                  .as("__graft_in2")),
              Seq("cell"))
            .filter(graft.functions.Round6(try_divide(
                graft.functions.DotProduct(bvec, col("__graft_iv")),
                sqrt(col("__graft_bn2") * col("__graft_in2")))) >= threshold)
            .select(bvec).distinct()
          work.join(dupVecs, col(vecCol) === bvec, "left_anti")
            .withColumn("novel", lit(true))
        }
        // zero-norm vectors are NOT indexed: cosineZeroSafe makes their
        // cosine NULL, so they pass no threshold — a recurring zero
        // vector is novel on every batch and would otherwise re-append
        // a duplicate (and probe-cost-bearing) index row each time,
        // while as index state it can never mark anything a duplicate
        def indexRows(slice: DataFrame): DataFrame = slice
          .select(col(vecCol).as("vec"))
          .filter(col("vec").isNotNull)
          .filter(graft.functions.DotProduct(col("vec"), col("vec"))
            =!= lit(0.0))
          .distinct()
        def pfx: Column = when(col("vec").isNull, lit(-1))
          .otherwise(graft.llm.Similarity.nearestCell(col("vec"), cents))
        override def group(rows: DataFrame): DataFrame = rows
      })
  }

  // ------------------------------------------------------------------
  // maintained MINHASH (Jaccard) novelty index: a document is a
  // near-duplicate of history iff it SHARES AN LSH BAND with an indexed
  // document (the Dedup.minhashNovelty rule), and novel documents' band
  // keys join the index so the next batch dedups against them
  // ------------------------------------------------------------------

  /** Band-EXISTENCE novelty probe: a signed frame (carrying a band-key
    * ARRAY column) against a one-band-per-row index. The frame's
    * distinct band arrays explode and semi-join the index on `band`;
    * arrays with ANY indexed band are duplicates and anti-join the
    * frame (band arrays are joinable values — all copies of a text
    * share the array, the ingest family's no-row-identity convention).
    * NULL band arrays pass through novel. Unlike the hamming probes
    * there is no candidate list and no verify step — band equality IS
    * the decision — so no bucket cap is needed: a hot band costs join
    * rows (AQE-splittable), never memory. On a `band_pfx`-partitioned
    * index ([[createBandIndex]]'s layout) the batch's touched
    * prefixes become literal partition filters (r14 — spec-pinned),
    * and the batch-sized frame builds the join's hash side, so the
    * index streams off the pruned scan with no exchange. */
  def noveltyBandExistsJoin(signed: DataFrame, bandsCol: String,
                            index: DataFrame): DataFrame = {
    rejectReserved(signed, BandExistsProbeNames, "noveltyBandExistsJoin")
    val barr = col("__graft_barr")
    val arrs0 = signed.select(col(bandsCol).as("__graft_barr"))
      .filter(barr.isNotNull).distinct()
    // prefix pruning (r14, verdict #1 — the string-geometry twin of
    // noveltyBandedJoin's): on a band_pfx-partitioned index
    // ([[createBandIndex]]'s layout) the batch's touched two-hex
    // prefixes (≤ 256 after distinct) become literal partition filters
    val hasPfx = index.columns.contains("band_pfx")
    val arrs = if (hasPfx) arrs0.localCheckpoint() else arrs0
    val idxSide =
      if (!hasPfx) index
      else prunedToTouched(index, "band_pfx", arrs
        .select(explode(barr).as("b"))
        .select(substring(col("b"), 1, 2).as("p")))
    val dupArrs = arrs
      .select(barr, explode(barr).as("__graft_band"))
      .join(idxSide.select(col("band").as("__graft_band"))
        .filter(col("__graft_band").isNotNull), Seq("__graft_band"))
      .select(barr).distinct()
    signed.join(dupArrs, col(bandsCol) === barr, "left_anti")
      .withColumn("novel", lit(true))
  }

  /** Create (replacing) a BAND-KEY index table for the MinHash ingest:
    * schema `(band STRING, band_pfx STRING, batch_id BIGINT)` — one
    * row per distinct band key — partitioned by `(batch_id, band_pfx)`
    * where the prefix is the band's first two hex characters (256
    * partitions — the string geometry of [[createSignatureIndex]]'s
    * band_pfx: the probe pushes the batch's touched prefixes as
    * literal partition filters). Same replay/maintenance layout
    * otherwise; like the signature index, unbucketed (the probe's
    * batch side is broadcast-sized, and prefix × bucket file
    * fragmentation was the measured r14 append cost). `seed` carries
    * a band-key ARRAY column (e.g.
    * [[graft.llm.Dedup.minhashBandArray]] over the existing corpus). */
  def createBandIndex(spark: SparkSession, table: String,
                      seed: DataFrame, bandsCol: String): Unit = {
    checkTableName(table)
    spark.sql(s"DROP TABLE IF EXISTS ${quoted(table)}")
    val rows = seed.select(explode(col(bandsCol)).as("band"))
      .filter(col("band").isNotNull).distinct()
      .withColumn("band_pfx", bandStrPfx(col("band")))
      .withColumn("batch_id", lit(-1L))
    groupForPartitionedWrite(rows, "band_pfx")
      .write.partitionBy("batch_id", "band_pfx")
      .saveAsTable(table)
    setTableProps(spark, table, Map(IndexKindProp -> "band"))
  }

  /** The novelty-ingest loop under the Jaccard/LSH rule ([[ingestBatch]],
    * index from [[createBandIndex]]): arrivals are signed map-only (the
    * native [[graft.functions.MinHashSig]] sliding window → `mh_bands`
    * md5 band keys, staged so the signature computes once per row),
    * tested for a shared band against the index
    * ([[noveltyBandExistsJoin]] — prefix-pruned scan, no index-side
    * exchange), and the novel rows' distinct band keys append under
    * this `batch_id`. Rows keep every caller column plus `mh_bands` and
    * `novel`; NULL-text rows carry NULL bands and are KEPT in the sink,
    * never indexed. `collapseIntraBatch` runs [[collapseByBands]]
    * first — same-batch band-sharing arrays collapse to one
    * representative each. */
  def minhashNoveltyIngestBatch(batch: DataFrame, batchId: Long,
                                indexTable: String, sinkTable: String,
                                textCol: String = "text",
                                n: Int = 3, k: Int = 16,
                                bands: Int = 4,
                                collapseIntraBatch: Boolean = false)
      : Unit = {
    require(k % bands == 0, s"bands must divide k: k=$k bands=$bands")
    ingestBatch(batch, batchId, indexTable, sinkTable,
      new IngestGeometry("band", "createBandIndex", "band_pfx",
          Seq("mh_bands", "__graft_mharr", "__graft_repbar") ++
            BandExistsProbeNames) {
        // the raw signature array is staged in its own projection
        // (referenced once per band — CollapseProject keeps
        // multi-referenced aliases staged, so MinHashSig runs once per
        // row)
        override def staged(b: DataFrame)(use: DataFrame => Unit): Unit =
          persisted(b
            .withColumn("__graft_mharr",
              graft.functions.MinHashSig(lower(col(textCol)), n, k))
            .withColumn("mh_bands", when(col(textCol).isNotNull,
              graft.llm.Dedup.minhashBandArray(col("__graft_mharr"), k,
                bands)))
            .drop("__graft_mharr")) { cached =>
            use(if (collapseIntraBatch) collapseByBands(cached, "mh_bands")
              else cached)
          }
        def probe(staged: DataFrame, idx: DataFrame): DataFrame =
          noveltyBandExistsJoin(staged, "mh_bands", idx)
        def indexRows(slice: DataFrame): DataFrame = slice
          .select(explode(col("mh_bands")).as("band"))
          .filter(col("band").isNotNull).distinct()
        def pfx: Column = bandStrPfx(col("band"))
      })
  }

  // ------------------------------------------------------------------
  // maintained EXACT-KEY novelty index — the 6th (and simplest)
  // geometry of the ingest family: an arrival is a duplicate iff its
  // KEY (url, content hash, external id) was seen in ANY prior batch.
  // The url-seen-before filter every crawl pipeline runs first.
  // ------------------------------------------------------------------

  /** `key_pfx` of a key index entry: pmod(xxhash64(key), 64) — 64
    * hash partitions (the exact-key geometry of [[sigBandPfx]], at the
    * measured append-cost sweet spot); NULL markers land in -1. */
  private def keyPfx(key: Column): Column =
    when(key.isNull, lit(-1L)).otherwise(pmod(xxhash64(key), lit(64L)))

  /** Create (replacing) a KEY index table for the exact-key novelty
    * ingest: schema `(key <seed key type>, key_pfx BIGINT,
    * batch_id BIGINT)` — one row per distinct key — partitioned by
    * `(batch_id, key_pfx)` where the prefix is `pmod(xxhash64(key),
    * 64)`: the probe pushes the batch's touched prefixes as literal
    * partition filters, so a trickle batch reads ≤ |batch|/64 of the
    * index. Same replay/maintenance layout as the other geometries.
    * `seed` carries the already-seen keys in `keyCol`. */
  def createKeyIndex(spark: SparkSession, table: String,
                     seed: DataFrame, keyCol: String): Unit = {
    checkTableName(table)
    val rows = seed.select(col(keyCol).as("key"))
      .filter(col("key").isNotNull).distinct()
      .withColumn("key_pfx", keyPfx(col("key")))
      .withColumn("batch_id", lit(-1L))
    spark.sql(s"DROP TABLE IF EXISTS ${quoted(table)}")
    groupForPartitionedWrite(rows, "key_pfx")
      .write.partitionBy("batch_id", "key_pfx")
      .saveAsTable(table)
    setTableProps(spark, table, Map(IndexKindProp -> "key"))
  }

  /** Exact-KEY novelty probe: rows whose `keyCol` equals ANY indexed
    * key are duplicates and dropped; NULL keys pass through novel
    * (absence of a key is absence of duplicate evidence — the family
    * convention). On a `key_pfx`-partitioned index
    * ([[createKeyIndex]]'s layout) the batch's touched prefixes become
    * literal partition filters, and the batch-sized distinct key set
    * builds the join's hash side — pruned, exchange-free, no state.
    *
    * The probe's key type must EQUAL the index key type: `key_pfx`
    * was computed from `xxhash64` of the INDEX's representation, and
    * xxhash64 is type-dependent (string '5' and int 5 hash apart), so
    * a coerced equality join under mismatched pruning would silently
    * mark true duplicates novel — rejected loudly instead. */
  def noveltyKeyExistsJoin(frame: DataFrame, keyCol: String,
                           index: DataFrame): DataFrame = {
    rejectReserved(frame, KeyProbeNames, "noveltyKeyExistsJoin")
    val k = col("__graft_key")
    val hasPfx = index.columns.contains("key_pfx")
    if (hasPfx) {
      val idxType = index.schema("key").dataType
      val frameType = frame.schema(keyCol).dataType
      require(frameType == idxType,
        s"noveltyKeyExistsJoin: batch key '$keyCol' is $frameType but " +
          s"the key index was built over $idxType — xxhash64 prefix " +
          "pruning is type-dependent, so a coerced join would silently " +
          "false-novel true duplicates; cast the batch key to the " +
          "index's type (or rebuild the index) first")
    }
    val keys0 = frame.select(col(keyCol).as("__graft_key"))
      .filter(k.isNotNull).distinct()
    val keys = if (hasPfx) keys0.localCheckpoint() else keys0
    val idxSide =
      if (!hasPfx) index
      else prunedToTouched(index, "key_pfx", keys.select(keyPfx(k).as("p")))
    val dupKeys = keys
      .join(idxSide.select(col("key").as("__graft_key"))
        .filter(col("__graft_key").isNotNull), Seq("__graft_key"),
        "left_semi")
    frame.join(dupKeys, col(keyCol) === k, "left_anti")
      .withColumn("novel", lit(true))
  }

  /** The novelty-ingest loop under key equality ([[ingestBatch]], index
    * from [[createKeyIndex]]): arrivals whose `keyCol` was seen in any
    * prior batch (or the seed) are dropped, novel rows land in the
    * sink, and their distinct keys append under this `batch_id`.
    * NULL-key rows are KEPT in the sink and never indexed. Rows sharing
    * a key pass together within one batch (history-only contract — for
    * exact keys an intra-batch collapse IS `dropDuplicates(keyCol)`
    * upstream, which needs a row identity this loop doesn't). */
  def keyNoveltyIngestBatch(batch: DataFrame, batchId: Long,
                            indexTable: String, sinkTable: String,
                            keyCol: String): Unit =
    ingestBatch(batch, batchId, indexTable, sinkTable,
      new IngestGeometry("key", "createKeyIndex", "key_pfx",
          KeyProbeNames) {
        def probe(staged: DataFrame, idx: DataFrame): DataFrame =
          noveltyKeyExistsJoin(staged, keyCol, idx)
        def indexRows(slice: DataFrame): DataFrame = slice
          .select(col(keyCol).as("key"))
          .filter(col("key").isNotNull).distinct()
        def pfx: Column = keyPfx(col("key"))
      })
}
