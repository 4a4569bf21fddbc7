package graft

import org.apache.spark.sql.functions._
import graft.streaming.Events
import scala.jdk.CollectionConverters._

class StreamingSpec extends SparkSpec {
  import spark.implicits._

  test("structured streaming tumbling agg matches batch result (AvailableNow)") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-stream").toString
    // file-stream source needs a directory; stage the single parquet file
    val inDir = java.nio.file.Paths.get(tmp, "in")
    java.nio.file.Files.createDirectories(inDir)
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sf/events.parquet"),
      inDir.resolve("events.parquet"))
    val stream = Events.readEventStream(spark, inDir.toString)
    assert(stream.isStreaming)
    val q = Events.startTumblingQuery(stream, s"$tmp/ckpt", s"$tmp/out")
    q.awaitTermination(120000)
    val streamed = spark.read.parquet(s"$tmp/out")
      .select($"win_start", $"event_type", $"n", $"sum_value")
    val batch = Events.tumblingCounts(Tables.load(spark, sf, "events"))
    // append-mode emits only watermark-closed windows: a subset of batch
    val sCnt = streamed.count()
    assert(sCnt > 0, "streaming emitted nothing")
    val joined = streamed.alias("s").join(batch.alias("b"),
      $"s.win_start" === $"b.win_start" && $"s.event_type" === $"b.event_type")
    assert(joined.filter($"s.n" =!= $"b.n").count() == 0,
      "streamed window counts disagree with batch")
    assert(joined.count() == sCnt, "streamed window missing from batch")
  }

  test("stream-stream interval join matches batch result (AvailableNow)") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-ssj").toString
    val inDir = java.nio.file.Paths.get(tmp, "in")
    java.nio.file.Files.createDirectories(inDir)
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sf/events.parquet"),
      inDir.resolve("events.parquet"))
    val stream = Events.readEventStream(spark, inDir.toString)
    val q = Events.startClickJoinQuery(stream, s"$tmp/ckpt", s"$tmp/out")
    q.awaitTermination(120000)
    val streamed = spark.read.parquet(s"$tmp/out")
      .select($"click_id", $"impression_id")
    val batch = Events.clickImpressionJoin(Tables.load(spark, sf, "events"))
      .select($"click_id", $"impression_id")
    assert(streamed.count() > 0, "streaming join emitted nothing")
    // a single drained micro-batch emits the complete inner join
    assert(streamed.exceptAll(batch).count() == 0)
    assert(batch.exceptAll(streamed).count() == 0)
  }

  test("batch session_window matches hand-rolled gaps-and-islands") {
    val ev = Tables.load(spark, sf, "events")
    val sess = Events.sessions(ev)
    // independent computation via lag/cumsum (the oracle shape)
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy($"user_id").orderBy($"ts")
    val brk = when(lag($"ts", 1).over(w).isNull ||
      $"ts".cast("long") - lag($"ts", 1).over(w).cast("long") > 1800, 1)
      .otherwise(0)
    val grouped = ev.withColumn("brk", brk)
      .withColumn("grp", sum($"brk").over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy($"user_id", $"grp")
      .agg(count(lit(1)).as("n_events2"))
    assert(sess.count() == grouped.count())
    assert(sess.agg(sum($"n_events")).head.getLong(0) == ev.count())
  }

  test("json props extraction") {
    val ev = Tables.load(spark, sf, "events")
    val k = Events.withProps(ev).select($"k")
    assert(k.filter($"k".isNull).count() == 0)
  }

  test("custom-state sessionization matches session_window (flatMapGroupsWithState)") {
    val ev = Tables.load(spark, sf, "events")
    val builtin = Events.sessions(ev)
      .select($"user_id", $"sess_start", $"sess_end", $"n_events")
    val custom = Events.sessionsCustomState(ev)
      .select($"user_id", $"sess_start", $"sess_end", $"n_events")
    assert(custom.count() == builtin.count())
    assert(custom.exceptAll(builtin).count() == 0)
    assert(builtin.exceptAll(custom).count() == 0)
  }

  test("streaming sessionizer: GroupState + event-time timeout emits all real sessions") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-sess").toString
    val inDir = java.nio.file.Paths.get(tmp, "in")
    java.nio.file.Files.createDirectories(inDir)
    val ev = Tables.load(spark, sf, "events").filter($"user_id" < 20)
    // file 1: the real events; file 2: one far-future sentinel per user
    // so the watermark advances past every real session's end and the
    // event-time timeouts actually fire (the sentinel sessions
    // themselves stay open and must NOT be emitted)
    ev.select($"event_id", unix_micros($"ts").as("ts"), $"user_id",
        $"event_type", $"value", $"props")
      .withColumn("ts", $"ts" * 1000) // nanos, matching the source schema
      .coalesce(1).write.parquet(s"$inDir/batch1")
    val far = ev.agg(max(unix_micros($"ts"))).head.getLong(0) +
      30L * 24 * 3600 * 1000000
    ev.groupBy($"user_id").agg(min($"event_id").as("event_id"))
      .select(($"event_id" + 1000000).as("event_id"),
        lit(far * 1000).as("ts"), $"user_id",
        lit("sentinel").as("event_type"), lit(0.0).as("value"),
        lit("{}").as("props"))
      .coalesce(1).write.parquet(s"$inDir/batch2")
    // stage as two sequential files → two micro-batches (file source
    // sorts by path; timeouts fire after batch2 advances the watermark)
    def stage(sub: String, dst: String): Unit = {
      val f = java.nio.file.Files.list(java.nio.file.Paths.get(s"$inDir/$sub"))
        .filter(_.toString.endsWith(".parquet")).findFirst().get()
      java.nio.file.Files.move(f, java.nio.file.Paths.get(s"$inDir/$dst"))
    }
    stage("batch1", "a.parquet"); stage("batch2", "b.parquet")
    val stream = Events.readEventStream(spark, inDir.toString)
      .where($"event_id".isNotNull) // no-op, keeps the plan streaming
    val out = Events.sessionsCustomStateStreaming(stream)
    val q = out.writeStream
      .outputMode("append")
      .option("checkpointLocation", s"$tmp/ckpt")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .option("maxFilesPerTrigger", "1")
      .format("parquet").option("path", s"$tmp/out").start()
    q.awaitTermination(180000)
    val streamed = spark.read.parquet(s"$tmp/out")
      .select($"user_id", $"sess_start", $"sess_end", $"n_events")
    val batch = Events.sessionsCustomState(ev)
      .select($"user_id", $"sess_start", $"sess_end", $"n_events")
    // every real session emitted exactly once (closed in-batch or by
    // timeout); sentinel sessions still open → absent
    assert(streamed.count() == batch.count(),
      s"streamed ${streamed.count()} sessions, batch ${batch.count()}")
    assert(streamed.exceptAll(batch).count() == 0)
    assert(batch.exceptAll(streamed).count() == 0)
  }

  test("sessionizer: CROSS-BATCH out-of-order arrival merges into the right session") {
    // r10 streaming review: the old operator emitted closed sessions
    // immediately (before watermark finality) and folded later-batch
    // out-of-order events into whatever was open — producing wrong,
    // duplicate, and even end<start sessions. Regression: events at
    // T and T+1h in batch 1, then a VALID (above-watermark) event at
    // T+10min in batch 2 — correct output is [T, T+10min+gap) n=2 and
    // [T+1h, T+1h+gap) n=1, which requires batch-2's arrival to merge
    // into the FIRST session after batch 1 already saw both.
    val tmp = java.nio.file.Files.createTempDirectory("graft-sess-ooo").toString
    val inDir = java.nio.file.Paths.get(tmp, "in")
    java.nio.file.Files.createDirectories(inDir)
    val t0 = 1700000000L * 1000000 // us
    val far = t0 + 30L * 24 * 3600 * 1000000
    def wave(rows: Seq[(Long, Long, Long)], name: String): Unit =
      rows.map { case (id, tsUs, uid) =>
        (id, tsUs * 1000, uid, "e", 1.0, "{}") } // ts in NANOS
        .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .coalesce(1).write.parquet(s"$inDir/$name")
    wave(Seq((1L, t0, 1L), (2L, t0 + 3600L * 1000000, 1L)), "w1")
    wave(Seq((3L, t0 + 600L * 1000000, 1L)), "w2") // out of order, valid
    // watermark pushers on a SEPARATE key (their own sessions are
    // correct output too, so they must not pollute the assertion)
    wave(Seq((100L, far, 999L)), "w3")
    wave(Seq((101L, far + 86400L * 1000000, 999L)), "w4")
    def stage(sub: String, dst: String): Unit = {
      val f = java.nio.file.Files.list(java.nio.file.Paths.get(s"$inDir/$sub"))
        .filter(_.toString.endsWith(".parquet")).findFirst().get()
      java.nio.file.Files.move(f, java.nio.file.Paths.get(s"$inDir/$dst"))
    }
    stage("w1", "a.parquet"); stage("w2", "b.parquet")
    stage("w3", "c.parquet"); stage("w4", "d.parquet")
    val q = Events.sessionsCustomStateStreaming(
        Events.readEventStream(spark, inDir.toString), gapSeconds = 1800)
      .writeStream.outputMode("append")
      .option("checkpointLocation", s"$tmp/ckpt")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .option("maxFilesPerTrigger", "1")
      .format("parquet").option("path", s"$tmp/out").start()
    q.awaitTermination(180000)
    val got = spark.read.parquet(s"$tmp/out")
      .filter($"user_id" === 1L)
      .select($"user_id", unix_micros($"sess_start"),
        unix_micros($"sess_end"), $"n_events")
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(got === Set(
      (1L, t0, t0 + (600L + 1800L) * 1000000, 2L),
      (1L, t0 + 3600L * 1000000, t0 + (3600L + 1800L) * 1000000, 1L)),
      s"got $got")
  }

  test("gap-fill: a tick is NOT final until the watermark passes its bucket END") {
    // r10 streaming review: the old operator emitted a tick once the
    // watermark passed the tick START, then silently evicted a valid
    // later arrival inside the same bucket — corrupting the fill and
    // the LOCF carry. Regression: obs A lands in a bucket; the
    // watermark creeps past the bucket start (pusher keys); obs B
    // (valid, later ts, same bucket) arrives in a LATER batch; only
    // then does the watermark pass the bucket end. Correct fill = B.
    val tmp = java.nio.file.Files.createTempDirectory("graft-gfs-ooo").toString
    val inDir = java.nio.file.Paths.get(tmp, "in")
    java.nio.file.Files.createDirectories(inDir)
    val g0 = 1700000400L * 1000000 // us, divisible by the 600 s step
    val far = g0 + 30L * 24 * 3600 * 1000000
    def wave(rows: Seq[(Long, Long, Long, Double)], name: String): Unit =
      rows.map { case (id, tsUs, key, v) =>
        (id, tsUs * 1000, key, "e", v, "{}") }
        .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .coalesce(1).write.parquet(s"$inDir/$name")
    wave(Seq((1L, g0 + 10L * 1000000, 1L, 1.0),
      (900L, g0 + 3620L * 1000000, 9001L, 0.0)), "w1") // wm → g0+20
    wave(Seq((901L, g0 + 3625L * 1000000, 9002L, 0.0)), "w2")
    wave(Seq((2L, g0 + 300L * 1000000, 1L, 2.0)), "w3") // same bucket!
    wave(Seq((902L, far, 9003L, 0.0)), "w4")
    wave(Seq((903L, far + 86400L * 1000000, 9004L, 0.0)), "w5")
    def stage(sub: String, dst: String): Unit = {
      val f = java.nio.file.Files.list(java.nio.file.Paths.get(s"$inDir/$sub"))
        .filter(_.toString.endsWith(".parquet")).findFirst().get()
      java.nio.file.Files.move(f, java.nio.file.Paths.get(s"$inDir/$dst"))
    }
    stage("w1", "a.parquet"); stage("w2", "b.parquet")
    stage("w3", "c.parquet"); stage("w4", "d.parquet")
    stage("w5", "e.parquet")
    val q = Events.gapFillStream(
        Events.readEventStream(spark, inDir.toString),
        "user_id", "ts", "event_id", "value", stepSec = 600L)
      .writeStream.outputMode("append")
      .option("checkpointLocation", s"$tmp/ckpt")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .option("maxFilesPerTrigger", "1")
      .format("parquet").option("path", s"$tmp/out").start()
    q.awaitTermination(180000)
    val got = spark.read.parquet(s"$tmp/out")
      .filter($"key" === 1L)
      .select(unix_micros($"tick"), $"filled", $"observed")
      .as[(Long, Double, Boolean)].collect().toSet
    assert(got === Set((g0, 2.0, true)), s"got $got")
  }

  test("streaming as-of enrichment matches the batch as-of join " +
      "(tolerance-bounded state, watermark-final emission)") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-asofs").toString
    val inDir = java.nio.file.Paths.get(tmp, "in")
    java.nio.file.Files.createDirectories(inDir)
    val ev = Tables.load(spark, sf, "events").filter($"user_id" < 20)
    // batch1: the real events; batch2: far-future sentinels per user so
    // the watermark passes every real left timestamp (sentinel lefts
    // stay pending forever and must NOT emit; sentinel rights are
    // beyond every real left's tolerance)
    ev.select($"event_id", unix_micros($"ts").as("ts"), $"user_id",
        $"event_type", $"value", $"props")
      .withColumn("ts", $"ts" * 1000)
      .coalesce(1).write.parquet(s"$inDir/batch1")
    val far = ev.agg(max(unix_micros($"ts"))).head.getLong(0) +
      30L * 24 * 3600 * 1000000
    ev.groupBy($"user_id").agg(min($"event_id").as("event_id"))
      .select(($"event_id" + 1000000).as("event_id"),
        lit(far * 1000).as("ts"), $"user_id",
        lit("sentinel").as("event_type"), lit(0.0).as("value"),
        lit("{}").as("props"))
      .coalesce(1).write.parquet(s"$inDir/batch2")
    def stage(sub: String, dst: String): Unit = {
      val f = java.nio.file.Files.list(java.nio.file.Paths.get(s"$inDir/$sub"))
        .filter(_.toString.endsWith(".parquet")).findFirst().get()
      java.nio.file.Files.move(f, java.nio.file.Paths.get(s"$inDir/$dst"))
    }
    stage("batch1", "a.parquet"); stage("batch2", "b.parquet")
    val src = Events.readEventStream(spark, inDir.toString)
    val leftS = src.filter(pmod($"event_id", lit(2)) === 1)
      .select($"user_id".as("key"), $"ts", $"event_id".as("id"))
    val rightS = src.filter(pmod($"event_id", lit(2)) === 0)
      .select($"user_id".as("key"), $"ts", $"value".as("rv"))
    val q = Events.asOfEnrichStream(leftS, rightS, toleranceSec = 1800)
      .writeStream.outputMode("append")
      .option("checkpointLocation", s"$tmp/ckpt")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .option("maxFilesPerTrigger", "1")
      .format("parquet").option("path", s"$tmp/out").start()
    q.awaitTermination(180000)
    val streamed = spark.read.parquet(s"$tmp/out")
      .select($"id", $"key", $"ts", $"rv")
    // batch reference over the REAL events only — identical semantics
    // required: backward as-of with 30-minute tolerance, left-outer
    val lb = ev.filter(pmod($"event_id", lit(2)) === 1)
      .select($"event_id", $"user_id", $"ts")
    val rb = ev.filter(pmod($"event_id", lit(2)) === 0)
      .select($"user_id", $"ts", $"value".as("rv"))
    val batch = graft.operators.AsOfJoin.asOf(lb, rb, "user_id", "ts",
        Seq("rv"), Some(expr("INTERVAL 30 MINUTES")))
      .select($"event_id".as("id"), $"user_id".as("key"), $"ts",
        $"r_rv".as("rv"))
    assert(streamed.count() == batch.count(),
      s"streamed ${streamed.count()} vs batch ${batch.count()}")
    assert(streamed.exceptAll(batch).count() == 0 &&
      batch.exceptAll(streamed).count() == 0)
    // some rows matched and some exercised the left-outer null path
    assert(streamed.filter($"rv".isNotNull).count() > 0)
    assert(streamed.filter($"rv".isNull).count() > 0)
  }

  test("streaming rolling trailing features equal the batch operator " +
      "(horizon-bounded state, watermark-final emission)") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-rolls").toString
    val inDir = java.nio.file.Paths.get(tmp, "in")
    java.nio.file.Files.createDirectories(inDir)
    val ev = Tables.load(spark, sf, "events").filter($"user_id" < 20)
    ev.select($"event_id", unix_micros($"ts").as("ts"), $"user_id",
        $"event_type", $"value", $"props")
      .withColumn("ts", $"ts" * 1000)
      .coalesce(1).write.parquet(s"$inDir/batch1")
    // far-future sentinels advance the watermark past every real event;
    // they stay pending forever and must not emit
    val far = ev.agg(max(unix_micros($"ts"))).head.getLong(0) +
      30L * 24 * 3600 * 1000000
    ev.groupBy($"user_id").agg(min($"event_id").as("event_id"))
      .select(($"event_id" + 1000000).as("event_id"),
        lit(far * 1000).as("ts"), $"user_id",
        lit("sentinel").as("event_type"), lit(0.0).as("value"),
        lit("{}").as("props"))
      .coalesce(1).write.parquet(s"$inDir/batch2")
    def stage(sub: String, dst: String): Unit = {
      val f = java.nio.file.Files.list(java.nio.file.Paths.get(s"$inDir/$sub"))
        .filter(_.toString.endsWith(".parquet")).findFirst().get()
      java.nio.file.Files.move(f, java.nio.file.Paths.get(s"$inDir/$dst"))
    }
    stage("batch1", "a.parquet"); stage("batch2", "b.parquet")
    val src = Events.readEventStream(spark, inDir.toString)
      .select($"user_id".as("key"), $"ts", $"event_id", $"value")
    val q = Events.rollingStream(src, horizonSec = 3600)
      .writeStream.outputMode("append")
      .option("checkpointLocation", s"$tmp/ckpt")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .option("maxFilesPerTrigger", "1")
      .format("parquet").option("path", s"$tmp/out").start()
    q.awaitTermination(180000)
    val streamed = spark.read.parquet(s"$tmp/out")
      .select($"event_id", $"roll_n", $"roll_sum")
    val batch = graft.operators.Rolling.trailing(
        ev.select($"event_id", $"user_id", $"ts", $"value"),
        "user_id", "ts", "value", 3600L)
      .select($"event_id", $"roll_n", $"roll_sum")
    assert(streamed.count() == batch.count(),
      s"streamed ${streamed.count()} vs batch ${batch.count()}")
    assert(streamed.exceptAll(batch).count() == 0 &&
      batch.exceptAll(streamed).count() == 0)
    // the horizon actually groups events (some frame has n > 1)
    assert(streamed.filter($"roll_n" > 1).count() > 0)
  }

  test("streaming gap-fill equals the batch operator on a drained stream") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-gfs").toString
    val inDir = java.nio.file.Paths.get(tmp, "in")
    java.nio.file.Files.createDirectories(inDir)
    val ev = Tables.load(spark, sf, "events").filter($"user_id" < 20)
    ev.select($"event_id", unix_micros($"ts").as("ts"), $"user_id",
        $"event_type", $"value", $"props")
      .withColumn("ts", $"ts" * 1000)
      .coalesce(1).write.parquet(s"$inDir/batch1")
    // sentinels on SHIFTED keys: they advance the global watermark past
    // every real tick but never touch a real key's spine (and their own
    // single far-future tick stays beyond the final watermark → no rows)
    val far = ev.agg(max(unix_micros($"ts"))).head.getLong(0) +
      30L * 24 * 3600 * 1000000
    ev.groupBy($"user_id").agg(min($"event_id").as("event_id"))
      .select(($"event_id" + 1000000).as("event_id"),
        lit(far * 1000).as("ts"), ($"user_id" + 10000).as("user_id"),
        lit("sentinel").as("event_type"), lit(0.0).as("value"),
        lit("{}").as("props"))
      .coalesce(1).write.parquet(s"$inDir/batch2")
    // a THIRD sentinel wave: timeouts registered while processing the
    // final data batch never fire under AvailableNow (no trailing
    // no-data batch), so one more data batch must run with the
    // advanced watermark to drain the per-key tails
    ev.groupBy($"user_id").agg(min($"event_id").as("event_id"))
      .select(($"event_id" + 2000000).as("event_id"),
        lit((far + 86400L * 1000000) * 1000).as("ts"),
        ($"user_id" + 20000).as("user_id"),
        lit("sentinel").as("event_type"), lit(0.0).as("value"),
        lit("{}").as("props"))
      .coalesce(1).write.parquet(s"$inDir/batch3")
    def stage(sub: String, dst: String): Unit = {
      val f = java.nio.file.Files.list(java.nio.file.Paths.get(s"$inDir/$sub"))
        .filter(_.toString.endsWith(".parquet")).findFirst().get()
      java.nio.file.Files.move(f, java.nio.file.Paths.get(s"$inDir/$dst"))
    }
    stage("batch1", "a.parquet"); stage("batch2", "b.parquet")
    stage("batch3", "c.parquet")
    // sentinels flow THROUGH the operator on their own shifted keys: a
    // pre-filter would be pushed below the watermark node and their
    // event times would never advance the watermark. Wave-2 sentinel
    // keys emit one single-tick spine row each once wave 3 moves the
    // watermark past them — excluded from the comparison by key below;
    // wave-3 keys stay below the final watermark and emit nothing.
    val src = Events.readEventStream(spark, inDir.toString)
    val q = Events.gapFillStream(src, "user_id", "ts", "event_id",
        "value", stepSec = 600L)
      .writeStream.outputMode("append")
      .option("checkpointLocation", s"$tmp/ckpt")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .option("maxFilesPerTrigger", "1")
      .format("parquet").option("path", s"$tmp/out").start()
    q.awaitTermination(180000)
    val streamed = spark.read.parquet(s"$tmp/out")
      .filter($"key" < 10000)
      .select($"key", $"tick", $"filled", $"observed")
    val batch = graft.operators.GapFill.gapFill(ev, "user_id", "ts",
        "event_id", "value", stepSec = 600L)
      .select($"key", $"tick", $"filled", $"observed")
    assert(streamed.count() == batch.count(),
      s"streamed ${streamed.count()} ticks, batch ${batch.count()}")
    assert(streamed.exceptAll(batch).count() == 0 &&
      batch.exceptAll(streamed).count() == 0)
    // the grid really has carried (unobserved) ticks in it
    assert(streamed.filter(!$"observed").count() > 0)
  }

  test("streaming dedup drops duplicate event_ids with watermark-bounded state") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-dedup").toString
    val inDir = java.nio.file.Paths.get(tmp, "in")
    java.nio.file.Files.createDirectories(inDir)
    // the same file twice → every event_id arrives twice
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sf/events.parquet"),
      inDir.resolve("a.parquet"))
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sf/events.parquet"),
      inDir.resolve("b.parquet"))
    val stream = Events.readEventStream(spark, inDir.toString)
    val q = Events.startDedupQuery(stream, s"$tmp/ckpt", s"$tmp/out")
    q.awaitTermination(120000)
    val streamed = spark.read.parquet(s"$tmp/out")
    val expected = Tables.load(spark, sf, "events")
      .select($"event_id").distinct().count()
    assert(streamed.select($"event_id").distinct().count() ==
      streamed.count(), "duplicates survived the streaming dedup")
    assert(streamed.count() == expected)
  }

  test("deterministic split/sample are stream-safe (map-only, batch-equal)") {
    import org.apache.spark.sql.types._
    import org.apache.spark.sql.streaming.{OutputMode, Trigger}
    val tmp = java.nio.file.Files.createTempDirectory("graft-split").toString
    val inDir = java.nio.file.Paths.get(tmp, "in")
    java.nio.file.Files.createDirectories(inDir)
    val docs = Tables.load(spark, sf, "documents")
      .select($"doc_id", $"lang").limit(200)
    docs.coalesce(1).write.mode("overwrite")
      .parquet(inDir.resolve("batch").toString)
    val stream = spark.readStream
      .schema(StructType(Seq(StructField("doc_id", LongType),
        StructField("lang", StringType))))
      .parquet(inDir.resolve("batch").toString)
    // the id-hash split/sample decisions are pure projections, so the
    // SAME code runs on the stream — reproducible splits at ingestion
    val q = graft.llm.TextAnalysis.stratifiedSample(stream,
        "doc_id", "lang", Map("en" -> 0.5), defaultRate = 0.25)
      .writeStream
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", s"$tmp/ckpt")
      .trigger(Trigger.AvailableNow())
      .format("parquet")
      .option("path", s"$tmp/out")
      .start()
    q.awaitTermination(120000)
    val streamed = spark.read.parquet(s"$tmp/out")
    val batch = graft.llm.TextAnalysis.stratifiedSample(docs,
      "doc_id", "lang", Map("en" -> 0.5), defaultRate = 0.25)
    assert(streamed.count() == 200)
    assert(streamed.select($"doc", $"stratum", $"keep")
      .exceptAll(batch.select($"doc", $"stratum", $"keep")).count() == 0)
  }

  test("binned range join is stream-safe against a static interval table") {
    import org.apache.spark.sql.types._
    import org.apache.spark.sql.streaming.{OutputMode, Trigger}
    val tmp = java.nio.file.Files.createTempDirectory("graft-rjs").toString
    val inDir = java.nio.file.Paths.get(tmp, "in")
    java.nio.file.Files.createDirectories(inDir)
    val points = Tables.load(spark, sf, "lineitem")
      .select(($"l_orderkey" * 10 + $"l_linenumber").as("pid"),
        unix_timestamp($"l_shipdate").as("p")).limit(2000)
    points.coalesce(1).write.mode("overwrite")
      .parquet(inDir.resolve("batch").toString)
    val ivs = Tables.load(spark, sf, "orders")
      .filter($"o_orderkey" % 7 === 0)
      .select($"o_orderkey".as("iv_id"),
        unix_timestamp($"o_orderdate").as("lo"),
        (unix_timestamp($"o_orderdate") +
          ($"o_orderkey" % 40 + 1) * 86400L).as("hi"))
    val stream = spark.readStream
      .schema(StructType(Seq(StructField("pid", LongType),
        StructField("p", LongType))))
      .parquet(inDir.resolve("batch").toString)
    // stateless: bucket stamp is a projection, the static side is just
    // a (broadcastable) dimension — the SAME operator code runs on the
    // stream, tagging events with their windows at ingestion
    val q = graft.operators.RangeJoin.pointInInterval(stream, "p",
        ivs, "lo", "hi", bucketWidth = 86400L * 15)
      .select($"pid", $"iv_id")
      .writeStream
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", s"$tmp/ckpt")
      .trigger(Trigger.AvailableNow())
      .format("parquet")
      .option("path", s"$tmp/out")
      .start()
    q.awaitTermination(120000)
    val streamed = spark.read.parquet(s"$tmp/out")
    val batch = graft.operators.RangeJoin.pointInInterval(points, "p",
      ivs, "lo", "hi", bucketWidth = 86400L * 15).select($"pid", $"iv_id")
    assert(streamed.count() > 0)
    assert(streamed.exceptAll(batch).isEmpty &&
      batch.exceptAll(spark.read.parquet(s"$tmp/out")).isEmpty)
  }

  test("broadcast as-of join is stream-safe against a static dimension") {
    import org.apache.spark.sql.types._
    import org.apache.spark.sql.streaming.{OutputMode, Trigger}
    val tmp = java.nio.file.Files.createTempDirectory("graft-bas").toString
    val inDir = java.nio.file.Paths.get(tmp, "in")
    java.nio.file.Files.createDirectories(inDir)
    val ev = Tables.load(spark, sf, "events")
    val left = ev.filter(pmod($"event_id", lit(2)) === 1)
      .select($"event_id", $"user_id", unix_micros($"ts").as("tsu"))
    left.coalesce(1).write.mode("overwrite")
      .parquet(inDir.resolve("batch").toString)
    val right = ev.filter(pmod($"event_id", lit(2)) === 0)
      .groupBy($"user_id", unix_micros($"ts").as("tsu"))
      .agg(max($"value").as("rv"))
    val stream = spark.readStream
      .schema(StructType(Seq(StructField("event_id", LongType),
        StructField("user_id", LongType), StructField("tsu", LongType))))
      .parquet(inDir.resolve("batch").toString)
    // zero state: the broadcast index resolves the as-of match in a
    // map, the payload fetch is a stream-static equi-join — full as-of
    // semantics on a live stream with a reference-data dimension
    val q = graft.operators.AsOfJoin.broadcastAsOf(stream, right,
        Seq("user_id"), "tsu", Seq("rv"))
      .writeStream
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", s"$tmp/ckpt")
      .trigger(Trigger.AvailableNow())
      .format("parquet")
      .option("path", s"$tmp/out")
      .start()
    q.awaitTermination(120000)
    val streamed = spark.read.parquet(s"$tmp/out")
    val batch = graft.operators.AsOfJoin.broadcastAsOf(left, right,
      Seq("user_id"), "tsu", Seq("rv"))
    assert(streamed.count() === batch.count())
    assert(streamed.exceptAll(batch).isEmpty &&
      batch.exceptAll(streamed).isEmpty)
  }

  test("streaming decontamination drops contaminated docs at ingestion") {
    import org.apache.spark.sql.types._
    import org.apache.spark.sql.streaming.{OutputMode, Trigger}
    val tmp = java.nio.file.Files.createTempDirectory("graft-decon").toString
    val inDir = java.nio.file.Paths.get(tmp, "in")
    java.nio.file.Files.createDirectories(inDir)
    val docs = Tables.load(spark, sf, "documents")
      .select($"doc_id", $"text").limit(200)
    docs.coalesce(1).write.mode("overwrite")
      .parquet(inDir.resolve("batch").toString)
    val bench = docs.filter($"doc_id" % 10 === 0)
    val set = graft.llm.Dedup.contaminationSet(bench, "text")
    val stream = spark.readStream
      .schema(StructType(Seq(StructField("doc_id", LongType),
        StructField("text", StringType))))
      .parquet(inDir.resolve("batch").toString)
    // map-only per-row decision: no watermark, no state required
    val q = Events.decontaminateStream(stream, "doc_id", "text", set)
      .writeStream
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", s"$tmp/ckpt")
      .trigger(Trigger.AvailableNow())
      .format("parquet")
      .option("path", s"$tmp/out")
      .start()
    q.awaitTermination(120000)
    val streamed = spark.read.parquet(s"$tmp/out")
    val expected = graft.llm.Dedup
      .decontaminate(docs, "doc_id", "text", bench, "text")
      .filter(!$"contaminated")
    assert(streamed.count() == expected.count())
    assert(streamed.select($"doc").exceptAll(expected.select($"doc"))
      .count() == 0)
    // every benchmark member is its own contamination → none survive
    assert(streamed.filter($"doc" % 10 === 0).count() == 0)
  }

  test("streaming DSIR scoring: fold logw equals the batch importance weights") {
    import org.apache.spark.sql.types._
    import org.apache.spark.sql.streaming.{OutputMode, Trigger}
    val tmp = java.nio.file.Files.createTempDirectory("graft-dsir").toString
    val inDir = java.nio.file.Paths.get(tmp, "in")
    java.nio.file.Files.createDirectories(inDir)
    val docs = Tables.load(spark, sf, "documents")
      .select($"doc_id", $"text").limit(200)
    val target = docs.filter($"doc_id" % 3 === 0)
    docs.coalesce(1).write.mode("overwrite")
      .parquet(inDir.resolve("batch").toString)
    val (model, defaultLr) = graft.llm.TextAnalysis.dsirModel(
      docs, target, "doc_id", "text", dim = 512)
    val stream = spark.readStream
      .schema(StructType(Seq(StructField("doc_id", LongType),
        StructField("text", StringType))))
      .parquet(inDir.resolve("batch").toString)
    val q = Events.dsirStream(stream, "text", model, defaultLr, dim = 512)
      .writeStream
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", s"$tmp/ckpt")
      .trigger(Trigger.AvailableNow())
      .format("parquet")
      .option("path", s"$tmp/out")
      .start()
    q.awaitTermination(120000)
    val streamed = spark.read.parquet(s"$tmp/out")
      .select($"doc_id", $"logw").as[(Long, Double)].collect().toMap
    val batch = graft.llm.TextAnalysis.dsirWeights(
        docs, target, "doc_id", "text", dim = 512)
      .select($"doc", $"logw").as[(Long, Double)].collect().toMap
    assert(streamed.keySet == batch.keySet && streamed.nonEmpty)
    // batch rounds to 6; the stream's fold order differs only in float
    // addition order — parity within the rounding grain
    batch.foreach { case (d, lw) =>
      assert(math.abs(streamed(d) - lw) < 1e-6, s"doc $d") }
    // a raw-only doc must score below a target-member doc on average
    val tgtIds = batch.keySet.toSeq.filter(_ % 3 == 0)
    val rawIds = batch.keySet.toSeq.filterNot(_ % 3 == 0)
    assert(tgtIds.map(batch).sum / tgtIds.size >
      rawIds.map(batch).sum / rawIds.size)
  }

  test("streaming quality filter: fold margins equal the batch serving path") {
    import org.apache.spark.sql.types._
    import org.apache.spark.sql.streaming.{OutputMode, Trigger}
    val tmp = java.nio.file.Files.createTempDirectory("graft-clf").toString
    val inDir = java.nio.file.Paths.get(tmp, "in")
    java.nio.file.Files.createDirectories(inDir)
    val docs = Tables.load(spark, sf, "documents")
      .select($"doc_id", $"text").limit(200)
    docs.coalesce(1).write.mode("overwrite")
      .parquet(inDir.resolve("batch").toString)
    val wMap = (0 until 1024)
      .map(i => i -> ((i * 2654435761L) % 1001 - 500)).toMap
    val stream = spark.readStream
      .schema(StructType(Seq(StructField("doc_id", LongType),
        StructField("text", StringType))))
      .parquet(inDir.resolve("batch").toString)
    val q = Events.classifyStream(stream, "text", wMap, dim = 1024)
      .writeStream
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", s"$tmp/ckpt")
      .trigger(Trigger.AvailableNow())
      .format("parquet")
      .option("path", s"$tmp/out")
      .start()
    q.awaitTermination(120000)
    val streamed = spark.read.parquet(s"$tmp/out")
      .select($"doc_id".as("doc"), $"margin")
      .as[(Long, Long)].collect().toSet
    // batch ground truth: featurize + broadcast-join scoring
    val wDf = wMap.toSeq.map { case (d, w) => (d.toLong, w) }
      .toDF("dim", "w")
    val batch = graft.llm.TextAnalysis.scoreLinear(
        graft.llm.TextAnalysis.hashedFeatures(docs, "doc_id", "text",
          dim = 1024), wDf)
      .filter($"margin" > 0)
      .as[(Long, Long)].collect().toSet
    assert(streamed == batch && streamed.nonEmpty)
  }

  test("streaming near-dup dedup by SimHash signature (map-only expression)") {
    import org.apache.spark.sql.types._
    import org.apache.spark.sql.streaming.{OutputMode, Trigger}
    val tmp = java.nio.file.Files.createTempDirectory("graft-sigdedup").toString
    val inDir = java.nio.file.Paths.get(tmp, "in")
    java.nio.file.Files.createDirectories(inDir)
    // two copies of each document under different ids: every text (and
    // so every signature) arrives at least twice
    val docs = Tables.load(spark, sf, "documents")
      .select($"doc_id", $"text").limit(200)
    val doubled = docs.unionByName(
        docs.select(($"doc_id" + 100000).as("doc_id"), $"text"))
      .withColumn("ts", timestamp_seconds(lit(1700000000L) + $"doc_id" % 60))
    doubled.coalesce(1).write.mode("overwrite")
      .parquet(inDir.resolve("batch").toString)
    val stream = spark.readStream
      .schema(StructType(Seq(StructField("doc_id", LongType),
        StructField("text", StringType),
        StructField("ts", TimestampType))))
      .parquet(inDir.resolve("batch").toString)
      .withWatermark("ts", "1 hour")
    val q = Events.dedupStreamBySignature(stream, "text")
      .writeStream
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", s"$tmp/ckpt")
      .trigger(Trigger.AvailableNow())
      .format("parquet")
      .option("path", s"$tmp/out")
      .start()
    q.awaitTermination(120000)
    val streamed = spark.read.parquet(s"$tmp/out")
    // one survivor per distinct signature — the batch ground truth
    val expected = graft.llm.Dedup.simhash(doubled, "doc_id", "text")
      .select($"simhash").distinct().count()
    assert(streamed.count() == expected,
      s"got ${streamed.count()}, want $expected")
    assert(streamed.select($"simhash").distinct().count() ==
      streamed.count(), "near-duplicates survived the signature dedup")
  }

  test("streaming upsert sink: per-batch MERGE, last version per key wins") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-upsert").toString
    val inDir = java.nio.file.Paths.get(tmp, "in")
    java.nio.file.Files.createDirectories(inDir)
    def wave(rows: Seq[(Option[Long], String, Long)], name: String): Unit = {
      rows.toDF("k", "v", "ord")
        .coalesce(1).write.parquet(s"$inDir/stage_$name")
      val f = java.nio.file.Files
        .list(java.nio.file.Paths.get(s"$inDir/stage_$name"))
        .filter(_.toString.endsWith(".parquet")).findFirst().get()
      java.nio.file.Files.move(f,
        java.nio.file.Paths.get(s"$inDir/$name.parquet"))
    }
    // batch a: two keys plus a null-keyed row (no identity → dropped);
    // batch b: updates key 2, inserts key 3 with an IN-BATCH duplicate
    // (ord 3 must win the within-batch collapse)
    wave(Seq((Some(1L), "a1", 1L), (Some(2L), "b1", 1L),
      (None, "junk", 1L)), "a")
    wave(Seq((Some(2L), "b2", 2L), (Some(3L), "c2", 2L),
      (Some(3L), "c3", 3L)), "b")
    val table = "graft_upsert_sink_test"
    spark.sql(s"DROP TABLE IF EXISTS $table")
    val sch = spark.read.parquet(s"$inDir/a.parquet").schema
    val stream = spark.readStream.schema(sch)
      .option("maxFilesPerTrigger", "1").parquet(inDir.toString)
    val q = Events.startUpsertQuery(stream, s"$tmp/ckpt", table,
      Seq("k"), "ord")
    q.awaitTermination(120000)
    def state() = spark.table(table).orderBy($"k").collect()
      .map(r => (if (r.isNullAt(0)) -1L else r.getLong(0),
        r.getString(1), r.getLong(2))).toSeq
    assert(state() == Seq((1L, "a1", 1L), (2L, "b2", 2L), (3L, "c3", 3L)))
    // replay safety: re-applying batch b's content leaves the table
    // unchanged (the foreachBatch re-delivery case)
    Events.upsertBatch(
      Seq((Some(2L), "b2", 2L), (Some(3L), "c2", 2L), (Some(3L), "c3", 3L))
        .toDF("k", "v", "ord"), table, Seq("k"), "ord")
    assert(state() == Seq((1L, "a1", 1L), (2L, "b2", 2L), (3L, "c3", 3L)))
    spark.sql(s"DROP TABLE IF EXISTS $table")
  }

  test("upsert rejects non-simple and reserved table names") {
    val b = Seq((1L, "a", 1L)).toDF("k", "v", "ord")
    // a name needing quoting would break the generated DROP/ALTER SQL
    intercept[IllegalArgumentException] {
      Events.upsertBatch(b, "bad name", Seq("k"), "ord")
    }
    intercept[IllegalArgumentException] {
      Events.upsertBatch(b, "t; DROP TABLE x", Seq("k"), "ord")
    }
    // reserved scratch suffixes: the swap would silently DROP them
    intercept[IllegalArgumentException] {
      Events.upsertBatch(b, "t__upsert_tmp", Seq("k"), "ord")
    }
    intercept[IllegalArgumentException] {
      Events.upsertBatch(b, "t__upsert_backup", Seq("k"), "ord")
    }
  }

  test("upsert crash recovery: replay after a mid-swap crash keeps history") {
    // ADVICE r11 (medium): the swap is two RENAMEs; a crash between
    // them leaves the target missing and its history parked in
    // __upsert_backup. The old code's tableExists check then took the
    // CREATE path on foreachBatch replay — rebuilding the table from
    // the replayed batch alone and silently dropping all prior merges.
    val table = "graft_upsert_crash_test"
    for (s <- Seq(table, s"${table}__upsert_tmp", s"${table}__upsert_backup"))
      spark.sql(s"DROP TABLE IF EXISTS $s")
    def state() = spark.table(table).orderBy($"k").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
    Events.upsertBatch(Seq((1L, "a1", 1L), (2L, "b1", 1L))
      .toDF("k", "v", "ord"), table, Seq("k"), "ord")
    // crash point: after `table RENAME TO backup`, before `tmp RENAME
    // TO table` — target gone, history only in backup
    spark.sql(s"ALTER TABLE $table RENAME TO ${table}__upsert_backup")
    Events.upsertBatch(Seq((2L, "b2", 2L), (3L, "c2", 2L))
      .toDF("k", "v", "ord"), table, Seq("k"), "ord")
    assert(state() == Seq((1L, "a1", 1L), (2L, "b2", 2L), (3L, "c2", 2L)),
      "batch-1 history must survive the replay")
    // crash point: tmp fully merged but the final rename never ran —
    // recovery promotes tmp (it already holds the merged result)
    spark.sql(s"ALTER TABLE $table RENAME TO ${table}__upsert_tmp")
    Events.upsertBatch(Seq((4L, "d1", 1L)).toDF("k", "v", "ord"),
      table, Seq("k"), "ord")
    assert(state() == Seq((1L, "a1", 1L), (2L, "b2", 2L), (3L, "c2", 2L),
      (4L, "d1", 1L)))
    for (s <- Seq(table, s"${table}__upsert_tmp", s"${table}__upsert_backup"))
      spark.sql(s"DROP TABLE IF EXISTS $s")
  }

  test("partition-scoped upsert: untouched partitions neither read nor rewritten") {
    val table = "graft_upsert_part_test"
    for (s <- Seq(table, s"${table}__upsert_tmp", s"${table}__upsert_backup"))
      spark.sql(s"DROP TABLE IF EXISTS $s")
    val b1 = (0L until 50L).map(i => (i, s"v$i", 1L, i % 5))
      .toDF("k", "v", "ord", "p")
    Events.upsertBatch(b1, table, Seq("k"), "ord", Seq("p"))
    val loc = spark.sessionState.catalog
      .getTableMetadata(
        org.apache.spark.sql.catalyst.TableIdentifier(table))
      .location.getPath
    def files(p: Long): Set[String] = {
      val d = java.nio.file.Paths.get(loc, s"p=$p")
      if (!java.nio.file.Files.exists(d)) Set.empty
      else {
        val s = java.nio.file.Files.list(d)
        try s.iterator().asScala.map(_.getFileName.toString)
          .filter(_.endsWith(".parquet")).toSet
        finally s.close()
      }
    }
    val before = (0L to 4L).map(p => p -> files(p)).toMap
    // capture every execution during batch 2 to audit the target scans
    val captured = capturedExecutions {
      // touches ONLY p=2 (keys 7 and 52 both land there; partition
      // value derives from the key — the stability contract)
      val b2 = Seq((7L, "v7b", 2L, 2L), (52L, "new", 2L, 2L))
        .toDF("k", "v", "ord", "p")
      Events.upsertBatch(b2, table, Seq("k"), "ord", Seq("p"))
    }
    // rewritten: only p=2's file set changed
    for (p <- 0L to 4L if p != 2L)
      assert(files(p) == before(p),
        s"untouched partition p=$p was rewritten")
    assert(files(2L) != before(2L), "touched partition p=2 not rewritten")
    // read: every scan of the target during the batch carried partition
    // filters and selected only the touched partition's files
    val targetScans = captured
      .flatMap(qe => planNodes(qe.executedPlan))
      .collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec
          if f.relation.location.rootPaths.exists(_.toString.contains(table))
            && !f.relation.location.rootPaths.exists(
                 _.toString.contains("__upsert_tmp")) => f
      }
    assert(targetScans.nonEmpty, "no target scan captured")
    for (f <- targetScans) {
      assert(f.partitionFilters.nonEmpty,
        s"target scan had no partition filters: ${f.metadata}")
      val read = f.metrics.get("numFiles").map(_.value).getOrElse(-1L)
      assert(read <= before(2L).size,
        s"scan read $read files — more than touched partition p=2's " +
          s"${before(2L).size}: untouched partitions were read")
    }
    // final state: k=7 updated, k=52 inserted, everything else intact
    val got = spark.table(table).orderBy($"k")
      .select($"k", $"v", $"ord").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
    val want = (0L until 50L).map(i =>
      (i, if (i == 7L) "v7b" else s"v$i", if (i == 7L) 2L else 1L)) :+
      (52L, "new", 2L)
    assert(got == want)
    for (s <- Seq(table, s"${table}__upsert_tmp", s"${table}__upsert_backup"))
      spark.sql(s"DROP TABLE IF EXISTS $s")
  }

  test("novelty join form: decisions identical to the plan-literal form") {
    val docs = Tables.load(spark, sf, "documents").limit(150)
    val media = graft.llm.Multimodal.syntheticContentImages(docs)
    val idxDf = graft.llm.Multimodal
      .dhashSignatures(media.filter($"media_id" < 30))
      .select($"dhash".as("sig"))
    val idxSeq = idxDf.collect().map(_.getLong(0)).toSeq
    val lit0 = Events.imageNoveltyStream(media, idxSeq)
      .select($"media_id", $"dhash", $"novel")
    val join0 = Events.imageNoveltyJoin(media, idxDf)
      .select($"media_id", $"dhash", $"novel")
    assert(lit0.exceptAll(join0).isEmpty && join0.exceptAll(lit0).isEmpty)
    assert(join0.count() > 0 && join0.count() < media.count())
    // audio twin
    val aud = graft.llm.Multimodal.syntheticContentAudio(docs)
    val aidxDf = graft.llm.Multimodal
      .audioFingerprints(aud.filter($"media_id" < 30))
      .select($"afp".as("sig"))
    val aidxSeq = aidxDf.collect().map(_.getLong(0)).toSeq
    val alit = Events.audioNoveltyStream(aud, aidxSeq)
      .select($"media_id", $"afp", $"novel")
    val ajoin = Events.audioNoveltyJoin(aud, aidxDf)
      .select($"media_id", $"afp", $"novel")
    assert(alit.exceptAll(ajoin).isEmpty && ajoin.exceptAll(alit).isEmpty)
    // the literal form is size-guarded: an index beyond the cap is
    // rejected with a pointer at the join form
    val e = intercept[IllegalArgumentException] {
      Events.imageNoveltyStream(media,
        (0L to Events.MaxLiteralIndexSigs.toLong).toSeq)
    }
    assert(e.getMessage.contains("NoveltyJoin"))
  }

  test("novelty ingest: index grows per batch, replay is a no-op") {
    val idxT = "nov_idx_g"; val sinkT = "nov_sink_g"
    for (t <- Seq(idxT, sinkT)) spark.sql(s"DROP TABLE IF EXISTS $t")
    val docs = Tables.load(spark, sf, "documents").limit(120)
    val media = graft.llm.Multimodal.syntheticContentImages(docs)
      .localCheckpoint()
    Events.createSignatureIndex(spark, idxT,
      graft.llm.Multimodal.dhashSignatures(media.filter($"media_id" < 30))
        .select($"dhash".as("sig")), "sig")
    assert(spark.table(idxT).count() > 0)
    val b1 = media.filter($"media_id" >= 30 && $"media_id" < 60)
    val b2 = media.filter($"media_id" >= 60 && $"media_id" < 120)
    // brute-force ground truth for the growing index (cross-seed
    // near-collisions exist in the synthetic corpus — the expected sets
    // must be computed, not assumed from the seed layout)
    val allSigs = graft.llm.Multimodal.dhashSignatures(media)
      .select($"media_id", $"dhash").as[(Long, Long)].collect().toMap
    def near(h: Long, s: Iterable[Long]) =
      s.exists(x => java.lang.Long.bitCount(x ^ h) <= 3)
    val seedSigs = (0L until 30L).map(allSigs)
    val novel1 = (30L until 60L).filter(id => !near(allSigs(id), seedSigs))
    val idx2 = seedSigs ++ novel1.map(allSigs)
    val expected2 = (60L until 120L).filter(id =>
      !near(allSigs(id), idx2)).toSet
    // growth must be OBSERVABLE: some batch-2 arrival is dropped only
    // because batch 1 grew the index (a static index would keep it)
    assert((60L until 120L).exists(id =>
      near(allSigs(id), novel1.map(allSigs)) &&
        !near(allSigs(id), seedSigs)))
    assert(expected2.nonEmpty)
    Events.imageNoveltyIngestBatch(b1, 0L, idxT, sinkT)
    assert(spark.table(sinkT).filter($"batch_id" === 0L)
      .select($"media_id").as[Long].collect().toSet == novel1.toSet)
    // the index is BAND-EXPLODED (4 rows per signature + 1 marker per
    // batch) — growth assertions count DISTINCT signatures
    def idxSigs() = spark.table(idxT).filter($"sig".isNotNull)
      .select($"sig").distinct().count()
    val idxAfter1 = idxSigs()
    // every index signature carries exactly its 4 band rows
    assert(spark.table(idxT).filter($"sig".isNotNull).count()
      == 4 * idxAfter1)
    Events.imageNoveltyIngestBatch(b2, 1L, idxT, sinkT)
    val kept2 = spark.table(sinkT).filter($"batch_id" === 1L)
      .select($"media_id").as[Long].collect().toSet
    assert(kept2 == expected2)
    // replay of batch 1 after full commit: pure no-op (probe hits the
    // marker row in the index's batch partition)
    val sinkBefore = spark.table(sinkT).count()
    val idxBefore = spark.table(idxT).count()
    Events.imageNoveltyIngestBatch(b1, 0L, idxT, sinkT)
    assert(spark.table(sinkT).count() == sinkBefore)
    assert(spark.table(idxT).count() == idxBefore)
    assert(idxSigs() == idxAfter1 + expected2.map(allSigs).size)
    // crash between sink and index appends: simulate by deleting the
    // index's batch-1 partition rows, then replay — decisions converge
    // (sink unchanged, index repaired)
    spark.sql(s"ALTER TABLE $idxT DROP IF EXISTS PARTITION (batch_id=1)")
    Events.imageNoveltyIngestBatch(b2, 1L, idxT, sinkT)
    assert(spark.table(sinkT).count() == sinkBefore)
    assert(spark.table(idxT).count() == idxBefore)
    for (t <- Seq(idxT, sinkT)) spark.sql(s"DROP TABLE IF EXISTS $t")
  }

  test("novelty ingest: streaming foreachBatch equals sequential batches") {
    import org.apache.spark.sql.types._
    val idxT = "nov_idx_s"; val sinkT = "nov_sink_s"
    for (t <- Seq(idxT, sinkT)) spark.sql(s"DROP TABLE IF EXISTS $t")
    val tmp = java.nio.file.Files.createTempDirectory("graft-novin").toString
    val docs = Tables.load(spark, sf, "documents").limit(120)
    val media = graft.llm.Multimodal.syntheticContentImages(docs)
      .localCheckpoint()
    // two source files → two AvailableNow micro-batches
    media.filter($"media_id" >= 30 && $"media_id" < 60)
      .coalesce(1).write.parquet(s"$tmp/in")
    media.filter($"media_id" >= 60 && $"media_id" < 120)
      .coalesce(1).write.mode("append").parquet(s"$tmp/in")
    Events.createSignatureIndex(spark, idxT,
      graft.llm.Multimodal.dhashSignatures(media.filter($"media_id" < 30))
        .select($"dhash".as("sig")), "sig")
    val stream = spark.readStream
      .schema(StructType(Seq(StructField("media_id", LongType),
        StructField("media_type", StringType),
        StructField("payload", BinaryType),
        StructField("n_bytes", LongType))))
      .option("maxFilesPerTrigger", 1)
      .parquet(s"$tmp/in")
    val q = Events.startNoveltyIngest(stream, s"$tmp/ckpt", idxT, sinkT)(
      Events.imageNoveltyIngestBatch(_, _, idxT, sinkT))
    q.awaitTermination(120000)
    val kept = spark.table(sinkT).select($"media_id").as[Long]
      .collect().toSet
    // micro-batch order is file order: the growth decisions match the
    // sequential batch-mode ground truth — first occurrences pass,
    // later copies are dropped against the GROWN index
    val allSigs = graft.llm.Multimodal.dhashSignatures(media)
      .select($"media_id", $"dhash").as[(Long, Long)].collect().toMap
    def near(h: Long, s: Iterable[Long]) =
      s.exists(x => java.lang.Long.bitCount(x ^ h) <= 3)
    val seedSigs = (0L until 30L).map(allSigs)
    val novel1 = (30L until 60L).filter(id => !near(allSigs(id), seedSigs))
    val idx2 = seedSigs ++ novel1.map(allSigs)
    val novel2 = (60L until 120L).filter(id => !near(allSigs(id), idx2))
    assert(kept == (novel1 ++ novel2).toSet)
    assert(spark.table(idxT).select(max($"batch_id")).head().getLong(0)
      >= 1L)
    for (t <- Seq(idxT, sinkT)) spark.sql(s"DROP TABLE IF EXISTS $t")
  }

  test("novelty ingest: compactEvery bounds partitions, decisions unchanged") {
    import org.apache.spark.sql.types._
    val idxT = "nov_idx_ce"; val sinkT = "nov_sink_ce"
    for (t <- Seq(idxT, sinkT)) spark.sql(s"DROP TABLE IF EXISTS $t")
    val tmp = java.nio.file.Files.createTempDirectory("graft-novce").toString
    val docs = Tables.load(spark, sf, "documents").limit(120)
    val media = graft.llm.Multimodal.syntheticContentImages(docs)
      .localCheckpoint()
    // three source files -> three AvailableNow micro-batches
    media.filter($"media_id" >= 30 && $"media_id" < 60)
      .coalesce(1).write.parquet(s"$tmp/in")
    media.filter($"media_id" >= 60 && $"media_id" < 90)
      .coalesce(1).write.mode("append").parquet(s"$tmp/in")
    media.filter($"media_id" >= 90 && $"media_id" < 120)
      .coalesce(1).write.mode("append").parquet(s"$tmp/in")
    Events.createSignatureIndex(spark, idxT,
      graft.llm.Multimodal.dhashSignatures(media.filter($"media_id" < 30))
        .select($"dhash".as("sig")), "sig")
    val stream = spark.readStream
      .schema(StructType(Seq(StructField("media_id", LongType),
        StructField("media_type", StringType),
        StructField("payload", BinaryType),
        StructField("n_bytes", LongType))))
      .option("maxFilesPerTrigger", 1)
      .parquet(s"$tmp/in")
    val q = Events.startNoveltyIngest(stream, s"$tmp/ckpt", idxT, sinkT,
      compactEvery = 1)(Events.imageNoveltyIngestBatch(_, _, idxT, sinkT))
    q.awaitTermination(180000)
    // maintenance ran between batches: base + at most the last batch
    // (the index counts BATCH ids — its leaf partitions are
    // batch_id × band_pfx under the r14 prefix layout)
    def batchIds(t: String) = spark.sql(s"SHOW PARTITIONS $t")
      .collect().map(_.getString(0))
      .flatMap(_.split('/').find(_.startsWith("batch_id="))
        .map(_.stripPrefix("batch_id=").toLong)).distinct
    assert(batchIds(idxT).length <= 2)
    assert(spark.sql(s"SHOW PARTITIONS $sinkT").count() <= 2)
    // growth decisions equal the sequential ground truth — compaction
    // folded history without changing a single keep/drop
    val allSigs = graft.llm.Multimodal.dhashSignatures(media)
      .select($"media_id", $"dhash").as[(Long, Long)].collect().toMap
    def near(h: Long, s: Iterable[Long]) =
      s.exists(x => java.lang.Long.bitCount(x ^ h) <= 3)
    var idxSigs = (0L until 30L).map(allSigs).toSeq
    val expected = Seq((30L, 60L), (60L, 90L), (90L, 120L)).flatMap {
      case (lo, hi) =>
        val nov = (lo until hi).filter(id => !near(allSigs(id), idxSigs))
        idxSigs = idxSigs ++ nov.map(allSigs)
        nov
    }.toSet
    assert(spark.table(sinkT).select($"media_id").as[Long]
      .collect().toSet == expected)
    for (t <- Seq(idxT, sinkT)) spark.sql(s"DROP TABLE IF EXISTS $t")
  }

  test("embedding novelty ingest: cell-pruned probe, growth, replay, compaction") {
    val idxT = "emb_idx_g"; val sinkT = "emb_sink_g"
    val idxM = "emb_idx_m"; val sinkM = "emb_sink_m"
    for (t <- Seq(idxT, s"${idxT}__cents", sinkT,
        idxM, s"${idxM}__cents", sinkM))
      spark.sql(s"DROP TABLE IF EXISTS $t")
    val e = Tables.load(spark, sf, "embeddings")
      .select($"vec_id", $"embedding").localCheckpoint()
    val cents = graft.llm.Similarity.ivfTrain(e, "vec_id", "embedding", 8)
    Events.createEmbeddingIndex(spark, idxT, e, "embedding", cents)
    // batch 0: exact copies (non-novel — co-locate with originals) +
    // negated vectors (novel: cos(-v, u) = -cos(v, u), nothing natural
    // reaches 0.95)
    val b0 = e.filter(pmod($"vec_id", lit(5)) === 0)
      .select(($"vec_id" + 200000).as("vec_id"), $"embedding")
      .unionByName(e.filter(pmod($"vec_id", lit(7)) === 0)
        .select(($"vec_id" + 300000).as("vec_id"),
          transform($"embedding", x => -x).as("embedding")))
    Events.embeddingNoveltyIngestBatch(b0, 0L, idxT, sinkT,
      "embedding", 0.95)
    val kept0 = spark.table(sinkT).filter($"batch_id" === 0)
      .select($"vec_id").as[Long].collect().toSet
    val want0 = e.filter(pmod($"vec_id", lit(7)) === 0)
      .select($"vec_id").as[Long].collect().map(_ + 300000).toSet
    assert(kept0 == want0 && want0.nonEmpty)
    // batch 1: copies of batch-0 NOVELTIES — dropped ONLY because
    // batch 0 grew the index — plus fresh negated %11 \ %7 — kept
    val b1 = e.filter(pmod($"vec_id", lit(7)) === 0)
      .select(($"vec_id" + 400000).as("vec_id"),
        transform($"embedding", x => -x).as("embedding"))
      .unionByName(e.filter(pmod($"vec_id", lit(11)) === 0 &&
          pmod($"vec_id", lit(7)) =!= 0)
        .select(($"vec_id" + 500000).as("vec_id"),
          transform($"embedding", x => -x).as("embedding")))
    Events.embeddingNoveltyIngestBatch(b1, 1L, idxT, sinkT,
      "embedding", 0.95)
    val kept1 = spark.table(sinkT).filter($"batch_id" === 1)
      .select($"vec_id").as[Long].collect().toSet
    val want1 = e.filter(pmod($"vec_id", lit(11)) === 0 &&
        pmod($"vec_id", lit(7)) =!= 0)
      .select($"vec_id").as[Long].collect().map(_ + 500000).toSet
    assert(kept1 == want1 && want1.nonEmpty)
    // the probe's index read is PARTITION-PRUNED to the probed cells
    // (the probe the ingest runs)
    assertPrunedScan(Events.probeBatch(b1.limit(3), spark.table(idxT),
      Events.cellGeometry("embedding", cents, 0.95, 1)).get._1, idxT, "cell")
    // multiProbe (the recall lever) cannot change this construction's
    // decisions — exact copies co-locate under any probe width
    Events.createEmbeddingIndex(spark, idxM, e, "embedding", cents)
    Events.embeddingNoveltyIngestBatch(b0, 0L, idxM, sinkM,
      "embedding", 0.95, multiProbe = 3)
    assert(spark.table(sinkM).filter($"batch_id" === 0)
      .select($"vec_id").as[Long].collect().toSet == want0)
    // replay of batch 1: pure no-op
    val sn = spark.table(sinkT).count()
    val in2 = spark.table(idxT).count()
    Events.embeddingNoveltyIngestBatch(b1, 1L, idxT, sinkT,
      "embedding", 0.95)
    assert(spark.table(sinkT).count() == sn)
    assert(spark.table(idxT).count() == in2)
    // compaction folds the (batch_id, cell) partitions; only base and
    // the max batch remain; indexed vector set unchanged; replay of
    // the preserved batch still a no-op
    val vecsBefore = spark.table(idxT).filter($"vec".isNotNull)
      .select($"vec").distinct().count()
    val (pb, pa) = Events.compactBatchTable(spark, idxT)
    assert(pa < pb, s"compaction did not fold: $pb -> $pa")
    val left = spark.sql(s"SHOW PARTITIONS $idxT").collect()
      .map(_.getString(0).split('/').head.stripPrefix("batch_id=").toLong)
      .distinct.sorted
    assert(left.toSeq == Seq(-1L, 1L))
    assert(spark.table(idxT).filter($"vec".isNotNull)
      .select($"vec").distinct().count() == vecsBefore)
    Events.embeddingNoveltyIngestBatch(b1, 1L, idxT, sinkT,
      "embedding", 0.95)
    assert(spark.table(sinkT).count() == sn)
    for (t <- Seq(idxT, s"${idxT}__cents", sinkT,
        idxM, s"${idxM}__cents", sinkM))
      spark.sql(s"DROP TABLE IF EXISTS $t")
  }

  test("embedding novelty ingest: zero-norm vectors never enter the index") {
    // r17 (r16 ADVICE): a zero vector's cosine is NULL under
    // cosineZeroSafe, so it can never be marked a duplicate — it is
    // novel on EVERY batch (keep-on-no-evidence, pinned here) — but as
    // index state it can never supply duplicate evidence either, so
    // indexing it is dead weight that previously accumulated one
    // duplicate index row per recurrence, without bound. Both the
    // create (seed) and append paths must drop it.
    val idxT = "emb_idx_z"; val sinkT = "emb_sink_z"
    for (t <- Seq(idxT, s"${idxT}__cents", sinkT))
      spark.sql(s"DROP TABLE IF EXISTS $t")
    val e = Tables.load(spark, sf, "embeddings")
      .select($"vec_id", $"embedding").limit(50).localCheckpoint()
    val zeroOf = (idOff: Long) => e.limit(1)
      .select(($"vec_id" + idOff).as("vec_id"),
        transform($"embedding", x => x * lit(0.0f)).as("embedding"))
    val cents = graft.llm.Similarity.ivfTrain(e, "vec_id", "embedding", 4)
    def zeroIdxRows(): Long = spark.table(idxT)
      .filter($"vec".isNotNull)
      .filter(graft.functions.DotProduct($"vec", $"vec") === 0.0)
      .count()
    // seed includes a zero vector — dropped at create
    Events.createEmbeddingIndex(spark, idxT,
      e.unionByName(zeroOf(800000L)), "embedding", cents)
    assert(zeroIdxRows() == 0)
    val idxAfterCreate = spark.table(idxT).count()
    // the same zero vector arrives in TWO batches: novel both times
    // (no cosine evidence can mark it duplicate), indexed neither time
    for (b <- 0 to 1) {
      Events.embeddingNoveltyIngestBatch(zeroOf(900000L + b), b.toLong,
        idxT, sinkT, "embedding", 0.95)
      assert(spark.table(sinkT).filter($"batch_id" === b)
        .select($"vec_id").as[Long].collect().toSet
        == Set(900000L + b), s"batch $b")
    }
    assert(zeroIdxRows() == 0)
    // index grew only by the two per-batch marker rows (cell = -1)
    assert(spark.table(idxT).filter($"vec".isNotNull).count()
      == spark.table(idxT).filter($"vec".isNotNull && $"batch_id" === -1)
        .count())
    assert(spark.table(idxT).count() == idxAfterCreate + 2)
    for (t <- Seq(idxT, s"${idxT}__cents", sinkT))
      spark.sql(s"DROP TABLE IF EXISTS $t")
  }

  test("embedding novelty ingest: streaming wiring equals batch calls") {
    import org.apache.spark.sql.types._
    val idxT = "emb_idx_s"; val sinkT = "emb_sink_s"
    val idxB = "emb_idx_sb"; val sinkB = "emb_sink_sb"
    for (t <- Seq(idxT, s"${idxT}__cents", sinkT,
        idxB, s"${idxB}__cents", sinkB))
      spark.sql(s"DROP TABLE IF EXISTS $t")
    val tmp = java.nio.file.Files.createTempDirectory("graft-embs").toString
    val e = Tables.load(spark, sf, "embeddings")
      .select($"vec_id", $"embedding").localCheckpoint()
    val cents = graft.llm.Similarity.ivfTrain(e, "vec_id", "embedding", 8)
    // two source files -> two AvailableNow micro-batches: batch 0 =
    // copies + negated %7; batch 1 = copies of batch-0 novelties
    val b0 = e.filter(pmod($"vec_id", lit(5)) === 0)
      .select(($"vec_id" + 200000).as("vec_id"), $"embedding")
      .unionByName(e.filter(pmod($"vec_id", lit(7)) === 0)
        .select(($"vec_id" + 300000).as("vec_id"),
          transform($"embedding", x => -x).as("embedding")))
      .localCheckpoint()
    val b1 = e.filter(pmod($"vec_id", lit(7)) === 0)
      .select(($"vec_id" + 400000).as("vec_id"),
        transform($"embedding", x => -x).as("embedding"))
      .localCheckpoint()
    b0.coalesce(1).write.parquet(s"$tmp/in")
    b1.coalesce(1).write.mode("append").parquet(s"$tmp/in")
    Events.createEmbeddingIndex(spark, idxT, e, "embedding", cents)
    Events.createEmbeddingIndex(spark, idxB, e, "embedding", cents)
    val elemT = e.schema("embedding").dataType
    val stream = spark.readStream
      .schema(StructType(Seq(StructField("vec_id", LongType),
        StructField("embedding", elemT))))
      .option("maxFilesPerTrigger", 1)
      .parquet(s"$tmp/in")
    val q = Events.startNoveltyIngest(stream, s"$tmp/ckpt", idxT, sinkT,
      compactEvery = 1)(Events.embeddingNoveltyIngestBatch(_, _, idxT,
        sinkT, "embedding", 0.95))
    q.awaitTermination(120000)
    // sequential batch-mode twin
    Events.embeddingNoveltyIngestBatch(b0, 0L, idxB, sinkB,
      "embedding", 0.95)
    Events.embeddingNoveltyIngestBatch(b1, 1L, idxB, sinkB,
      "embedding", 0.95)
    val streamed = spark.table(sinkT).select($"vec_id").as[Long]
      .collect().toSet
    val batched = spark.table(sinkB).select($"vec_id").as[Long]
      .collect().toSet
    assert(streamed == batched && batched.nonEmpty)
    // batch-0 novelties exist and their batch-1 copies were dropped
    assert(streamed.exists(_ >= 300000) && !streamed.exists(_ >= 400000))
    // compactEvery kept batch_id partitions bounded (cells multiply
    // leaves, so compare DISTINCT batch ids)
    val batchIds = spark.sql(s"SHOW PARTITIONS $idxT").collect()
      .map(_.getString(0).split('/').head.stripPrefix("batch_id=").toLong)
      .distinct
    assert(batchIds.length <= 2, s"unbounded batch ids: ${batchIds.toSeq}")
    for (t <- Seq(idxT, s"${idxT}__cents", sinkT,
        idxB, s"${idxB}__cents", sinkB))
      spark.sql(s"DROP TABLE IF EXISTS $t")
  }

  test("minhash novelty ingest: band index grows, replay no-op, compaction") {
    val idxT = "mh_idx_g"; val sinkT = "mh_sink_g"
    for (t <- Seq(idxT, sinkT)) spark.sql(s"DROP TABLE IF EXISTS $t")
    val d = Tables.load(spark, sf, "documents").limit(200)
      .select($"doc_id", $"text").localCheckpoint()
    val withBands = d.withColumn("arr",
        graft.functions.MinHashSig(lower($"text"), 3, 16))
      .withColumn("b", graft.llm.Dedup.minhashBandArray($"arr", 16, 4))
    val bandsOf = withBands.select($"doc_id", $"b")
      .as[(Long, Seq[String])].collect().toMap
    Events.createBandIndex(spark, idxT,
      withBands.filter($"doc_id" < 100).select($"b"), "b")
    Events.minhashNoveltyIngestBatch(d.filter($"doc_id" >= 100), 0L,
      idxT, sinkT)
    val seedBands = bandsOf.filter(_._1 < 100).values.flatten.toSet
    val novel0 = bandsOf.keys.filter(id => id >= 100 &&
      !bandsOf(id).exists(seedBands)).toSet
    assert(novel0.nonEmpty, "need seed-novel docs for the growth pin")
    assert(spark.table(sinkT).filter($"batch_id" === 0)
      .select($"doc_id").as[Long].collect().toSet == novel0)
    // batch 1 = full-corpus COPIES: every copy shares all 4 bands with
    // its original, whose bands are in the index either via the seed
    // or via batch 0's growth — so NOTHING passes, where a static
    // seed-only index would have kept every copy of a batch-0 novelty
    Events.minhashNoveltyIngestBatch(
      d.select(($"doc_id" + 10000).as("doc_id"), $"text"), 1L,
      idxT, sinkT)
    val idx1 = seedBands ++ novel0.flatMap(bandsOf)
    val novel1 = bandsOf.keys.filter(id => !bandsOf(id).exists(idx1))
      .map(_ + 10000).toSet
    assert(spark.table(sinkT).filter($"batch_id" === 1)
      .select($"doc_id").as[Long].collect().toSet == novel1)
    // the growth is what dropped the copies of batch-0 novelties
    assert(novel0.forall(id => !bandsOf(id).exists(seedBands)))
    // replay of batch 1: pure no-op (marker committed even though the
    // sink batch partition may be empty)
    val sn = spark.table(sinkT).count()
    val in2 = spark.table(idxT).count()
    Events.minhashNoveltyIngestBatch(
      d.select(($"doc_id" + 10000).as("doc_id"), $"text"), 1L,
      idxT, sinkT)
    assert(spark.table(sinkT).count() == sn)
    assert(spark.table(idxT).count() == in2)
    // compaction folds to base + max batch; distinct bands preserved;
    // bucket spec survives
    val bandsBefore = spark.table(idxT).filter($"band".isNotNull)
      .select($"band").distinct().count()
    val (pb, pa) = Events.compactBatchTable(spark, idxT)
    assert(pa <= pb, s"$pb -> $pa")
    assert(spark.table(idxT).select($"batch_id").distinct()
      .as[Long].collect().toSet == Set(-1L, 1L))
    assert(spark.table(idxT).filter($"band".isNotNull)
      .select($"band").distinct().count() == bandsBefore)
    assert(spark.sessionState.catalog.getTableMetadata(
      spark.sessionState.sqlParser.parseTableIdentifier(idxT))
      .partitionColumnNames == Seq("batch_id", "band_pfx"))
    for (t <- Seq(idxT, sinkT)) spark.sql(s"DROP TABLE IF EXISTS $t")
  }

  test("text novelty ingest: streaming wiring equals batch calls") {
    import org.apache.spark.sql.types._
    val idxT = "nov_idx_ts"; val sinkT = "nov_sink_ts"
    for (t <- Seq(idxT, sinkT)) spark.sql(s"DROP TABLE IF EXISTS $t")
    val tmp = java.nio.file.Files.createTempDirectory("graft-novtxt").toString
    val docs = Tables.load(spark, sf, "documents")
      .select($"doc_id", $"text").limit(60).localCheckpoint()
    docs.filter($"doc_id" >= 20 && $"doc_id" < 40)
      .coalesce(1).write.parquet(s"$tmp/in")
    docs.select(($"doc_id" + 10000).as("doc_id"), $"text")
      .coalesce(1).write.mode("append").parquet(s"$tmp/in")
    Events.createSignatureIndex(spark, idxT,
      docs.filter($"doc_id" < 20)
        .select(graft.functions.SimHash60(lower($"text")).as("sig")),
      "sig")
    val stream = spark.readStream
      .schema(StructType(Seq(StructField("doc_id", LongType),
        StructField("text", StringType))))
      .option("maxFilesPerTrigger", 1)
      .parquet(s"$tmp/in")
    val q = Events.startNoveltyIngest(stream, s"$tmp/ckpt", idxT, sinkT)(
      Events.textNoveltyIngestBatch(_, _, idxT, sinkT))
    q.awaitTermination(120000)
    // ground truth via the signatures themselves: batch-1 copies of
    // ids 20..39 are dropped only because batch 0 grew the index
    val sigs = docs.select($"doc_id",
        graft.functions.SimHash60(lower($"text")).as("sh"))
      .as[(Long, Option[Long])].collect().toMap
    def near(h: Long, s: Iterable[Long]) =
      s.exists(x => java.lang.Long.bitCount(x ^ h) <= 3)
    val seed = (0L until 20L).flatMap(sigs(_))
    val n0 = (20L until 40L).filter(id =>
      sigs(id).forall(h => !near(h, seed)))
    val i2 = seed ++ n0.flatMap(sigs(_))
    val n1 = (0L until 60L).filter(id =>
      sigs(id).forall(h => !near(h, i2))).map(_ + 10000L)
    val kept = spark.table(sinkT).select($"doc_id").as[Long]
      .collect().toSet
    assert(kept == (n0 ++ n1).toSet)
    for (t <- Seq(idxT, sinkT)) spark.sql(s"DROP TABLE IF EXISTS $t")
  }

  test("text novelty ingest: SimHash index grows, null-sig texts pass") {
    val idxT = "nov_idx_t"; val sinkT = "nov_sink_t"
    for (t <- Seq(idxT, sinkT)) spark.sql(s"DROP TABLE IF EXISTS $t")
    val docs = Tables.load(spark, sf, "documents")
      .select($"doc_id", $"text").limit(80).localCheckpoint()
    Events.createSignatureIndex(spark, idxT,
      docs.filter($"doc_id" < 20)
        .select(graft.functions.SimHash60(lower($"text")).as("sig")),
      "sig")
    // batch 0: the remaining originals + one token-less row (no
    // signature — must be KEPT and must not enter the index)
    val b0 = docs.filter($"doc_id" >= 20).unionByName(
      Seq((999L, "   ")).toDF("doc_id", "text"))
    Events.textNoveltyIngestBatch(b0, 0L, idxT, sinkT)
    val kept0 = spark.table(sinkT).filter($"batch_id" === 0L)
    assert(kept0.filter($"doc_id" === 999L && $"simhash".isNull)
      .count() == 1)
    assert(spark.table(idxT)
      .filter($"batch_id" === 0L && $"sig".isNull).count() == 1,
      "marker row expected") // the commit marker, not a signature
    // batch 1: exact copies of EVERY original — copies of ids >= 20
    // are dropped only because batch 0 grew the index
    val b1 = docs.select(($"doc_id" + 10000).as("doc_id"), $"text")
    Events.textNoveltyIngestBatch(b1, 1L, idxT, sinkT)
    val kept1 = spark.table(sinkT).filter($"batch_id" === 1L)
      .select($"doc_id").as[Long].collect().toSet
    // only copies of docs with no signature may survive batch 1
    val nullSigDocs = docs
      .select($"doc_id", graft.functions.SimHash60(lower($"text"))
        .as("sh"))
      .filter($"sh".isNull).select($"doc_id").as[Long].collect().toSet
    assert(kept1 == nullSigDocs.map(_ + 10000L))
    for (t <- Seq(idxT, sinkT)) spark.sql(s"DROP TABLE IF EXISTS $t")
  }

  test("withDhash/withAfp keep every caller column (event-time survives)") {
    val docs = Tables.load(spark, sf, "documents").limit(40)
    val img = graft.llm.Multimodal.syntheticContentImages(docs)
      .withColumn("event_time", to_timestamp(lit("2024-01-01 00:00:00")))
      .withColumn("source", lit("cam-1"))
    val d = graft.llm.Multimodal.withDhash(img)
    assert(d.columns.toSeq == Seq("media_id", "media_type", "payload",
      "n_bytes", "event_time", "source", "dhash"))
    assert(d.filter($"dhash".isNotNull && $"source" === "cam-1")
      .count() == 40)
    // and the novelty stream passes them through to the kept rows
    val idx = graft.llm.Multimodal
      .dhashSignatures(img.filter($"media_id" < 10))
      .select($"dhash").collect().map(_.getLong(0)).toSeq
    val kept = Events.imageNoveltyStream(img, idx)
    assert(kept.columns.contains("event_time"))
    assert(kept.filter($"event_time".isNull).count() == 0)
    val aud = graft.llm.Multimodal.syntheticContentAudio(docs)
      .withColumn("event_time", to_timestamp(lit("2024-01-01 00:00:00")))
    val a = graft.llm.Multimodal.withAfp(aud)
    assert(a.columns.toSeq == Seq("media_id", "media_type", "payload",
      "n_bytes", "event_time", "afp"))
    assert(a.filter($"afp".isNotNull && $"event_time".isNotNull)
      .count() == 40)
  }

  test("streaming image novelty: stream equals batch, planted dups dropped") {
    import org.apache.spark.sql.types._
    import org.apache.spark.sql.streaming.{OutputMode, Trigger}
    val tmp = java.nio.file.Files.createTempDirectory("graft-imgnov").toString
    val docs = Tables.load(spark, sf, "documents").limit(200)
    val media = graft.llm.Multimodal.syntheticContentImages(docs)
    media.coalesce(1).write.mode("overwrite").parquet(s"$tmp/in")
    val idx = graft.llm.Multimodal
      .dhashSignatures(media.filter($"media_id" < 30))
      .select($"dhash").collect().map(_.getLong(0)).toSeq
    val stream = spark.readStream
      .schema(StructType(Seq(StructField("media_id", LongType),
        StructField("media_type", StringType),
        StructField("payload", BinaryType),
        StructField("n_bytes", LongType))))
      .parquet(s"$tmp/in")
    val q = Events.imageNoveltyStream(stream, idx)
      .writeStream
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", s"$tmp/ckpt")
      .trigger(Trigger.AvailableNow())
      .format("parquet")
      .option("path", s"$tmp/out")
      .start()
    q.awaitTermination(120000)
    val streamed = spark.read.parquet(s"$tmp/out")
    val batch = Events.imageNoveltyStream(media, idx)
    assert(streamed.count() == batch.count())
    assert(streamed.select($"media_id")
      .exceptAll(batch.select($"media_id")).count() == 0)
    // band-lookup serving equals the brute-force definition
    val sigs = graft.llm.Multimodal.dhashSignatures(media)
      .select($"media_id", $"dhash").as[(Long, Long)].collect()
    val expected = sigs.collect { case (id, h)
      if !idx.exists(i => java.lang.Long.bitCount(i ^ h) <= 3) => id
    }.toSet
    assert(streamed.select($"media_id").as[Long].collect().toSet
      == expected)
    // indexed seeds' later copies are known dups: media 64..93 re-carry
    // seeds 0..29 (the other container generation) and must be dropped,
    // including the one-pixel edits (CodecSpec pins edit dist <= 2)
    assert(!expected.exists(id => id >= 64 && id < 94))
    assert(expected.nonEmpty)
  }

  test("partition-scoped upsert: all-null-key batch is a no-op, not a crash") {
    // null-keyed rows are dropped before merging (a row with no key has
    // no identity to upsert) — a batch consisting ONLY of them leaves
    // nothing staged. The partition-scoped path used to reduce an EMPTY
    // touched-partition set into the filter predicate and throw; it
    // must no-op and leave the table byte-identical instead.
    val table = "graft_upsert_nullkeys_test"
    for (s <- Seq(table, s"${table}__upsert_tmp", s"${table}__upsert_backup"))
      spark.sql(s"DROP TABLE IF EXISTS $s")
    val b1 = Seq((1L, "a", 1L, 0L), (2L, "b", 1L, 1L))
      .toDF("k", "v", "ord", "p")
    Events.upsertBatch(b1, table, Seq("k"), "ord", Seq("p"))
    val before = spark.table(table).orderBy($"k").collect().toSeq
    val nulls = Seq((Option.empty[Long], "x", 2L, 0L),
        (Option.empty[Long], "y", 2L, 1L))
      .toDF("k", "v", "ord", "p")
    Events.upsertBatch(nulls, table, Seq("k"), "ord", Seq("p")) // no throw
    // unpartitioned path too: merge with an empty staged side must keep
    // the table intact (and not lose rows to a swap of nothing)
    Events.upsertBatch(nulls.drop("p"), table, Seq("k"), "ord")
    assert(spark.table(table).orderBy($"k").collect().toSeq == before)
    for (s <- Seq(table, s"${table}__upsert_tmp", s"${table}__upsert_backup"))
      spark.sql(s"DROP TABLE IF EXISTS $s")
  }

  private def withConf(kv: (String, String))(body: => Unit): Unit = {
    val (k, v) = kv
    val old = spark.conf.getOption(k)
    spark.conf.set(k, v)
    try body
    finally old match {
      case Some(o) => spark.conf.set(k, o)
      case None => spark.conf.unset(k)
    }
  }

  /** The prefix-pruning pin of the batch-form novelty probes: build and
    * run `probe` (AQE off, so each executed plan is the one planned) and
    * check that its read of `idxT` carries a partition filter on
    * `pfxCol` and read some, but (when `skips`) not all, of the table's
    * partitions. */
  private def assertPrunedScan(probe: => org.apache.spark.sql.DataFrame,
                               idxT: String, pfxCol: String,
                               skips: Boolean = true): Unit =
    withConf("spark.sql.adaptive.enabled" -> "false") {
      val scans = capturedExecutions(probe.collect())
        .flatMap(_.executedPlan.collect {
          case s: org.apache.spark.sql.execution.FileSourceScanExec
              if s.tableIdentifier.exists(_.table == idxT) => s
        })
      assert(scans.size == 1, s"expected one index read, got ${scans.size}")
      val scan = scans.head
      assert(scan.partitionFilters.exists(
          _.references.exists(_.name == pfxCol)),
        s"no $pfxCol partition filter on the index scan:\n$scan")
      val total = spark.sql(s"SHOW PARTITIONS $idxT").count()
      val read = scan.metrics("numPartitions").value
      assert(read > 0 && (read < total || !skips),
        s"index scan read $read of $total partitions:\n$scan")
    }

  test("cap-disabled index: create AND append run uncapped, no overflow") {
    // r16 (r15 ADVICE): an index created with maxBucket = Int.MaxValue
    // stores k = 2147483647 in CappedKProp; the APPEND path's tiny
    // guard computed limit(k + 1) — overflowing to a negative limit,
    // so every append threw AnalysisException. Post-fix, a disabled
    // cap skips both the window and the guard count on create and
    // append alike, and nothing is ever dropped from a bucket.
    val idxT = "nov_idx_nocap"; val sinkT = "nov_sink_nocap"
    for (t <- Seq(idxT, sinkT)) spark.sql(s"DROP TABLE IF EXISTS $t")
    val docs = Tables.load(spark, sf, "documents").limit(90)
    val media = graft.llm.Multimodal.syntheticContentImages(docs)
      .localCheckpoint()
    Events.createSignatureIndex(spark, idxT,
      graft.llm.Multimodal.dhashSignatures(media.filter($"media_id" < 30))
        .select($"dhash".as("sig")), "sig", maxBucket = Int.MaxValue)
    // the append previously threw here (negative limit)
    Events.imageNoveltyIngestBatch(
      media.filter($"media_id" >= 30 && $"media_id" < 60), 0L,
      idxT, sinkT)
    Events.imageNoveltyIngestBatch(
      media.filter($"media_id" >= 60), 1L, idxT, sinkT)
    // uncapped: every distinct banded row of seed + novel arrivals is
    // present (4 bands per signature, nothing bottom-k-trimmed)
    val idxSigs = spark.table(idxT).filter($"sig".isNotNull)
      .select($"sig").distinct().count()
    val seedSigs = graft.llm.Multimodal
      .dhashSignatures(media.filter($"media_id" < 30))
      .select($"dhash").distinct().count()
    assert(idxSigs >= seedSigs, s"index lost seed signatures: " +
      s"$idxSigs < $seedSigs")
    assert(spark.table(sinkT).count() > 0)
    for (t <- Seq(idxT, sinkT)) spark.sql(s"DROP TABLE IF EXISTS $t")
  }

  test("banded novelty probe: bucketed index side runs with no exchange") {
    val idxT = "nov_idx_plan"
    spark.sql(s"DROP TABLE IF EXISTS $idxT")
    Events.createSignatureIndex(spark, idxT,
      spark.range(20000).select(xxhash64($"id").as("sig")), "sig")
    val docs = Tables.load(spark, sf, "documents").limit(80)
    val media = graft.llm.Multimodal.syntheticContentImages(docs)
      .localCheckpoint()
    withConf("spark.sql.adaptive.enabled" -> "false") {
      // the ingest shape: the table is PRE-CAPPED at write time, so
      // the loop probes windowless (maxBucket disabled) — the plan
      // under pin here
      val probe = Events.noveltyBandedJoin(
        graft.llm.Multimodal.withDhash(media), "dhash",
        spark.table(idxT), 3, maxBucket = Int.MaxValue)
      val plan = probe.queryExecution.executedPlan
      import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
      import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
      def idxScans(p: SparkPlan) = p.collect {
        case f: FileSourceScanExec
            if f.tableIdentifier.exists(_.table == idxT) => f }
      assert(idxScans(plan).nonEmpty, s"no index scan in:\n$plan")
      // no exchange on the scan→join path of the index branch: an
      // exchange whose subtree holds the index scan but no join yet
      // would be shuffling the index itself (post-join exchanges only
      // move batch-sized data)
      def joins(p: SparkPlan) = p.collect {
        case j: org.apache.spark.sql.execution.joins.BaseJoinExec => j }
      val shuffledIdx = plan.collect {
        case e: ShuffleExchangeExec
            if idxScans(e.child).nonEmpty && joins(e.child).isEmpty => e }
      assert(shuffledIdx.isEmpty,
        s"index side of the novelty probe shuffles:\n$plan")
      // and the decisions equal the plan-literal form's
      val sigs = spark.range(20000).select(xxhash64($"id").as("sig"))
        .as[Long].collect().toSeq
      val lit0 = Events.imageNoveltyStream(media, sigs)
        .select($"media_id").as[Long].collect().toSet
      assert(probe.select($"media_id").as[Long].collect().toSet == lit0)
    }
    // the probe reads only the batch's band prefixes — the sub-O(index)
    // read
    assertPrunedScan(Events.noveltyBandedJoin(
      graft.llm.Multimodal.withDhash(media.filter($"media_id" < 5)), "dhash",
      spark.table(idxT), 3, maxBucket = Int.MaxValue), idxT, "band_pfx")
    spark.sql(s"DROP TABLE IF EXISTS $idxT")
  }

  test("minhash band probe: touched prefixes become partition filters") {
    // the string-geometry twin of the band_pfx pin above: the index
    // scan carries the batch's prefixes as partition filters while
    // deciding exactly like an unpartitioned index
    val idxT = "mh_pfx_idx"
    spark.sql(s"DROP TABLE IF EXISTS $idxT")
    val d = Tables.load(spark, sf, "documents").limit(200)
      .select($"doc_id", $"text").localCheckpoint()
    def bandsOf(df: org.apache.spark.sql.DataFrame) = df
      .withColumn("arr", graft.functions.MinHashSig(lower($"text"), 3, 16))
      .withColumn("mh_bands",
        when($"text".isNotNull,
          graft.llm.Dedup.minhashBandArray($"arr", 16, 4)))
      .drop("arr")
    Events.createBandIndex(spark, idxT,
      bandsOf(d.filter($"doc_id" < 150)).select($"mh_bands".as("b")), "b")
    val batch = bandsOf(d.filter($"doc_id" >= 150 && $"doc_id" < 155))
    val probe = Events.noveltyBandExistsJoin(batch, "mh_bands",
      spark.table(idxT))
    // (every MinHash band key starts with its band number, "0:" to
    // "3:", so any document touches all four prefixes of this index: the
    // filter is pinned, skipping is not)
    assertPrunedScan(Events.noveltyBandExistsJoin(batch, "mh_bands",
      spark.table(idxT)), idxT, "band_pfx", skips = false)
    // decisions equal the raw (unpartitioned DataFrame) index's
    val rawIdx = spark.table(idxT).select($"band", $"batch_id")
    val rawKeep = Events.noveltyBandExistsJoin(batch, "mh_bands", rawIdx)
      .select($"doc_id").as[Long].collect().toSet
    assert(probe.select($"doc_id").as[Long].collect().toSet == rawKeep)
    spark.sql(s"DROP TABLE IF EXISTS $idxT")
  }

  test("join-form novelty under a real stream equals batch decisions") {
    import org.apache.spark.sql.types._
    import org.apache.spark.sql.streaming.{OutputMode, Trigger}
    val tmp = java.nio.file.Files.createTempDirectory("graft-jnov").toString
    val docs = Tables.load(spark, sf, "documents").limit(150)
    val media = graft.llm.Multimodal.syntheticContentImages(docs)
      .localCheckpoint()
    media.coalesce(1).write.mode("overwrite").parquet(s"$tmp/in")
    val idxDf = graft.llm.Multimodal
      .dhashSignatures(media.filter($"media_id" < 30))
      .select($"dhash".as("sig")).localCheckpoint()
    val stream = spark.readStream
      .schema(StructType(Seq(StructField("media_id", LongType),
        StructField("media_type", StringType),
        StructField("payload", BinaryType),
        StructField("n_bytes", LongType))))
      .parquet(s"$tmp/in")
    val q = Events.imageNoveltyJoin(stream, idxDf)
      .writeStream
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", s"$tmp/ckpt")
      .trigger(Trigger.AvailableNow())
      .format("parquet")
      .option("path", s"$tmp/out")
      .start()
    q.awaitTermination(120000)
    val streamed = spark.read.parquet(s"$tmp/out")
      .select($"media_id").as[Long].collect().toSet
    val batch = Events.imageNoveltyJoin(media, idxDf)
      .select($"media_id").as[Long].collect().toSet
    assert(streamed == batch)
    assert(batch.nonEmpty && batch.size < media.count())
  }

  test("signature index grain: tiny create coarse, compaction re-grains, decisions stable") {
    // r15 (r14 verdict #5): the band_pfx grain is a per-table property
    // — a tiny seed creates at the coarse 4-prefix grain (the trickle
    // write/commit floor), the compaction slot re-chooses it from the
    // folded size, and every probe reads the declared grain, so the
    // switch never changes a decision
    val idxT = "grain_idx"; val sinkT = "grain_sink"
    for (t <- Seq(idxT, sinkT)) spark.sql(s"DROP TABLE IF EXISTS $t")
    def texts(lo: Int, hi: Int) = spark.range(lo, hi)
      .select($"id".as("doc_id"), md5(concat(lit("t"), $"id")).as("text"))
    Events.createSignatureIndex(spark, idxT,
      texts(0, 50).select(
        graft.functions.SimHash60(lower($"text")).as("sig")), "sig")
    def shiftOf = spark.sql(s"SHOW TBLPROPERTIES $idxT").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
      .get(Events.PfxShiftProp)
    assert(shiftOf.contains(Events.TinyIndexPfxShift.toString))
    // coarse grain = at most 5 prefix dirs in the seed partition
    // (4 bands + none for the absent marker)
    val seedParts = spark.sql(s"SHOW PARTITIONS $idxT").collect()
      .map(_.getString(0)).count(_.startsWith("batch_id=-1/"))
    assert(seedParts <= 5, s"coarse-grain seed wrote $seedParts prefixes")
    // two batches push the banded count far past the grain bound …
    Events.textNoveltyIngestBatch(texts(50, 1200), 0L, idxT, sinkT)
    Events.textNoveltyIngestBatch(texts(1200, 2400), 1L, idxT, sinkT)
    // … so the maintenance fold re-grains to the fine shift
    Events.compactBatchTable(spark, idxT)
    assert(shiftOf.contains(Events.BandPfxShift.toString))
    // decisions survive the re-grain: replayed content is dropped,
    // fresh content passes (the probe reads the new declared grain)
    Events.textNoveltyIngestBatch(
      texts(0, 2400).unionByName(texts(9000, 9050)), 2L, idxT, sinkT)
    val b2 = spark.table(sinkT).filter($"batch_id" === 2)
      .select($"doc_id").as[Long].collect().toSet
    assert(b2 == (9000L until 9050L).toSet)
    for (t <- Seq(idxT, sinkT)) spark.sql(s"DROP TABLE IF EXISTS $t")
  }

  test("stream-static novelty index is materialized once — no per-batch aggregation") {
    // r15 (r14 verdict #3): the static side a micro-batch re-executes
    // is the CHECKPOINTED per-band array frame — a block scan, never
    // the distinct+group+collect shuffle (un-materialized, the
    // stream-static contract re-ran that shuffle every micro-batch:
    // O(index·batches) across a stream's lifetime)
    val docs = Tables.load(spark, sf, "documents").limit(60)
    val banded = graft.llm.Multimodal.bandIndexRows(
      docs.select(graft.functions.SimHash60(lower($"text")).as("sig")),
      "sig")
    val grouped = Events.groupedBandIndex(
      banded.select($"band_key".cast("long").as("band_key"),
        $"sig".cast("long").as("sig")).filter($"sig".isNotNull), 4096)
    import org.apache.spark.sql.catalyst.plans.logical.Aggregate
    assert(grouped.queryExecution.optimizedPlan.collect {
        case a: Aggregate => a }.isEmpty,
      "the stream-static index would re-aggregate per micro-batch")
    // and the arrays themselves are the capped, sorted candidates
    assert(grouped.columns.toSet == Set("band_key", "sigs"))
    assert(grouped.count() > 0)
  }

  test("compactBatchTable bounds ingest partitions; replay and decisions survive") {
    val idxT = "nov_idx_cp"; val sinkT = "nov_sink_cp"
    val idxU = "nov_idx_cu"; val sinkU = "nov_sink_cu"
    for (t <- Seq(idxT, sinkT, idxU, sinkU))
      spark.sql(s"DROP TABLE IF EXISTS $t")
    val d = Tables.load(spark, sf, "documents").limit(150)
      .select($"doc_id", $"text").localCheckpoint()
    def seed(t: String) = Events.createSignatureIndex(spark, t,
      d.filter($"doc_id" < 30)
        .select(graft.functions.SimHash60(lower($"text")).as("sig")), "sig")
    seed(idxT); seed(idxU)
    val slices = (0 until 4).map(i =>
      d.filter($"doc_id" >= 30 * (i + 1) && $"doc_id" < 30 * (i + 2)))
    slices.zipWithIndex.foreach { case (b, i) =>
      Events.textNoveltyIngestBatch(b, i.toLong, idxT, sinkT)
      Events.textNoveltyIngestBatch(b, i.toLong, idxU, sinkU)
    }
    // batch-id partitions (leaf partitions are batch_id × band_pfx
    // under the r14 prefix layout): seed + 4 batches before the fold
    def liveBatchIds(t: String) = spark.sql(s"SHOW PARTITIONS $t")
      .collect().map(_.getString(0))
      .flatMap(_.split('/').find(_.startsWith("batch_id="))
        .map(_.stripPrefix("batch_id=").toLong)).distinct.sorted.toSeq
    assert(liveBatchIds(idxT) == Seq(-1L, 0L, 1L, 2L, 3L))
    val sigsBefore = spark.table(idxT).filter($"sig".isNotNull)
      .select($"sig").distinct().count()
    val sinkBefore = spark.table(sinkT).select($"doc_id").as[Long]
      .collect().toSet
    val (ib, ia) = Events.compactBatchTable(spark, idxT)
    val (sb, sa) = Events.compactBatchTable(spark, sinkT)
    assert(liveBatchIds(idxT) == Seq(-1L, 3L), s"batch ids after fold")
    assert(ia < ib, s"index leaf partitions $ib -> $ia")
    assert(sb >= sa && sa <= 2, s"sink partitions $sb -> $sa")
    // content preserved (signatures and sink rows; batch_id coarsens)
    assert(spark.table(idxT).filter($"sig".isNotNull)
      .select($"sig").distinct().count() == sigsBefore)
    assert(spark.table(sinkT).select($"doc_id").as[Long].collect().toSet
      == sinkBefore)
    // the prefix layout survived the swap (the probe stays pruned)
    assert(spark.sessionState.catalog.getTableMetadata(
      spark.sessionState.sqlParser.parseTableIdentifier(idxT))
      .partitionColumnNames == Seq("batch_id", "band_pfx"))
    // replay of the PRESERVED max batch: still a pure no-op
    val sn = spark.table(sinkT).count()
    val in2 = spark.table(idxT).count()
    Events.textNoveltyIngestBatch(slices(3), 3L, idxT, sinkT)
    assert(spark.table(sinkT).count() == sn)
    assert(spark.table(idxT).count() == in2)
    // a NEW batch decides identically to the uncompacted twin
    val b4 = d.select(($"doc_id" + 10000).as("doc_id"), $"text")
    Events.textNoveltyIngestBatch(b4, 4L, idxT, sinkT)
    Events.textNoveltyIngestBatch(b4, 4L, idxU, sinkU)
    def batch4(t: String) = spark.table(t).filter($"batch_id" === 4L)
      .select($"doc_id").as[Long].collect().toSet
    assert(batch4(sinkT) == batch4(sinkU))
    // mid-swap crash: target gone, backup holds the original — heals
    graft.mat.PartitionScoped.rename(spark, idxT, s"${idxT}__compact_backup")
    graft.mat.PartitionScoped.heal(spark, idxT,
      graft.mat.PartitionScoped.Compact)
    assert(spark.catalog.tableExists(idxT) &&
      !spark.catalog.tableExists(s"${idxT}__compact_backup"))
    for (t <- Seq(idxT, sinkT, idxU, sinkU))
      spark.sql(s"DROP TABLE IF EXISTS $t")
  }

  test("collapseIntraBatch: same-batch near-dup signatures collapse to a rep") {
    val idxC = "nov_idx_ib"; val sinkC = "nov_sink_ib"
    val idxN = "nov_idx_nb"; val sinkN = "nov_sink_nb"
    for (t <- Seq(idxC, sinkC, idxN, sinkN))
      spark.sql(s"DROP TABLE IF EXISTS $t")
    val docs = Tables.load(spark, sf, "documents").limit(120)
    val media = graft.llm.Multimodal.syntheticContentImages(docs)
      .localCheckpoint()
    // cold-start indexes: every arrival is index-novel, so kept rows
    // are decided purely by the intra-batch rule
    val empty = spark.range(0).select($"id".as("sig"))
    Events.createSignatureIndex(spark, idxC, empty, "sig")
    Events.createSignatureIndex(spark, idxN, empty, "sig")
    Events.imageNoveltyIngestBatch(media, 0L, idxC, sinkC,
      collapseIntraBatch = true)
    Events.imageNoveltyIngestBatch(media, 0L, idxN, sinkN)
    // without collapse the whole batch passes together
    assert(spark.table(sinkN).count() == media.count())
    // brute-force the expected reps: components of the hamming<=3
    // signature graph, rep = MIN signature; rows keep iff sig == rep
    val sigs = graft.llm.Multimodal.dhashSignatures(media)
      .select($"media_id", $"dhash").as[(Long, Long)].collect()
    val uniq = sigs.map(_._2).distinct
    val parent = scala.collection.mutable.Map(uniq.map(x => x -> x): _*)
    def find(x: Long): Long =
      if (parent(x) == x) x
      else { val r = find(parent(x)); parent(x) = r; r }
    for (a <- uniq; b <- uniq
         if a < b && java.lang.Long.bitCount(a ^ b) <= 3) {
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val expected = sigs.collect {
      case (id, h) if find(h) == h => id }.toSet
    val kept = spark.table(sinkC).select($"media_id").as[Long]
      .collect().toSet
    assert(kept == expected)
    assert(kept.size < media.count(), "planted dups did not collapse")
    // the index holds exactly the representative signatures
    assert(spark.table(idxC).filter($"sig".isNotNull).select($"sig")
      .distinct().as[Long].collect().toSet
      == uniq.filter(h => find(h) == h).toSet)
    for (t <- Seq(idxC, sinkC, idxN, sinkN))
      spark.sql(s"DROP TABLE IF EXISTS $t")
  }

  // ---- collapseByVector over-cap guard (r17: dedupAssigned's hazard
  // rule in component space) -------------------------------------------
  // two far-apart centroids on the first axis; every test vector's cell
  // is decided by its first component's sign
  private def cbvCents: Array[Array[Double]] =
    Array(Array(10.0, 0.0, 0.0, 0.0), Array(-10.0, 0.0, 0.0, 0.0))
  // dense clique: pairwise cosine ≈ 1 (first component dominates)
  private def cbvClique(i: Int, sign: Float = 1f): Array[Float] =
    Array(sign * 1000f, i * 0.001f, 0f, 0f)
  // mutual non-dups in cell 0: directions ≥ 0.6 rad apart in the
  // (x1, x2) plane (9 vectors: max angle 5.4, wrap gap 1.48 — every
  // pairwise cosine ≤ cos(0.6) ≈ 0.825 < 0.9)
  private def cbvScatter(i: Int): Array[Float] = {
    val th = 0.6 * (i + 1)
    Array(1f, (80 * math.cos(th)).toFloat, (80 * math.sin(th)).toFloat, 0f)
  }
  private def cbvKept(df: org.apache.spark.sql.DataFrame): Set[Long] =
    df.select($"id").as[Long].collect().toSet

  test("collapseByVector guard: under-cap cells are byte-identical to exact") {
    val rows = (0 until 30).map(i => (i.toLong, cbvClique(i))) ++
      (0 until 9).map(i => (100L + i, cbvScatter(i))) ++
      (0 until 20).map(i => (200L + i, cbvClique(i / 2, sign = -1f))) ++
      Seq((900L, null.asInstanceOf[Array[Float]]),
        (901L, null.asInstanceOf[Array[Float]])) ++
      Seq((950L, cbvClique(0)), (951L, cbvClique(0))) // rows SHARING a vec
    val batch = rows.toDF("id", "vec").localCheckpoint()
    val exact = cbvKept(Events.collapseByVector(batch, "vec", cbvCents,
      0.9, maxCellVectors = Int.MaxValue))
    val guarded = cbvKept(Events.collapseByVector(batch, "vec", cbvCents,
      0.9)) // default cap 8192 — every cell far below it
    assert(guarded == exact)
    // null-vec rows pass through; rows sharing the rep vector pass
    // together; the clique collapsed
    assert(guarded.contains(900L) && guarded.contains(901L))
    assert(guarded.contains(950L) == guarded.contains(951L))
    assert(guarded.size < rows.size)
  }

  test("collapseByVector guard: pivot-covered over-cap clique is EXACT") {
    // cell 0: 300-member jittered clique + 9 mutual non-dups = 309
    // distinct vectors > cap 100 → over-cap. Lexicographic pivots
    // (width 64) take the 9 scatter vectors (first element 1 < 1000)
    // then 55 clique members — the clique holds a pivot, so it is
    // covered and resolves exactly. Cell 1 stays under-cap.
    val rows = (0 until 300).map(i => (i.toLong, cbvClique(i))) ++
      (0 until 9).map(i => (1000L + i, cbvScatter(i))) ++
      (0 until 20).map(i => (2000L + i, cbvClique(i / 2, sign = -1f)))
    val batch = rows.toDF("id", "vec").localCheckpoint()
    val exact = cbvKept(Events.collapseByVector(batch, "vec", cbvCents,
      0.9, maxCellVectors = Int.MaxValue))
    val guarded = cbvKept(Events.collapseByVector(batch, "vec", cbvCents,
      0.9, maxCellVectors = 100))
    assert(guarded == exact)
    // and the clique really did collapse to one representative
    assert(guarded.count(_ < 300L) == 1)
  }

  test("collapseByVector guard: pivot-unreachable cluster — superset, " +
    "bucket bound") {
    // cell 0 packs TWO mutually-far 60-member cliques (cos ≈ -1 across)
    // with pivotWidth = 1: the single pivot is cluster B's lexicographic
    // min (element 1: -80 < 80), so B resolves exactly while A is
    // pivot-unreachable and fragments along the salt — at most
    // ceil(120/40) = 3 representatives, never fewer than 1, and never
    // a dropped row the exact form keeps.
    val a = (0 until 60).map(i =>
      (i.toLong, Array(1f, 80f, i * 0.001f, 0f)))
    val b = (0 until 60).map(i =>
      (1000L + i, Array(1f, -80f, i * 0.001f, 0f)))
    val batch = (a ++ b).toDF("id", "vec").localCheckpoint()
    val exact = cbvKept(Events.collapseByVector(batch, "vec", cbvCents,
      0.9, maxCellVectors = Int.MaxValue))
    val guarded = cbvKept(Events.collapseByVector(batch, "vec", cbvCents,
      0.9, maxCellVectors = 40, pivotWidth = 1))
    assert(exact.subsetOf(guarded), "guard dropped a row the exact form keeps")
    assert(exact.count(_ < 1000L) == 1 && exact.count(_ >= 1000L) == 1)
    assert(guarded.count(_ >= 1000L) == 1, "pivot-covered cluster not exact")
    val aReps = guarded.count(_ < 1000L)
    assert(aReps >= 1 && aReps <= 3,
      s"unreachable cluster outside the bucket bound: $aReps reps")
  }

  test("collapseByVector guard: salt-only form equals the per-bucket " +
    "exact oracle") {
    // pivotWidth = 0 disables the peel, leaving pure salt buckets: the
    // guarded components are then EXACTLY the union of independent
    // exact collapses per (deterministic) bucket — reconstructed here
    // with the same pmod(xxhash64(vec), nb) expression.
    val cents1 = Array(Array(1.0, 0.0, 0.0, 0.0))
    val rows = (0 until 40).map(i => (i.toLong, cbvClique(i))) ++
      (0 until 40).map(i => (1000L + i, cbvClique(i, sign = -1f))) ++
      (0 until 9).map(i => (2000L + i, cbvScatter(i)))
    val batch = rows.toDF("id", "vec").localCheckpoint()
    val cap = 25
    val nDistinct = batch.select($"vec").distinct().count()
    val nb = math.ceil(nDistinct.toDouble / cap).toLong
    assert(nb == 4)
    val guarded = cbvKept(Events.collapseByVector(batch, "vec", cents1,
      0.9, maxCellVectors = cap, pivotWidth = 0))
    val oracle = (0L until nb).flatMap { bkt =>
      cbvKept(Events.collapseByVector(
        batch.filter(pmod(xxhash64($"vec"), lit(nb)) === bkt),
        "vec", cents1, 0.9, maxCellVectors = Int.MaxValue))
    }.toSet
    assert(guarded == oracle)
  }

  test("collapseBySignature maxBucketSize: hot band bucket drops, " +
    "small buckets exact") {
    // 20 signatures share band0 = 0x1234 and zero bands 2-3 (three hot
    // buckets of 20) while band1 carries the variation — under cap 5
    // every shared bucket is dropped, so the cluster loses ALL edges
    // and fully fragments (every row kept: the banded recall trade,
    // refinement-sound). A 2-signature cluster in its own buckets
    // stays exact.
    val hot = (0 until 20).map(i => (i.toLong, 0x1234L | (i.toLong << 16)))
    val pairBase = 0x9999L | (5L << 48)
    val small = Seq((100L, pairBase), (101L, pairBase | (1L << 16)))
    val signed = (hot ++ small).toDF("id", "s").localCheckpoint()
    val exact = Events.collapseBySignature(signed, "s", 3)
      .select($"id").as[Long].collect().toSet
    assert(exact.count(_ < 20L) == 1, "hot cluster should collapse to 1")
    assert(exact.count(_ >= 100L) == 1, "small cluster should collapse to 1")
    val capped = Events.collapseBySignature(signed, "s", 3,
        maxBucketSize = Some(5))
      .select($"id").as[Long].collect().toSet
    assert(exact.subsetOf(capped), "cap dropped a row the exact form keeps")
    assert(capped.count(_ < 20L) == 20, "capped hot cluster should fragment")
    assert(capped.count(_ >= 100L) == 1, "sub-cap bucket must stay exact")
  }

  test("collapseByBands maxBucketSize: hot band drops, small bands exact") {
    val hot = (0 until 10).map(i => (i.toLong, Seq("a", s"x$i")))
    val small = Seq((100L, Seq("b", "y0")), (101L, Seq("b", "y1")))
    val signed = (hot ++ small).toDF("id", "bands").localCheckpoint()
    val exact = Events.collapseByBands(signed, "bands")
      .select($"id").as[Long].collect().toSet
    assert(exact.count(_ < 10L) == 1 && exact.count(_ >= 100L) == 1)
    val capped = Events.collapseByBands(signed, "bands",
        maxBucketSize = Some(5))
      .select($"id").as[Long].collect().toSet
    assert(exact.subsetOf(capped))
    assert(capped.count(_ < 10L) == 10, "capped hot band should fragment")
    assert(capped.count(_ >= 100L) == 1, "sub-cap band must stay exact")
  }

  test("hashEdgeCollisions: zero on distinct nodes, counts forced merges") {
    // r18 (r17 verdict #5): the hash-space edge model (~n²/2⁶⁴) is now
    // observable — the metric is |nodes| − |distinct h(nodes)|. A real
    // xxhash64 collision cannot be crafted, so the detector itself is
    // pinned with a degenerate hash expression: a constant hash must
    // report n−1 forced merges, a per-row-unique hash zero.
    val nodes = Seq(Seq("a", "b"), Seq("c", "d"), Seq("e", "f"))
      .toDF("doc")
    assert(Events.hashEdgeCollisions(nodes, xxhash64($"doc")) == 0L)
    assert(Events.hashEdgeCollisions(nodes, lit(7L)) == 2L)
  }

  test("pre-capped index: windowless probe, exact bottom-k, fold re-tightens") {
    // r14 (verdict #2): the per-bucket candidate cap is MATERIALIZED in
    // the index itself at create/append/compaction time instead of a
    // row_number window paid on every probe (the sink keeps every raw
    // signature — the index is the probe structure, not the truth)
    val idxT = "cap_idx"
    spark.sql(s"DROP TABLE IF EXISTS $idxT")
    val top = 61440L * 65536 + 0x1234L
    val hot = spark.range(1, 5001)
      .select(($"id" * 65536 + lit(0x1234)).cast("long").as("sig"))
      .unionByName(Seq(top).toDF("sig"))
    Events.createSignatureIndex(spark, idxT, hot, "sig")
    // creation-time index = EXACT bottom-k per bucket: the 3 hot
    // buckets hold exactly 4096 (of 5001) signatures
    val hotCounts = spark.table(idxT).filter($"sig".isNotNull)
      .groupBy($"band_key").count().filter($"count" > 1)
      .select($"count").as[Long].collect()
    assert(hotCounts.length == 3 && hotCounts.forall(_ == 4096L))
    // the windowless probe of the pre-capped index decides exactly
    // like the r13 per-probe-window form over the RAW banded rows:
    // the hamming-1 twin of the capped-out top member is falsely
    // novel, the bottom-member twin is caught
    val probe = Seq((1L, top | (1L << 16)), (2L, 1L * 65536 + 0x1234L))
      .toDF("media_id", "s")
    val viaIndex = Events.noveltyBandedJoin(probe, "s",
      spark.table(idxT), 3, maxBucket = Int.MaxValue)
    val viaWindow = Events.noveltyBandedJoin(probe, "s",
      graft.llm.Multimodal.bandIndexRows(hot, "sig"), 3)
    assert(viaIndex.select($"media_id").as[Long].collect().toSet ==
      viaWindow.select($"media_id").as[Long].collect().toSet)
    assert(viaIndex.select($"media_id").as[Long].collect().toSet ==
      Set(1L))
    // ... and the pre-capped probe plans WITHOUT any Window
    import org.apache.spark.sql.execution.window.WindowExec
    assert(viaIndex.queryExecution.executedPlan.collect {
      case w: WindowExec => w }.isEmpty)
    // the capped FOLD re-tightens the base to bottom-k of the union of
    // per-batch bottom-ks (== the union's true bottom-k), preserving
    // the max batch — including its NULL-sig commit marker
    val t3 = "cap_fold_t"
    spark.sql(s"DROP TABLE IF EXISTS $t3")
    Seq((Some(100L), Some(10L), -1L), (Some(100L), Some(20L), -1L),
        (Some(100L), Some(30L), -1L), (Some(100L), Some(1L), 0L),
        (Some(100L), Some(2L), 0L), (Some(100L), Some(40L), 0L),
        (Some(100L), Some(50L), 1L),
        (Option.empty[Long], Option.empty[Long], 1L))
      .toDF("band_key", "sig", "batch_id")
      .write.partitionBy("batch_id").saveAsTable(t3)
    spark.sql(s"ALTER TABLE $t3 SET TBLPROPERTIES(" +
      "'graft.index.kind'='signature','graft.capped.k'='3')")
    Events.compactBatchTable(spark, t3)
    assert(spark.table(t3).filter($"batch_id" === -1L)
      .select($"sig").as[Long].collect().toSet == Set(1L, 2L, 10L))
    assert(spark.table(t3).filter($"batch_id" === 1L)
      .select($"sig").as[Option[Long]].collect().toSet ==
      Set(Some(50L), None))
    // the INGEST loop end to end: a post-compaction index decides
    // exactly like a freshly created twin of the same signatures
    val idx2 = "cap_idx2"; val sink2 = "cap_sink2"
    val idx3 = "cap_idx3"; val sink3 = "cap_sink3"
    for (t <- Seq(idx2, sink2, idx3, sink3))
      spark.sql(s"DROP TABLE IF EXISTS $t")
    val d = Tables.load(spark, sf, "documents").limit(150)
      .select($"doc_id", $"text").localCheckpoint()
    Events.createSignatureIndex(spark, idx2,
      d.filter($"doc_id" < 50)
        .select(graft.functions.SimHash60(lower($"text")).as("sig")),
      "sig")
    Events.textNoveltyIngestBatch(d.filter($"doc_id" >= 50 &&
      $"doc_id" < 100), 0L, idx2, sink2)
    Events.textNoveltyIngestBatch(d.filter($"doc_id" >= 100), 1L,
      idx2, sink2)
    Events.compactBatchTable(spark, idx2)
    Events.createSignatureIndex(spark, idx3,
      spark.table(idx2).filter($"sig".isNotNull)
        .select($"sig").distinct(), "sig")
    val b2 = d.select(($"doc_id" + 9000).as("doc_id"), $"text")
    Events.textNoveltyIngestBatch(b2, 2L, idx2, sink2)
    Events.textNoveltyIngestBatch(b2, 0L, idx3, sink3)
    assert(spark.table(sink2).filter($"batch_id" === 2L)
      .select($"doc_id").as[Long].collect().toSet ==
      spark.table(sink3).select($"doc_id").as[Long].collect().toSet)
    for (t <- Seq(idxT, t3, idx2, sink2, idx3, sink3))
      spark.sql(s"DROP TABLE IF EXISTS $t")
  }

  test("key novelty ingest: exact-key growth, replay no-op, compaction, prefix pin") {
    val idxT = "key_idx_g"; val sinkT = "key_sink_g"
    for (t <- Seq(idxT, sinkT)) spark.sql(s"DROP TABLE IF EXISTS $t")
    val d = Tables.load(spark, sf, "documents").limit(200)
      .select($"doc_id", $"text")
      .withColumn("k", md5(lower($"text").cast("binary")))
      .localCheckpoint()
    val keyOf = d.select($"doc_id", $"k").as[(Long, Option[String])]
      .collect().toMap
    Events.createKeyIndex(spark, idxT,
      d.filter($"doc_id" < 100).select($"k"), "k")
    Events.keyNoveltyIngestBatch(d.filter($"doc_id" >= 100), 0L,
      idxT, sinkT, "k")
    val seedKeys = keyOf.filter(_._1 < 100).values.flatten.toSet
    val novel0 = keyOf.keys.filter(id => id >= 100 &&
      keyOf(id).forall(!seedKeys.contains(_))).toSet
    assert(spark.table(sinkT).filter($"batch_id" === 0)
      .select($"doc_id").as[Long].collect().toSet == novel0)
    // batch 1 = full copies: only keyless (null-text) copies pass
    Events.keyNoveltyIngestBatch(
      d.select(($"doc_id" + 10000).as("doc_id"), $"text", $"k"), 1L,
      idxT, sinkT, "k")
    val idx1 = seedKeys ++ novel0.flatMap(keyOf)
    val novel1 = keyOf.keys.filter(id => keyOf(id).forall(
      !idx1.contains(_))).map(_ + 10000).toSet
    assert(spark.table(sinkT).filter($"batch_id" === 1)
      .select($"doc_id").as[Long].collect().toSet == novel1)
    // replay = no-op
    val sn = spark.table(sinkT).count()
    Events.keyNoveltyIngestBatch(
      d.select(($"doc_id" + 10000).as("doc_id"), $"text", $"k"), 1L,
      idxT, sinkT, "k")
    assert(spark.table(sinkT).count() == sn)
    // the probe reads only the batch's key_pfx partitions
    assertPrunedScan(Events.noveltyKeyExistsJoin(
      d.filter($"doc_id" >= 195), "k", spark.table(idxT)), idxT, "key_pfx")
    // compaction folds to base + max batch; keys preserved, markers of
    // folded batches dropped (the declared "key" geometry)
    val keysBefore = spark.table(idxT).filter($"key".isNotNull)
      .select($"key").distinct().count()
    val (pb, pa) = Events.compactBatchTable(spark, idxT)
    assert(pa <= pb)
    assert(spark.table(idxT).select($"batch_id").distinct()
      .as[Long].collect().toSet == Set(-1L, 1L))
    assert(spark.table(idxT).filter($"key".isNotNull)
      .select($"key").distinct().count() == keysBefore)
    assert(spark.table(idxT).filter($"key".isNull && $"batch_id" === -1L)
      .count() == 0)
    for (t <- Seq(idxT, sinkT)) spark.sql(s"DROP TABLE IF EXISTS $t")
  }

  test("key novelty probe rejects a batch key type that differs from the index") {
    // xxhash64 prefix pruning is type-dependent: an int-typed batch key
    // probed against a string-keyed index would prune to the WRONG
    // partitions and silently false-novel true duplicates — the probe
    // must fail loudly instead
    val idxT = "key_idx_ty"
    for (t <- Seq(idxT, "key_sink_ty")) spark.sql(s"DROP TABLE IF EXISTS $t")
    Events.createKeyIndex(spark, idxT,
      Seq("5", "7").toDF("k"), "k")
    val intBatch = Seq(5L, 6L).toDF("k")
    val e = intercept[IllegalArgumentException] {
      Events.noveltyKeyExistsJoin(intBatch, "k", spark.table(idxT))
    }
    assert(e.getMessage.contains("type"))
    // and through the ingest loop entry point too
    val e2 = intercept[IllegalArgumentException] {
      Events.keyNoveltyIngestBatch(intBatch, 0L, idxT, "key_sink_ty", "k")
    }
    assert(e2.getMessage.contains("type"))
    // the matching type still probes fine
    val ok = Events.noveltyKeyExistsJoin(
      Seq("5", "6").toDF("k"), "k", spark.table(idxT))
    assert(ok.select($"k").as[String].collect().toSet == Set("6"))
    // and lazily: a key indexed after the probe is built, before it runs,
    // counts
    val later = Events.noveltyKeyExistsJoin(
      Seq("5", "6", "8").toDF("k"), "k", spark.table(idxT))
    Events.keyNoveltyIngestBatch(Seq("6").toDF("k"), 0L, idxT, "key_sink_ty",
      "k")
    assert(later.select($"k").as[String].collect().toSet == Set("8"))
    spark.sql(s"DROP TABLE IF EXISTS $idxT")
    spark.sql(s"DROP TABLE IF EXISTS key_sink_ty")
  }

  /** The crash contract of the ingest kernel (`Events.ingestBatch`
    * scaladoc): the index append (with its commit marker) is the LAST
    * write, so a crash after the sink append re-runs the batch — the
    * sink's batch partition skips the committed append, and the probe,
    * deterministic given the index as of batch start, rebuilds the same
    * index rows, so the restored index equals the uncrashed one
    * row-for-row. `ingest` runs batches 0 and 1 against
    * the freshly created `idxT`; batch 1 must index at least one row. */
  private def assertCrashHeals(idxT: String, sinkT: String,
      b0: org.apache.spark.sql.DataFrame, b1: org.apache.spark.sql.DataFrame,
      ingest: (org.apache.spark.sql.DataFrame, Long) => Unit): Unit = {
    ingest(b0, 0L)
    ingest(b1, 1L)
    def rowsOf(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toString).sorted.toSeq
    def idxRows = rowsOf(spark.table(idxT).filter($"batch_id" === 1L))
    val idxBefore = idxRows
    val sinkBefore = rowsOf(spark.table(sinkT))
    assert(idxBefore.length > 1, s"batch 1 indexed nothing: $idxBefore")
    // simulate the crash window: batch 1's sink append committed, its
    // index append (all sub-partitions) lost — datasource tables
    // discover partitions from the filesystem, so remove the directory
    val loc = java.nio.file.Paths.get(new java.net.URI(
      spark.sessionState.catalog.getTableMetadata(
        spark.sessionState.sqlParser.parseTableIdentifier(idxT))
        .location.toString))
    def rmRf(p: java.nio.file.Path): Unit = {
      if (java.nio.file.Files.isDirectory(p))
        java.nio.file.Files.list(p).forEach(rmRf(_))
      java.nio.file.Files.deleteIfExists(p)
    }
    rmRf(loc.resolve("batch_id=1"))
    spark.sql(s"REFRESH TABLE $idxT")
    assert(spark.table(idxT).filter($"batch_id" === 1L).count() == 0)
    // replay heals: sink untouched, index restored row-for-row
    ingest(b1, 1L)
    assert(rowsOf(spark.table(sinkT)) == sinkBefore)
    assert(idxRows == idxBefore)
  }

  test("novelty ingest: crash between sink and index appends heals on replay") {
    val idxT = "crash_idx"; val sinkT = "crash_sink"
    for (t <- Seq(idxT, sinkT)) spark.sql(s"DROP TABLE IF EXISTS $t")
    val d = Tables.load(spark, sf, "documents").limit(120)
      .select($"doc_id", $"text").localCheckpoint()
    Events.createSignatureIndex(spark, idxT,
      d.filter($"doc_id" < 40)
        .select(graft.functions.SimHash60(lower($"text")).as("sig")),
      "sig")
    assertCrashHeals(idxT, sinkT, d.filter($"doc_id" >= 40 &&
      $"doc_id" < 80), d.filter($"doc_id" >= 80),
      Events.textNoveltyIngestBatch(_, _, idxT, sinkT))
    for (t <- Seq(idxT, sinkT)) spark.sql(s"DROP TABLE IF EXISTS $t")
  }

  test("key novelty ingest: crash between sink and index appends heals on replay") {
    val idxT = "crash_key_idx"; val sinkT = "crash_key_sink"
    for (t <- Seq(idxT, sinkT)) spark.sql(s"DROP TABLE IF EXISTS $t")
    val d = Tables.load(spark, sf, "documents").limit(120)
      .select($"doc_id", $"text")
      .withColumn("k", md5(lower($"text").cast("binary")))
      .localCheckpoint()
    Events.createKeyIndex(spark, idxT, d.filter($"doc_id" < 40), "k")
    assertCrashHeals(idxT, sinkT, d.filter($"doc_id" >= 40 &&
      $"doc_id" < 80), d.filter($"doc_id" >= 80),
      Events.keyNoveltyIngestBatch(_, _, idxT, sinkT, "k"))
    for (t <- Seq(idxT, sinkT)) spark.sql(s"DROP TABLE IF EXISTS $t")
  }

  test("minhash novelty ingest: crash between sink and index appends heals on replay") {
    val idxT = "crash_mh_idx"; val sinkT = "crash_mh_sink"
    for (t <- Seq(idxT, sinkT)) spark.sql(s"DROP TABLE IF EXISTS $t")
    val d = Tables.load(spark, sf, "documents").limit(120)
      .select($"doc_id", $"text").localCheckpoint()
    Events.createBandIndex(spark, idxT, d.filter($"doc_id" < 40)
      .select(graft.llm.Dedup.minhashBandArray(
        graft.functions.MinHashSig(lower($"text"), 3, 16), 16, 4).as("b")),
      "b")
    assertCrashHeals(idxT, sinkT, d.filter($"doc_id" >= 40 &&
      $"doc_id" < 80), d.filter($"doc_id" >= 80),
      Events.minhashNoveltyIngestBatch(_, _, idxT, sinkT))
    for (t <- Seq(idxT, sinkT)) spark.sql(s"DROP TABLE IF EXISTS $t")
  }

  test("embedding novelty ingest: crash between sink and index appends heals on replay") {
    val idxT = "crash_emb_idx"; val sinkT = "crash_emb_sink"
    for (t <- Seq(idxT, s"${idxT}__cents", sinkT))
      spark.sql(s"DROP TABLE IF EXISTS $t")
    val e = Tables.load(spark, sf, "embeddings")
      .select($"vec_id", $"embedding").localCheckpoint()
    val cents = graft.llm.Similarity.ivfTrain(e, "vec_id", "embedding", 8)
    Events.createEmbeddingIndex(spark, idxT, e, "embedding", cents)
    // batch 0: exact copies of %5 (duplicates) + negated %7 (novel);
    // batch 1: negated %11 (novel where not already in batch 0)
    val neg = (m: Int, off: Long) => e.filter(pmod($"vec_id", lit(m)) === 0)
      .select(($"vec_id" + off).as("vec_id"),
        transform($"embedding", x => -x).as("embedding"))
    val b0 = e.filter(pmod($"vec_id", lit(5)) === 0)
      .select(($"vec_id" + 200000).as("vec_id"), $"embedding")
      .unionByName(neg(7, 300000L))
    assertCrashHeals(idxT, sinkT, b0, neg(11, 400000L),
      Events.embeddingNoveltyIngestBatch(_, _, idxT, sinkT, "embedding",
        0.95))
    for (t <- Seq(idxT, s"${idxT}__cents", sinkT))
      spark.sql(s"DROP TABLE IF EXISTS $t")
  }

  test("a steady ingest call compiles no new classes") {
    // Spark caches generated classes by source text, so a batch id or a
    // touched-prefix set inlined into a plan made every ingest call
    // compile afresh. Per geometry of the probe, three ingest calls on
    // fresh arrivals with new batch ids (the first creates the sink, the
    // second warms the append): the third compiles nothing. Each batch
    // holds 20 fresh values and 5 seen ones, so every call's plans have
    // the same shape.
    import org.apache.spark.sql.DataFrame
    val ids = spark.range(0, 200).select($"id".as("doc_id"))
    val keys = ids.select($"doc_id", md5($"doc_id".cast("string")).as("k"))
    // four random words: no fresh text shares a shingle with another
    val texts = ids.select($"doc_id", concat_ws(" ", (0 until 4).map(w =>
      substring(md5($"doc_id".cast("string")), 8 * w + 1, 8)): _*).as("text"))
    val vecs = ids.select($"doc_id", array((1 to 16).map(j =>
      (pmod(xxhash64($"doc_id", lit(j)), lit(2001L)) - 1000) / 1000.0): _*)
      .as("embedding"))
    val seedOf = (df: DataFrame) => df.filter($"doc_id" < 100)
    def compiles = org.apache.spark.metrics.source.CodegenMetrics
      .METRIC_COMPILATION_TIME.getCount
    type Ingest = (DataFrame, Long, String, String) => Unit
    val geometries: Seq[(String, DataFrame, String => Unit, Ingest)] = Seq(
      ("key", keys,
        idx => Events.createKeyIndex(spark, idx, seedOf(keys), "k"),
        Events.keyNoveltyIngestBatch(_, _, _, _, "k")),
      ("minhash", texts,
        idx => Events.createBandIndex(spark, idx,
          seedOf(texts).select(graft.llm.Dedup.minhashBandArray(
            graft.functions.MinHashSig(lower($"text"), 3, 16), 16, 4)
            .as("b")), "b"),
        Events.minhashNoveltyIngestBatch(_, _, _, _)),
      ("embedding", vecs,
        idx => Events.createEmbeddingIndex(spark, idx, seedOf(vecs),
          "embedding", graft.llm.Similarity.ivfTrain(seedOf(vecs),
            "doc_id", "embedding", 4)),
        Events.embeddingNoveltyIngestBatch(_, _, _, _, "embedding", 0.95)))
    for ((name, rows, create, ingest) <- geometries) {
      val idxT = s"steady_${name}_idx"; val sinkT = s"steady_${name}_sink"
      for (t <- Seq(idxT, s"${idxT}__cents", sinkT))
        spark.sql(s"DROP TABLE IF EXISTS $t")
      create(idxT)
      val batches = (0 until 3).map(b => rows.filter(
          ($"doc_id" >= 100 + 20 * b && $"doc_id" < 120 + 20 * b) ||
            ($"doc_id" >= 5 * b && $"doc_id" < 5 * b + 5))
        .localCheckpoint())
      ingest(batches(0), 0L, idxT, sinkT)
      ingest(batches(1), 1L, idxT, sinkT)
      val c0 = compiles
      ingest(batches(2), 2L, idxT, sinkT)
      assert(compiles == c0,
        s"$name: the third call compiled ${compiles - c0} classes")
      assert(spark.table(sinkT).filter($"batch_id" === 2L)
        .select($"doc_id").as[Long].collect().toSet ==
        (140L until 160L).toSet, s"$name: the third call kept other rows")
      for (t <- Seq(idxT, s"${idxT}__cents", sinkT))
        spark.sql(s"DROP TABLE IF EXISTS $t")
    }
  }

  test("every geometry: a re-delivered batch writes nothing, also after compaction") {
    import org.apache.spark.sql.DataFrame
    import graft.llm.{Dedup, Multimodal}
    val docs = Tables.load(spark, sf, "documents").limit(90).localCheckpoint()
    val texts = docs.select($"doc_id", $"text")
    val keyed = texts.withColumn("k", md5(lower($"text").cast("binary")))
    val images = Multimodal.syntheticContentImages(docs).localCheckpoint()
    val audio = Multimodal.syntheticContentAudio(docs).localCheckpoint()
    val emb = Tables.load(spark, sf, "embeddings")
      .select($"vec_id", $"embedding").limit(90).localCheckpoint()
    val cents = graft.llm.Similarity.ivfTrain(emb, "vec_id", "embedding", 4)
    // rows with id < 30 seed the index; [30, 60) and [60, 90) arrive as
    // batches 0 and 1
    def split(df: DataFrame, id: String) = (df.filter(col(id) < 30),
      Seq(df.filter(col(id) >= 30 && col(id) < 60), df.filter(col(id) >= 60)))
    type Ingest = (DataFrame, Long, String, String) => Unit
    val geometries: Seq[(String, Seq[DataFrame], String => Unit, Ingest)] = {
      val (imgSeed, imgs) = split(images, "media_id")
      val (audSeed, auds) = split(audio, "media_id")
      val (txtSeed, txts) = split(texts, "doc_id")
      val (keySeed, keys) = split(keyed, "doc_id")
      val (embSeed, embs) = split(emb, "vec_id")
      Seq(
        ("image", imgs, idx => Events.createSignatureIndex(spark, idx,
            Multimodal.dhashSignatures(imgSeed).select($"dhash".as("sig")),
            "sig"),
          Events.imageNoveltyIngestBatch(_, _, _, _)),
        ("audio", auds, idx => Events.createSignatureIndex(spark, idx,
            Multimodal.audioFingerprints(audSeed).select($"afp".as("sig")),
            "sig"),
          Events.audioNoveltyIngestBatch(_, _, _, _)),
        ("text", txts, idx => Events.createSignatureIndex(spark, idx,
            txtSeed.select(graft.functions.SimHash60(lower($"text"))
              .as("sig")), "sig"),
          Events.textNoveltyIngestBatch(_, _, _, _)),
        ("embedding", embs, idx => Events.createEmbeddingIndex(spark, idx,
            embSeed, "embedding", cents),
          Events.embeddingNoveltyIngestBatch(_, _, _, _, "embedding", 0.95)),
        ("minhash", txts, idx => Events.createBandIndex(spark, idx,
            txtSeed.select(Dedup.minhashBandArray(graft.functions.MinHashSig(
              lower($"text"), 3, 16), 16, 4).as("b")), "b"),
          Events.minhashNoveltyIngestBatch(_, _, _, _)),
        ("key", keys, idx => Events.createKeyIndex(spark, idx, keySeed, "k"),
          Events.keyNoveltyIngestBatch(_, _, _, _, "k")))
    }
    for ((name, batches, create, ingest) <- geometries) {
      val idxT = s"replay_${name}_idx"; val sinkT = s"replay_${name}_sink"
      for (t <- Seq(idxT, s"${idxT}__cents", sinkT))
        spark.sql(s"DROP TABLE IF EXISTS $t")
      create(idxT)
      def rows(t: String) =
        if (spark.catalog.tableExists(t)) spark.table(t).count() else 0L
      def counts() = (rows(sinkT), rows(idxT))
      def deliverTwice(b: Int): Unit = {
        val before = counts()
        ingest(batches(b), b.toLong, idxT, sinkT)
        val once = counts()
        assert(once._2 > before._2, s"$name batch $b indexed nothing")
        ingest(batches(b), b.toLong, idxT, sinkT)
        assert(counts() == once, s"$name: replay of batch $b wrote rows")
      }
      deliverTwice(0)
      deliverTwice(1)
      Events.compactBatchTable(spark, idxT)
      Events.compactBatchTable(spark, sinkT)
      val folded = counts()
      ingest(batches(1), 1L, idxT, sinkT)
      assert(counts() == folded,
        s"$name: replay of the latest batch after compaction wrote rows")
      for (t <- Seq(sinkT, idxT)) {
        val rows = spark.table(t).drop("batch_id")
        assert(rows.count() == rows.distinct().count(),
          s"$name: duplicate rows in $t")
      }
      for (t <- Seq(idxT, s"${idxT}__cents", sinkT))
        spark.sql(s"DROP TABLE IF EXISTS $t")
    }
  }

  test("an ingest append matches the sink's columns by name") {
    // a later batch with its columns in another order lands in the right
    // columns (two of them share a type), and a renamed column fails the
    // call before anything is written
    val idxT = "byname_key_idx"; val sinkT = "byname_key_sink"
    for (t <- Seq(idxT, sinkT)) spark.sql(s"DROP TABLE IF EXISTS $t")
    Events.createKeyIndex(spark, idxT, Seq("a").toDF("k"), "k")
    Events.keyNoveltyIngestBatch(Seq(("b", "note-b", 1L)).toDF("k", "note", "n"),
      0L, idxT, sinkT, "k")
    Events.keyNoveltyIngestBatch(Seq(("note-c", "c", 2L), ("note-a", "a", 3L))
      .toDF("note", "k", "n"), 1L, idxT, sinkT, "k")
    assert(spark.table(sinkT).select($"k", $"note", $"n", $"batch_id")
      .as[(String, String, Long, Long)].collect().toSet ==
      Set(("b", "note-b", 1L, 0L), ("c", "note-c", 2L, 1L)))
    intercept[org.apache.spark.sql.AnalysisException] {
      Events.keyNoveltyIngestBatch(Seq(("d", "note-d", 4L))
        .toDF("k", "label", "n"), 2L, idxT, sinkT, "k")
    }
    for (t <- Seq(idxT, sinkT))
      assert(spark.table(t).filter($"batch_id" === 2L).isEmpty)
    for (t <- Seq(idxT, sinkT)) spark.sql(s"DROP TABLE IF EXISTS $t")
  }

  test("a batch past MaxCollectedProbeRows takes the join form, same decisions") {
    // Up to MaxCollectedProbeRows probe values the ingest decides on the
    // driver; a larger batch takes the join form. Each geometry ingests
    // one batch past the bound and must keep exactly the rows, and index
    // exactly the values, that the driver form finds for its two halves
    // against the same index (decisions are against the index as of
    // batch start, so halving the batch changes none).
    import org.apache.spark.sql.DataFrame
    val n = Events.MaxCollectedProbeRows + 500L
    val half = (n + 1) / 2
    assert(half <= Events.MaxCollectedProbeRows)
    val ids = spark.range(0, n).select($"id".as("doc_id")).localCheckpoint()
    val keyed = ids.withColumn("k", md5($"doc_id".cast("string")))
    val texts = ids.withColumn("text", concat_ws(" ", lit("crawl"),
      ($"doc_id" % 7).cast("string"), $"doc_id".cast("string"),
      ($"doc_id" * 7919 % 10007).cast("string")))
    def banded(df: DataFrame) = df.withColumn("mh_bands",
      graft.llm.Dedup.minhashBandArray(graft.functions.MinHashSig(
        lower($"text"), 3, 16), 16, 4))
    val vecs = ids.withColumn("embedding", array((1 to 32).map(j =>
      (pmod(xxhash64($"doc_id", lit(j)), lit(2001L)) - 1000) / 1000.0): _*))
    val seedOf = (df: DataFrame) => df.filter($"doc_id" % 3 === 0)
    val cents = graft.llm.Similarity.ivfTrain(seedOf(vecs), "doc_id",
      "embedding", 4)
    type Probe = (DataFrame, DataFrame) => Option[(DataFrame, DataFrame)]
    val geometries: Seq[(String, DataFrame, String, String => Unit, Probe,
        (DataFrame, String, String) => Unit)] = Seq(
      ("key", keyed, "key",
        idx => Events.createKeyIndex(spark, idx, seedOf(keyed), "k"),
        (b, idx) => Events.probeBatch(b, idx, Events.keyGeometry("k")),
        (b, idx, sink) => Events.keyNoveltyIngestBatch(b, 0L, idx, sink, "k")),
      ("minhash", texts, "band",
        idx => Events.createBandIndex(spark, idx,
          banded(seedOf(texts)).select($"mh_bands".as("b")), "b"),
        (b, idx) => Events.probeBatch(banded(b), idx,
          Events.bandGeometry("mh_bands")),
        (b, idx, sink) => Events.minhashNoveltyIngestBatch(b, 0L, idx, sink)),
      ("embedding", vecs, "vec",
        idx => Events.createEmbeddingIndex(spark, idx, seedOf(vecs),
          "embedding", cents),
        (b, idx) => Events.probeBatch(b, idx,
          Events.cellGeometry("embedding", cents, 0.95, 1)),
        (b, idx, sink) => Events.embeddingNoveltyIngestBatch(b, 0L, idx, sink,
          "embedding", 0.95)))
    for ((name, batch, idxCol, create, probe, ingest) <- geometries) {
      val idxT = s"big_${name}_idx"; val sinkT = s"big_${name}_sink"
      for (t <- Seq(idxT, s"${idxT}__cents", sinkT))
        spark.sql(s"DROP TABLE IF EXISTS $t")
      create(idxT)
      val halves = Seq(batch.filter($"doc_id" < half),
        batch.filter($"doc_id" >= half))
      val driverForm = halves.map(h => probe(h, spark.table(idxT)).get)
      val wantKept = driverForm.flatMap(_._1.select($"doc_id").as[Long]
        .collect()).toSet
      val wantIndexed = driverForm.flatMap(_._2.filter(col(idxCol).isNotNull)
        .select(col(idxCol)).collect().map(_.get(0))).toSet
      assert(wantKept.nonEmpty && wantKept.size < n, s"$name: kept $wantKept")
      ingest(batch, idxT, sinkT)
      assert(spark.table(sinkT).select($"doc_id").as[Long].collect().toSet ==
        wantKept, s"$name: the join form kept other rows")
      val indexed = spark.table(idxT)
        .filter($"batch_id" === 0L && col(idxCol).isNotNull)
        .select(col(idxCol)).collect().map(_.get(0))
      assert(indexed.length == indexed.distinct.length &&
        indexed.toSet == wantIndexed, s"$name: the join form indexed others")
      for (t <- Seq(idxT, s"${idxT}__cents", sinkT))
        spark.sql(s"DROP TABLE IF EXISTS $t")
    }
  }

  test("ingest loops loudly reject reserved output column names") {
    // r13 ADVICE: novel/batch_id/mh_bands were silently clobbered
    val d = Seq((1L, "some text", 0L)).toDF("doc_id", "text", "batch_id")
    intercept[IllegalArgumentException] {
      Events.textNoveltyIngestBatch(d, 0L, "rn_idx", "rn_sink")
    }
    intercept[IllegalArgumentException] {
      Events.minhashNoveltyIngestBatch(
        Seq((1L, "t", "x")).toDF("doc_id", "text", "mh_bands"),
        0L, "rn_idx", "rn_sink")
    }
    intercept[IllegalArgumentException] {
      Events.embeddingNoveltyIngestBatch(
        Seq((1L, true)).toDF("vec_id", "novel"), 0L, "rn_idx",
        "rn_sink", "vec", 0.9)
    }
    intercept[IllegalArgumentException] {
      Events.keyNoveltyIngestBatch(
        Seq((1L, "k1", true)).toDF("doc_id", "k", "novel"), 0L, "rn_idx",
        "rn_sink", "k")
    }
    intercept[IllegalArgumentException] {
      Events.keyNoveltyIngestBatch(
        Seq((1L, "k1", 0L)).toDF("doc_id", "k", "batch_id"), 0L, "rn_idx",
        "rn_sink", "k")
    }
    // a RE-DELIVERED batch carrying a reserved name fails exactly like
    // its first delivery: the checks run before the replay probe
    val (tIdx, tSink) = ("rn_txt_idx", "rn_txt_sink")
    val (eIdx, eSink) = ("rn_emb_idx", "rn_emb_sink")
    for (t <- Seq(tIdx, tSink, eIdx, s"${eIdx}__cents", eSink))
      spark.sql(s"DROP TABLE IF EXISTS $t")
    Events.createSignatureIndex(spark, tIdx,
      spark.range(0).select($"id".as("sig")), "sig")
    val texts = Seq((1L, "some text")).toDF("doc_id", "text")
    Events.textNoveltyIngestBatch(texts, 0L, tIdx, tSink)
    intercept[IllegalArgumentException] {
      Events.textNoveltyIngestBatch(texts.withColumn("novel", lit(true)),
        0L, tIdx, tSink)
    }
    Events.createEmbeddingIndex(spark, eIdx,
      Seq((1L, Seq(1.0, 0.0))).toDF("vec_id", "vec"), "vec",
      Array(Array(1.0, 0.0)))
    val vecs = Seq((2L, Seq(0.0, 1.0))).toDF("vec_id", "vec")
    Events.embeddingNoveltyIngestBatch(vecs, 0L, eIdx, eSink, "vec", 0.9)
    intercept[IllegalArgumentException] {
      Events.embeddingNoveltyIngestBatch(
        vecs.withColumn("__graft_pv", $"vec"), 0L, eIdx, eSink, "vec", 0.9)
    }
    for (t <- Seq(tIdx, tSink, eIdx, s"${eIdx}__cents", eSink))
      spark.sql(s"DROP TABLE IF EXISTS $t")
    intercept[IllegalArgumentException] {
      Events.noveltyBandedJoin(Seq((1L, true)).toDF("s", "novel"), "s",
        Seq((1L, 2L)).toDF("band_key", "sig"), 3)
    }
    intercept[IllegalArgumentException] {
      Events.noveltyBandExistsJoin(
        Seq((Seq("a"), true)).toDF("mh_bands", "novel"), "mh_bands",
        Seq("a").toDF("band"))
    }
  }

  test("compactBatchTable: geometry by declared property, not schema shape") {
    // r14 (verdict #3 / ADVICE): marker-row deletion is gated on the
    // graft.index.kind TBLPROPERTIES written by the create* functions.
    // A user table whose column set HAPPENS to match an index schema
    // keeps its NULL rows; an unknown declared kind fails loudly.
    val plain = "cp_kind_plain"; val idxT = "cp_kind_idx"
    for (t <- Seq(plain, idxT)) spark.sql(s"DROP TABLE IF EXISTS $t")
    Seq((1L, Option(5L), 0L), (2L, Option.empty[Long], 0L),
        (3L, Option(7L), 1L), (4L, Option.empty[Long], 1L),
        (5L, Option(9L), 2L), (6L, Option.empty[Long], 2L))
      .toDF("band_key", "sig", "batch_id")
      .write.partitionBy("batch_id").saveAsTable(plain)
    val before = spark.table(plain).count()
    Events.compactBatchTable(spark, plain)
    // the r13 column-set sniff would have dropped the folded NULL-sig
    // rows as stale markers; a plain table keeps every row
    assert(spark.table(plain).count() == before)
    // unknown declared kind + live batch partitions (the fold preserved
    // batch 2 and folded the rest to -1; add another batch to have two
    // live ids again) → loud reject, nothing folded
    spark.sql(s"INSERT INTO $plain VALUES (7, 11, 3)")
    spark.sql(
      s"ALTER TABLE $plain SET TBLPROPERTIES('graft.index.kind'='mystery')")
    val err = intercept[IllegalArgumentException] {
      Events.compactBatchTable(spark, plain)
    }
    assert(err.getMessage.contains("mystery"))
    // a real index declares its kind and the property SURVIVES the
    // compaction swap (saveAsTable writes a fresh catalog entry)
    Events.createSignatureIndex(spark, idxT,
      spark.range(50).select(xxhash64($"id").as("sig")), "sig")
    def kindOf(t: String) = spark.sessionState.catalog.getTableMetadata(
      spark.sessionState.sqlParser.parseTableIdentifier(t))
      .properties.get("graft.index.kind")
    assert(kindOf(idxT).contains("signature"))
    val d = Tables.load(spark, sf, "documents").limit(90)
      .select($"doc_id", $"text")
    Events.textNoveltyIngestBatch(d.filter($"doc_id" < 40), 0L, idxT,
      "cp_kind_sink")
    Events.textNoveltyIngestBatch(d.filter($"doc_id" >= 40), 1L, idxT,
      "cp_kind_sink")
    Events.compactBatchTable(spark, idxT)
    assert(kindOf(idxT).contains("signature"))
    // and the folded index dropped exactly the folded batch's marker
    assert(spark.table(idxT).filter($"sig".isNull && $"batch_id" === -1L)
      .count() == 0)
    for (t <- Seq(plain, idxT, "cp_kind_sink"))
      spark.sql(s"DROP TABLE IF EXISTS $t")
  }

  test("band-bucket cap: deterministic bottom-k, loud metric, false-novel only above cap") {
    // pathological index: 5001 signatures identical in bands 0, 2, 3
    // (low 16 bits fixed, high 32 bits zero), spread only in band 1 —
    // a dense id run 1..5000 plus one isolated top member far from the
    // run in hamming space (id 0xF000)
    val hot = spark.range(1, 5001)
      .select(($"id" * 65536 + lit(0x1234)).cast("long").as("sig"))
      .unionByName(Seq(61440L * 65536 + 0x1234L).toDF("sig"))
    val banded = graft.llm.Multimodal.bandIndexRows(hot, "sig")
      .localCheckpoint()
    // the loud metric: exactly the 3 hot buckets exceed the cap
    assert(Events.cappedBandBuckets(banded) == 3)
    assert(Events.cappedBandBuckets(banded, 6000) == 0)
    // probe 1 hamming bit from the TOP index signature: its shared
    // bands are all capped (it sorts above the kept bottom-4096, and
    // every kept id 1..4096 is >= 4 bits away) and its band-1 value
    // matches nothing, so under the cap it is (falsely) novel; with
    // the cap lifted the hamming-1 twin is found
    val top = 61440L * 65536 + 0x1234L
    val probe = Seq((1L, top | (1L << 16))).toDF("media_id", "s")
    assert(Events.noveltyBandedJoin(probe, "s", banded, 3).count() == 1)
    assert(Events.noveltyBandedJoin(probe, "s", banded, 3,
      maxBucket = Int.MaxValue).count() == 0)
    // a probe equal to a bottom-k signature is caught capped or not
    val low = Seq((2L, 1L * 65536 + 0x1234L)).toDF("media_id", "s")
    assert(Events.noveltyBandedJoin(low, "s", banded, 3).count() == 0)
  }
}
