package graft

import org.apache.spark.sql.functions._
import graft.llm.Similarity
import graft.sources.Layout

class LayoutSpec extends SparkSpec {
  import spark.implicits._

  test("bucketed tables equi-join with no shuffle (co-located SMJ)") {
    val o = Tables.load(spark, sf, "orders")
      .select($"o_orderkey", $"o_custkey")
    val li = Tables.load(spark, sf, "lineitem")
      .select($"l_orderkey", $"l_quantity")
    Layout.writeBucketed(o, "bkt_orders", 8, Seq("o_orderkey"))
    Layout.writeBucketed(li, "bkt_lineitem", 8, Seq("l_orderkey"))
    // force the join down the SMJ path (broadcast would hide the shuffle)
    withConf("spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val joined = spark.table("bkt_orders").join(spark.table("bkt_lineitem"),
        $"o_orderkey" === $"l_orderkey")
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"),
        s"bucketed join still shuffles:\n$plan")
      // and it computes the right thing
      assert(joined.count() ==
        o.join(li, $"o_orderkey" === $"l_orderkey").count())
    }
  }

  test("IVF cell layout gives partition-pruned probes") {
    val e = Tables.load(spark, sf, "embeddings")
    val assigned = Similarity.ivfAssign(e, "vec_id", "embedding", 8)
    Layout.writePartitioned(assigned, "ivf_cells", Seq("cell"))
    val probe = spark.table("ivf_cells").filter($"cell" === 3)
    val scan = probe.queryExecution.executedPlan.toString
    assert(scan.contains("PartitionFilters") && scan.contains("cell"),
      s"no partition pruning in:\n$scan")
    // pruned read returns exactly that cell's rows
    assert(probe.count() == assigned.filter($"cell" === 3).count())
    // the novelty ingest's probe shape: a set filter on the cell widened
    // to BIGINT (an INT set compiles to a switch over its values) still
    // prunes statically — only the probed cell's partition is read
    withConf("spark.sql.adaptive.enabled" -> "false") {
      import org.apache.spark.sql.GraftColumnBridge
      import org.apache.spark.sql.catalyst.expressions.InSet
      import org.apache.spark.sql.execution.FileSourceScanExec
      val widened = spark.table("ivf_cells").filter(GraftColumnBridge.column(
        InSet(GraftColumnBridge.expression($"cell".cast("long")),
          Set[Any](3L))))
      assert(widened.collect().length ==
        assigned.filter($"cell" === 3).count())
      val scan = widened.queryExecution.executedPlan.collectFirst {
        case f: FileSourceScanExec => f }.get
      assert(scan.partitionFilters.exists(
        _.references.exists(_.name == "cell")), s"no cell filter on:\n$scan")
      assert(scan.metrics("numPartitions").value == 1)
    }
  }

  test("zValue interleaves bits (Morton order)") {
    // driver-side reference: bit i of col j -> position i*c + j
    def morton(xs: Seq[Long], bits: Int): Long =
      (for { j <- xs.indices; i <- 0 until bits }
        yield (((xs(j) >> i) & 1L) << (i * xs.length + j))).sum
    val rows = Seq((0L, 0L), (1L, 0L), (0L, 1L), (3L, 5L), (255L, 255L),
      (256L, 1L)) // 256 masks to 0 at bits=8
    val out = rows.toDF("x", "y")
      .select(Layout.zValue(Seq($"x", $"y"), 8).as("z"))
      .collect().map(_.getLong(0)).toSeq
    assert(out == rows.map { case (x, y) =>
      morton(Seq(x % 256, y % 256), 8) })
    // three columns, and the 62-bit budget is enforced
    assert(Seq((1L, 1L, 1L)).toDF("a", "b", "c")
      .select(Layout.zValue(Seq($"a", $"b", $"c"), 4).as("z"))
      .head.getLong(0) == 7L)
    intercept[IllegalArgumentException] {
      Layout.zValue(Seq($"a", $"b"), 32)
    }
  }

  test("z-ordered layout skips row groups a single-column sort cannot") {
    // 128x128 grid; filter selective in y ONLY. The x-sorted layout
    // scatters every y across all files; the z-ordered one confines
    // low-y rows to few files, so parquet min/max stats prune the rest.
    val grid = spark.range(128L * 128L)
      .select(($"id" % 128).as("x"), ($"id" / 128).cast("long").as("y"))
    val zdir = "target/graft_zorder_grid"
    val xdir = "target/graft_xsort_grid"
    Layout.writeZOrdered(grid, zdir, Seq("x", "y"), bits = 7,
      partitions = 16)
    grid.repartitionByRange(16, $"x").sortWithinPartitions("x")
      .write.mode("overwrite").parquet(xdir)
    def scannedRows(dir: String): Long = {
      val df = spark.read.parquet(dir).filter($"y" < 8)
      assert(df.count() == 128L * 8L) // correctness first
      val collected = df.collect()
      assert(collected.length == 128 * 8)
      val scan = df.queryExecution.executedPlan.collectLeaves()
        .find(_.nodeName.contains("Scan")).get
      scan.metrics("numOutputRows").value
    }
    val zScanned = scannedRows(zdir)
    val xScanned = scannedRows(xdir)
    // x-sorted: no file can be skipped for a y-filter (full scan);
    // z-ordered: only the files whose z-range touches the y<8 strip
    // survive — ~4 of 16 tiles, plus partial tiles where the sampled
    // range bounds straddle a tile edge
    assert(xScanned == 128L * 128L, s"x-sorted scanned $xScanned")
    assert(zScanned <= (128L * 128L * 2) / 5, s"z-ordered scanned $zScanned")
  }

  test("compact merges small files without changing content") {
    val dir = "target/graft_compact_test"
    val n = Tables.load(spark, sf, "nation")
    n.repartition(10).write.mode("overwrite").parquet(dir)
    val (before, after) = Layout.compact(spark, dir, targetBytes = 1L << 30)
    assert(before == 10 && after == 1, s"$before -> $after")
    val back = spark.read.parquet(dir)
    assert(back.count() == n.count())
    assert(back.exceptAll(n).count() == 0 && n.exceptAll(back).count() == 0)
    // idempotent: compacting a compacted dir is a no-op shape (1 -> 1)
    assert(Layout.compact(spark, dir, targetBytes = 1L << 30) == (1, 1))
  }

  test("compact is partition-aware: each leaf compacted, layout preserved") {
    val dir = "target/graft_compact_part_test"
    val n = Tables.load(spark, sf, "nation")
    n.repartition(5).write.mode("overwrite")
      .partitionBy("n_regionkey").parquet(dir)
    val (before, after) = Layout.compact(spark, dir, targetBytes = 1L << 30)
    // 5 region leaves, up to 5 files each -> exactly 1 file per leaf
    assert(after == 5 && before > after, s"$before -> $after")
    val back = spark.read.parquet(dir)
    // partition layout survives: the partition column is still derived
    // from directory names and every row round-trips
    assert(back.columns.sorted.toSeq == n.columns.sorted.toSeq)
    val backAligned = back.select(n.columns.head, n.columns.tail: _*)
      .withColumn("n_regionkey", $"n_regionkey".cast(
        n.schema("n_regionkey").dataType))
    assert(backAligned.exceptAll(n).count() == 0 &&
      n.exceptAll(backAligned).count() == 0)
    // partition pruning still works on the compacted table
    val pruned = back.filter($"n_regionkey" === 1)
    assert(pruned.queryExecution.executedPlan.toString
      .contains("PartitionFilters"))
    // no hidden staging litter left behind
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val litter = fs.listStatus(new org.apache.hadoop.fs.Path(dir))
      .filter(_.getPath.getName.contains("__"))
    assert(litter.isEmpty, litter.map(_.getPath).mkString(","))
    // idempotent: every leaf already 1 file
    assert(Layout.compact(spark, dir, targetBytes = 1L << 30) == (5, 5))
  }

  test("compact recovers a crash-parked swap before compacting") {
    import org.apache.hadoop.fs.Path
    val dir = "target/graft_compact_crash_test"
    val n = Tables.load(spark, sf, "nation")
    n.repartition(3).write.mode("overwrite")
      .partitionBy("n_regionkey").parquet(dir)
    val fs = new Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val want = spark.read.parquet(dir).count()
    // crash between the two swap renames: a leaf is MISSING, its only
    // copy parked in the hidden `.X__precompact` sibling (invisible to
    // Spark's listing — before recovery this partition silently
    // vanished)
    val leaf = new Path(dir, "n_regionkey=1")
    val parked = new Path(dir, ".n_regionkey=1__precompact")
    assert(fs.rename(leaf, parked))
    assert(spark.read.parquet(dir).count() < want, "fixture not parked")
    // plus a leftover tmp from a crash mid-rewrite on another leaf
    val tmp = new Path(dir, ".n_regionkey=2__compacting")
    fs.mkdirs(tmp)
    Layout.compact(spark, dir, targetBytes = 1L << 30)
    assert(spark.read.parquet(dir).count() == want,
      "parked partition not restored")
    assert(!fs.exists(parked) && !fs.exists(tmp))
    // crash AFTER the swap (stale precompact beside a live leaf): the
    // survivor is a superseded copy and is discarded, the leaf kept
    val stale = new Path(dir, ".n_regionkey=0__precompact")
    fs.mkdirs(stale)
    Layout.compact(spark, dir, targetBytes = 1L << 30)
    assert(!fs.exists(stale))
    assert(spark.read.parquet(dir).count() == want)
    // flat table: the hidden survivor lives BESIDE the root
    val flat = "target/graft_compact_crash_flat"
    n.write.mode("overwrite").parquet(flat)
    val froot = new Path(flat)
    val fparked = new Path(froot.getParent, "." + froot.getName +
      "__precompact")
    fs.delete(fparked, true)
    assert(fs.rename(froot, fparked))
    Layout.compact(spark, flat, targetBytes = 1L << 30)
    assert(spark.read.parquet(flat).count() == n.count())
  }

  test("writeZOrdered never swallows a user column named __graft_z") {
    val dir = "target/graft_zorder_collision"
    val df = spark.range(100)
      .select(($"id" % 10).as("x"), ($"id" / 10).cast("long").as("y"),
        ($"id" * 7).as("__graft_z"))
    Layout.writeZOrdered(df, dir, Seq("x", "y"), bits = 4, partitions = 2)
    val back = spark.read.parquet(dir)
    assert(back.columns.toSet == Set("x", "y", "__graft_z"))
    assert(back.agg(sum($"__graft_z")).head.getLong(0) ==
      (0L until 100L).map(_ * 7).sum)
  }

  test("bucket-stored novelty index: only the batch side is exchanged") {
    val hist = Tables.load(spark, sf, "documents").limit(100)
      .select($"doc_id", $"text")
    val bands = graft.llm.Dedup.indexBands(
      graft.llm.Dedup.minhashSignature(hist, "doc_id", "text", 3, 16))
    Layout.writeBucketed(bands, "novelty_idx", 8, Seq("band"))
    val batch = Tables.load(spark, sf, "documents")
      .filter($"doc_id" >= 400).select($"doc_id", $"text")
    withConf("spark.sql.autoBroadcastJoinThreshold" -> "-1") {
     withConf("spark.sql.adaptive.enabled" -> "false") {
      val out = graft.llm.Dedup.minhashNoveltyBanded(batch, "doc_id",
        "text", spark.table("novelty_idx"))
      // same answer as the inline-index form
      val inline = graft.llm.Dedup.minhashNovelty(batch, "doc_id", "text",
        graft.llm.Dedup.minhashSignature(hist, "doc_id", "text", 3, 16))
      assert(out.exceptAll(inline).count() == 0 &&
        inline.exceptAll(out).count() == 0)
      // the band join reads the bucketed index WITHOUT an exchange on
      // its subtree — the history (the 100 TB side) is never reshuffled
      // per increment; scope the assert to the scan→join path
      val plan = out.queryExecution.executedPlan
      val idxScans = plan.collect {
        case s if s.nodeName.contains("Scan") &&
          s.toString.contains("novelty_idx") => s
      }
      assert(idxScans.nonEmpty, "bucketed index scan missing")
      val joins = plan.collect {
        case j if j.nodeName.contains("SortMergeJoin") => j
      }
      // collect is pre-order: the LAST novelty_idx-containing SMJ is the
      // innermost — the band join itself (the outer doc-join's subtree
      // contains the whole plan, including the index scan)
      val bandJoin = joins.filter(_.toString.contains("novelty_idx"))
        .lastOption
      assert(bandJoin.isDefined, "band join not SMJ over the bucketed table")
      // within the band join, the index-side subtree has no Exchange
      val idxSide = bandJoin.get.children
        .find(_.toString.contains("novelty_idx")).get
      assert(!idxSide.toString.contains("Exchange"),
        s"index side re-shuffled:\n$idxSide")
     }
    }
  }

  test("salted join equals plain inner join") {
    val o = Tables.load(spark, sf, "orders").select($"o_custkey", $"o_orderkey")
    val c = Tables.load(spark, sf, "customer")
      .select($"c_custkey".as("o_custkey"), $"c_mktsegment")
    val plain = o.join(c, Seq("o_custkey"))
    val salted = graft.sources.Skew.saltedJoin(o, c, "o_custkey", salts = 8)
    assert(salted.count() == plain.count())
    assert(salted.select("o_custkey", "o_orderkey", "c_mktsegment")
      .exceptAll(plain.select("o_custkey", "o_orderkey", "c_mktsegment"))
      .count() == 0)
  }

  test("salting rejects a caller column named __salt instead of clobbering") {
    val d = Seq((1L, 2L)).toDF("k", "__salt")
    val ok = Seq((1L, "x")).toDF("k", "v")
    assert(intercept[IllegalArgumentException](
      graft.sources.Skew.saltedJoin(d, ok, "k")).getMessage.contains("__salt"))
    assert(intercept[IllegalArgumentException](
      graft.sources.Skew.saltedJoin(ok, d, "k")).getMessage.contains("__salt"))
    assert(intercept[IllegalArgumentException](
      graft.sources.Skew.saltedAgg(d, Seq("k"), 4)(Seq(count(lit(1)).as("n")),
        Seq(sum($"n").as("n")))).getMessage.contains("__salt"))
  }

  test("salted two-phase aggregation is exact for re-aggregable functions") {
    val li = Tables.load(spark, sf, "lineitem")
    val plain = li.groupBy($"l_orderkey")
      .agg(sum($"l_quantity").as("q"), count(lit(1)).as("n"))
    val salted = graft.sources.Skew.saltedAgg(li, Seq("l_orderkey"), 8)(
      partials = Seq(sum($"l_quantity").as("q1"), count(lit(1)).as("n1")),
      merges = Seq(sum($"q1").as("q"), sum($"n1").as("n")))
    assert(salted.count() == plain.count())
    assert(salted.exceptAll(plain).count() == 0)
  }

  test("minhash hot-bucket cap drops oversized buckets only") {
    val docs = Tables.load(spark, sf, "documents").limit(40)
    val u = docs.select($"doc_id", $"text").unionByName(
      docs.select(($"doc_id" + 10000).as("doc_id"), $"text"))
    val uncapped = graft.llm.Dedup.minhashCandidates(u, "doc_id", "text")
    // cap of 1 kills every bucket (every twin pair shares buckets of ≥2)
    val allCapped = graft.llm.Dedup.minhashCandidates(u, "doc_id", "text",
      maxBucketSize = Some(1))
    assert(allCapped.count() == 0)
    // a generous cap changes nothing
    val bigCap = graft.llm.Dedup.minhashCandidates(u, "doc_id", "text",
      maxBucketSize = Some(1000))
    assert(bigCap.count() == uncapped.count())
  }

  test("gapFill: grid spine, carry-forward, duplicate-timestamp tie-break") {
    val df = Seq(
        (1L, "u", "2024-01-01 10:00:30", 1.0),
        (2L, "u", "2024-01-01 10:21:00", 2.0),
        (3L, "u", "2024-01-01 10:21:00", 9.0), // same ts: higher id wins
        (4L, "v", "2024-01-01 00:00:00", 5.0)) // single-tick key
      .toDF("event_id", "user_id", "ts", "value")
      .withColumn("ts", $"ts".cast("timestamp"))
    val out = graft.operators.GapFill
      .gapFill(df, "user_id", "ts", "event_id", "value", stepSec = 600L)
      .orderBy("key", "tick").collect()
      .map(r => (r.getString(0), r.getTimestamp(1).toString,
        r.getDouble(2), r.getBoolean(3)))
    assert(out.toSeq == Seq(
      // u: 10:00 observed, 10:10 carried, 10:20 observed (tie → id 3)
      ("u", "2024-01-01 10:00:00.0", 1.0, true),
      ("u", "2024-01-01 10:10:00.0", 1.0, false),
      ("u", "2024-01-01 10:20:00.0", 9.0, true),
      ("v", "2024-01-01 00:00:00.0", 5.0, true)))
  }

  test("gapFill options: forward, bounded carry, linear interpolation") {
    // ticks: 10:00 (obs 1.0), 10:10, 10:20, 10:30, 10:40 (obs 5.0) —
    // a gap of exactly 3 missing ticks
    val df = Seq(
        (1L, "u", "2024-01-01 10:00:30", 1.0),
        (2L, "u", "2024-01-01 10:41:00", 5.0))
      .toDF("event_id", "user_id", "ts", "value")
      .withColumn("ts", $"ts".cast("timestamp"))
    def run(direction: String, k: Option[Long]) =
      graft.operators.GapFill
        .gapFill(df, "user_id", "ts", "event_id", "value", 600L,
          direction, k)
        .orderBy("tick").collect()
        .map(r => if (r.isNullAt(2)) None else Some(r.getDouble(2))).toSeq
    assert(run("backward", None) ==
      Seq(Some(1.0), Some(1.0), Some(1.0), Some(1.0), Some(5.0)))
    // carry bounded to 1 tick: 10:20/10:30 are 2-3 ticks past the donor
    assert(run("backward", Some(1L)) ==
      Seq(Some(1.0), Some(1.0), None, None, Some(5.0)))
    assert(run("forward", None) ==
      Seq(Some(1.0), Some(5.0), Some(5.0), Some(5.0), Some(5.0)))
    // lookahead bounded to 2 ticks: 10:10 is 3 ticks before its donor
    assert(run("forward", Some(2L)) ==
      Seq(Some(1.0), None, Some(5.0), Some(5.0), Some(5.0)))
    // straight line 1.0 -> 5.0 over 4 steps
    assert(run("interpolate", None) ==
      Seq(Some(1.0), Some(2.0), Some(3.0), Some(4.0), Some(5.0)))
    // the 3-tick gap exceeds the 2-tick bound: interior nulls, observed kept
    assert(run("interpolate", Some(2L)) ==
      Seq(Some(1.0), None, None, None, Some(5.0)))
  }

  test("as-of join picks the latest right row at-or-before each left ts") {
    val left = Seq((1L, "u", "2024-01-01 10:00:00"),
        (2L, "u", "2024-01-01 12:00:00"),
        (3L, "u", "2024-01-01 09:00:00"),
        (4L, "v", "2024-01-01 10:00:00"))
      .toDF("event_id", "user_id", "ts")
      .withColumn("ts", $"ts".cast("timestamp"))
    val right = Seq(("u", "2024-01-01 09:30:00", 1.0),
        ("u", "2024-01-01 12:00:00", 2.0), // equal ts matches (<=)
        ("w", "2024-01-01 00:00:00", 9.0))
      .toDF("user_id", "ts", "rv")
      .withColumn("ts", $"ts".cast("timestamp"))
    val out = graft.operators.AsOfJoin
      .asOf(left, right, "user_id", "ts", Seq("rv"))
      .orderBy("event_id").collect()
    assert(out.map(r => (r.getLong(0),
      if (r.isNullAt(3)) None else Some(r.getDouble(3)))).toSeq ==
      Seq((1L, Some(1.0)), (2L, Some(2.0)), (3L, None), (4L, None)))
  }

  test("as-of join directions: forward lookahead, nearest ties backward") {
    val left = Seq((1L, "u", "2024-01-01 10:00:00"), // between 09:30 / 10:20
        (2L, "u", "2024-01-01 12:00:00"),  // exact right match
        (3L, "u", "2024-01-01 13:00:00"),  // after the last right row
        (4L, "u", "2024-01-01 09:55:00"))  // 25min back vs 25min fwd: tie
      .toDF("event_id", "user_id", "ts")
      .withColumn("ts", $"ts".cast("timestamp"))
    val right = Seq(("u", "2024-01-01 09:30:00", 1.0),
        ("u", "2024-01-01 10:20:00", 2.0),
        ("u", "2024-01-01 12:00:00", 3.0))
      .toDF("user_id", "ts", "rv")
      .withColumn("ts", $"ts".cast("timestamp"))
    def run(direction: String, tol: Option[String] = None) =
      graft.operators.AsOfJoin.asOf(left, right, Seq("user_id"), "ts",
          Seq("rv"), tol.map(t => expr(s"INTERVAL $t")), direction)
        .orderBy("event_id").collect()
        .map(r => if (r.isNullAt(3)) None else Some(r.getDouble(3))).toSeq
    // forward: earliest at-or-after; equal ts matches; nothing after 12:00
    assert(run("forward") ==
      Seq(Some(2.0), Some(3.0), None, Some(2.0)))
    // forward tolerance: 10:00→10:20 inside 30min, 09:55→10:20 inside too,
    // but a 10-minute lookahead cuts both off at distance > 10min
    assert(run("forward", Some("10 MINUTES")) ==
      Seq(None, Some(3.0), None, None))
    // nearest: 10:00 is 30min from 09:30 but 20min from 10:20 → forward;
    // 13:00 only has backward; 09:55 is 25min from both → tie → backward
    assert(run("nearest") ==
      Seq(Some(2.0), Some(3.0), Some(3.0), Some(1.0)))
    // nearest with 30min bound: 13:00's backward candidate is 60min away
    assert(run("nearest", Some("30 MINUTES")) ==
      Seq(Some(2.0), Some(3.0), None, Some(1.0)))
  }

  test("as-of join with a composite key partitions by the full tuple") {
    val left = Seq((1L, "u", "eu", "2024-01-01 10:00:00"),
        (2L, "u", "us", "2024-01-01 10:00:00"))
      .toDF("event_id", "user_id", "region", "ts")
      .withColumn("ts", $"ts".cast("timestamp"))
    val right = Seq(("u", "eu", "2024-01-01 09:00:00", 1.0),
        ("u", "us", "2024-01-01 08:00:00", 2.0))
      .toDF("user_id", "region", "ts", "rv")
      .withColumn("ts", $"ts".cast("timestamp"))
    val out = graft.operators.AsOfJoin
      .asOf(left, right, Seq("user_id", "region"), "ts", Seq("rv"), None)
      .orderBy("event_id").collect()
    // same user, different region → different as-of streams
    assert(out.map(r => (r.getLong(0), r.getDouble(4))).toSeq ==
      Seq((1L, 1.0), (2L, 2.0)))
  }

  test("as-of join tolerance bounds the lookback window") {
    val left = Seq((1L, "u", "2024-01-01 10:00:00"),
        (2L, "u", "2024-01-01 09:40:00"),
        (3L, "u", "2024-01-01 12:00:00"))
      .toDF("event_id", "user_id", "ts")
      .withColumn("ts", $"ts".cast("timestamp"))
    val right = Seq(("u", "2024-01-01 09:30:00", 1.0))
      .toDF("user_id", "ts", "rv")
      .withColumn("ts", $"ts".cast("timestamp"))
    val out = graft.operators.AsOfJoin
      .asOf(left, right, "user_id", "ts", Seq("rv"),
        tolerance = Some(expr("INTERVAL 30 MINUTES")))
      .orderBy("event_id").collect()
    // 10:00 matches (30 min back exactly), 09:40 matches (10 min),
    // 12:00 expires (2.5 h back)
    assert(out.map(r => (r.getLong(0),
      if (r.isNullAt(3)) None else Some(r.getDouble(3)))).toSeq ==
      Seq((1L, Some(1.0)), (2L, Some(1.0)), (3L, None)))
  }

  test("as-of join: NULL keys and NULL timestamps never match") {
    val left = Seq((1L, Some("u"), Some("2024-01-01 10:00:00")),
        (2L, None, Some("2024-01-01 10:00:00")), // null key
        (3L, Some("u"), None), // null ts
        // earlier than every VALID right row: the null-ts right row
        // sorts nulls-first in this key partition and must NOT carry
        // its payload here (r3 ADVICE regression)
        (4L, Some("u"), Some("2024-01-01 08:00:00")))
      .toDF("event_id", "user_id", "ts")
      .withColumn("ts", $"ts".cast("timestamp"))
    val right = Seq((Some("u"), Some("2024-01-01 09:00:00"), 1.0),
        (None, Some("2024-01-01 09:00:00"), 8.0), // null-key right row
        (Some("u"), None, 9.0)) // null-ts right row
      .toDF("user_id", "ts", "rv")
      .withColumn("ts", $"ts".cast("timestamp"))
    val out = graft.operators.AsOfJoin
      .asOf(left, right, "user_id", "ts", Seq("rv"))
      .orderBy("event_id").collect()
    assert(out.map(r => (r.getLong(0),
      if (r.isNullAt(3)) None else Some(r.getDouble(3)))).toSeq ==
      Seq((1L, Some(1.0)), (2L, None), (3L, None), (4L, None)))
  }

  test("binaryFile ingestion: bytes survive, glob filters at listing, " +
      "zero-byte files are skipped by the source") {
    val dir = java.nio.file.Files.createTempDirectory("graft-bin")
    val utf8 = java.nio.charset.StandardCharsets.UTF_8
    java.nio.file.Files.write(dir.resolve("a.txt"), "héllo — ünïcode".getBytes(utf8))
    java.nio.file.Files.write(dir.resolve("b.txt"), Array.empty[Byte])
    java.nio.file.Files.write(dir.resolve("skip.bin"), Array[Byte](1, 2, 3))
    val got = graft.sources.Formats.ingestBinaryDir(spark, dir.toString, "*.txt")
      .select(element_at(split($"path", "/"), -1).as("f"), $"length", $"content")
      .orderBy($"f")
      .collect()
    // .bin filtered by the glob; b.txt dropped because Spark's file scan
    // produces no split for a zero-length file — the documented caveat on
    // ingestBinaryDir (an empty media file is a no-op row, never a null)
    assert(got.map(_.getString(0)).toSeq == Seq("a.txt"))
    assert(new String(got(0).getAs[Array[Byte]](2), utf8) == "héllo — ünïcode")
    assert(got(0).getLong(1) == "héllo — ünïcode".getBytes(utf8).length)
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
}
