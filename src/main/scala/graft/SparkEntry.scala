package graft

import org.apache.spark.sql.{DataFrame, SparkSession, Column}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.functions.Dialect
import graft.llm.{Dedup, Multimodal, Similarity, TextAnalysis}
import graft.mat.{Incremental, Snapshot}
import graft.streaming.Events

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every entry in `queries` has an `oracleSql` twin in DuckDB dialect over
  * the same parquet tables; aggregates over double columns are routed
  * through exact decimal arithmetic on BOTH sides (then cast to double)
  * so the hash-compare is not at the mercy of float summation order.
  */
object SparkEntry {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  /** double → exact decimal for order-independent aggregation. */
  private def dec(c: Column): Column = c.cast(DecimalType(18, 2))

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * TPC-H-Q1-style pricing summary: scan → filter → agg → sort, the
    * vertical slice through every layer (SURVEY §7.2 slice 0). */
  def entry(spark: SparkSession): DataFrame =
    pricingSummary(spark, "/root/testdata/sf0.001")

  private def pricingSummary(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem")
    li.filter(col("l_shipdate") <= lit("1998-09-02").cast(TimestampType))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        sum(dec(col("l_quantity"))).cast(DoubleType).as("sum_qty"),
        sum(dec(col("l_extendedprice"))).cast(DoubleType).as("sum_base_price"),
        sum(dec(col("l_extendedprice")) * (lit(1) - dec(col("l_discount"))))
          .cast(DoubleType).as("sum_disc_price"),
        sum(dec(col("l_extendedprice")) * (lit(1) - dec(col("l_discount")))
          * (lit(1) + dec(col("l_tax")))).cast(DoubleType).as("sum_charge"),
        (sum(dec(col("l_quantity"))).cast(DoubleType) / count(lit(1))).as("avg_qty"),
        count(lit(1)).as("count_order"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- pass-through relational surface (SURVEY §2.5), native Spark ----
    "q01_pricing_summary" -> ((s, dir) => pricingSummary(s, dir)),

    "q02_top_revenue" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      val o = t(s, dir, "orders")
      val c = t(s, dir, "customer")
      li.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(c), col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_mktsegment"))
        .agg(
          sum(dec(col("l_extendedprice")) * (lit(1) - dec(col("l_discount"))))
            .cast(DoubleType).as("revenue"),
          countDistinct(col("o_orderkey")).as("n_orders"))
        .orderBy(col("c_mktsegment"))
    }),

    // ---- dialect function surface (SURVEY §2.4) ----
    "fn_any_value" -> ((s, dir) =>
      t(s, dir, "customer")
        .groupBy(col("c_mktsegment"))
        .agg(Dialect.anyValue(col("c_name")).as("any_name"))
        .orderBy(col("c_mktsegment"))),

    "fn_bool_or" -> ((s, dir) =>
      t(s, dir, "orders")
        .groupBy(col("o_orderstatus"))
        .agg(Dialect.boolOr(col("o_totalprice") > lit(300000)).as("any_big"))
        .orderBy(col("o_orderstatus"))),

    "fn_array_ops" -> ((s, dir) => {
      val n = t(s, dir, "nation")
      val constructed = Dialect.arrayConstruct(
        Seq(col("n_name"), col("n_nationkey").cast(StringType)))
      val appended = Dialect.arrayAppend(constructed, lit("tail"))
      val concatenated = Dialect.arrayConcat(appended, Dialect.arrayConstruct(Seq(lit("x"), lit("y"))))
      n.select(
          col("n_nationkey"),
          array_join(constructed, ",").as("arr_construct"),
          array_join(appended, ",").as("arr_append"),
          array_join(concatenated, ",").as("arr_concat"))
        .orderBy(col("n_nationkey"))
    }),

    "fn_listagg" -> ((s, dir) =>
      t(s, dir, "nation")
        .groupBy(col("n_regionkey"))
        .agg(
          Dialect.listagg(col("n_name"), ",", Some(col("n_name"))).as("names_all"),
          Dialect.listagg(col("n_name"), "|", Some(col("n_name")), Some(3)).as("names_top3"))
        .orderBy(col("n_regionkey"))),

    "fn_dateadd" -> ((s, dir) =>
      t(s, dir, "orders")
        .select(
          col("o_orderkey"),
          Dialect.dateAdd("month", 3, col("o_orderdate")).as("plus_3mo"),
          Dialect.dateAdd("day", 7, col("o_orderdate")).as("plus_7d"),
          Dialect.dateAdd("hour", 5, col("o_orderdate")).as("plus_5h"),
          Dialect.dateAdd("year", 1, col("o_orderdate")).as("plus_1y"))
        .orderBy(col("o_orderkey"))),

    "fn_datediff" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      val o = t(s, dir, "orders")
      val f = col("o_orderdate"); val g = col("l_shipdate")
      li.join(o, col("l_orderkey") === col("o_orderkey"))
        .select(
          col("l_orderkey"), col("l_linenumber"),
          Dialect.dateDiff("year", f, g).as("dd_year"),
          Dialect.dateDiff("quarter", f, g).as("dd_quarter"),
          Dialect.dateDiff("month", f, g).as("dd_month"),
          Dialect.dateDiff("day", f, g).as("dd_day"),
          Dialect.dateDiff("week", f, g).as("dd_week"),
          // reversed direction exercises the other dow-correction branches
          Dialect.dateDiff("week", g, f).as("dd_week_rev"),
          Dialect.dateDiff("hour", f, g).as("dd_hour"),
          Dialect.dateDiff("minute", f, g).as("dd_minute"),
          Dialect.dateDiff("second", f, g).as("dd_second"),
          Dialect.dateDiff("millisecond", f, g).as("dd_ms"))
        .orderBy(col("l_orderkey"), col("l_linenumber"))
    }),

    "fn_date_trunc" -> ((s, dir) =>
      t(s, dir, "orders")
        .select(
          col("o_orderkey"),
          Dialect.dateTrunc("month", col("o_orderdate")).as("tr_month"),
          Dialect.dateTrunc("quarter", col("o_orderdate")).as("tr_quarter"),
          Dialect.dateTrunc("week", col("o_orderdate")).as("tr_week"),
          Dialect.dateTrunc("year", col("o_orderdate")).as("tr_year"))
        .orderBy(col("o_orderkey"))),

    "fn_date_spine" -> ((s, dir) =>
      Dialect.dateSpine(s, "day", "1995-01-01", "1995-03-01")
        .select(col("date_day").cast(DateType).as("date_day"))
        .orderBy(col("date_day"))),

    "fn_date_spine_month" -> ((s, dir) =>
      Dialect.dateSpine(s, "month", "1994-01-01", "1996-01-01")
        .select(col("date_month").cast(DateType).as("date_month"))
        .orderBy(col("date_month"))),

    "fn_split_part" -> ((s, dir) =>
      t(s, dir, "orders")
        .select(
          col("o_orderkey"),
          Dialect.splitPart(col("o_orderpriority"), "-", 1).as("part_1"),
          Dialect.splitPart(col("o_orderpriority"), "-", 2).as("part_2"),
          Dialect.splitPart(col("o_orderpriority"), "-", -1).as("part_neg1"))
        .orderBy(col("o_orderkey"))),

    "fn_right" -> ((s, dir) =>
      t(s, dir, "part")
        .select(
          col("p_partkey"),
          Dialect.rightStr(col("p_name"), pmod(col("p_size"), lit(4))).as("right_var"),
          Dialect.rightStr(col("p_name"), lit(0)).as("right_zero"))
        .orderBy(col("p_partkey"))),

    "fn_hash" -> ((s, dir) =>
      t(s, dir, "customer")
        .select(col("c_custkey"), Dialect.hashMd5(col("c_name")).as("h"))
        .orderBy(col("c_custkey"))),

    "fn_snapshot_hash" -> ((s, dir) =>
      t(s, dir, "orders")
        .select(
          col("o_orderkey"),
          Dialect.snapshotHash(Seq(col("o_orderkey"), col("o_orderstatus"),
            col("o_orderpriority"))).as("scd_id"))
        .orderBy(col("o_orderkey"))),

    "fn_safe_cast" -> ((s, dir) =>
      t(s, dir, "orders")
        .select(
          col("o_orderkey"),
          Dialect.safeCast("o_orderpriority", "int").as("bad_cast"),
          Dialect.safeCast("split_part(o_orderpriority, '-', 1)", "int").as("good_cast"))
        .orderBy(col("o_orderkey"))),

    "fn_timestamp_add" -> ((s, dir) =>
      t(s, dir, "orders")
        .select(
          col("o_orderkey"),
          Dialect.timestampAddInterval(col("o_orderdate"), 45, "minute").as("plus_45min"))
        .orderBy(col("o_orderkey"))),

    "fn_current_timestamp" -> ((s, dir) =>
      s.range(1).select(
        Dialect.currentTimestampCol().isNotNull.as("ok"),
        // impl.py:47-49 date_function → datenow()
        Dialect.dateNow().isNotNull.as("today_ok"))),

    "fn_custom_sql" -> ((s, dir) => {
      // the custom expressions through the SQL-text surface
      // (FunctionRegistry / SparkSessionExtensions path)
      graft.plans.GraftFunctions.register(s)
      Tables.registerAll(s, dir)
      s.sql("""
        SELECT d.doc_id, graft_rolling_hash(d.text) AS h,
               round(graft_dot(e.embedding, e.embedding), 6) AS norm2
        FROM documents d JOIN embeddings e ON e.vec_id = d.doc_id
        ORDER BY d.doc_id""")
    }),

    // ---- pass-through relational breadth (SURVEY §2.5): windows, rollup,
    // set ops, semi/anti joins, top-k, correlated subquery ----
    "q03_window" -> ((s, dir) => {
      val o = t(s, dir, "orders")
      val w = Window.partitionBy(col("o_custkey")).orderBy(
        col("o_orderdate"), col("o_orderkey"))
      o.select(
          col("o_orderkey"), col("o_custkey"),
          row_number().over(w).as("rn"),
          sum(dec(col("o_totalprice"))).over(w).cast(DoubleType)
            .as("running_total"),
          lag(col("o_orderkey"), 1).over(w).as("prev_order"))
        .orderBy(col("o_custkey"), col("rn"))
    }),

    "q04_rollup" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      val o = t(s, dir, "orders")
      o.join(li, col("o_orderkey") === col("l_orderkey"))
        .rollup(col("o_orderstatus"), col("o_orderpriority"))
        .agg(sum(dec(col("l_quantity"))).cast(DoubleType).as("qty"),
          count(lit(1)).as("n"))
        .orderBy(col("o_orderstatus").asc_nulls_first,
          col("o_orderpriority").asc_nulls_first)
    }),

    "q05_setops" -> ((s, dir) => {
      val o = t(s, dir, "orders")
      val big = o.filter(col("o_totalprice") > 200000).select(col("o_custkey"))
      val urgent = o.filter(col("o_orderpriority") === "1-URGENT")
        .select(col("o_custkey"))
      val both = big.intersect(urgent).withColumn("src", lit("both"))
      val bigOnly = big.except(urgent).withColumn("src", lit("big_only"))
      both.unionByName(bigOnly).orderBy(col("src"), col("o_custkey"))
    }),

    "q06_semi_anti" -> ((s, dir) => {
      val c = t(s, dir, "customer")
      val o = t(s, dir, "orders")
      val withOrders = c.join(o, col("c_custkey") === col("o_custkey"),
        "left_semi").select(col("c_custkey")).withColumn("has_orders", lit(true))
      val noOrders = c.join(o, col("c_custkey") === col("o_custkey"),
        "left_anti").select(col("c_custkey")).withColumn("has_orders", lit(false))
      withOrders.unionByName(noOrders).orderBy(col("c_custkey"))
    }),

    "q07_topk" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      val o = t(s, dir, "orders")
      li.join(o, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_custkey"))
        .agg(sum(dec(col("l_extendedprice")) * (lit(1) - dec(col("l_discount"))))
          .cast(DecimalType(28, 4)).as("revenue"))
        .orderBy(col("revenue").desc, col("o_custkey"))
        .limit(10)
        .select(col("o_custkey"), col("revenue").cast(DoubleType).as("revenue"))
    }),

    "q08_corr_subquery" -> ((s, dir) => {
      // orders above their customer's average price — correlated scalar
      // subquery shape, expressed as a join on a pre-agg (what Catalyst's
      // decorrelation would produce anyway)
      // "price > avg(price)" compared exactly as price * n > sum(price)
      // (pure decimal arithmetic — no float/decimal division divergence
      // between engines)
      val o = t(s, dir, "orders")
      val aggByCust = o.groupBy(col("o_custkey"))
        .agg(sum(dec(col("o_totalprice"))).as("sum_price"),
          count(lit(1)).as("n_orders"))
      o.join(aggByCust, Seq("o_custkey"))
        .filter(dec(col("o_totalprice")) * col("n_orders") > col("sum_price"))
        .groupBy(col("o_custkey"))
        .agg(count(lit(1)).as("n_above"))
        .orderBy(col("o_custkey"))
    }),

    "q09_cube" -> ((s, dir) => {
      val o = t(s, dir, "orders")
      o.cube(col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n"),
          sum(dec(col("o_totalprice"))).cast(DoubleType).as("total"))
        .orderBy(col("o_orderstatus").asc_nulls_first,
          col("o_orderpriority").asc_nulls_first)
    }),

    "q10_sql" -> ((s, dir) => {
      // the spark.sql text entry path over registered views (EXISTS +
      // CTE — Catalyst decorrelates the subquery)
      Tables.registerAll(s, dir)
      s.sql("""
        WITH big AS (
          SELECT o_custkey, count(*) AS n
          FROM orders WHERE o_totalprice > 100000
          GROUP BY o_custkey)
        SELECT c_custkey, c_mktsegment
        FROM customer
        WHERE EXISTS (SELECT 1 FROM big
                      WHERE big.o_custkey = customer.c_custkey AND big.n >= 2)
        ORDER BY c_custkey""")
    }),

    "op_asof_join" -> ((s, dir) => {
      // point-in-time join: odd events look up the latest even-event
      // value at-or-before their timestamp, per user
      val ev = t(s, dir, "events")
      val left = ev.filter(pmod(col("event_id"), lit(2)) === 1)
        .select(col("event_id"), col("user_id"), col("ts"))
      val right = ev.filter(pmod(col("event_id"), lit(2)) === 0)
        .groupBy(col("user_id"), col("ts")) // unique per (key, ts)
        .agg(max(dec(col("value"))).cast(DoubleType).as("rv"))
      graft.operators.AsOfJoin.asOf(left, right, "user_id", "ts", Seq("rv"))
        .orderBy(col("event_id"))
    }),

    "op_range_join" -> ((s, dir) => {
      // binned range join: shipments falling inside promo windows
      // derived from a 1/97 orders sample — the non-equi BETWEEN join
      // Spark would otherwise plan as a nested loop. Bucket width ≈ the
      // max window length (31 d) keeps the explosion factor ≤ 2.
      val li = t(s, dir, "lineitem")
        .select(unix_timestamp(col("l_shipdate")).as("p"),
          col("l_quantity"))
      val promos = t(s, dir, "orders")
        .filter(col("o_orderkey") % 97 === 0)
        .select(col("o_orderkey").as("promo_id"),
          unix_timestamp(col("o_orderdate")).as("lo"),
          (unix_timestamp(col("o_orderdate")) +
            (col("o_orderkey") % 30 + 1) * 86400L).as("hi"))
      graft.operators.RangeJoin.pointInInterval(li, "p", promos,
          "lo", "hi", bucketWidth = 86400L * 31)
        .groupBy(col("promo_id"))
        .agg(count(lit(1)).as("n_items"),
          sum(dec(col("l_quantity"))).cast(DoubleType).as("sum_qty"))
        .orderBy(col("promo_id"))
    }),

    "op_interval_overlap" -> ((s, dir) => {
      // interval-overlap self-analysis: which promo windows from two
      // disjoint order samples run concurrently (each qualifying pair
      // exactly once — first-shared-bucket dedup, no DISTINCT)
      val o = t(s, dir, "orders")
      val a = o.filter(col("o_orderkey") % 97 === 0)
        .select(col("o_orderkey").as("a_id"),
          unix_timestamp(col("o_orderdate")).as("a_lo"),
          (unix_timestamp(col("o_orderdate")) +
            (col("o_orderkey") % 30 + 1) * 86400L).as("a_hi"))
      val b = o.filter(col("o_orderkey") % 101 === 0)
        .select(col("o_orderkey").as("b_id"),
          unix_timestamp(col("o_orderdate")).as("b_lo"),
          (unix_timestamp(col("o_orderdate")) +
            (col("o_orderkey") % 23 + 1) * 86400L).as("b_hi"))
      graft.operators.RangeJoin.intervalOverlap(a, "a_lo", "a_hi",
          b, "b_lo", "b_hi", bucketWidth = 86400L * 31)
        .select(col("a_id"), col("b_id"))
        .orderBy(col("a_id"), col("b_id"))
    }),

    "ev_join" -> ((s, dir) =>
      // stream-stream interval join evaluated in batch: clicks pair with
      // same-user impressions in the preceding 30 minutes (the
      // time-bound ON condition is what bounds streaming join state)
      Events.clickImpressionJoin(t(s, dir, "events"))
        .orderBy(col("click_id"), col("impression_id"))),

    "op_components" -> ((s, dir) => {
      // the CC primitive behind every cluster collapse, compared
      // directly: chain edges doc→doc+1 where doc%5<2 (3-node chains,
      // plenty of isolated nodes), rep = min id of the component
      val d = t(s, dir, "documents")
      val edges = d.filter(pmod(col("doc_id"), lit(5)) < 2)
        .select(col("doc_id").as("id_a"), (col("doc_id") + 1).as("id_b"))
        .join(d.select(col("doc_id").as("id_b")), Seq("id_b"), "left_semi")
      Dedup.connectedComponents(d, "doc_id", edges)
        .orderBy(col("doc"))
    }),

    "op_labelprop" -> ((s, dir) => {
      // mode-vote community detection on a triangle graph: every
      // doc_id≡0 (mod 3) anchors the triangle {d, d+1, d+2} (edges
      // semi-joined against existing ids); 4 synchronous rounds
      // converge each triangle to its min id — communities stay
      // DISTINCT (min-label CC would merge everything a bridge touches)
      val d = t(s, dir, "documents")
      val ids = d.select(col("doc_id"))
      val tri = ids.filter(pmod(col("doc_id"), lit(3)) === 0)
        .select(col("doc_id").as("base"))
      val edges = tri.select(col("base").as("id_a"), (col("base") + 1).as("id_b"))
        .unionByName(tri.select((col("base") + 1).as("id_a"),
          (col("base") + 2).as("id_b")))
        .unionByName(tri.select(col("base").as("id_a"),
          (col("base") + 2).as("id_b")))
        .join(ids.select(col("doc_id").as("id_b")), Seq("id_b"), "left_semi")
        .join(ids.select(col("doc_id").as("id_a")), Seq("id_a"), "left_semi")
      graft.operators.LabelProp.labelProp(d, "doc_id", edges, iters = 4)
        .orderBy(col("id"))
    }),

    "op_bottomk_agg" -> ((s, dir) =>
      // top-k as a MERGEABLE AGGREGATE (custom TypedImperativeAggregate,
      // ObjectHashAggregate partial+final): only k values per group
      // cross the exchange, vs the window form shuffling every raw row.
      // Compared row is the EXPLODED (group, pos, value) shape — the
      // driver's row-sorter cannot order raw array cells (r7 `err`);
      // the operator API itself still returns the array
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(graft.functions.BottomK.bottomK(col("l_orderkey"), 5)
          .as("bottom5"))
        .select(col("l_returnflag"),
          posexplode(col("bottom5")).as(Seq("pos", "orderkey")))
        .orderBy(col("l_returnflag"), col("pos"))),

    "mm_ingest" -> ((s, dir) => {
      // the multimodal ENTRY POINT: raw files on disk → binaryFile rows.
      // The row is the full write→ingest round trip: stage docs as .txt
      // files (staging is scaffolding — in production the files already
      // exist), ingest the directory via the binaryFile source, emit
      // (doc_id, n_bytes, md5). The oracle recomputes byte length and
      // md5 from the documents table, so a byte lost anywhere in the
      // file round trip hash-mismatches.
      val stage = java.nio.file.Paths.get(
        System.getProperty("java.io.tmpdir"),
        "graft_ingest_" + new java.io.File(dir).getName)
      java.nio.file.Files.createDirectories(stage)
      val stageStr = stage.toString
      // empty texts excluded on both sides: a zero-byte file yields no
      // scan split, so the source emits no row for it (LayoutSpec pin)
      t(s, dir, "documents")
        .filter(col("doc_id") < 1000 && length(col("text")) > 0)
        .select(col("doc_id"), col("text"))
        .foreachPartition {
          (it: Iterator[org.apache.spark.sql.Row]) =>
            it.foreach { r =>
              java.nio.file.Files.write(
                java.nio.file.Paths.get(stageStr, s"doc_${r.getLong(0)}.txt"),
                r.getString(1).getBytes(java.nio.charset.StandardCharsets.UTF_8))
            }
        }
      graft.sources.Formats.ingestBinaryDir(s, stageStr, "*.txt")
        .select(
          regexp_extract(col("path"), "doc_(\\d+)\\.txt$", 1)
            .cast(LongType).as("doc_id"),
          col("length").as("n_bytes"),
          md5(col("content")).as("md5"))
        .orderBy(col("doc_id"))
    }),

    "op_quantile_bin" -> ((s, dir) =>
      // per-group equi-depth decile of quantity; tie-break columns make
      // the ntile order total, so both engines bin identically
      graft.operators.QuantileBin.assign(
        t(s, dir, "lineitem").select(col("l_orderkey"), col("l_linenumber"),
          col("l_returnflag"), col("l_quantity")),
        Seq("l_returnflag"), "l_quantity", 10,
        Seq("l_orderkey", "l_linenumber"))
        .orderBy(col("l_orderkey"), col("l_linenumber"))),

    "op_twap" -> ((s, dir) =>
      // carry-forward time-weighted mean per user over irregular event
      // ticks; microsecond integer intervals, decimal-exact weighted sum
      graft.operators.TimeWeighted.twap(t(s, dir, "events"),
        Seq("user_id"), "ts", col("value").cast(DecimalType(18, 4)),
        Seq("event_id"))
        .orderBy(col("user_id"))),

    "op_regression" -> ((s, dir) =>
      // per-segment OLS of price on quantity: decimal-exact moments,
      // double closed form mirrored token-for-token in the oracle
      graft.operators.Regression.ols(t(s, dir, "lineitem"),
        Seq("l_returnflag"), dec(col("l_quantity")),
        dec(col("l_extendedprice")))
        .orderBy(col("l_returnflag"))),

    "op_table_diff" -> ((s, dir) => {
      // CDC between two snapshot versions: old = orders as-is; new =
      // orders with deterministic deletes (%97), price bumps (%13),
      // priority rewrites (%17), and appended keys (%1009, shifted).
      // The diff emits only what changed, with the changed column list.
      val old = t(s, dir, "orders")
      val mutated = old.filter(col("o_orderkey") % 97 =!= 0)
        .withColumn("o_totalprice",
          when(col("o_orderkey") % 13 === 0, col("o_totalprice") + 1)
            .otherwise(col("o_totalprice")))
        .withColumn("o_orderpriority",
          when(col("o_orderkey") % 17 === 0, lit("9-RECLASSIFIED"))
            .otherwise(col("o_orderpriority")))
      val appended = old.filter(col("o_orderkey") % 1009 === 0)
        .withColumn("o_orderkey", col("o_orderkey") + 100000000L)
      graft.operators.TableDiff.diff(
          old, mutated.unionByName(appended), Seq("o_orderkey"))
        .orderBy(col("o_orderkey"))
    }),

    "op_incremental_agg" -> ((s, dir) => {
      // merge(aggregate(history), batch) == aggregate(history ∪ batch):
      // the state table folds the new batch without re-scanning history.
      // The oracle IS the full recompute over all of lineitem.
      import graft.mat.IncrementalAgg.{Spec, aggregate, merge}
      val li = t(s, dir, "lineitem")
        .withColumn("qty_dec", dec(col("l_quantity")))
        .withColumn("price_dec", dec(col("l_extendedprice")))
      val history = li.filter(col("l_orderkey") % 3 =!= 0)
      val batch = li.filter(col("l_orderkey") % 3 === 0)
      val keys = Seq("l_returnflag", "l_linestatus")
      val specs = Seq(
        Spec("sum_qty", "sum", "qty_dec"),
        Spec("sum_price", "sum", "price_dec"),
        Spec("n_rows", "count", ""),
        Spec("min_ship", "min", "l_shipdate"),
        Spec("max_ship", "max", "l_shipdate"))
      merge(aggregate(history, keys, specs), batch, keys, specs)
        .select(col("l_returnflag"), col("l_linestatus"),
          col("sum_qty").cast(DoubleType).as("sum_qty"),
          col("sum_price").cast(DoubleType).as("sum_price"),
          col("n_rows"),
          (col("sum_price").cast(DoubleType) / col("n_rows")).as("avg_price"),
          col("min_ship"), col("max_ship"))
        .orderBy(col("l_returnflag"), col("l_linestatus"))
    }),

    "op_sketch_rollup" -> ((s, dir) => {
      // persistable mergeable distinct-count sketches: monthly HLL
      // sketches of the customer set union to EXACTLY the register
      // state one direct pass builds (same lgK ⇒ lossless merge), so a
      // persisted rollup table answers coarser distincts without
      // rescanning raw data. DuckDB's sketch differs, so the gates ARE
      // the result (q11 pattern): union==direct pinned exactly, ±2% vs
      // exact pinned true
      val o = t(s, dir, "orders")
        .withColumn("mon", date_trunc("month", col("o_orderdate")))
      val rolled = graft.operators.Sketches.estimateAcross(
        graft.operators.Sketches.buildRollup(
          o, Seq("o_orderstatus"), "mon", "o_custkey", lgK = 14),
        Seq("o_orderstatus"))
      val direct = o.groupBy(col("o_orderstatus"))
        .agg(graft.operators.Sketches.hllEstimate(
            graft.operators.Sketches.hllSketch(col("o_custkey"), 14))
          .as("est_direct"),
          countDistinct(col("o_custkey")).as("exact_cust"))
      direct.join(rolled, Seq("o_orderstatus"))
        .select(col("o_orderstatus"), col("exact_cust"),
          (col("distinct_est") === col("est_direct")).as("union_eq_direct"),
          (abs(col("distinct_est") - col("exact_cust")) <=
            col("exact_cust") * 0.02).as("within_2pct"))
        .orderBy(col("o_orderstatus"))
    }),

    "op_quantile_rollup" -> ((s, dir) => {
      // mergeable quantile-sample rollup (r12 — the quantile twin of
      // op_sketch_rollup): monthly bottom-k (KMV) samples of
      // o_totalprice merged up to order-status grain, quantiles from
      // the merged sample. Unlike HLL/t-digest the WHOLE pipeline is
      // deterministic (shared rolling-hash ranks, lexicographic
      // bottom-k, fixed index pick), so the oracle recomputes every
      // rank and both bottom-k passes and the compared values are the
      // actual estimates — no gate needed.
      val o = t(s, dir, "orders")
        .withColumn("mon", date_trunc("month", col("o_orderdate")))
      graft.operators.QuantileRollup.estimateAcross(
          graft.operators.QuantileRollup.buildRollup(o,
            Seq("o_orderstatus"), "mon", "o_orderkey", "o_totalprice",
            k = 64),
          Seq("o_orderstatus"), Seq(0.5, 0.99), k = 64)
        .orderBy(col("o_orderstatus"))
    }),

    "dd_canonical" -> ((s, dir) => {
      // best-copy election over the MinHash near-dup clusters: keep the
      // NEWEST copy (score = doc_id, the crawl-recency convention)
      // instead of the min-id representative — on the doubled corpus
      // every canonical is the +10000 twin, provably ≠ rep
      val d = t(s, dir, "documents")
      val u = d.select(col("doc_id"), col("text")).unionByName(
        d.select((col("doc_id") + 10000).as("doc_id"), col("text")))
      val clusters = Dedup.minhashClusters(u, "doc_id", "text")
      val scores = u.select(col("doc_id").as("doc"),
        col("doc_id").cast(DoubleType).as("score"))
      Dedup.canonicalByScore(clusters, scores).orderBy(col("doc"))
    }),

    "op_skew_profile" -> ((s, dir) => {
      // the pre-shuffle skew measurement: group-size distribution +
      // max/mean ratio for two prospective keys of the events fact
      val ev = t(s, dir, "events")
      graft.sources.Skew.keyProfile(ev, "user_id")
        .withColumn("key_col", lit("user_id"))
        .unionByName(graft.sources.Skew.keyProfile(ev, "event_type")
          .withColumn("key_col", lit("event_type")))
        .orderBy(col("key_col"))
    }),

    "op_editdist_join" -> ((s, dir) => {
      // entity resolution over distinct part names plus first-char-
      // dropped typo variants: deletion-neighborhood EQUI-join (never
      // all-pairs). The oracle is the brute-force quadratic join, so a
      // green row proves the blocking is COMPLETE, not just fast.
      val names = t(s, dir, "part")
        .groupBy(col("p_name").as("nm"))
        .agg(min(col("p_partkey")).as("id"))
      val u = names.select(col("id"), col("nm"))
        .unionByName(names.filter(col("id") % 3 === 0)
          .select((col("id") + 100000).as("id"),
            expr("substring(nm, 2)").as("nm")))
      val d = u.groupBy(col("nm")).agg(min(col("id")).as("id"))
      graft.operators.EditDistJoin.selfJoin(d, "id", "nm")
        .orderBy(col("id_a"), col("id_b"))
    }),

    "op_jw_join" -> ((s, dir) => {
      // exact Jaro-Winkler similarity join over part names. 0.935
      // sits in a measured empty band of the sf0.01 jw distribution
      // (no value in (0.915, 0.955)), and the oracle is DuckDB's own
      // jaro_winkler_similarity over the brute-force quadratic join —
      // a green row certifies BOTH the bound-derived blocking's
      // completeness AND the scalar's engine-for-engine parity.
      val p = t(s, dir, "part")
      graft.operators.JaroWinklerJoin.selfJoin(
          p, "p_partkey", "p_name", threshold = 0.935)
        .orderBy(col("id_a"), col("id_b"))
    }),

    "op_jw_reps" -> ((s, dir) => {
      // clique-representative form of op_jw_join (r9 verdict #2): part
      // names are HEAVILY duplicated (64 distinct among 2000 parts at
      // sf0.01, ~31 copies each), so the expanded join is clique-output
      // bound — ~31² member pairs per qualifying name pair. Reps mode
      // emits one (rep, rep, jw, n_a, n_b) row per distinct-NAME pair
      // plus one self row per duplicated name; the member-expansion
      // joins never run. Oracle recomputes cliques + DuckDB's native
      // jaro_winkler over DISTINCT names only.
      val p = t(s, dir, "part")
      graft.operators.JaroWinklerJoin.selfJoin(
          p, "p_partkey", "p_name", threshold = 0.935,
          expandCliques = false)
        .orderBy(col("id_a"), col("id_b"))
    }),

    "op_jw_cross" -> ((s, dir) => {
      // cross-corpus entity linking: part names vs a shifted snapshot
      // where odd keys lost their first character (typo variants).
      // 0.945 sits in a measured empty band (0.9394 / 0.9524); the
      // oracle is DuckDB's native jaro_winkler over the full cross
      // join — blocking completeness + scalar parity in one hash.
      // Half corpus (p_partkey % 4 < 2, board-budget treatment —
      // NOT % 2, which would collide with the parity-keyed typo
      // perturbation and erase one class): Jaro-Winkler is pairwise,
      // so subsetting only removes pairs — the empty band persists.
      val p = t(s, dir, "part").filter(col("p_partkey") % 4 < 2)
      val right = p.select((col("p_partkey") + 100000).as("p_partkey"),
        when(col("p_partkey") % 2 === 0, col("p_name"))
          .otherwise(expr("substring(p_name, 2)")).as("p_name"))
      graft.operators.JaroWinklerJoin.crossJoin(
          p, right, "p_partkey", "p_name", threshold = 0.945)
        .orderBy(col("id_a"), col("id_b"))
    }),

    "op_triangles" -> ((s, dir) => {
      // per-node triangle counts on the co-purchase graph (parts
      // sharing an order). The oracle closes wedges by brute-force
      // triple join on the value-canonical edges; triangle counts are
      // orientation-invariant, so the degree-ordered plan must land on
      // the identical per-node histogram. Quarter of the orders: the
      // full co-purchase graph at sf0.1 has avg degree ~150 and wedge
      // volume is Θ(Σ outdeg²) for ANY exact scheme — the row pins
      // correctness on a graph that is still 100k+ triangles without
      // making the board quadratic-heavy (the gap-fill user_id < 40
      // convention).
      val li = t(s, dir, "lineitem")
        .filter(col("l_orderkey") % 4 === 0)
        .select(col("l_orderkey"), col("l_partkey")).distinct()
      val edges = li.alias("x").join(li.alias("y"),
          col("x.l_orderkey") === col("y.l_orderkey") &&
            col("x.l_partkey") < col("y.l_partkey"))
        .select(col("x.l_partkey").as("src"),
          col("y.l_partkey").as("dst"))
      graft.operators.Triangles.perNode(edges, "src", "dst")
        .orderBy(col("node"))
    }),

    "op_rolling" -> ((s, dir) =>
      // per-event trailing 7-day activity features (range frame ending
      // at EVERY event — not ev_sliding's fixed grid): one exchange on
      // user_id, one sort, two-pointer frame evaluation per key
      graft.operators.Rolling.trailing(
          t(s, dir, "events")
            .select(col("event_id"), col("user_id"), col("ts"), col("value")),
          "user_id", "ts", "value", horizonSec = 7 * 86400L)
        .orderBy(col("event_id"))),

    "q18_regional_revenue" -> ((s, dir) => {
      // the TPC-H-Q5-shaped 6-table join: two broadcastable dim chains
      // meeting a fact-fact join — the plan must broadcast
      // region/nation/supplier-side dims and SMJ/SHJ only
      // orders⋈lineitem (PlanAuditSpec's cartesian sweep covers it)
      val li = t(s, dir, "lineitem")
      val o = t(s, dir, "orders")
      val c = t(s, dir, "customer")
      val su = t(s, dir, "supplier")
      val n = t(s, dir, "nation")
      val r = t(s, dir, "region")
      li.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(c), col("o_custkey") === col("c_custkey"))
        .join(broadcast(su), col("l_suppkey") === col("s_suppkey") &&
          col("c_nationkey") === col("s_nationkey"))
        .join(broadcast(n), col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
        .filter(col("o_orderdate") >= lit("1996-01-01").cast(TimestampType))
        .groupBy(col("r_name"), col("n_name"))
        .agg(sum(dec(col("l_extendedprice")) * (lit(1) - dec(col("l_discount"))))
          .cast(DoubleType).as("revenue"),
          count(lit(1)).as("n_items"))
        .orderBy(col("r_name"), col("n_name"))
    }),

    "q19_promo_revenue" -> ((s, dir) => {
      // TPC-H-Q19-shaped disjunctive join: the OR of brand/size/quantity
      // bands must NOT break the p_partkey equi-join — the key stays a
      // broadcast-hash probe and the whole disjunction evaluates as a
      // codegen'd residual after the probe (never a nested loop over
      // the OR arms)
      val li = t(s, dir, "lineitem")
      val p = t(s, dir, "part")
      li.join(broadcast(p), col("l_partkey") === col("p_partkey"))
        .filter(
          (col("p_brand") === "Brand#11" && col("p_size").between(1, 15) &&
            col("l_quantity").between(1, 20)) ||
          (col("p_brand") === "Brand#22" && col("p_size").between(10, 30) &&
            col("l_quantity").between(10, 35)) ||
          (col("p_brand") === "Brand#33" && col("p_size").between(20, 50) &&
            col("l_quantity").between(20, 50)))
        .agg(sum(dec(col("l_extendedprice")) * (lit(1) - dec(col("l_discount"))))
            .cast(DoubleType).as("revenue"),
          count(lit(1)).as("n_items"))
    }),

    "q20_promo_parts" -> ((s, dir) => {
      // TPC-H-Q20-shaped nested correlated agg subquery (the last
      // hard-shape family member; Q20's partsupp side is absent from
      // the testdata, so "availqty > ½·shipped" becomes its mirror on
      // the fact table alone): suppliers who DOMINATED a promo part —
      // shipped more than half of that part's total windowed quantity.
      // SQL form: IN-subquery with a HAVING against a correlated
      // per-part scalar agg. Plan form: the decorrelation Catalyst
      // should produce — ONE windowed+promo-filtered scan feeds both
      // the (part, supp) pre-agg and the per-part total (a
      // partial-agg rollup of the first, NOT a second scan), joined on
      // the part key; no per-row re-scan of lineitem. Quantities sum
      // as exact decimals so the ½ comparison (integer-exact as
      // 2·qps > qp) is order-independent on both engines.
      val li = t(s, dir, "lineitem")
      val pp = t(s, dir, "part").filter(col("p_type") === "PROMO")
        .select(col("p_partkey"))
      val win = li
        .filter(col("l_shipdate") >= lit("1997-01-01").cast(TimestampType) &&
          col("l_shipdate") < lit("1999-01-01").cast(TimestampType))
        .join(broadcast(pp), col("l_partkey") === col("p_partkey"), "left_semi")
      val perPS = win.groupBy(col("l_partkey"), col("l_suppkey"))
        .agg(sum(dec(col("l_quantity"))).as("qps"))
      val perP = perPS.groupBy(col("l_partkey"))
        .agg(sum(col("qps")).as("qp"))
      val dom = perPS.join(perP, Seq("l_partkey"))
        .filter(col("qps") * 2 > col("qp"))
        .select(col("l_suppkey")).distinct()
      t(s, dir, "supplier")
        .join(dom, col("s_suppkey") === col("l_suppkey"), "left_semi")
        .select(col("s_name"), dec(col("s_acctbal")).cast(DoubleType)
          .as("acctbal"))
        .orderBy(col("s_name"))
    }),

    "q21_last_shipper" -> ((s, dir) => {
      // TPC-H-Q21-shaped double-correlated EXISTS/NOT-EXISTS, expressed
      // as the decorrelation Catalyst would produce: supplier s "held
      // up" multi-supplier order o iff s's latest shipdate in o equals
      // the order's latest shipdate (exists other-supplier lineitem;
      // not exists other-supplier lineitem shipping strictly later).
      // One (order,supp) pre-agg, one window over the order key, one
      // count per supplier — three shuffles total, no self-join blowup.
      val li = t(s, dir, "lineitem")
      val su = t(s, dir, "supplier")
      val ms = li.groupBy(col("l_orderkey"), col("l_suppkey"))
        .agg(max(col("l_shipdate")).as("ms"))
      val w = Window.partitionBy(col("l_orderkey"))
      val held = ms
        .withColumn("m1", max(col("ms")).over(w))
        .withColumn("nsupp", count(lit(1)).over(w))
        .filter(col("nsupp") > 1 && col("ms") === col("m1"))
      held.groupBy(col("l_suppkey"))
        .agg(count(lit(1)).as("numwait"))
        .join(broadcast(su), col("l_suppkey") === col("s_suppkey"))
        .select(col("s_name"), col("numwait"))
        .orderBy(col("numwait").desc, col("s_name"))
        .limit(10)
    }),

    "q22_dormant_value" -> ((s, dir) => {
      // TPC-H-Q22-shaped anti-join + scalar subquery: customers above
      // the positive-balance average (decimal-exact q08 comparison:
      // bal*n > sum) with NO order since the cutoff; per-segment count
      // and balance total. The scalar agg broadcasts as a 1-row cross
      // join; the recency check is a left_anti against the filtered
      // fact — no correlated re-scan per customer.
      val c = t(s, dir, "customer")
      val pos = c.filter(col("c_acctbal") > 0)
        .agg(sum(dec(col("c_acctbal"))).as("sum_bal"),
          count(lit(1)).as("n_pos"))
      val recent = t(s, dir, "orders")
        .filter(col("o_orderdate") >= lit("2000-06-01").cast(TimestampType))
        .select(col("o_custkey"))
      c.join(recent, col("c_custkey") === col("o_custkey"), "left_anti")
        .crossJoin(broadcast(pos))
        .filter(dec(col("c_acctbal")) * col("n_pos") > col("sum_bal"))
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_cust"),
          sum(dec(col("c_acctbal"))).cast(DoubleType).as("total_bal"))
        .orderBy(col("c_mktsegment"))
    }),

    "q16_window_breadth" -> ((s, dir) => {
      // the window-function breadth a dbt model relies on beyond q03's
      // rank/sum: offsets, tiles, running first, relative ranks —
      // deterministic because o_orderkey is unique per partition
      val w = Window.partitionBy(col("o_custkey")).orderBy(col("o_orderkey"))
      t(s, dir, "orders").select(
          col("o_orderkey"), col("o_custkey"),
          lead(col("o_orderkey"), 1).over(w).as("next_ok"),
          lag(col("o_orderkey"), 1).over(w).as("prev_ok"),
          ntile(4).over(w).as("quartile"),
          first(col("o_orderkey")).over(w).as("first_ok"),
          round(percent_rank().over(w), 6).as("pr"),
          round(cume_dist().over(w), 6).as("cd"))
        .orderBy(col("o_orderkey"))
    }),

    "q17_approx_percentile" -> ((s, dir) => {
      // the sketch the reference passes through to the engine
      // (approx_percentile): gated within 5% of the exact percentile
      // per group — the q11 approx-distinct pattern
      val li = t(s, dir, "lineitem")
      li.groupBy(col("l_returnflag"))
        .agg(
          expr("approx_percentile(l_quantity, array(0.5, 0.9), 1000)")
            .as("ap"),
          expr("percentile(l_quantity, 0.5)").as("e50"),
          expr("percentile(l_quantity, 0.9)").as("e90"))
        .select(col("l_returnflag"),
          (abs(element_at(col("ap"), 1) - col("e50")) <=
            greatest(col("e50") * 0.05, lit(1.0))).as("p50_ok"),
          (abs(element_at(col("ap"), 2) - col("e90")) <=
            greatest(col("e90") * 0.05, lit(1.0))).as("p90_ok"))
        .orderBy(col("l_returnflag"))
    }),

    "op_zorder" -> ((s, dir) =>
      // Morton interleave of (custkey, orderkey) — the multi-column
      // data-skipping sort key; the write path + row-group-skip evidence
      // live in Layout.writeZOrdered/LayoutSpec, the VALUE is compared
      // here bit-for-bit (pure integer shift/mask arithmetic)
      t(s, dir, "orders")
        .select(col("o_orderkey"),
          graft.sources.Layout.zValue(
            Seq(col("o_custkey"), col("o_orderkey")), 8).as("zval"))
        .orderBy(col("o_orderkey"))),

    "op_compact" -> ((s, dir) => {
      // partition-aware small-file compaction: a region-partitioned
      // table with per-leaf litter compacts LEAF BY LEAF (layout
      // preserved, bounded work per leaf — the shape that holds at
      // 100 TB); compared result is the read-back (content
      // preservation IS the contract) plus the total post-compaction
      // file count: exactly 1 per region leaf
      val n = t(s, dir, "nation")
      val cdir = "target/graft_compact_demo"
      n.repartition(5).write.mode("overwrite")
        .partitionBy("n_regionkey").parquet(cdir)
      val (_, after) = graft.sources.Layout.compact(s, cdir, 1L << 30)
      s.read.parquet(cdir)
        .select(col("n_nationkey"), col("n_name"),
          col("n_regionkey").cast(n.schema("n_regionkey").dataType)
            .as("n_regionkey"),
          lit(after).as("files_after"))
        .orderBy(col("n_nationkey"))
    }),

    "op_gapfill" -> ((s, dir) =>
      // irregular per-user event series → 10-minute grid with
      // carry-forward (the feature-engineering resample; AsOfJoin's
      // synthetic-grid sibling). Bounded to 40 users for row volume.
      graft.operators.GapFill.gapFill(
          t(s, dir, "events").filter(col("user_id") < 40),
          "user_id", "ts", "event_id", "value", stepSec = 600L)
        .withColumnRenamed("key", "user_id")
        .orderBy(col("user_id"), col("tick"))),

    "op_gapfill_bounded" -> ((s, dir) =>
      // LOCF with a bounded carry horizon: a tick more than 1 step
      // from its donor observation fills null (unbounded carry across
      // a long outage is feature fiction)
      graft.operators.GapFill.gapFill(
          t(s, dir, "events").filter(col("user_id") < 40),
          "user_id", "ts", "event_id", "value", stepSec = 600L,
          direction = "backward", maxFillTicks = Some(1L))
        .withColumnRenamed("key", "user_id")
        .orderBy(col("user_id"), col("tick"))),

    "op_gapfill_forward" -> ((s, dir) =>
      // NOCB start-alignment fill: each tick takes the EARLIEST
      // observation at-or-after it
      graft.operators.GapFill.gapFill(
          t(s, dir, "events").filter(col("user_id") < 40),
          "user_id", "ts", "event_id", "value", stepSec = 600L,
          direction = "forward")
        .withColumnRenamed("key", "user_id")
        .orderBy(col("user_id"), col("tick"))),

    "op_gapfill_interp" -> ((s, dir) =>
      // linear interpolation between the surrounding observations,
      // gaps longer than 2 missing ticks nulled; double arithmetic
      // mirrors the oracle expression term-for-term (IEEE determinism
      // makes the compare bit-exact)
      graft.operators.GapFill.gapFill(
          t(s, dir, "events").filter(col("user_id") < 40),
          "user_id", "ts", "event_id", "value", stepSec = 600L,
          direction = "interpolate", maxFillTicks = Some(2L))
        .withColumnRenamed("key", "user_id")
        .orderBy(col("user_id"), col("tick"))),

    "op_salted_agg" -> ((s, dir) => {
      // two-phase salted aggregation under the driver gate: partials on
      // (key, salt), exact merge — result identical to the plain groupBy
      // (sums ride DECIMAL so reassociation is exact; the final cast to
      // DOUBLE happens once, after the merge)
      val ev = t(s, dir, "events")
      graft.sources.Skew.saltedAgg(ev, Seq("event_type"), salts = 16)(
        Seq(count(lit(1)).as("pn"), sum(dec(col("value"))).as("ps"),
          min(col("user_id")).as("pmn"), max(col("user_id")).as("pmx")),
        Seq(sum(col("pn")).as("n"),
          sum(col("ps")).cast(DoubleType).as("sum_value"),
          min(col("pmn")).as("min_user"), max(col("pmx")).as("max_user")))
        .orderBy(col("event_type"))
    }),

    "op_bucketed_join" -> ((s, dir) => {
      // both sides written bucketed+sorted on the join key, then
      // joined through the catalog: the co-located SMJ path
      // (shuffle-free join — plan-asserted in LayoutSpec; this row
      // certifies the bucketed write→scan→join path's RESULTS against
      // the plain-join oracle)
      graft.sources.Layout.writeBucketed(
        t(s, dir, "lineitem").select(col("l_orderkey"), col("l_quantity")),
        "graft_bkt_li", buckets = 8, keys = Seq("l_orderkey"))
      graft.sources.Layout.writeBucketed(
        t(s, dir, "orders").select(col("o_orderkey").as("l_orderkey"),
          col("o_orderstatus")),
        "graft_bkt_ord", buckets = 8, keys = Seq("l_orderkey"))
      s.table("graft_bkt_li").join(s.table("graft_bkt_ord"), "l_orderkey")
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n_items"),
          sum(dec(col("l_quantity"))).cast(DoubleType).as("sum_qty"))
        .orderBy(col("o_orderstatus"))
    }),

    "op_heavy_hitters" -> ((s, dir) => {
      // exact heavy hitters via Misra–Gries candidate surfacing + exact
      // recount of the candidate sliver — equals the plain GROUP
      // BY/HAVING (the oracle) with no full-key-space shuffle
      graft.operators.HeavyHitters
        .heavyHitters(t(s, dir, "events"), "user_id", phi = 0.0075)
        .orderBy(col("user_id"))
    }),

    "op_salted_join" -> ((s, dir) => {
      // salted equi-join under the driver gate: fact rows carry a
      // content-derived salt, the dim replicates across all salts —
      // identical rows to the plain join (the oracle), but a hot key
      // spreads over `salts` reducers instead of melting one
      val li = t(s, dir, "lineitem")
        .select(col("l_suppkey"), col("l_quantity"))
      val sup = t(s, dir, "supplier")
        .select(col("s_suppkey").as("l_suppkey"), col("s_nationkey"))
      graft.sources.Skew.saltedJoin(li, sup, "l_suppkey", salts = 16)
        .groupBy(col("s_nationkey"))
        .agg(count(lit(1)).as("n_items"),
          sum(dec(col("l_quantity"))).cast(DoubleType).as("sum_qty"))
        .orderBy(col("s_nationkey"))
    }),

    "op_asof_broadcast" -> ((s, dir) => {
      // the ZERO-shuffle broadcast sibling of op_asof_join — identical
      // semantics (same oracle), the fact side never exchanges: a
      // broadcast binary-search expression stamps the matched right ts,
      // then a broadcast hash equi-join fetches the payload
      val ev = t(s, dir, "events")
      val left = ev.filter(pmod(col("event_id"), lit(2)) === 1)
        .select(col("event_id"), col("user_id"), col("ts"))
      val right = ev.filter(pmod(col("event_id"), lit(2)) === 0)
        .groupBy(col("user_id"), col("ts"))
        .agg(max(dec(col("value"))).cast(DoubleType).as("rv"))
      graft.operators.AsOfJoin.broadcastAsOf(left, right,
          Seq("user_id"), "ts", Seq("rv"))
        .orderBy(col("event_id"))
    }),

    "op_asof_tolerance" -> ((s, dir) => {
      // bounded lookback (pandas merge_asof tolerance / kdb wj): a
      // carried match older than 30 minutes expires to NULL
      val ev = t(s, dir, "events")
      val left = ev.filter(pmod(col("event_id"), lit(2)) === 1)
        .select(col("event_id"), col("user_id"), col("ts"))
      val right = ev.filter(pmod(col("event_id"), lit(2)) === 0)
        .groupBy(col("user_id"), col("ts"))
        .agg(max(dec(col("value"))).cast(DoubleType).as("rv"))
      graft.operators.AsOfJoin.asOf(left, right, "user_id", "ts",
          Seq("rv"), tolerance = Some(expr("INTERVAL 30 MINUTES")))
        .orderBy(col("event_id"))
    }),

    "op_asof_forward" -> ((s, dir) => {
      // forward direction (pandas merge_asof direction='forward'): the
      // EARLIEST right row at-or-after the left ts, bounded lookahead
      val ev = t(s, dir, "events")
      val left = ev.filter(pmod(col("event_id"), lit(2)) === 1)
        .select(col("event_id"), col("user_id"), col("ts"))
      val right = ev.filter(pmod(col("event_id"), lit(2)) === 0)
        .groupBy(col("user_id"), col("ts"))
        .agg(max(dec(col("value"))).cast(DoubleType).as("rv"))
      graft.operators.AsOfJoin.asOf(left, right, "user_id", "ts",
          Seq("rv"), tolerance = Some(expr("INTERVAL 30 MINUTES")),
          direction = "forward")
        .orderBy(col("event_id"))
    }),

    "op_asof_nearest" -> ((s, dir) => {
      // nearest direction: closer of the backward/forward candidates
      // inside the tolerance window, ties to backward
      val ev = t(s, dir, "events")
      val left = ev.filter(pmod(col("event_id"), lit(2)) === 1)
        .select(col("event_id"), col("user_id"), col("ts"))
      val right = ev.filter(pmod(col("event_id"), lit(2)) === 0)
        .groupBy(col("user_id"), col("ts"))
        .agg(max(dec(col("value"))).cast(DoubleType).as("rv"))
      graft.operators.AsOfJoin.asOf(left, right, "user_id", "ts",
          Seq("rv"), tolerance = Some(expr("INTERVAL 30 MINUTES")),
          direction = "nearest")
        .orderBy(col("event_id"))
    }),

    "q11_approx_distinct" -> ((s, dir) => {
      // approx_count_distinct (HLL++): the 100 TB cardinality tool — one
      // pass, fixed-size sketch state, no exact-distinct shuffle.
      // DuckDB's approx sketch differs, so the raw estimate cannot be a
      // compared column; instead the result IS the gate (sim_ivf_topk
      // pattern): exact_cust (oracle-recomputable) plus a within-10%
      // boolean the oracle pins true. The raw estimate stays verified —
      // a false gate hash-mismatches the oracle's literal true.
      val o = t(s, dir, "orders")
      o.groupBy(col("o_orderstatus"))
        .agg(approx_count_distinct(col("o_custkey"), 0.02).as("approx_cust"),
          countDistinct(col("o_custkey")).as("exact_cust"))
        .select(col("o_orderstatus"), col("exact_cust"),
          (abs(col("approx_cust") - col("exact_cust")) <=
            col("exact_cust") * 0.1).as("within_10pct"))
        .orderBy(col("o_orderstatus"))
    }),

    "q12_percentile" -> ((s, dir) => {
      // exact percentiles (linear interpolation) — Spark percentile()
      // and DuckDB quantile_cont share the definition; rounded to 6 so
      // IEEE double interpolation agrees bit-for-bit
      val li = t(s, dir, "lineitem")
      li.groupBy(col("l_returnflag"))
        .agg(
          round(expr("percentile(l_quantity, 0.5)"), 6).as("p50_qty"),
          round(expr("percentile(l_quantity, 0.95)"), 6).as("p95_qty"),
          round(expr("percentile(CAST(l_extendedprice AS DOUBLE), 0.9)"),
            6).as("p90_price"))
        .orderBy(col("l_returnflag"))
    }),

    "q13_grouping_sets" -> ((s, dir) => {
      // explicit GROUPING SETS with grouping_id disambiguation — the
      // rollup/cube family's general form (§2.5 aggregates)
      Tables.registerAll(s, dir)
      s.sql("""
        SELECT o_orderstatus, o_orderpriority,
               CAST(grouping(o_orderstatus) AS INT) AS g_status,
               CAST(grouping(o_orderpriority) AS INT) AS g_prio,
               count(*) AS n
        FROM orders
        GROUP BY GROUPING SETS ((o_orderstatus),
                                (o_orderpriority),
                                (o_orderstatus, o_orderpriority))
        ORDER BY g_status, g_prio,
                 o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""")
    }),

    "q14_pivot" -> ((s, dir) => {
      // relational pivot over a known small value set (Spark pivot with
      // explicit values = conditional aggregation, no extra pass to
      // discover categories — the 100 TB form)
      val o = t(s, dir, "orders")
      o.groupBy(col("o_orderpriority"))
        .pivot("o_orderstatus", Seq("F", "O", "P"))
        .agg(count(lit(1)))
        .na.fill(0L, Seq("F", "O", "P"))
        .orderBy(col("o_orderpriority"))
    }),

    "q15_unpivot" -> ((s, dir) => {
      // unpivot (melt): wide aggregate → (metric, value) rows
      val o = t(s, dir, "orders")
      val wide = o.groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).cast(DoubleType).as("n_orders"),
          round(sum(dec(col("o_totalprice"))).cast(DoubleType), 2)
            .as("total_price"),
          round(avg(dec(col("o_totalprice"))).cast(DoubleType), 2)
            .as("avg_price"))
      wide.unpivot(Array(col("o_orderstatus")),
          Array(col("n_orders"), col("total_price"), col("avg_price")),
          "metric", "value")
        .orderBy(col("o_orderstatus"), col("metric"))
    }),

    // ---- incremental strategies as oracle-checked rewrites (SURVEY §2.2) ----
    "inc_append" -> ((s, dir) => {
      val (target, staged) = incFixture(s, dir)
      Incremental.append(target, staged).orderBy(col("o_orderkey"), col("src"))
    }),

    "inc_delete_insert" -> ((s, dir) => {
      val (target, staged) = incFixture(s, dir)
      Incremental.deleteInsert(target, staged, Seq("o_orderkey"))
        .orderBy(col("o_orderkey"), col("src"))
    }),

    "inc_merge" -> ((s, dir) => {
      val (target, staged) = incFixture(s, dir)
      Incremental.merge(target, staged, Seq("o_orderkey"))
        .orderBy(col("o_orderkey"), col("src"))
    }),

    "inc_merge_subset" -> ((s, dir) => {
      // merge_update_columns = [src]: price keeps the TARGET value on match
      val (target, staged) = incFixture(s, dir)
      Incremental.merge(target, staged, Seq("o_orderkey"),
          updateColumns = Seq("src"))
        .orderBy(col("o_orderkey"), col("src"))
    }),

    "inc_merge_predicates" -> ((s, dir) => {
      // incremental_predicates (incremental.sql:152-153): the predicate is
      // AND-ed into the MERGE ON — an expensive target row is never
      // matched, so it survives unmodified and its staged twin inserts.
      val (target, staged) = incFixture(s, dir)
      Incremental.merge(target, staged, Seq("o_orderkey"),
          predicates = Seq(col("t.price") < lit(200000.0)))
        .orderBy(col("o_orderkey"), col("src"))
    }),

    "inc_insert_overwrite" -> ((s, dir) => {
      // partitioned fixture: o_orderpriority is the partition key. The
      // staged batch rewrites two partitions (every 3rd key, doubled
      // price); the other three priorities pass through untouched — the
      // partition-replacement strategy, where the rewrite cost is the
      // touched partitions, never a keyed join against the whole target
      val o = t(s, dir, "orders")
      val target = o.select(col("o_orderkey"), col("o_orderpriority"),
        dec(col("o_totalprice")).cast(DoubleType).as("price"),
        lit("target").as("src"))
      val staged = o
        .filter(col("o_orderpriority").isin("1-URGENT", "2-HIGH") &&
          pmod(col("o_orderkey"), lit(3)) === 0)
        .select(col("o_orderkey"), col("o_orderpriority"),
          (dec(col("o_totalprice")) * 2).cast(DoubleType).as("price"),
          lit("staged").as("src"))
      Incremental.insertOverwrite(target, staged, Seq("o_orderpriority"))
        .orderBy(col("o_orderkey"), col("src"))
    }),

    "snapshot_scd2" -> ((s, dir) => {
      // deterministic two-step SCD2 cycle over orders:
      //   v0 = keys %10 in 0..4 (updated_at = o_orderdate)
      //   v1 = all keys; keys %10 in (0,1) changed (status='XX', +10 days)
      val o = t(s, dir, "orders").select(
        col("o_orderkey").as("id"),
        col("o_orderstatus").as("v"),
        col("o_orderdate").cast(TimestampType).as("updated_at"))
      val v0 = o.filter(pmod(col("id"), lit(10)) < 5)
      val changed = pmod(col("id"), lit(10)) < 2
      val v1 = o.select(col("id"),
        when(changed, lit("XX")).otherwise(col("v")).as("v"),
        when(changed, col("updated_at") + expr("interval 10 days"))
          .otherwise(col("updated_at")).as("updated_at"))
      val snap0 = Snapshot.initial(v0, Seq("id"), "updated_at")
      Snapshot.run(snap0, v1, Seq("id"), "updated_at")
        .select(col("id"), col("v"), col("dbt_valid_from"), col("dbt_valid_to"))
        .orderBy(col("id"), col("dbt_valid_from"))
    }),

    "snapshot_hard_delete" -> ((s, dir) => {
      // invalidate_hard_deletes: keys gone from the source get their open
      // row closed at the snapshot time
      val o = t(s, dir, "orders").select(
        col("o_orderkey").as("id"),
        col("o_orderstatus").as("v"),
        col("o_orderdate").cast(TimestampType).as("updated_at"))
      val now1 = Dialect.snapshotStringAsTime("2021-06-01 00:00:00")
      val snap0 = Snapshot.initial(o, Seq("id"), "updated_at")
      val v1 = o.filter(pmod(col("id"), lit(5)) =!= 0) // id%5==0 vanishes
      Snapshot.run(snap0, v1, Seq("id"), "updated_at",
          invalidateHardDeletes = true, now = now1)
        .select(col("id"), col("v"), col("dbt_valid_from"),
          col("dbt_valid_to"))
        .orderBy(col("id"))
    }),

    "snapshot_scd2_checkcols" -> ((s, dir) => {
      // check_cols strategy: changed iff any checked column differs.
      //   v0 = keys %10 in 0..4 at t0
      //   v1 = all keys; %10 in (0,1) → v changes; %10 == 2 → w changes
      val o = t(s, dir, "orders").select(
        col("o_orderkey").as("id"),
        col("o_orderstatus").as("v"),
        col("o_orderpriority").as("w"))
      val now0 = Dialect.snapshotStringAsTime("2020-01-01 00:00:00")
      val now1 = Dialect.snapshotStringAsTime("2020-02-01 00:00:00")
      val v0 = o.filter(pmod(col("id"), lit(10)) < 5)
      val chV = pmod(col("id"), lit(10)) < 2
      val chW = pmod(col("id"), lit(10)) === 2
      val v1 = o.select(col("id"),
        when(chV, lit("XX")).otherwise(col("v")).as("v"),
        when(chW, lit("ZZ")).otherwise(col("w")).as("w"))
      val snap0 = Snapshot.initialCheck(v0, Seq("id"), now0)
      Snapshot.runCheck(snap0, v1, Seq("id"), Seq("v", "w"), now1)
        .select(col("id"), col("v"), col("w"),
          col("dbt_valid_from"), col("dbt_valid_to"))
        .orderBy(col("id"), col("dbt_valid_from"))
    }),

    // ---- materialization / DDL / catalog state machines (SURVEY §2.1,
    // §2.3) exercised end-to-end against the session catalog, read back,
    // and oracle-compared. Each query is self-contained + idempotent. ----
    "mat_table_swap" -> ((s, dir) => {
      val m = new graft.mat.Materializer(s)
      val rel = graft.model.Relation("graft_mat_swap")
      val n = t(s, dir, "nation").select(col("n_nationkey"), col("n_name"))
      m.table(rel, n.withColumn("ver", lit("v1")))
      m.table(rel, n.withColumn("ver", lit("v2"))) // rename-swap path
      s.table("graft_mat_swap").orderBy(col("n_nationkey"))
    }),

    "mat_table_drop" -> ((s, dir) => {
      val m = new graft.mat.Materializer(s)
      val rel = graft.model.Relation("graft_mat_drop")
      val n = t(s, dir, "nation").select(col("n_nationkey"), col("n_name"))
      m.table(rel, n.withColumn("ver", lit("v1")))
      m.table(rel, n.withColumn("ver", lit("v2")),
        onTableExists = "drop") // table.sql:50-59 drop path
      s.table("graft_mat_drop").orderBy(col("n_nationkey"))
    }),

    "mat_view" -> ((s, dir) => {
      val m = new graft.mat.Materializer(s)
      val rel = graft.model.Relation("graft_view_demo")
      // adapters.sql:279-282: a non-view object of the same name is
      // dropped before the view is created
      m.dropRelation(rel)
      s.range(1).write.saveAsTable("graft_view_demo")
      m.view(rel,
        s"SELECT r_regionkey, upper(r_name) AS r_name_up FROM parquet.`$dir/region.parquet`")
      s.table("graft_view_demo").orderBy(col("r_regionkey"))
    }),

    "mat_mv_refresh" -> ((s, dir) => {
      val m = new graft.mat.Materializer(s)
      val rel = graft.model.Relation("graft_mv_demo")
      m.materializedView(rel,
        s"SELECT n_regionkey, count(*) AS n FROM parquet.`$dir/nation.parquet` GROUP BY n_regionkey")
      m.refreshMaterializedView(rel) // materialized_view.sql:33-35
      s.table("graft_mv_demo").orderBy(col("n_regionkey"))
    }),

    "mat_seed_types" -> ((s, dir) => {
      // seed CSV → agate-mirroring inference (impl.py:52-66): price→DOUBLE
      // (mixed int/decimal), born→DATE, seen→TIMESTAMP, label→VARCHAR;
      // id overridden to bigint via column_types (adapters.sql:59,67);
      // dur/bin/meta exercise the typed-literal path
      // (seeds/helpers.sql:6-24): interval `'N' unit` cells, varbinary
      // hex, json-as-text
      val csv = java.nio.file.Paths.get("target/graft_seed.csv")
      java.nio.file.Files.createDirectories(csv.getParent)
      java.nio.file.Files.writeString(csv,
        "id,price,born,seen,label,dur,bin,meta\n" +
          "1,1.5,1995-01-01,1995-01-01 12:00:00,alpha,'1' day,65683F,\"{\"\"k\"\":1}\"\n" +
          "2,2,1996-02-02,1996-02-02 13:30:00,beta,'36' hour,4F4B,\"{\"\"a\"\":[1,2]}\"\n" +
          "3,,1997-03-03,,gamma,,,\n")
      val m = new graft.mat.Materializer(s)
      m.seed(graft.model.Relation("graft_seed_demo"),
        csv.toAbsolutePath.toString,
        columnTypes = Map("id" -> "bigint",
          "dur" -> "interval day to second", "bin" -> "varbinary",
          "meta" -> "json"))
      // the stored table keeps BinaryType for bin; the compared projection
      // hex-encodes it because the verify driver's pandas layer cannot
      // sort/hash raw bytearray values
      s.table("graft_seed_demo")
        .select(col("id"), col("price"), col("born"), col("seen"),
          col("label"), col("dur"), hex(col("bin")).as("bin_hex"), col("meta"))
        .orderBy(col("id"))
    }),

    "mat_data_tests" -> ((s, dir) => {
      // dbt's four generic tests over the TPC-H tables: three that must
      // pass (pk uniqueness, pk not-null, orders→customer referential
      // integrity) and two seeded to fail (l_returnflag carries 'R'
      // beyond the accepted set; lineitem.l_linenumber is non-unique by
      // construction) — the summary is what `dbt test` prints
      val o = t(s, dir, "orders")
      val c = t(s, dir, "customer")
      val li = t(s, dir, "lineitem")
      graft.mat.DataTests.summary(Seq(
        "accepted_values_returnflag" ->
          graft.mat.DataTests.acceptedValues(li, "l_returnflag",
            Seq("A", "N")),
        "not_null_custkey" -> graft.mat.DataTests.notNull(c, "c_custkey"),
        "relationships_orders_customer" ->
          graft.mat.DataTests.relationships(o, "o_custkey",
            c, "c_custkey"),
        "unique_linenumber" ->
          graft.mat.DataTests.unique(li, "l_linenumber"),
        "unique_orderkey" -> graft.mat.DataTests.unique(o, "o_orderkey")))
        .orderBy(col("test_name"))
    }),

    "mat_incremental_driver" -> ((s, dir) => {
      // the full incremental state machine (incremental.sql:21-110):
      // first run → CTAS; second run → merge strategy + tmp-table swap
      val m = new graft.mat.Materializer(s)
      val rel = graft.model.Relation("graft_inc_drv")
      m.dropRelation(rel)
      val (target, staged) = incFixture(s, dir)
      m.incremental(rel, target, "merge", Seq("o_orderkey"))
      m.incremental(rel, staged, "merge", Seq("o_orderkey"))
      s.table("graft_inc_drv").orderBy(col("o_orderkey"), col("src"))
    }),

    "mat_upsert_batches" -> ((s, dir) => {
      // the streaming upsert sink's batch kernel (Events.upsertBatch):
      // batch 1 creates the table; batch 2 updates every 3rd key,
      // carries an IN-BATCH duplicate of those keys (higher ord must
      // win the within-batch collapse) and inserts new keys. Ords are
      // distinct per key so the whole-row-hash tiebreak never decides.
      val d = t(s, dir, "documents").select(col("doc_id"), col("text"))
      s.sql("DROP TABLE IF EXISTS graft_upsert_drv")
      val b1 = d.select(col("doc_id").as("k"), col("text").as("v"),
        lit(1L).as("ord"))
      val thirds = d.filter(col("doc_id") % 3 === 0)
      val b2 = thirds
        .select(col("doc_id").as("k"),
          concat(col("text"), lit(" v2")).as("v"), lit(2L).as("ord"))
        .unionByName(thirds.select(col("doc_id").as("k"),
          concat(col("text"), lit(" v3")).as("v"), lit(3L).as("ord")))
        .unionByName(d.filter(col("doc_id") % 7 === 0)
          .select((col("doc_id") + 10000).as("k"), col("text").as("v"),
            lit(2L).as("ord")))
      Events.upsertBatch(b1, "graft_upsert_drv", Seq("k"), "ord")
      Events.upsertBatch(b2, "graft_upsert_drv", Seq("k"), "ord")
      s.table("graft_upsert_drv").orderBy(col("k"))
    }),

    "mat_upsert_partitioned" -> ((s, dir) => {
      // the PARTITION-SCOPED upsert path (Events.upsertBatch with
      // partitionCols): same two-batch fixture as mat_upsert_batches
      // but the table is partitioned by p = k % 5 (derived from the
      // key — the partition-stability contract) and batch 2 rewrites
      // ONLY the partitions its keys land in, via literal partition
      // filters + dynamic partition overwrite. The compared result is
      // the full table — identical to what the full-table merge
      // produces, which is the point: the scoped path changes the
      // COST, not the answer.
      val d = t(s, dir, "documents").select(col("doc_id"), col("text"))
      s.sql("DROP TABLE IF EXISTS graft_upsert_part_drv")
      val b1 = d.select(col("doc_id").as("k"), col("text").as("v"),
        lit(1L).as("ord"), (col("doc_id") % 5).as("p"))
      val thirds = d.filter(col("doc_id") % 3 === 0)
      val b2 = thirds
        .select(col("doc_id").as("k"),
          concat(col("text"), lit(" v2")).as("v"), lit(2L).as("ord"),
          (col("doc_id") % 5).as("p"))
        .unionByName(thirds.select(col("doc_id").as("k"),
          concat(col("text"), lit(" v3")).as("v"), lit(3L).as("ord"),
          (col("doc_id") % 5).as("p")))
        .unionByName(d.filter(col("doc_id") % 7 === 0)
          .select((col("doc_id") + 10000).as("k"), col("text").as("v"),
            lit(2L).as("ord"), ((col("doc_id") + 10000) % 5).as("p")))
      Events.upsertBatch(b1, "graft_upsert_part_drv", Seq("k"), "ord",
        Seq("p"))
      Events.upsertBatch(b2, "graft_upsert_part_drv", Seq("k"), "ord",
        Seq("p"))
      s.table("graft_upsert_part_drv")
        .select(col("k"), col("v"), col("ord"), col("p"))
        .orderBy(col("k"))
    }),

    "mat_snapshot_bucketed" -> ((s, dir) => {
      // the snapshot MATERIALIZATION state machine end-to-end on the
      // bucketed (partition-scoped) path: first run builds the SCD2
      // table partitioned by dbt_bucket = pmod(xxhash64(id), 8); the
      // second run stages the same v0→v1 delta as snapshot_scd2 and
      // rewrites ONLY buckets containing changed keys (MaterializerSpec
      // pins files/scans). Compared content = the SCD2 columns —
      // identical to the logical Snapshot.run, which is the point; the
      // bucket column is physical layout (xxhash64 — engine-side
      // deterministic, not oracle-replayable) and is not projected.
      val m = new graft.mat.Materializer(s)
      val rel = graft.model.Relation("graft_snap_bucketed")
      for (t0 <- Seq("graft_snap_bucketed", "graft_snap_bucketed__dbt_tmp",
          "graft_snap_bucketed__dbt_backup",
          "graft_snap_bucketed__dbt_scoped_tmp"))
        s.sql(s"DROP TABLE IF EXISTS $t0")
      val o = t(s, dir, "orders").select(
        col("o_orderkey").as("id"),
        col("o_orderstatus").as("v"),
        col("o_orderdate").cast(TimestampType).as("updated_at"))
      val v0 = o.filter(pmod(col("id"), lit(10)) < 5)
      val changed = pmod(col("id"), lit(10)) < 2
      val v1 = o.select(col("id"),
        when(changed, lit("XX")).otherwise(col("v")).as("v"),
        when(changed, col("updated_at") + expr("interval 10 days"))
          .otherwise(col("updated_at")).as("updated_at"))
      m.snapshot(rel, v0, Seq("id"), "updated_at", buckets = 8)
      m.snapshot(rel, v1, Seq("id"), "updated_at", buckets = 8)
      s.table("graft_snap_bucketed")
        .select(col("id"), col("v"), col("dbt_valid_from"),
          col("dbt_valid_to"))
        .orderBy(col("id"), col("dbt_valid_from"))
    }),

    "mat_incremental_partitioned" -> ((s, dir) => {
      // the BATCH materializer's partition-scoped merge (r11): the first
      // run creates the table partitioned by p = o_orderkey % 2
      // (key-derived — the partition-stability contract); the second run
      // rewrites ONLY partitions containing staged keys (staged = even
      // keys → p=0; the odd-key partition p=1 is neither read nor
      // rewritten — MaterializerSpec pins the plan/files). The compared
      // result is the full table: identical to the full-table merge,
      // which is the point — the scoped path changes the COST, not the
      // answer.
      val m = new graft.mat.Materializer(s)
      val rel = graft.model.Relation("graft_inc_part_drv")
      for (t0 <- Seq("graft_inc_part_drv", "graft_inc_part_drv__dbt_tmp",
          "graft_inc_part_drv__dbt_backup",
          "graft_inc_part_drv__dbt_scoped_tmp"))
        s.sql(s"DROP TABLE IF EXISTS $t0")
      val (target, staged) = incFixture(s, dir)
      def withP(df: DataFrame): DataFrame =
        df.withColumn("p", pmod(col("o_orderkey"), lit(2)))
      m.incremental(rel, withP(target), "merge", Seq("o_orderkey"),
        partitionCols = Seq("p"))
      m.incremental(rel, withP(staged), "merge", Seq("o_orderkey"),
        partitionCols = Seq("p"))
      s.table("graft_inc_part_drv")
        .select(col("o_orderkey"), col("price"), col("src"), col("p"))
        .orderBy(col("o_orderkey"), col("src"))
    }),

    "mat_verify_partitions" -> ((s, dir) =>
      // the partition-stability VERIFIER behind the scoped-rewrite
      // contract (PartitionScoped.verifyPartitionKeys): keys whose rows
      // span >1 partition tuple — on orders, customers whose orders
      // cross order-status "partitions". One groupBy + distinct-count;
      // the maintenance data test a scoped-upsert target runs offline.
      graft.mat.PartitionScoped.verifyPartitionKeys(
          t(s, dir, "orders"), Seq("o_custkey"), Seq("o_orderstatus"))
        .orderBy(col("o_custkey"))),

    "mat_di_scoped" -> ((s, dir) => {
      // partition-scoped COMPOSITE-key delete+insert (r12): when the
      // single partition column is itself one of the unique keys, the
      // columnwise-IN delete set is provably confined to staged
      // partitions of that column, so the planner takes the scoped
      // path instead of the full swap (MaterializerSpec pins the
      // untouched partition's files and the partition-filtered scans).
      // Compared result = the full table; the oracle applies the
      // columnwise delete semantics directly.
      val m = new graft.mat.Materializer(s)
      val rel = graft.model.Relation("graft_di_scoped_drv")
      for (t0 <- Seq("graft_di_scoped_drv", "graft_di_scoped_drv__dbt_tmp",
          "graft_di_scoped_drv__dbt_backup",
          "graft_di_scoped_drv__dbt_scoped_tmp"))
        s.sql(s"DROP TABLE IF EXISTS $t0")
      val (target, staged) = incFixture(s, dir)
      def withP(df: DataFrame): DataFrame =
        df.withColumn("p", pmod(col("o_orderkey"), lit(2)))
      m.incremental(rel, withP(target), "delete+insert",
        Seq("p", "o_orderkey"), partitionCols = Seq("p"))
      m.incremental(rel, withP(staged), "delete+insert",
        Seq("p", "o_orderkey"), partitionCols = Seq("p"))
      s.table("graft_di_scoped_drv")
        .select(col("o_orderkey"), col("price"), col("src"), col("p"))
        .orderBy(col("o_orderkey"), col("src"))
    }),

    "se_append_new_cols" -> ((s, dir) => {
      // on_schema_change=append_new_columns (incremental.sql:83-86): the
      // staged frame keeps its new column when aligned to the target
      val o = t(s, dir, "orders")
      val target = o.select(col("o_orderkey"),
        dec(col("o_totalprice")).cast(DoubleType).as("price"))
      val staged = o.select(col("o_orderkey"),
        (dec(col("o_totalprice")) * 2).cast(DoubleType).as("price"),
        col("o_orderstatus").as("status"))
      graft.mat.SchemaEvolution
        .processSchemaChanges("append_new_columns", target, staged)
        .orderBy(col("o_orderkey"))
    }),

    "se_ignore_missing" -> ((s, dir) => {
      // on_schema_change=ignore: staged projects onto the target's
      // columns — new staged columns drop, removed ones go NULL
      val o = t(s, dir, "orders")
      val target = o.select(col("o_orderkey"),
        dec(col("o_totalprice")).cast(DoubleType).as("price"),
        col("o_orderstatus").as("status"))
      val staged = o.select(col("o_orderkey"),
        (dec(col("o_totalprice")) * 2).cast(DoubleType).as("price"),
        col("o_orderpriority").as("extra"))
      graft.mat.SchemaEvolution
        .processSchemaChanges("ignore", target, staged)
        .orderBy(col("o_orderkey"))
    }),

    "se_expand_types" -> ((s, dir) => {
      // expand_target_column_types (incremental.sql:79-81): decimal(12,2)
      // target widens to fit a decimal(18,6) staged column
      val o = t(s, dir, "orders")
      val target = o.select(col("o_orderkey"),
        col("o_totalprice").cast(DecimalType(12, 2)).as("price"))
      val staged = o.select(col("o_orderkey"),
        col("o_totalprice").cast(DecimalType(18, 6)).as("price"))
      graft.mat.SchemaEvolution.expandColumnTypes(target, staged)
        .select(col("o_orderkey"),
          col("price").cast(DoubleType).as("price_wide"))
        .orderBy(col("o_orderkey"))
    }),

    "ddl_alter_columns" -> ((s, dir) => {
      // adapters.sql:242-263 add/remove + 297-312 retype, as one rewrite
      val o = t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderstatus"),
          col("o_orderpriority"))
      val altered = graft.mat.SchemaEvolution.addRemoveColumns(o,
        add = Seq(("flag", BooleanType)), remove = Seq("o_orderstatus"))
      graft.mat.SchemaEvolution
        .alterColumnType(altered, "o_orderkey", StringType)
        .orderBy(col("o_orderkey"))
    }),

    "mat_contract" -> ((s, dir) => {
      // create_table_as with enforced contract (adapters.sql:107-124):
      // matching contract writes; mismatching contract aborts pre-write
      val m = new graft.mat.Materializer(s)
      val rel = graft.model.Relation("graft_contract")
      val df = t(s, dir, "region")
        .select(col("r_regionkey"), col("r_name"))
      m.tableWithContract(rel, df, Seq(
        graft.model.ColumnModel("r_regionkey", "integer"),
        graft.model.ColumnModel("r_name", "varchar")))
      val failed =
        try {
          m.tableWithContract(rel.withIdentifier("graft_contract_bad"), df,
            Seq(graft.model.ColumnModel("r_regionkey", "bigint"),
              graft.model.ColumnModel("r_name", "varchar")))
          false
        } catch { case _: IllegalArgumentException => true }
      s.table("graft_contract")
        .withColumn("mismatch_rejected", lit(failed))
        .orderBy(col("r_regionkey"))
    }),

    "mat_hooks" -> ((s, dir) => {
      import s.implicits._
      // the full table state machine with hooks/docs/grants wired in
      // reference order (table.sql:30,62-67): pre-hook runs BEFORE the
      // build, post-hook AFTER the swap (it reads the materialized
      // target), grants are re-applied grant-only after a replace
      // (copy_grants() = False) and diffed on the incremental run
      val m = new graft.mat.Materializer(s)
      val rel = graft.model.Relation("graft_hooked")
      m.dropRelation(rel)
      s.sql("DROP TABLE IF EXISTS graft_hook_audit")
      val n = t(s, dir, "nation")
      n.createOrReplaceTempView("graft_hooks_src")
      val body = n.groupBy(col("n_regionkey"))
        .agg(count(lit(1)).as("n"))
      val cfg1 = graft.mat.ModelConfig(
        preHooks = Seq("CREATE TABLE graft_hook_audit AS " +
          "SELECT 'pre1' AS tag, count(*) AS val FROM graft_hooks_src"),
        postHooks = Seq("INSERT INTO graft_hook_audit " +
          "SELECT 'post1', sum(n) FROM graft_hooked"),
        grants = Map("select" -> Set("alice", "bob")),
        description = Some("hooked model"), persistDocs = true)
      m.table(rel, body, config = cfg1)
      // replace: grants never copy over; new config applies grant-only
      val cfg2 = cfg1.copy(
        preHooks = Seq("INSERT INTO graft_hook_audit " +
          "SELECT 'pre2', count(*) FROM graft_hooks_src"),
        postHooks = Seq("INSERT INTO graft_hook_audit " +
          "SELECT 'post2', sum(n) FROM graft_hooked"),
        grants = Map("select" -> Set("alice", "carol")))
      m.table(rel, body, config = cfg2)
      // incremental run (object survives): should_revoke=true diffs —
      // carol is revoked, dave granted, alice kept
      // persist_docs re-applies after the strategy rewrite (the swap
      // produces a fresh physical table, incremental.sql:106)
      m.incremental(rel, body.limit(0), "append",
        config = graft.mat.ModelConfig(
          grants = Map("select" -> Set("alice", "dave")),
          description = Some("hooked model"), persistDocs = true))
      val audit = s.table("graft_hook_audit")
      val grants = m.catalog.showGrants(rel).toSeq
        .flatMap { case (p, gs) => gs.toSeq.map(g => (s"grant:$p:$g", 0L)) }
        .toDF("tag", "val")
      val doc = Seq(("doc:" +
        s.catalog.getTable("graft_hooked").description, 0L))
        .toDF("tag", "val")
      audit.unionByName(grants).unionByName(doc)
        .orderBy(col("tag"), col("val"))
    }),

    "mat_mv_config" -> ((s, dir) => {
      // MV configuration-change detection (materialized_view.sql:24-30):
      // unchanged config → refresh; changed properties → forced full
      // refresh. Actions + final TBLPROPERTIES are part of the output.
      val m = new graft.mat.Materializer(s)
      val rel = graft.model.Relation("graft_mv_cfg")
      m.dropRelation(rel)
      val sql = s"SELECT n_regionkey, count(*) AS n " +
        s"FROM parquet.`$dir/nation.parquet` GROUP BY n_regionkey"
      val p1 = graft.mat.ModelConfig(
        properties = Map("format" -> "PARQUET"))
      m.materializedView(rel, sql, p1)
      m.materializedView(rel, sql, p1) // no change → refresh
      m.materializedView(rel, sql, // properties changed → full refresh
        p1.copy(properties =
          Map("format" -> "PARQUET", "retention" -> "30d")))
      val actions = m.mvActions(rel).mkString(",")
      // a FRESH session (shared catalog, new session state) must be able
      // to read the persisted MV metadata and refresh it — the state
      // lives in TBLPROPERTIES, not driver memory (adapters.sql:35-39's
      // system.metadata.materialized_views equivalent)
      val s2 = s.newSession()
      val m2 = new graft.mat.Materializer(s2)
      m2.refreshMaterializedView(rel)
      val xok = m2.materializedViewQuery(rel).contains(sql) &&
        m2.mvActions(rel).mkString(",") == actions
      val props = m2.getProperties(rel).toSeq.sorted
        .map { case (k, v) => s"$k=$v" }.mkString(",")
      s.table("graft_mv_cfg")
        .withColumn("actions", lit(actions))
        .withColumn("props", lit(props))
        .withColumn("xsession_ok", lit(xok))
        .orderBy(col("n_regionkey"))
    }),

    "cat_schemas" -> ((s, dir) => {
      import s.implicits._
      // list_schemas / check_schema_exists / drop_schema cascade
      // (adapters.sql:172-185, 214-231)
      val c = new graft.mat.CatalogOps(s)
      c.createSchema("graft_sch_a"); c.createSchema("graft_sch_b")
      c.dropSchema("graft_sch_b")
      val listed = c.listSchemas().filter(_.startsWith("graft_sch_"))
      listed.map(n => (n, c.schemaExists(n)))
        .toDF("schema_name", "still_exists").orderBy($"schema_name")
    }),

    "cat_catalog" -> ((s, dir) => {
      // get_catalog (catalog.sql:1-175): per-column rows over a schema
      val c = new graft.mat.CatalogOps(s)
      val m = new graft.mat.Materializer(s)
      c.dropSchema("graft_cat"); c.createSchema("graft_cat")
      m.table(graft.model.Relation("graft_cat", "t1"),
        t(s, dir, "region").select(col("r_regionkey"), col("r_name")))
      m.view(graft.model.Relation("graft_cat", "v1"),
        s"SELECT r_regionkey FROM parquet.`$dir/region.parquet`")
      c.getCatalog(Seq("graft_cat"))
    }),

    "cat_catalog_relations" -> ((s, dir) => {
      // get_catalog_relations by-relation variant (catalog.sql:23-42)
      val c = new graft.mat.CatalogOps(s)
      val m = new graft.mat.Materializer(s)
      c.dropSchema("graft_cat2"); c.createSchema("graft_cat2")
      m.table(graft.model.Relation("graft_cat2", "t1"),
        t(s, dir, "region").select(col("r_regionkey")))
      m.table(graft.model.Relation("graft_cat2", "t2"),
        t(s, dir, "region").select(col("r_regionkey"), col("r_name")))
      c.getCatalogRelations(Seq(graft.model.Relation("graft_cat2", "t2")))
    }),

    "cat_comments" -> ((s, dir) => {
      import s.implicits._
      val m = new graft.mat.Materializer(s)
      val c = new graft.mat.CatalogOps(s)
      val rel = graft.model.Relation("graft_cmt")
      m.table(rel, t(s, dir, "region").select(col("r_regionkey")))
      c.setTableComment(rel, "demo table")
      // only existing columns get comments (adapters.sql:207)
      c.setColumnComments(rel,
        Map("r_regionkey" -> "pk", "no_such_col" -> "ignored"))
      val tableRow = ("__table__",
        s.catalog.getTable("graft_cmt").description)
      val colRows = s.catalog.listColumns("graft_cmt").collect()
        .map(ci => (ci.name, ci.description)).toSeq
      (tableRow +: colRows).toDF("item", "comment").orderBy($"item")
    }),

    "cat_grants" -> ((s, dir) => {
      import s.implicits._
      val c = new graft.mat.CatalogOps(s)
      val rel = graft.model.Relation("graft_grants_demo")
      c.applyGrants(rel,
        Map("select" -> Set("alice", "bob"), "insert" -> Set("bob")))
      // second apply diffs: bob loses select, insert disappears, carol adds
      c.applyGrants(rel, Map("select" -> Set("alice", "carol")))
      c.showGrants(rel).toSeq
        .flatMap { case (p, gs) => gs.toSeq.sorted.map(g => (p, g)) }
        .toDF("privilege", "grantee").orderBy($"privilege", $"grantee")
    }),

    "ta_repetition" -> ((s, dir) =>
      TextAnalysis.repetition(t(s, dir, "documents"), "doc_id", "text")
        .withColumnRenamed("doc", "doc_id")
        .orderBy(col("doc_id"))),

    // ---- dataset assembly: splits / PII redaction / packing ----
    "ta_split" -> ((s, dir) =>
      t(s, dir, "documents").select(col("doc_id"),
          TextAnalysis.splitAssign(col("doc_id")).as("split"))
        .orderBy(col("doc_id"))),

    "ta_split_safe" -> ((s, dir) => {
      // leakage-safe split: duplicates (the +10000 shifted copies) must
      // land in the SAME split as their originals — assignment hashes
      // the exact-cluster representative, not the row id.
      val d = t(s, dir, "documents")
      val u = d.select(col("doc_id"), col("text")).unionByName(
        d.select((col("doc_id") + 10000).as("doc_id"), col("text")))
      Dedup.splitByCluster(u, col("doc_id"), col("text"))
        .orderBy(col("doc_id"))
    }),

    "ta_redact" -> ((s, dir) => {
      // synthetic PII injected deterministically (the corpus has none):
      // every 5th doc gains an email + phone; output proves the
      // redaction via span count and a fingerprint of the scrubbed text
      val d = t(s, dir, "documents")
      val injected = when(pmod(col("doc_id"), lit(5)) === 0,
        concat(col("text"), lit(" contact user"),
          col("doc_id").cast(StringType), lit("@example.com call +1 (555) 010-"),
          pmod(col("doc_id"), lit(10)).cast(StringType)))
        .otherwise(col("text"))
      d.select(col("doc_id"),
          TextAnalysis.piiCount(injected).as("n_pii"),
          TextAnalysis.fingerprint(TextAnalysis.redact(injected))
            .as("redacted_fp"))
        .orderBy(col("doc_id"))
    }),

    "ta_pack" -> ((s, dir) =>
      TextAnalysis.packShards(t(s, dir, "documents"), "doc_id", "text",
          budget = 2048)
        .orderBy(col("doc"))),

    "ta_bm25" -> ((s, dir) =>
      // BM25 lexical relevance against a fixed query; corpus stats
      // (N, avgdl, df) resolved once and baked as literals — scoring
      // is then a pure scan
      TextAnalysis.bm25(
          t(s, dir, "documents").withColumn("text", lower(col("text"))),
          "doc_id", "text", Seq("join", "hash", "window"))
        .orderBy(col("doc"))),

    "ta_chunk" -> ((s, dir) =>
      // RAG-style overlapping chunker: 64-token windows every 48 tokens
      // — a pure map (explode + slice), chunking at 100 TB is a scan
      TextAnalysis.chunk(t(s, dir, "documents"), "doc_id", "text",
          chunkSize = 64, overlap = 16)
        .orderBy(col("doc"), col("chunk_idx"))),

    "ta_classify" -> ((s, dir) => {
      // fasttext-style linear quality filter SERVING path: hashed
      // unigram+bigram features × a fixed integer weight table →
      // exact BIGINT margin. The weights come from a deterministic
      // integer formula (a Knuth-hash ramp) rather than a trained
      // float vector because float training isn't cross-engine
      // replayable (TextAnalysis.trainLogistic scaladoc) — training
      // behavior is spec-pinned, the oracle pins the serving algebra.
      val feats = TextAnalysis.hashedFeatures(
        t(s, dir, "documents"), "doc_id", "text", dim = 1024)
      val weights = s.range(1024).select(col("id").as("dim"),
        ((col("id") * lit(2654435761L)) % 1001 - 500).as("w"))
      TextAnalysis.scoreLinear(feats, weights)
        .select(col("doc"), col("margin"), (col("margin") > 0).as("keep"))
        .orderBy(col("doc"))
    }),

    "ta_tensorize" -> ((s, dir) =>
      // GPT-style block packing into fixed 128-token windows, compared
      // in exploded (window, pos, token) form so the oracle checks
      // concatenation order, boundary splits AND tail padding
      graft.llm.Tensorize.tensorize(t(s, dir, "documents"), "doc_id",
          TextAnalysis.tokens(lower(col("text"))), seqLen = 128,
          pad = lit("<pad>"), sep = lit("<eos>"))
        .select(col("window"),
          posexplode(col("input_ids")).as(Seq("pos", "tok")))
        .orderBy(col("window"), col("pos"))),

    // ---- source/sink formats beyond parquet (§2.5 scans/sinks) ----
    // each round-trips the orders table (bigint, varchar, double,
    // timestamp) through sink → schema'd scan; the oracle recomputes
    // from the parquet original, so any fidelity loss in the format
    // path breaks the hash
    "src_csv_roundtrip" -> ((s, dir) =>
      graft.sources.Formats.roundTrip(
          t(s, dir, "orders").select(col("o_orderkey"), col("o_orderstatus"),
            col("o_totalprice"), col("o_orderdate")),
          "csv", s"target/graft_rt_csv")
        .orderBy(col("o_orderkey"))),

    "src_json_roundtrip" -> ((s, dir) =>
      graft.sources.Formats.roundTrip(
          t(s, dir, "orders").select(col("o_orderkey"), col("o_orderstatus"),
            col("o_totalprice"), col("o_orderdate")),
          "json", s"target/graft_rt_json")
        .orderBy(col("o_orderkey"))),

    "src_orc_roundtrip" -> ((s, dir) =>
      graft.sources.Formats.roundTrip(
          t(s, dir, "orders").select(col("o_orderkey"), col("o_orderstatus"),
            col("o_totalprice"), col("o_orderdate")),
          "orc", s"target/graft_rt_orc")
        .orderBy(col("o_orderkey"))),

    // ---- text analysis (north-star LLM-pipeline ops) ----
    "ta_tokens" -> ((s, dir) =>
      t(s, dir, "documents").select(
          col("doc_id"),
          TextAnalysis.tokenCountWs(col("text")).as("n_ws"),
          TextAnalysis.tokenCountBpe(col("text")).as("n_bpe"),
          TextAnalysis.fingerprint(col("text")).as("fp"))
        .orderBy(col("doc_id"))),

    "ta_langid" -> ((s, dir) =>
      t(s, dir, "documents").select(
          col("doc_id"),
          col("lang").as("lang_actual"),
          TextAnalysis.langId(col("text")).as("lang_pred"))
        .orderBy(col("doc_id"))),

    "ta_dsir" -> ((s, dir) => {
      // DSIR importance weights (Xie et al. 2023): every document
      // scored by the hashed unigram+bigram log-ratio of a TARGET
      // model (the en subset) vs the RAW model (whole corpus), add-one
      // smoothed over 4096 buckets. keep thresholds at −0.45, inside a
      // measured empty band of the sf0.01 logw distribution (nearest
      // values −0.665146 / −0.231179 — width 0.43, six orders above
      // the 1e-6 rounding grain). Composition: the kept set is what a
      // target-domain resample would feed the mixer.
      val d = t(s, dir, "documents")
      TextAnalysis.dsirWeights(d, d.filter(col("lang") === "en"),
          "doc_id", "text", dim = 4096)
        .withColumn("keep", col("logw") >= -0.45)
        .orderBy(col("doc"))
    }),

    "ta_langid_trained" -> ((s, dir) => {
      // trained-langid SERVING path (r9 verdict #7): char-3-gram hashed
      // features × a per-class fixed integer weight table → exact
      // BIGINT margins, argmax with alphabetical tie-break. Weights
      // are a per-class Knuth-hash ramp, not trained floats, for the
      // same reason as ta_classify (float training isn't cross-engine
      // replayable); training behavior is pinned in LlmSpec against
      // the marker toy on planted multilingual text.
      val langs = Seq("de", "en", "es", "fr", "ru", "zh")
      // generator, not crossJoin: a literal-array posexplode keeps the
      // model-table build free of (even bounded) nested-loop joins
      val weights = s.range(1024).select(col("id").as("dim"))
        .select(col("dim"),
          posexplode(typedLit(langs)).as(Seq("j", "lang")))
        .select(col("lang"), col("dim"),
          ((col("dim") * lit(2654435761L) + col("j") * lit(40503L))
            % 1001 - 500).as("w"))
      val feats = TextAnalysis.charGramFeatures(
        t(s, dir, "documents"), "doc_id", "text", n = 3, dim = 1024)
      TextAnalysis.langidServe(feats, weights).orderBy(col("doc"))
    }),

    "ta_quality" -> ((s, dir) =>
      t(s, dir, "documents").select(
          col("doc_id"),
          TextAnalysis.punctRatio(col("text")).as("punct_ratio"),
          TextAnalysis.stopwordRatio(col("text")).as("stopword_ratio"),
          TextAnalysis.avgTokenLen(col("text")).as("avg_token_len"),
          TextAnalysis.qualityScore(col("text")).as("quality"))
        .orderBy(col("doc_id"))),

    "ta_vocab" -> ((s, dir) =>
      // corpus-wide token counts — the tokenizer-training input
      TextAnalysis.vocabCounts(t(s, dir, "documents"), "text")
        .orderBy(col("tok"))),

    "ta_drift" -> ((s, dir) =>
      // top-50 drifted tokens between the en slice and the rest —
      // integer-exact ppm deltas, never an order-dependent log-sum
      TextAnalysis.tokenDrift(t(s, dir, "documents"), "text",
        col("lang") === "en", 50)),

    "ta_dupspans" -> ((s, dir) =>
      // per-doc duplicated-span coverage (substring-dedup signal)
      TextAnalysis.dupSpanFraction(t(s, dir, "documents"), "doc_id", "text")
        .withColumnRenamed("doc", "doc_id")
        .orderBy(col("doc_id"))),

    "ta_filter" -> ((s, dir) =>
      // composed C4/Gopher-style keep/drop with per-gate flags
      TextAnalysis.filterPipeline(t(s, dir, "documents"), "doc_id", "text")
        .withColumnRenamed("doc", "doc_id")
        .orderBy(col("doc_id"))),

    "ta_sample" -> ((s, dir) =>
      // deterministic per-language sampling rates (data mixing)
      TextAnalysis.stratifiedSample(t(s, dir, "documents"), "doc_id",
          "lang", Map("en" -> 0.5, "zh" -> 0.25, "es" -> 0.1),
          defaultRate = 0.05)
        .orderBy(col("doc"))),

    "ta_temperature" -> ((s, dir) =>
      // √n per-source cap (temperature τ=0.5 mixture balancing): the
      // per-stratum target derives from observed size — no caller map
      TextAnalysis.sqrtSample(t(s, dir, "documents"), "doc_id",
          "source", rate = 2.0)
        .orderBy(col("doc"))),

    "ta_bpe_pairs" -> ((s, dir) =>
      // the BPE objective function, compared exactly: adjacent char-pair
      // counts over the word-frequency table (the base training stage).
      // The iterative merge policy on top is pinned by LlmSpec's
      // hand-computed case — an oracle cannot replay data-dependent
      // merges in static SQL.
      TextAnalysis.bpePairCounts(t(s, dir, "documents"), "text")
        .limit(50)),

    "ta_bpe_encode" -> ((s, dir) =>
      // encode-to-ids: merge application + vocab id mapping compared
      // exactly under the fixed merge list (training itself is covered
      // by ta_bpe_pairs + the LlmSpec policy pin); map-only projection.
      // Compared row explodes ids to (doc_id, pos, id) scalars — the
      // driver's row-sorter cannot order raw array cells (r7 `err`);
      // empty-token docs drop out of BOTH engines identically
      TextAnalysis.bpeEncode(t(s, dir, "documents"), "doc_id", "text",
          bpeEncMerges, bpeEncVocab)
        .withColumnRenamed("doc", "doc_id")
        .select(col("doc_id"), posexplode(col("ids")).as(Seq("pos", "id")))
        .orderBy(col("doc_id"), col("pos"))),

    "ta_normalize" -> ((s, dir) =>
      // canonical cleanup ahead of any hash-based op: NFC composition
      // the appended suffix carries DECOMPOSED e-acute (e+U+0301) and
      // A-ring (A+U+030A) that NFC must compose, a BEL to strip, and
      // tab/space runs to collapse. Both engines implement the same
      // Unicode algorithm → hash-exact compare.
      t(s, dir, "documents")
        .select(col("doc_id"),
          TextAnalysis.normalize(concat(col("text"),
            lit(" cafe\u0301 A\u030A x\u0007y\tz  w")))
            .as("norm"))
        .orderBy(col("doc_id"))),

    "ta_mixture" -> ((s, dir) =>
      // derive per-language acceptance rates from target output
      // proportions (50/30/20) — integer-exact ppm thresholds, so the
      // oracle reproduces the rates bit-for-bit from the same counts
      TextAnalysis.mixtureBalance(t(s, dir, "documents"), "doc_id",
          "lang", Map("en" -> 5000, "zh" -> 3000, "es" -> 2000))
        .orderBy(col("doc"))),

    "ta_select" -> ((s, dir) =>
      // greedy quality-ranked selection under a global token budget,
      // computed via the histogram two-phase (never a global
      // single-partition window)
      TextAnalysis.budgetSelect(t(s, dir, "documents"), "doc_id",
          "text", budgetTokens = 8000L)
        .orderBy(col("doc"))),

    // ---- deduplication ----
    "dd_exact" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val u = d.select(col("doc_id"), col("text")).unionByName(
        d.select((col("doc_id") + 10000).as("doc_id"), col("text")))
      Dedup.exact(u, col("text"), col("doc_id")).orderBy(col("keep_id"))
    }),

    "dd_soft_weights" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val u = d.select(col("doc_id"), col("text")).unionByName(
        d.select((col("doc_id") + 10000).as("doc_id"), col("text")))
      Dedup.softWeights(u, col("doc_id"), col("text"))
        .orderBy(col("doc_id"))
    }),

    "dd_minhash_lsh" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val u = d.select(col("doc_id"), col("text")).unionByName(
        d.select((col("doc_id") + 10000).as("doc_id"), col("text")))
      Dedup.minhashCandidates(u, "doc_id", "text")
        .orderBy(col("id_a"), col("id_b"))
    }),

    "dd_minhash_estimate" -> ((s, dir) => {
      // the MinHash point: estimated Jaccard = fraction of agreeing
      // signature components on the LSH candidate pairs — the cheap
      // screen before the exact dd_jaccard verify. matches/16 is
      // binary-exact, so the oracle compare is exact, not a gate.
      val d = t(s, dir, "documents")
      val u = d.select(col("doc_id"), col("text")).unionByName(
        d.select((col("doc_id") + 10000).as("doc_id"), col("text")))
      Dedup.minhashEstimate(u, "doc_id", "text",
          Dedup.minhashCandidates(u, "doc_id", "text"))
        .orderBy(col("id_a"), col("id_b"))
    }),

    "dd_jaccard" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val pairs = d.filter(pmod(col("doc_id"), lit(2)) === 0)
        .select(col("doc_id").as("id_a"), (col("doc_id") + 1).as("id_b"))
        .join(d.select(col("doc_id").as("id_b")), Seq("id_b"), "left_semi")
      Dedup.jaccardOnPairs(d, pairs, "doc_id", "text").orderBy(col("id_a"))
    }),

    "dd_allpairs" -> ((s, dir) =>
      // EXACT Jaccard self-join via AllPairs prefix filtering; the
      // oracle is the definitional brute force — equality proves the
      // prefix+size pruning dropped nothing
      // half corpus (doc_id % 4 < 2, board-budget treatment; Jaccard
      // is pairwise, so the subset only removes pairs)
      graft.llm.Dedup.allPairs(
          t(s, dir, "documents").filter(col("doc_id") % 4 < 2),
          "doc_id", "text", 0.8)
        .orderBy(col("doc_a"), col("doc_b"))),

    "dd_allpairs_reps" -> ((s, dir) =>
      // clique-representative form of dd_allpairs (r10 verdict #2):
      // docs with identical token SETS collapse to (rep = min id,
      // clique size n) BEFORE pairing — one row per qualifying
      // distinct-set pair plus one self row per n ≥ 2 clique at J = 1;
      // k copies cost one row, not k². sf0.01 has 21 natural
      // multi-cliques (max size 29), so the collapse is exercised, and
      // the oracle recomputes cliques over distinct sets in DuckDB.
      // half corpus like dd_allpairs (the subset retains natural
      // multi-cliques — self rows below confirm the collapse runs)
      graft.llm.Dedup.allPairs(
          t(s, dir, "documents").filter(col("doc_id") % 4 < 2),
          "doc_id", "text", 0.8, expandCliques = false)
        .orderBy(col("doc_a"), col("doc_b"))),

    "dd_tfidf_reps" -> ((s, dir) => {
      // clique-representative form of dd_tfidf_pairs (r10 verdict #2).
      // The collapse key is the token MULTISET (identical bags ⇒
      // identical weight vectors); sf0.01 has no natural bag
      // duplicates, so the corpus plants one copy of every 4th doc
      // (125 cliques of size 2 at sf0.01). Half corpus (doc_id % 4 < 2,
      // board-budget treatment; the planted %4=0 copies all survive the
      // subset). 0.9 sits in a measured empty band of the trimmed
      // augmented corpus's rep-pair cosine distribution (nearest
      // values 0.899846 / 0.903019). Self rows keep the same
      // dot/sqrt(n2·n2) op sequence as the cross arm — never a
      // literal 1.0.
      val d = t(s, dir, "documents").filter(col("doc_id") % 4 < 2)
        .select(col("doc_id"), col("text"))
      val docs = d.unionByName(d.filter(col("doc_id") % 4 === 0)
        .select((col("doc_id") + 10000).as("doc_id"), col("text")))
      graft.llm.Dedup.tfidfPairs(docs, "doc_id", "text", threshold = 0.9,
          expandCliques = false)
        .orderBy(col("doc_a"), col("doc_b"))
    }),

    "dd_allpairs_join" -> ((s, dir) => {
      // EXACT cross-corpus Jaccard join (certified decontamination /
      // licensing audit): documents vs a perturbed snapshot, every pair
      // with J ≥ 0.7 — brute-force oracle proves completeness, the
      // property LSH (op_fuzzy_join) only approximates. Half corpus
      // (doc_id % 4 < 2, board-budget treatment): Jaccard is pairwise,
      // so subsetting only removes pairs — the threshold band cannot
      // shift.
      val d = t(s, dir, "documents").filter(col("doc_id") % 4 < 2)
      val right = d.select((col("doc_id") + 10000).as("doc_id"),
        concat(col("text"), lit(" zz"),
          pmod(col("doc_id"), lit(5)).cast(StringType)).as("text"))
      graft.llm.Dedup.allPairsJoin(d, right, "doc_id", "text", 0.7)
        .orderBy(col("id_a"), col("id_b"))
    }),

    "dd_incremental" -> ((s, dir) => {
      // incremental ingestion: history (doc_id < 400) persists its
      // signature index once; the new batch = the tail plus copies of
      // 50 history docs. Copies must flag non-novel, the tail novel
      // (unless genuinely near-dup). The join moves the batch to the
      // index, never the reverse.
      val d = t(s, dir, "documents")
      val hist = d.filter(col("doc_id") < 400)
      val index = Dedup.minhashSignature(hist, "doc_id", "text", 3, 16)
      val batch = d.filter(col("doc_id") >= 400)
        .select(col("doc_id"), col("text"))
        .unionByName(d.filter(col("doc_id") < 50)
          .select((col("doc_id") + 10000).as("doc_id"), col("text")))
      Dedup.minhashNovelty(batch, "doc_id", "text", index)
        .orderBy(col("doc"))
    }),

    "dd_decontaminate" -> ((s, dir) => {
      // benchmark decontamination: every doc sharing a word 3-gram with
      // the "benchmark" slice (every 20th doc) is flagged. Broadcast-join
      // shaped — the corpus is never exchanged (benchmark shingle set and
      // per-doc match counts both broadcast).
      val d = t(s, dir, "documents")
      val bench = d.filter(pmod(col("doc_id"), lit(20)) === 0)
      Dedup.decontaminate(d, "doc_id", "text", bench, "text")
        .orderBy(col("doc"))
    }),

    "dd_decontaminate_set" -> ((s, dir) => {
      // the map-only twin of dd_decontaminate: benchmark hashes
      // collected once driver-side (model-sized), per-row native
      // sorted-set membership — the form Events.decontaminateStream
      // runs at ingestion. Same output contract, same oracle.
      val d = t(s, dir, "documents")
      val bench = d.filter(pmod(col("doc_id"), lit(20)) === 0)
      Dedup.decontaminateSet(d, "doc_id", "text",
          Dedup.contaminationSet(bench, "text"))
        .orderBy(col("doc"))
    }),

    "dd_decontaminate_bloom" -> ((s, dir) => {
      // the SCALE path of decontamination: membership probes a Bloom
      // filter built as a distributed aggregate (registry sizes where
      // the exact set cannot collect). Compared as a gate: the exact
      // flags (same oracle machinery) plus a pinned no-false-negative
      // bit — a Bloom may over-drop clean docs (fpp), it must NEVER
      // pass a contaminated one.
      val d = t(s, dir, "documents")
      val bench = d.filter(pmod(col("doc_id"), lit(20)) === 0)
      val set = Dedup.contaminationSet(bench, "text")
      val bloom = Dedup.contaminationBloom(bench, "text")
      val sh = graft.functions.ShingleHashes(lower(col("text")), 3)
      val exact = graft.functions.CountInSet(sh, set) >= 1
      val might = graft.functions.CountInBloom(sh, bloom) >= 1
      d.select(col("doc_id").as("doc"), exact.as("contaminated"),
          (!exact || might).as("bloom_no_false_negative"))
        .orderBy(col("doc"))
    }),

    "op_sample_per_key" -> ((s, dir) =>
      // deterministic UNIFORM k-per-key sample: rank by the id's
      // rolling hash (a fixed random permutation of each key group)
      // and keep the first k — balanced per-class subsampling that
      // reproduces bit-for-bit across runs and engines, riding the
      // same WindowGroupLimit pushdown as the domain cap
      graft.operators.TopKPerKey.topKPerKey(
          t(s, dir, "documents"), Seq("source"),
          Seq(graft.functions.RollingHash(
              concat(lit("smp:"), col("doc_id").cast(StringType))).asc,
            col("doc_id").asc), 5)
        .select(col("doc_id"), col("source"))
        .orderBy(col("doc_id"))),

    "op_source_cap" -> ((s, dir) =>
      // per-source caps (domain caps): at most 3 docs per source by
      // (n_chars desc, doc_id) — the over-represented-domain guard in a
      // training mix; the row_number<=k predicate compiles to
      // WindowGroupLimit so the exchange carries the cap, not the crawl
      graft.operators.TopKPerKey.topKPerKey(
          t(s, dir, "documents"), Seq("source"),
          Seq(col("n_chars").desc, col("doc_id")), 3)
        .select(col("doc_id"), col("source"), col("n_chars"))
        .orderBy(col("doc_id"))),

    "op_weighted_sample" -> ((s, dir) =>
      // deterministic Efraimidis-Spirakis weighted sampling: 50 docs,
      // weight-proportional (weight = n_chars), the uniform draw derived
      // from a rolling hash both engines replay; the global top-k
      // compiles to TakeOrderedAndProject so k bounds the cost at any
      // corpus size (no full sort, no corpus shuffle)
      graft.operators.WeightedSample.sample(
          t(s, dir, "documents").select(col("doc_id"), col("n_chars")),
          "doc_id", col("n_chars"), 50)
        .select(col("doc_id").as("doc"), col("n_chars"), col("es_key"))
        .orderBy(col("doc"))),

    "op_profile" -> ((s, dir) =>
      // ANALYZE-style one-pass column statistics (rows/non-null/exact
      // NDV/min/max-as-string) over every orders column; approx=true
      // swaps HLL for the Expand-based exact distinct at 100 TB
      graft.mat.Profile.profile(t(s, dir, "orders"))),

    "op_covariance" -> ((s, dir) =>
      // sample covariance of the 64-dim embeddings in one distributed
      // moment pass: the exchange carries d(d+1)/2 partial rows (the
      // model), never the data
      graft.llm.Embeddings.covariance(t(s, dir, "embeddings"), "embedding")
        .orderBy(col("i"), col("j"))),

    "dd_lines" -> ((s, dir) => {
      // CCNet-style corpus-wide line dedup with reassembly: the corpus
      // text is single-line, so both engines first rebuild it as
      // deterministic 12-token lines; the doubled corpus guarantees
      // every line of each copy dies while firsts survive
      val d = t(s, dir, "documents")
      val u = d.select(col("doc_id"), lower(col("text")).as("text"))
        .unionByName(d.select((col("doc_id") + 10000).as("doc_id"),
          lower(col("text")).as("text")))
      val ws = TextAnalysis.tokens(col("text"))
      val lined = array_join(transform(
        sequence(lit(0), ((size(ws) - 1) / lit(12)).cast(IntegerType)),
        i => array_join(slice(ws, i * 12 + 1, lit(12)), " ")), "\n")
      Dedup.dedupLines(u.select(col("doc_id"), lined.as("text")),
          "doc_id", "text")
        .orderBy(col("doc"))
    }),

    "ta_perplexity" -> ((s, dir) =>
      // unigram-LM quality scoring: model trained in one word-count
      // pass, scoring joins the distributed model — the CCNet LM-filter
      // shape with an in-engine trainable model
      TextAnalysis.unigramScore(
          t(s, dir, "documents").withColumn("text", lower(col("text"))),
          "doc_id", "text")
        .orderBy(col("doc"))),

    "ta_hashtfidf" -> ((s, dir) =>
      // hashing-trick TF-IDF (no vocabulary dictionary): two
      // partial-aggregated passes, dim-bounded idf table broadcasts
      TextAnalysis.hashTfidf(
          t(s, dir, "documents").withColumn("text", lower(col("text"))),
          "doc_id", "text", dim = 64)
        .orderBy(col("doc"), col("dim"))),

    "sim_knn_graph" -> ((s, dir) =>
      // corpus-wide approximate kNN graph: LSH-bucket candidates →
      // exact cosine → WindowGroupLimit top-k per node; never all-pairs
      Similarity.knnGraph(t(s, dir, "embeddings"), "vec_id", "embedding",
          k = 3)
        .orderBy(col("id_a"), col("cos").desc, col("id_b"))),

    "ta_bigram" -> ((s, dir) =>
      // bigram-LM scoring: one Markov order up from ta_perplexity —
      // notices scrambled word order; models (context counts, pair
      // counts) stay vocab-bound, the pair explode is map-only
      TextAnalysis.bigramScore(
          t(s, dir, "documents").withColumn("text", lower(col("text"))),
          "doc_id", "text")
        .orderBy(col("doc"))),

    "op_pagerank" -> ((s, dir) => {
      // domain-quality prior (Common Crawl host ranking): PageRank over
      // a deterministic synthetic link graph — 400 hosts, edges from
      // two doc-id hash functions over even docs so out-degrees vary
      // and every odd host is DANGLING; 10 fixed iterations make the
      // result replayable by an unrolled-SQL oracle
      val d = t(s, dir, "documents")
      val nodes = d.select(pmod(col("doc_id"), lit(400)).as("id")).distinct()
      val ev = d.filter(pmod(col("doc_id"), lit(2)) === 0)
      val edges = ev.select(pmod(col("doc_id"), lit(400)).as("src"),
          pmod(col("doc_id") * col("doc_id") + 7, lit(400)).as("dst"))
        .unionByName(ev.select(pmod(col("doc_id"), lit(400)).as("src"),
          pmod(col("doc_id") * 17 + 3, lit(400)).as("dst")))
        .distinct()
      graft.operators.PageRank.pageRank(nodes, "id", edges)
        .orderBy(col("id"))
    }),

    "op_fuzzy_join" -> ((s, dir) => {
      // cross-corpus LSH similarity join (entity resolution): documents
      // vs a perturbed snapshot (one token appended) — each doc must
      // rediscover its twin; the only corpus-sized exchange is the
      // band-key equi-join, never an all-pairs product
      val d = t(s, dir, "documents")
      val right = d.select((col("doc_id") + 10000).as("doc_id"),
        concat(col("text"), lit(" zz"),
          pmod(col("doc_id"), lit(5)).cast(StringType)).as("text"))
      Dedup.fuzzyJoin(d, right, "doc_id", "text", threshold = 0.5)
        .orderBy(col("id_a"), col("id_b"))
    }),

    "op_winsorize" -> ((s, dir) =>
      // per-source winsorization at exact [p05, p95]: the group-quantile
      // table is model-sized and broadcasts; the clip is map-only — the
      // fact side never shuffles
      graft.operators.Winsorize.winsorize(
          t(s, dir, "documents")
            .select(col("doc_id"), col("source"), col("n_chars")),
          Seq("source"), "n_chars", 0.05, 0.95)
        .orderBy(col("doc_id"))),

    "op_standardize" -> ((s, dir) =>
      // per-dimension z-scores: 2d-double model from one diagonal-moment
      // pass, served as literals in a map-only transform; compared in
      // exploded (vec_id, i, z) form
      graft.llm.Embeddings.standardize(t(s, dir, "embeddings"), "embedding")
        .select(col("vec_id"), posexplode(col("z")).as(Seq("i", "z")))
        .orderBy(col("vec_id"), col("i"))),

    "dd_simhash" -> ((s, dir) =>
      Dedup.simhash(t(s, dir, "documents"), "doc_id", "text")
        .orderBy(col("doc"))),

    "dd_simhash_pairs" -> ((s, dir) => {
      // banded hamming neighbor search over the doubled corpus (exact
      // duplicates guarantee distance-0 pairs exist)
      val d = t(s, dir, "documents")
      val u = d.select(col("doc_id"), col("text")).unionByName(
        d.select((col("doc_id") + 10000).as("doc_id"), col("text")))
      Dedup.simhashPairs(u, "doc_id", "text")
        .orderBy(col("id_a"), col("id_b"))
    }),

    "dd_minhash_clusters" -> ((s, dir) => {
      // per-doc keep/drop over the MinHash-LSH near-dup graph (doubled
      // corpus: exact duplicates guarantee non-singleton components)
      val d = t(s, dir, "documents")
      val u = d.select(col("doc_id"), col("text")).unionByName(
        d.select((col("doc_id") + 10000).as("doc_id"), col("text")))
      Dedup.minhashClusters(u, "doc_id", "text")
        .orderBy(col("doc"))
    }),

    "dd_simhash_clusters" -> ((s, dir) => {
      // per-doc keep/drop over the same doubled corpus: exact duplicates
      // guarantee non-singleton components
      val d = t(s, dir, "documents")
      val u = d.select(col("doc_id"), col("text")).unionByName(
        d.select((col("doc_id") + 10000).as("doc_id"), col("text")))
      Dedup.simhashClusters(u, "doc_id", "text")
        .orderBy(col("doc"))
    }),

    "dd_cosine_pairs" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val pairs = e.filter(pmod(col("vec_id"), lit(2)) === 0)
        .select(col("vec_id").as("id_a"), (col("vec_id") + 1).as("id_b"))
        .join(e.select(col("vec_id").as("id_b")), Seq("id_b"), "left_semi")
      Dedup.cosineOnPairs(e, pairs, "vec_id", "embedding", -1.0)
        .orderBy(col("id_a"))
    }),

    "dd_semantic" -> ((s, dir) => {
      // SemDeDup (k-means cells → within-cell cosine dedup, min-id
      // keep). Doubled corpus: identical copies are the dup pairs AND
      // always co-locate (identical centroid distances, deterministic
      // tie-break), and no natural pair reaches 0.95 (max natural
      // cosine < 0.9, measured sf0.01/sf0.1) — so cell-LOCAL dedup must
      // reproduce the GLOBAL brute-force drop rule exactly, which is
      // what the oracle computes. The k-means train/assign path is
      // fully exercised; a cell-straddle bug or tie-break drift breaks
      // the hash.
      val e = t(s, dir, "embeddings")
      val doubled = e.select(col("vec_id"), col("embedding"))
        .unionByName(e.select((col("vec_id") + 100000).as("vec_id"),
          col("embedding")))
      // nlist stays 32 (r12 probe): the RESULT is nlist-independent by
      // construction (copies co-locate at any nlist, no natural pair
      // reaches the threshold), but nlist=64 measured 10.3 s vs 4.1 —
      // at this corpus size inline training + assignment dominate the
      // within-cell quadratic, so raising nlist costs more than it saves
      Dedup.semanticDedup(doubled, "vec_id", "embedding",
          nlist = 32, threshold = 0.95)
        .select(col("vec_id"), col("kept"))
        .orderBy(col("vec_id"))
    }),

    "dd_semantic_novelty" -> ((s, dir) => {
      // embedding-space incremental novelty (dd_incremental's twin):
      // batch = exact copies of index vectors (must flag NON-novel;
      // copies always co-locate with their originals) plus NEGATED
      // vectors (must flag novel: cos(-v, u) = -cos(v, u), and no
      // natural pair reaches 0.95 — so nothing qualifies globally, and
      // cell-local search equals the global brute-force oracle)
      val e = t(s, dir, "embeddings")
      val copies = e.filter(pmod(col("vec_id"), lit(5)) === 0)
        .select((col("vec_id") + 200000).as("vec_id"), col("embedding"))
      val fresh = e.filter(pmod(col("vec_id"), lit(7)) === 0)
        .select((col("vec_id") + 300000).as("vec_id"),
          transform(col("embedding"), x => -x).as("embedding"))
      graft.llm.Dedup.semanticNovelty(copies.unionByName(fresh), e,
          "vec_id", "embedding", nlist = 32, threshold = 0.95)
        .orderBy(col("vec_id"))
    }),

    "dd_minhash_novelty_grow" -> ((s, dir) => {
      // the JACCARD member of the maintained-index ingest family
      // (r13 — the 5th geometry): arrivals are near-dups iff they
      // SHARE AN LSH BAND with an indexed document (the
      // minhashNovelty rule); novel documents' band keys join the
      // band-bucketed index table. Seed = bands of doc_id < 100;
      // batch 0 = the remaining originals (its seed-novel docs grow
      // the index); batch 1 = full-corpus copies — every copy shares
      // all 4 bands with its original, indexed via seed OR batch-0
      // growth, so nothing passes where a static seed index would
      // have kept every copy of a batch-0 novelty. The oracle replays
      // the minhash closed form and the two-step band growth.
      val d = t(s, dir, "documents").select(col("doc_id"), col("text"))
        .localCheckpoint()
      val idxT = "dd_mhnov_grow_idx"; val sinkT = "dd_mhnov_grow_sink"
      for (tb <- Seq(idxT, sinkT)) s.sql(s"DROP TABLE IF EXISTS $tb")
      graft.streaming.Events.createBandIndex(s, idxT,
        d.filter(col("doc_id") < 100)
          .withColumn("arr",
            graft.functions.MinHashSig(lower(col("text")), 3, 16))
          .select(Dedup.minhashBandArray(col("arr"), 16, 4).as("b")),
        "b")
      graft.streaming.Events.minhashNoveltyIngestBatch(
        d.filter(col("doc_id") >= 100), 0L, idxT, sinkT)
      graft.streaming.Events.minhashNoveltyIngestBatch(
        d.select((col("doc_id") + 10000).as("doc_id"), col("text")),
        1L, idxT, sinkT)
      s.table(sinkT).select(col("doc_id"), col("batch_id"))
        .orderBy(col("doc_id"))
    }),

    "dd_key_novelty_grow" -> ((s, dir) => {
      // the EXACT-KEY member of the maintained-index ingest family
      // (r14 — the 6th geometry, the url-seen-before filter every
      // crawl pipeline runs first): arrivals whose key (here
      // md5(lower(text)) — a content hash) was seen in any prior
      // batch or the seed are dropped; novel keys join the
      // key_pfx-partitioned index. Seed = keys of doc_id < 100;
      // batch 0 = remaining originals (corpus-planted exact-dup texts
      // drop against the seed, the rest grow the index); batch 1 =
      // full-corpus copies — every copy's key is indexed via seed or
      // batch-0 growth, so only NULL-text copies pass (no key, no
      // duplicate evidence). The oracle replays the two-step growth.
      val d = t(s, dir, "documents").select(col("doc_id"), col("text"))
        .withColumn("k", md5(lower(col("text")).cast("binary")))
        .localCheckpoint()
      val idxT = "dd_keynov_grow_idx"; val sinkT = "dd_keynov_grow_sink"
      for (tb <- Seq(idxT, sinkT)) s.sql(s"DROP TABLE IF EXISTS $tb")
      graft.streaming.Events.createKeyIndex(s, idxT,
        d.filter(col("doc_id") < 100).select(col("k")), "k")
      graft.streaming.Events.keyNoveltyIngestBatch(
        d.filter(col("doc_id") >= 100), 0L, idxT, sinkT, "k")
      graft.streaming.Events.keyNoveltyIngestBatch(
        d.select((col("doc_id") + 10000).as("doc_id"), col("text"),
          col("k")), 1L, idxT, sinkT, "k")
      s.table(sinkT).select(col("doc_id"), col("batch_id"))
        .orderBy(col("doc_id"))
    }),

    "dd_minhash_novelty_collapse" -> ((s, dir) => {
      // the INTRA-BATCH collapse arm of the MinHash ingest loop (r14,
      // mm_phash_novelty_collapse's Jaccard twin): cold-start band
      // index, ONE batch of the corpus PLUS full copies — same-batch
      // band-sharing documents collapse to their component's MIN band
      // ARRAY before the (empty-history) probe, so exact copies pass
      // together with their original while near-dup texts sharing an
      // LSH band contribute one representative array. The oracle
      // replays the minhash closed form and walks components over
      // distinct band arrays (as fixed-width joined strings — band
      // keys are exactly 34 chars, so string order == array order)
      // with the recursive min-label CTE; band-less docs pass.
      val d = t(s, dir, "documents").select(col("doc_id"), col("text"))
        .localCheckpoint()
      val idxT = "dd_mhnov_col_idx"; val sinkT = "dd_mhnov_col_sink"
      for (tb <- Seq(idxT, sinkT)) s.sql(s"DROP TABLE IF EXISTS $tb")
      graft.streaming.Events.createBandIndex(s, idxT,
        s.range(0).select(lit(null).cast("array<string>").as("b")), "b")
      graft.streaming.Events.minhashNoveltyIngestBatch(
        d.unionByName(d.select((col("doc_id") + 10000).as("doc_id"),
          col("text"))),
        0L, idxT, sinkT, collapseIntraBatch = true)
      s.table(sinkT).select(col("doc_id"), col("batch_id"))
        .orderBy(col("doc_id"))
    }),

    "dd_semantic_novelty_collapse" -> ((s, dir) => {
      // the INTRA-BATCH collapse arm of the EMBEDDING ingest loop
      // (r14): cold-start index with ONE zero centroid — a single cell
      // makes the within-cell collapse globally exact, so the oracle
      // replays it with brute-force cosine and no cell structure to
      // mirror. The batch is the corpus plus PERTURBED copies (first
      // component ×1.01f: distinct vectors at cosine ≈ 1, while no
      // natural pair reaches 0.95 — measured nearest 0.512837, and
      // perturbed cross-pairs top out at 0.51315). Collapse =
      // components over distinct vectors, rep = MIN vector
      // (lexicographic — identical float compare in both engines);
      // every arrival is index-novel against the empty seed, so the
      // sink holds exactly the representative vectors' rows. Quarter
      // corpus (vec_id % 4 = 0, the board-budget treatment): the
      // single cell makes the collapse quadratic in distinct vectors
      // BY CONSTRUCTION — the price of a globally-replayable oracle,
      // not the production shape (real cents bound cells).
      val e = t(s, dir, "embeddings")
        .filter(pmod(col("vec_id"), lit(4)) === 0)
        .select(col("vec_id"), col("embedding"))
      val pert = e.select((col("vec_id") + 100000).as("vec_id"),
        concat(array(col("embedding").getItem(0) * lit(1.01f)),
          slice(col("embedding"), 2, 1 << 20)).as("embedding"))
      val batch = e.unionByName(pert).localCheckpoint()
      val idxT = "dd_semnov_col_idx"; val sinkT = "dd_semnov_col_sink"
      for (tb <- Seq(idxT, s"${idxT}__cents", sinkT))
        s.sql(s"DROP TABLE IF EXISTS $tb")
      val dim = e.select(size(col("embedding"))).first().getInt(0)
      graft.streaming.Events.createEmbeddingIndex(s, idxT,
        s.range(0).select(lit(null).cast("array<float>").as("embedding")),
        "embedding", Array(Array.fill(dim)(0.0)))
      // collapseCellCap disabled: this query's ONE-cell config is the
      // price of a globally-replayable oracle (comment above), and the
      // r17 over-cap guard would otherwise salt-split the deliberately
      // oversized single cell at larger SFs, changing kept counts the
      // DuckDB replay can't mirror. Production shapes (real cents,
      // ~128 rows/cell) sit far below the cap; the guard itself is
      // pinned in StreamingSpec; its skew probe results are in
      // test_archive/hot_cell_probe_r17.txt.
      graft.streaming.Events.embeddingNoveltyIngestBatch(batch, 0L,
        idxT, sinkT, "embedding", 0.95, collapseIntraBatch = true,
        collapseCellCap = Int.MaxValue)
      s.table(sinkT).select(col("vec_id"), col("batch_id"))
        .orderBy(col("vec_id"))
    }),

    "dd_semantic_novelty_grow" -> ((s, dir) => {
      // the EMBEDDING member of the maintained-index ingest family
      // (r13 — mm_phash_novelty_grow's cosine twin): IVF
      // cell-partitioned vector index table, per-batch probe
      // partition-pruned to the batch's touched cells. Batch 0 =
      // exact copies of %5 ids (dropped against the seed) + negated
      // %7 ids (novel — their vectors JOIN the index); batch 1 =
      // copies of batch-0's novelties (dropped ONLY because batch 0
      // grew the index — a static index would keep every one) + fresh
      // negated %11∖%7 ids (novel). The oracle replays the two-step
      // growth with brute-force cosine — assignment-independent by
      // the dd_semantic construction (every qualifying pair is an
      // exact copy, which co-locates; nothing natural reaches 0.95).
      val e = t(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding")).localCheckpoint()
      val idxT = "dd_semnov_grow_idx"; val sinkT = "dd_semnov_grow_sink"
      for (tb <- Seq(idxT, s"${idxT}__cents", sinkT))
        s.sql(s"DROP TABLE IF EXISTS $tb")
      // nlist 16 / one Lloyd iteration: the keep/drop answer is
      // assignment-independent by construction (only exact copies
      // qualify, and they co-locate under ANY deterministic cells), so
      // training depth buys nothing here — it is the row's dominant
      // cost otherwise (each iteration is a full corpus assign+agg)
      val cents = Similarity.ivfTrain(e, "vec_id", "embedding", 16,
        iters = 1)
      graft.streaming.Events.createEmbeddingIndex(s, idxT, e,
        "embedding", cents)
      val b0 = e.filter(pmod(col("vec_id"), lit(5)) === 0)
        .select((col("vec_id") + 200000).as("vec_id"), col("embedding"))
        .unionByName(e.filter(pmod(col("vec_id"), lit(7)) === 0)
          .select((col("vec_id") + 300000).as("vec_id"),
            transform(col("embedding"), x => -x).as("embedding")))
      val b1 = e.filter(pmod(col("vec_id"), lit(7)) === 0)
        .select((col("vec_id") + 400000).as("vec_id"),
          transform(col("embedding"), x => -x).as("embedding"))
        .unionByName(e.filter(pmod(col("vec_id"), lit(11)) === 0 &&
            pmod(col("vec_id"), lit(7)) =!= 0)
          .select((col("vec_id") + 500000).as("vec_id"),
            transform(col("embedding"), x => -x).as("embedding")))
      graft.streaming.Events.embeddingNoveltyIngestBatch(b0, 0L, idxT,
        sinkT, "embedding", 0.95)
      graft.streaming.Events.embeddingNoveltyIngestBatch(b1, 1L, idxT,
        sinkT, "embedding", 0.95)
      s.table(sinkT).select(col("vec_id"), col("batch_id"))
        .orderBy(col("vec_id"))
    }),

    "dd_semantic_serve" -> ((s, dir) => {
      // the train-once/serve-many convention as a COMPARED row (r13 —
      // the sf1 probes' serving arms had no oracle-checked sibling):
      // centroids pre-trained once (ivfTrain over the corpus), then the
      // dedup pass is map-only assignment against the broadcast
      // centroid literals + the within-cell join — the corpus is never
      // re-scanned to rebuild the model. SAME global brute-force oracle
      // as dd_semantic: the construction is assignment-independent
      // (exact copies co-locate under ANY deterministic assignment; no
      // natural pair reaches 0.95).
      val e = t(s, dir, "embeddings")
      val doubled = e.select(col("vec_id"), col("embedding"))
        .unionByName(e.select((col("vec_id") + 100000).as("vec_id"),
          col("embedding")))
        .localCheckpoint()
      val cents = Similarity.ivfTrain(doubled, "vec_id", "embedding", 32)
      Dedup.semanticDedup(doubled, "vec_id", "embedding", cents, 0.95)
        .select(col("vec_id"), col("kept"))
        .orderBy(col("vec_id"))
    }),

    "dd_simhash_novelty_grow" -> ((s, dir) => {
      // the TEXT member of the maintained-index ingest family
      // (Events.textNoveltyIngestBatch — mm_phash_novelty_grow's twin
      // over SimHash60): seed index = sigs of doc_id < 100; batch 0 =
      // the remaining originals, batch 1 = full-corpus COPIES
      // (doc_id + 10000, same text). Batch 1's copies of ids >= 100
      // are dropped ONLY because batch 0 grew the index — a static
      // seed index would keep every one of them. Token-less texts
      // carry no signature and stay novel. The oracle replays the
      // SimHash closed form and the two-step index growth.
      val d = t(s, dir, "documents").select(col("doc_id"), col("text"))
        .localCheckpoint()
      val idxT = "dd_simnov_grow_idx"; val sinkT = "dd_simnov_grow_sink"
      for (tb <- Seq(idxT, sinkT)) s.sql(s"DROP TABLE IF EXISTS $tb")
      graft.streaming.Events.createSignatureIndex(s, idxT,
        d.filter(col("doc_id") < 100)
          .select(graft.functions.SimHash60(lower(col("text")))
            .as("sig")), "sig")
      graft.streaming.Events.textNoveltyIngestBatch(
        d.filter(col("doc_id") >= 100), 0L, idxT, sinkT)
      graft.streaming.Events.textNoveltyIngestBatch(
        d.select((col("doc_id") + 10000).as("doc_id"), col("text")),
        1L, idxT, sinkT)
      s.table(sinkT)
        .select(col("doc_id"), col("simhash"), col("batch_id"))
        .orderBy(col("doc_id"))
    }),

    "dd_cosine_clusters" -> ((s, dir) => {
      // embedding near-dup end to end: LSH-bucket candidates → exact
      // cosine verify → per-vector keep/drop (doubled corpus: exact
      // duplicate vectors guarantee non-singleton components)
      val e = t(s, dir, "embeddings")
      val u = e.select(col("vec_id"), col("embedding")).unionByName(
        e.select((col("vec_id") + 10000).as("vec_id"), col("embedding")))
      Dedup.cosineClusters(u, "vec_id", "embedding", threshold = 0.95)
        .orderBy(col("doc"))
    }),

    "dd_tfidf_pairs" -> ((s, dir) => {
      // exact weighted-cosine near-dup over token tf·idf vectors —
      // integer-quantized idf makes dot/norms exact BIGINTs, so the
      // pair set is engine-decidable (Dedup.tfidfPairs scaladoc).
      // Half corpus (doc_id % 4 < 2, the op_triangles board-budget
      // treatment — same shape, ~¼ the candidate volume, consecutive
      // near-dup ids preserved; ScaleProbe keeps the scale evidence).
      // 0.9 re-probed into a measured empty band of the half-corpus
      // cosine distribution (idf shifts with the corpus; nearest
      // values 0.899846 / 0.903019).
      val d = t(s, dir, "documents").filter(col("doc_id") % 4 < 2)
      Dedup.tfidfPairs(d, "doc_id", "text", threshold = 0.9)
        .orderBy(col("doc_a"), col("doc_b"))
    }),

    "dd_containment" -> ((s, dir) => {
      // exact asymmetric containment (quote / partial-copy detection):
      // ordered pairs with ≥95% of a's token set inside b's. Pure
      // integer thresholding — no float appears in the decision.
      // Half corpus (doc_id % 4 < 2, board-budget treatment;
      // containment is pairwise — subsetting only removes pairs)
      val d = t(s, dir, "documents").filter(col("doc_id") % 4 < 2)
      Dedup.containmentJoin(d, "doc_id", "text", threshold = 0.95)
        .orderBy(col("id_a"), col("id_b"))
    }),

    "dd_containment_reps" -> ((s, dir) => {
      // clique-representative output (r9 verdict #2): the 100 TB
      // product shape for clique-heavy similarity joins. Docs with
      // identical token SETS collapse to (rep = min id, clique size n)
      // BEFORE any pairing; output is one row per qualifying set pair
      // (with n_a, n_b) plus one self row per n ≥ 2 clique at
      // containment 1 — k copies cost one row, not k² pairs.
      // Half corpus, like dd_containment.
      val d = t(s, dir, "documents").filter(col("doc_id") % 4 < 2)
      Dedup.containmentJoin(d, "doc_id", "text", threshold = 0.95,
          expandCliques = false)
        .orderBy(col("id_a"), col("id_b"))
    }),

    "dd_containment_join" -> ((s, dir) => {
      // decontamination by containment: truncated snapshots (every
      // 10th doc cut to its first half of tokens) must be found
      // inside their originals — plus every other ≥90% cover the
      // dense corpus yields. Integer-exact decision, like the self
      // form. Half corpus (doc_id % 4 < 2, board-budget treatment).
      val d = t(s, dir, "documents").filter(col("doc_id") % 4 < 2)
      val half = d.filter(pmod(col("doc_id"), lit(10)) === 0)
        .withColumn("__ws", TextAnalysis.tokens(col("text")))
        .select((col("doc_id") + 20000).as("doc_id"),
          array_join(expr(
            "slice(__ws, 1, greatest(size(__ws) div 2, 1))"),
            " ").as("text"))
      Dedup.containmentCross(half, d, "doc_id", "text",
          threshold = 0.9)
        .orderBy(col("id_a"), col("id_b"))
    }),

    "dd_source_overlap" -> ((s, dir) => {
      // corpus-level contamination audit: n-gram Jaccard between every
      // source pair (20 sources → 190 rows), zero-overlap pairs kept
      val d = t(s, dir, "documents")
      Dedup.sourceOverlap(d, "source", "text", n = 3)
        .orderBy(col("grp_a"), col("grp_b"))
    }),

    "dd_substring_coverage" -> ((s, dir) => {
      // per-doc duplicated fraction — the drop-decision number over
      // dd_substring_spans' audit trail; every (subset) doc present,
      // zero rows included, frac an exact BIGINT/BIGINT division.
      // Half corpus (doc_id % 4 < 2, board-budget treatment —
      // duplicated grams are recomputed within the subset on both
      // sides, so the pin stays exact).
      val d = t(s, dir, "documents").filter(col("doc_id") % 4 < 2)
      Dedup.substringCoverage(d, "doc_id", "text", k = 64)
        .orderBy(col("doc"))
    }),

    "dd_tfidf_join" -> ((s, dir) => {
      // exact cross-corpus weighted-cosine join (the dd_allpairs_join
      // construction with the idf bar): documents vs perturbed
      // snapshot, one shared idf space over the union. Half corpus
      // (doc_id % 4 < 2, board-budget treatment); 0.9 re-probed into
      // a measured empty band of the half-corpus distribution
      // (nearest values 0.895284 / 0.900860).
      val d = t(s, dir, "documents").filter(col("doc_id") % 4 < 2)
      val right = d.select((col("doc_id") + 10000).as("doc_id"),
        concat(col("text"), lit(" zz"),
          pmod(col("doc_id"), lit(5)).cast(StringType)).as("text"))
      Dedup.tfidfJoin(d, right, "doc_id", "text", threshold = 0.9)
        .orderBy(col("id_a"), col("id_b"))
    }),

    "dd_substring_spans" -> ((s, dir) => {
      // exact duplicated-substring spans at k=64 chars (the corpus'
      // templated near-dups share long literal runs). Half corpus
      // (doc_id % 4 < 2, board-budget treatment) — duplication is
      // re-decided within the subset identically on both sides.
      val d = t(s, dir, "documents").filter(col("doc_id") % 4 < 2)
      Dedup.substringSpans(d, "doc_id", "text", k = 64)
        .orderBy(col("doc"), col("span_start"))
    }),

    // ---- similarity search ----
    "sim_bruteforce_topk" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      Similarity.bruteForceTopK(e, e.filter(col("vec_id") < 5),
          "vec_id", "embedding", 10)
        .orderBy(col("query_id"), col("rank"))
    }),

    "sim_lsh_topk" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      Similarity.lshTopK(e, e.filter(col("vec_id") < 5),
          "vec_id", "embedding", 10)
        .orderBy(col("query_id"), col("rank"))
    }),

    "sim_rp_topk" -> ((s, dir) => {
      // Johnson–Lindenstrauss sign projection (64 → 16 dims): candidate
      // ranking in the projected space at a quarter of the FLOPs and
      // bandwidth, exact rerank only on the per-query shortlist — fully
      // deterministic (literal ±1 matrix shared with the oracle), so the
      // whole approximate pipeline hash-compares, not just a recall gate
      val e = t(s, dir, "embeddings")
      Similarity.rpTopK(e, e.filter(col("vec_id") < 5),
          "vec_id", "embedding", 10, shortlist = 40)
        .orderBy(col("query_id"), col("rank"))
    }),

    "sim_ivf_topk" -> ((s, dir) => {
      // trained-cell IVF (k-means centroids) gated on recall vs the
      // exact brute-force baseline: the result is the per-query recall
      // check, since the oracle cannot re-run k-means in SQL. The raw
      // recall values are asserted in LlmSpec. Training happens ONCE
      // here — the offline step of a real deployment — and the trained
      // matrix feeds the search and the gate (r3: the train-inline form
      // paid 3 corpus passes inside the query hot path).
      // train + search + exact gate make five passes over the corpus —
      // materialize it once (train alone re-scans parquet per iteration)
      val e = t(s, dir, "embeddings").localCheckpoint()
      val cent = Similarity.ivfTrain(e, "vec_id", "embedding", nlist = 32)
      Similarity.ivfRecall(e, e.filter(col("vec_id") < 5),
          "vec_id", "embedding", 10, cent, nprobe = 12)
        .select(col("query_id"), (col("recall") >= 0.6).as("recall_ok"))
        .orderBy(col("query_id"))
    }),

    "sim_ivf_multiassign" -> ((s, dir) => {
      // corpus-side multiple assignment (×3 index) must clear a HIGHER
      // recall gate than single-assignment sim_ivf_topk at the same
      // nprobe — the storage-for-recall trade driver-verified. Queries
      // are mid-id (disjoint from every init pool) so the gate isn't an
      // artifact of seeding near the query vectors.
      val e = t(s, dir, "embeddings").localCheckpoint()
      val cent = Similarity.ivfTrain(e, "vec_id", "embedding", nlist = 32)
      Similarity.ivfRecall(e,
          e.filter(col("vec_id") >= 200 && col("vec_id") < 205),
          "vec_id", "embedding", 10, cent, nprobe = 12, multiAssign = 3)
        .select(col("query_id"), (col("recall") >= 0.8).as("recall_ok"))
        .orderBy(col("query_id"))
    }),

    "sim_ivf_rp_topk" -> ((s, dir) => {
      // the IVF×JL composition on the SERVING path (r15, r14 verdict
      // #4): coarse cells prune the scan to nprobe/nlist AND the
      // candidate stage reads 16-dim projections instead of 64-dim
      // vectors (assignment, probe selection, and scoring all in the
      // projected space); exact rerank on the per-query shortlist.
      // Recall floor measured (RpIvfProbe, deterministic end-to-end):
      // min 0.60 on sf0.01 / 0.50 on sf0.001 at nprobe=16/short=200 —
      // the JL worst case (random unit vectors) stacked on the IVF
      // cell trade; gate 0.4 leaves corpus-shape margin. Raw recalls
      // asserted in LlmSpec.
      val e = t(s, dir, "embeddings").localCheckpoint()
      val cent = Similarity.ivfTrain(e, "vec_id", "embedding", nlist = 32)
      Similarity.ivfRpRecall(e, e.filter(col("vec_id") < 5),
          "vec_id", "embedding", 10, cent, nprobe = 16, shortlist = 200)
        .select(col("query_id"), (col("recall") >= 0.4).as("recall_ok"))
        .orderBy(col("query_id"))
    }),

    "sim_pq_topk" -> ((s, dir) => {
      // product quantization (ADC shortlist + exact rerank) gated on
      // recall vs the exact baseline — the memory lever: 8×6-bit codes
      // (6 bytes) stand in for 256-byte raw vectors in the scan, ~42×
      // smaller. Threshold measured in LlmSpec/PqProbe: floor 0.9 at
      // this shape on sf0.01 (random unit vectors — PQ's worst case);
      // gate 0.7 leaves margin for k-means float jitter.
      val e = t(s, dir, "embeddings").localCheckpoint()
      val model = Similarity.pqTrain(e, "vec_id", "embedding",
        m = 8, ksub = 64)
      Similarity.pqRecall(e, e.filter(col("vec_id") < 5),
          "vec_id", "embedding", 10, model, shortlist = 100)
        .select(col("query_id"), (col("recall") >= 0.7).as("recall_ok"))
        .orderBy(col("query_id"))
    }),

    "sim_ivfpq_topk" -> ((s, dir) => {
      // the IVFADC composition: coarse cells prune the scan to
      // nprobe/nlist of the corpus AND the scan reads 6-byte PQ codes,
      // not 256-byte vectors. Floor measured 0.7 at this shape on
      // sf0.01 (PqProbe); gate 0.6 = the single-assign IVF gate.
      val e = t(s, dir, "embeddings").localCheckpoint()
      val cent = Similarity.ivfTrain(e, "vec_id", "embedding", nlist = 32)
      val model = Similarity.pqTrain(e, "vec_id", "embedding",
        m = 8, ksub = 64)
      Similarity.ivfPqRecall(e, e.filter(col("vec_id") < 5),
          "vec_id", "embedding", 10, cent, model, nprobe = 16,
          shortlist = 100)
        .select(col("query_id"), (col("recall") >= 0.6).as("recall_ok"))
        .orderBy(col("query_id"))
    }),

    "sim_sq8_topk" -> ((s, dir) => {
      // int8 scalar quantization — the bandwidth lever: the scan reads
      // 4×-smaller codes and the hot loop is integer multiply-adds.
      // Quantization (floor over IEEE doubles) and score (one double
      // expression over exact BIGINT dots) are both engine-exact, so
      // the whole approximate ranking is oracle-comparable, not just
      // recall-gated. RetrievalSpec pins recall ≥ 0.9 vs brute force.
      val e = t(s, dir, "embeddings")
      Similarity.sq8TopK(e, e.filter(col("vec_id") < 5),
          "vec_id", "embedding", 10)
        .orderBy(col("query_id"), col("rank"))
    }),

    // ---- multimodal plumbing (stub decode — see Multimodal.FakeDecoder) ----
    "mm_decode" -> ((s, dir) =>
      Multimodal.decodeFeatures(
          Multimodal.mediaFromDocuments(t(s, dir, "documents")))
        .orderBy(col("media_id"))),

    "mm_decode_real" -> ((s, dir) =>
      // REAL byte-level decode: image rows carry an actual BMP, PNG,
      // JPEG, or GIF, audio rows a WAV or MP3 frame sequence, video
      // rows an MP4 box tree (MediaCodecs encode/parse); geometry
      // derives from the id so the oracle recomputes it arithmetically.
      // checksum is projected away — it is a function of raw bytes the
      // SQL oracle cannot reconstruct; CodecSpec pins it instead.
      Multimodal.decodeFeatures(
          Multimodal.syntheticMedia(t(s, dir, "documents")))
        .select(col("media_id"), col("media_type"), col("n_bytes"),
          col("width"), col("height"), col("n_frames"), col("px_checksum"))
        .orderBy(col("media_id"))),

    "mm_decode_pixels" -> ((s, dir) =>
      // REAL CONTENT decode end to end: javax.imageio reads the actual
      // pixel raster (BMP / PNG / a real LZW GIF), javax.sound.sampled
      // the actual PCM frames; px_checksum is a function of decoded
      // pixel/sample DATA that the oracle recomputes in closed form
      // because payloads carry a constant id-derived fill. n_bytes is
      // deliberately not projected — the ImageIO-written GIF has no
      // closed-form size.
      Multimodal.decodeFeatures(
          Multimodal.syntheticPixelMedia(t(s, dir, "documents")))
        .select(col("media_id"), col("media_type"), col("width"),
          col("height"), col("n_frames"), col("px_checksum"))
        .orderBy(col("media_id"))),

    "mm_resize_real" -> ((s, dir) =>
      // REAL pixel resample end to end: ImageIO decode → bilinear
      // Graphics2D into the fit-within-(8,6) geometry → checksum of the
      // RESIZED raster. Constant-fill sources keep their fill under
      // interpolation, so the oracle recomputes 3·ow·oh·fill in closed
      // form; gradient content is pinned by CodecSpec.
      Multimodal.resizePixels(
          Multimodal.syntheticPixelMedia(t(s, dir, "documents")),
          maxW = 8, maxH = 6)
        .orderBy(col("media_id"))),

    "mm_phash_pairs" -> ((s, dir) =>
      // perceptual image dedup end to end: affine-content images
      // (PNG/BMP re-encodes + planted one-pixel edits) → REAL ImageIO
      // decode → 64-bit dHash over the raster → banded hamming join in
      // distinct-signature space (the SimHash machinery at 4×16-bit
      // bands). Integer-only pixels→signature math, so the oracle
      // replays the whole pipeline arithmetically and brute-forces the
      // pair search over the 500-doc corpus.
      Multimodal.imageDedupPairs(
          Multimodal.syntheticContentImages(t(s, dir, "documents")))
        .orderBy(col("id_a"), col("id_b"))),

    "mm_phash_clusters" -> ((s, dir) =>
      // the keep/drop product shape over the same corpus: connected
      // components of the banded dHash graph in distinct-signature
      // space, rep = min media id, linear per image where the pair
      // list is quadratic per duplicate clique. The oracle recomputes
      // the signatures arithmetically and walks the components with a
      // recursive CTE (the dd_simhash_clusters pattern).
      Multimodal.imageDedupClusters(
          Multimodal.syntheticContentImages(t(s, dir, "documents")))
        .orderBy(col("doc"))),

    "mm_phash_novelty" -> ((s, dir) => {
      // ingestion-time image dedup (Events.imageNoveltyStream evaluated
      // in batch — identical code runs under readStream): the first 30
      // images' signatures form the model-sized index (seeds 0–29 of
      // 64, so BOTH outcomes are populated: later copies of indexed
      // seeds — including their one-pixel edits — are dropped, unseen
      // seeds pass); arriving images within hamming ≤ 3 of any indexed
      // signature are dropped via a plan-literal band-bucketed lookup —
      // no join, no state. The oracle recomputes signatures
      // arithmetically and brute-forces the NOT EXISTS.
      val media = Multimodal.syntheticContentImages(t(s, dir, "documents"))
      val idx = Multimodal.dhashSignatures(
          media.filter(col("media_id") < 30))
        .select(col("dhash")).collect().map(_.getLong(0)).toSeq
      graft.streaming.Events.imageNoveltyStream(media, idx)
        .select(col("media_id"), col("dhash"), col("novel"))
        .orderBy(col("media_id"))
    }),

    "mm_phash_novelty_join" -> ((s, dir) => {
      // the JOIN form of mm_phash_novelty — the index lives in a
      // DataFrame (at scale: a table) and the arrivals probe it via 4
      // stream-static banded equi-joins instead of a plan-literal map;
      // decisions are identical (StreamingSpec pins parity), so the
      // oracle is the same brute-forced NOT EXISTS. No driver collect:
      // the index never leaves the cluster.
      val media = Multimodal.syntheticContentImages(t(s, dir, "documents"))
      val idx = Multimodal.dhashSignatures(
          media.filter(col("media_id") < 30))
        .select(col("dhash").as("sig"))
      graft.streaming.Events.imageNoveltyJoin(media, idx)
        .select(col("media_id"), col("dhash"), col("novel"))
        .orderBy(col("media_id"))
    }),

    "mm_phash_novelty_grow" -> ((s, dir) => {
      // the MAINTAINED-index ingestion loop across two batches
      // (Events.imageNoveltyIngestBatch — exactly what the streaming
      // sink runs per micro-batch): seed index = sigs of ids < 30;
      // batch 0 = ids 30..59, batch 1 = the rest. Batch 0's novel
      // signatures JOIN the index, so batch 1 drops later copies of
      // seeds first seen in batch 0 — a static index would keep them.
      // The oracle replays the growing index arithmetically.
      val media = Multimodal.syntheticContentImages(t(s, dir, "documents"))
        .localCheckpoint()
      val idxT = "mm_nov_grow_idx"; val sinkT = "mm_nov_grow_sink"
      for (tb <- Seq(idxT, sinkT)) s.sql(s"DROP TABLE IF EXISTS $tb")
      graft.streaming.Events.createSignatureIndex(s, idxT,
        Multimodal.dhashSignatures(media.filter(col("media_id") < 30))
          .select(col("dhash").as("sig")), "sig")
      graft.streaming.Events.imageNoveltyIngestBatch(
        media.filter(col("media_id") >= 30 && col("media_id") < 60),
        0L, idxT, sinkT)
      graft.streaming.Events.imageNoveltyIngestBatch(
        media.filter(col("media_id") >= 60), 1L, idxT, sinkT)
      s.table(sinkT)
        .select(col("media_id"), col("dhash"), col("batch_id"))
        .orderBy(col("media_id"))
    }),

    "mm_phash_novelty_collapse" -> ((s, dir) => {
      // the INTRA-BATCH collapse arm of the maintained-index ingest
      // (r13): cold-start index, ONE batch of the whole image corpus
      // with collapseIntraBatch = true — same-batch near-duplicate
      // signatures (the planted re-encodes at hamming 0 and one-pixel
      // edits at hamming <= 2) collapse to their component's MIN
      // signature BEFORE the index probe, so the sink holds one
      // representative per signature component instead of the whole
      // flood. The oracle replays the signature closed form and walks
      // components in SIGNATURE space with the recursive min-label CTE.
      val media = Multimodal.syntheticContentImages(t(s, dir, "documents"))
        .localCheckpoint()
      val idxT = "mm_nov_col_idx"; val sinkT = "mm_nov_col_sink"
      for (tb <- Seq(idxT, sinkT)) s.sql(s"DROP TABLE IF EXISTS $tb")
      graft.streaming.Events.createSignatureIndex(s, idxT,
        s.range(0).select(col("id").as("sig")), "sig")
      graft.streaming.Events.imageNoveltyIngestBatch(media, 0L, idxT,
        sinkT, collapseIntraBatch = true)
      s.table(sinkT)
        .select(col("media_id"), col("dhash"), col("batch_id"))
        .orderBy(col("media_id"))
    }),

    "mm_audio_pairs" -> ((s, dir) =>
      // perceptual AUDIO dedup end to end (r11): 16-bit PCM with a
      // closed-form sample stream (WAV/AIFF re-encodes of IDENTICAL
      // samples + planted one-sample edits) → REAL javax.sound decode →
      // 64-bit aFP (adjacent-frame energy comparisons — dHash on the
      // time axis) → banded hamming join in distinct-signature space.
      // Integer-only samples→signature math: the oracle recomputes every
      // frame energy arithmetically and brute-forces the pair search.
      Multimodal.audioDedupPairs(
          Multimodal.syntheticContentAudio(t(s, dir, "documents")))
        .orderBy(col("id_a"), col("id_b"))),

    "mm_audio_clusters" -> ((s, dir) =>
      // the keep/drop product shape over the audio corpus: connected
      // components of the banded aFP graph in distinct-signature space,
      // rep = min media id — the same machinery as mm_phash_clusters.
      // The oracle recomputes the frame energies arithmetically and
      // walks components with a recursive min-label CTE.
      Multimodal.audioDedupClusters(
          Multimodal.syntheticContentAudio(t(s, dir, "documents")))
        .orderBy(col("doc"))),

    "mm_audio_novelty" -> ((s, dir) => {
      // ingestion-time audio dedup (Events.audioNoveltyStream evaluated
      // in batch — identical code runs under readStream, machinery
      // pinned by the image novelty stream test): the first 30 clips'
      // fingerprints form the index (seeds 0–29 of 48, both outcomes
      // populated); arriving clips within hamming ≤ 3 are dropped via
      // the plan-literal band lookup. Oracle recomputes fingerprints
      // arithmetically and brute-forces the NOT EXISTS.
      val media = Multimodal.syntheticContentAudio(t(s, dir, "documents"))
      val idx = Multimodal.audioFingerprints(
          media.filter(col("media_id") < 30))
        .select(col("afp")).collect().map(_.getLong(0)).toSeq
      graft.streaming.Events.audioNoveltyStream(media, idx)
        .select(col("media_id"), col("afp"), col("novel"))
        .orderBy(col("media_id"))
    }),

    "mm_audio_novelty_grow" -> ((s, dir) => {
      // the audio member of the maintained-index ingest family
      // (mm_phash_novelty_grow's aFP twin): seed index = fingerprints
      // of ids < 30; batch 0 = ids 30..59, batch 1 = the rest. The
      // oracle replays the frame-energy closed form and the two-step
      // index growth.
      val media = Multimodal.syntheticContentAudio(t(s, dir, "documents"))
        .localCheckpoint()
      val idxT = "mm_anov_grow_idx"; val sinkT = "mm_anov_grow_sink"
      for (tb <- Seq(idxT, sinkT)) s.sql(s"DROP TABLE IF EXISTS $tb")
      graft.streaming.Events.createSignatureIndex(s, idxT,
        Multimodal.audioFingerprints(media.filter(col("media_id") < 30))
          .select(col("afp").as("sig")), "sig")
      graft.streaming.Events.audioNoveltyIngestBatch(
        media.filter(col("media_id") >= 30 && col("media_id") < 60),
        0L, idxT, sinkT)
      graft.streaming.Events.audioNoveltyIngestBatch(
        media.filter(col("media_id") >= 60), 1L, idxT, sinkT)
      s.table(sinkT)
        .select(col("media_id"), col("afp"), col("batch_id"))
        .orderBy(col("media_id"))
    }),

    "mm_frames" -> ((s, dir) =>
      Multimodal.sampleFrames(
          Multimodal.decodeFeatures(
            Multimodal.mediaFromDocuments(t(s, dir, "documents"))), 4)
        .orderBy(col("media_id"), col("frame_idx"))),

    "mm_resize" -> ((s, dir) =>
      Multimodal.resizePlan(
          Multimodal.decodeFeatures(
            Multimodal.mediaFromDocuments(t(s, dir, "documents"))),
          maxW = 224, maxH = 160)
        .orderBy(col("media_id"))),

    // ---- events: streaming-native operators evaluated in batch ----
    "ev_tumbling" -> ((s, dir) =>
      Events.tumblingCounts(t(s, dir, "events"))
        .orderBy(col("win_start"), col("event_type"))),

    "ev_sliding" -> ((s, dir) =>
      Events.slidingCounts(t(s, dir, "events"))
        .orderBy(col("win_start"), col("event_type"))),

    "ev_sessions" -> ((s, dir) =>
      Events.sessions(t(s, dir, "events"))
        .orderBy(col("user_id"), col("sess_start"))),

    "ev_sessions_custom" -> ((s, dir) =>
      // flatMapGroupsWithState sessionizer (custom-state API); sum_value
      // omitted: it accumulates doubles in event order, which the
      // set-semantics oracle can't pin
      Events.sessionsCustomState(t(s, dir, "events"))
        .select(col("user_id"), col("sess_start"), col("sess_end"),
          col("n_events"))
        .orderBy(col("user_id"), col("sess_start"))),

    "ev_props" -> ((s, dir) =>
      Events.withProps(t(s, dir, "events"))
        .select(col("event_id"), col("k"))
        .filter(col("k") > 50)
        .orderBy(col("event_id"))),
  )

  /** Shared deterministic fixture for the incremental-strategy queries:
    * target = orders with key%4 != 0, staged = key%2 == 0 with doubled
    * price and src='staged'. */
  private def incFixture(s: SparkSession, dir: String)
      : (DataFrame, DataFrame) = {
    val o = t(s, dir, "orders").select(
      col("o_orderkey"),
      dec(col("o_totalprice")).cast(DoubleType).as("price"),
      lit("target").as("src"))
    val target = o.filter(pmod(col("o_orderkey"), lit(4)) =!= 0)
    val staged = t(s, dir, "orders")
      .filter(pmod(col("o_orderkey"), lit(2)) === 0)
      .select(col("o_orderkey"),
        (dec(col("o_totalprice")) * 2).cast(DoubleType).as("price"),
        lit("staged").as("src"))
    (target, staged)
  }

  /** DuckDB-dialect twins for the driver's oracle (sf0.01). Column names
    * match the Spark side exactly (the driver sorts columns by name before
    * hashing). */
  def oracleSql: Map[String, String] = Map(
    "q01_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS sum_disc_price,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2))) * (1 + CAST(l_tax AS DECIMAL(18,2)))) AS DOUBLE) AS sum_charge,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS avg_qty,
        |  count(*) AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '1998-09-02'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,

    "q02_top_revenue" ->
      """SELECT c_mktsegment,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
        |  count(DISTINCT o_orderkey) AS n_orders
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_mktsegment
        |ORDER BY c_mktsegment""".stripMargin,

    "fn_any_value" ->
      """SELECT c_mktsegment, min(c_name) AS any_name
        |FROM customer GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,

    "fn_bool_or" ->
      """SELECT o_orderstatus, bool_or(o_totalprice > 300000) AS any_big
        |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,

    "fn_array_ops" ->
      """SELECT n_nationkey,
        |  array_to_string([n_name, CAST(n_nationkey AS VARCHAR)], ',') AS arr_construct,
        |  array_to_string([n_name, CAST(n_nationkey AS VARCHAR), 'tail'], ',') AS arr_append,
        |  array_to_string([n_name, CAST(n_nationkey AS VARCHAR), 'tail', 'x', 'y'], ',') AS arr_concat
        |FROM nation ORDER BY n_nationkey""".stripMargin,

    "fn_listagg" ->
      """SELECT n_regionkey,
        |  array_to_string(list(n_name ORDER BY n_name), ',') AS names_all,
        |  array_to_string(list_slice(list(n_name ORDER BY n_name), 1, 3), '|') AS names_top3
        |FROM nation GROUP BY n_regionkey ORDER BY n_regionkey""".stripMargin,

    "fn_dateadd" ->
      """SELECT o_orderkey,
        |  o_orderdate + INTERVAL 3 MONTH AS plus_3mo,
        |  o_orderdate + INTERVAL 7 DAY AS plus_7d,
        |  o_orderdate + INTERVAL 5 HOUR AS plus_5h,
        |  o_orderdate + INTERVAL 1 YEAR AS plus_1y
        |FROM orders ORDER BY o_orderkey""".stripMargin,

    "fn_datediff" ->
      """SELECT l_orderkey, l_linenumber,
        |  (year(l_shipdate) - year(o_orderdate)) AS dd_year,
        |  (year(l_shipdate) - year(o_orderdate))*4 + quarter(l_shipdate) - quarter(o_orderdate) AS dd_quarter,
        |  (year(l_shipdate) - year(o_orderdate))*12 + month(l_shipdate) - month(o_orderdate) AS dd_month,
        |  date_diff('day', CAST(o_orderdate AS DATE), CAST(l_shipdate AS DATE)) AS dd_day,
        |  CAST(trunc(date_diff('day', CAST(o_orderdate AS DATE), CAST(l_shipdate AS DATE)) / 7.0) AS INT)
        |    + CASE WHEN isodow(o_orderdate) <= isodow(l_shipdate)
        |           THEN CASE WHEN o_orderdate <= l_shipdate THEN 0 ELSE -1 END
        |           ELSE CASE WHEN o_orderdate <= l_shipdate THEN 1 ELSE 0 END END AS dd_week,
        |  CAST(trunc(date_diff('day', CAST(l_shipdate AS DATE), CAST(o_orderdate AS DATE)) / 7.0) AS INT)
        |    + CASE WHEN isodow(l_shipdate) <= isodow(o_orderdate)
        |           THEN CASE WHEN l_shipdate <= o_orderdate THEN 0 ELSE -1 END
        |           ELSE CASE WHEN l_shipdate <= o_orderdate THEN 1 ELSE 0 END END AS dd_week_rev,
        |  date_diff('day', CAST(o_orderdate AS DATE), CAST(l_shipdate AS DATE))*24
        |    + hour(l_shipdate) - hour(o_orderdate) AS dd_hour,
        |  (date_diff('day', CAST(o_orderdate AS DATE), CAST(l_shipdate AS DATE))*24
        |    + hour(l_shipdate) - hour(o_orderdate))*60
        |    + minute(l_shipdate) - minute(o_orderdate) AS dd_minute,
        |  ((date_diff('day', CAST(o_orderdate AS DATE), CAST(l_shipdate AS DATE))*24
        |    + hour(l_shipdate) - hour(o_orderdate))*60
        |    + minute(l_shipdate) - minute(o_orderdate))*60
        |    + CAST(second(l_shipdate) AS BIGINT) - CAST(second(o_orderdate) AS BIGINT) AS dd_second,
        |  epoch_ms(l_shipdate) - epoch_ms(o_orderdate) AS dd_ms
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,

    "fn_date_trunc" ->
      """SELECT o_orderkey,
        |  date_trunc('month', o_orderdate) AS tr_month,
        |  date_trunc('quarter', o_orderdate) AS tr_quarter,
        |  date_trunc('week', o_orderdate) AS tr_week,
        |  date_trunc('year', o_orderdate) AS tr_year
        |FROM orders ORDER BY o_orderkey""".stripMargin,

    "fn_date_spine" ->
      """SELECT CAST(g AS DATE) AS date_day
        |FROM generate_series(TIMESTAMP '1995-01-01', TIMESTAMP '1995-03-01', INTERVAL 1 DAY) t(g)
        |WHERE g < TIMESTAMP '1995-03-01' ORDER BY date_day""".stripMargin,

    "fn_date_spine_month" ->
      """SELECT CAST(g AS DATE) AS date_month
        |FROM generate_series(TIMESTAMP '1994-01-01', TIMESTAMP '1996-01-01', INTERVAL 1 MONTH) t(g)
        |WHERE g < TIMESTAMP '1996-01-01' ORDER BY date_month""".stripMargin,

    "fn_split_part" ->
      """SELECT o_orderkey,
        |  split_part(o_orderpriority, '-', 1) AS part_1,
        |  split_part(o_orderpriority, '-', 2) AS part_2,
        |  list_extract(string_split(o_orderpriority, '-'), len(string_split(o_orderpriority, '-'))) AS part_neg1
        |FROM orders ORDER BY o_orderkey""".stripMargin,

    "fn_right" ->
      """SELECT p_partkey,
        |  CASE WHEN p_size % 4 = 0 THEN '' ELSE right(p_name, p_size % 4) END AS right_var,
        |  '' AS right_zero
        |FROM part ORDER BY p_partkey""".stripMargin,

    "fn_hash" ->
      """SELECT c_custkey, md5(CAST(c_name AS VARCHAR)) AS h
        |FROM customer ORDER BY c_custkey""".stripMargin,

    "fn_snapshot_hash" ->
      """SELECT o_orderkey,
        |  md5(coalesce(CAST(o_orderkey AS VARCHAR), '') || '|' ||
        |      coalesce(o_orderstatus, '') || '|' ||
        |      coalesce(o_orderpriority, '')) AS scd_id
        |FROM orders ORDER BY o_orderkey""".stripMargin,

    "fn_safe_cast" ->
      """SELECT o_orderkey,
        |  TRY_CAST(o_orderpriority AS INT) AS bad_cast,
        |  TRY_CAST(split_part(o_orderpriority, '-', 1) AS INT) AS good_cast
        |FROM orders ORDER BY o_orderkey""".stripMargin,

    "fn_timestamp_add" ->
      """SELECT o_orderkey, o_orderdate + INTERVAL 45 MINUTE AS plus_45min
        |FROM orders ORDER BY o_orderkey""".stripMargin,

    "fn_current_timestamp" ->
      "SELECT current_timestamp IS NOT NULL AS ok, current_date IS NOT NULL AS today_ok",

    "q03_window" ->
      """SELECT o_orderkey, o_custkey,
        |  row_number() OVER w AS rn,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) OVER w AS DOUBLE) AS running_total,
        |  lag(o_orderkey, 1) OVER w AS prev_order
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
        |ORDER BY o_custkey, rn""".stripMargin,

    "q04_rollup" ->
      """SELECT o_orderstatus, o_orderpriority,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS qty,
        |  count(*) AS n
        |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
        |ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""".stripMargin,

    "q05_setops" ->
      """WITH big AS (SELECT o_custkey FROM orders WHERE o_totalprice > 200000),
        |     urgent AS (SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT')
        |SELECT o_custkey, 'both' AS src
        |FROM (SELECT * FROM big INTERSECT SELECT * FROM urgent)
        |UNION ALL
        |SELECT o_custkey, 'big_only' AS src
        |FROM (SELECT * FROM big EXCEPT SELECT * FROM urgent)
        |ORDER BY src, o_custkey""".stripMargin,

    "q06_semi_anti" ->
      """SELECT c_custkey,
        |  c_custkey IN (SELECT o_custkey FROM orders) AS has_orders
        |FROM customer ORDER BY c_custkey""".stripMargin,

    "q07_topk" ->
      """SELECT o_custkey, CAST(revenue AS DOUBLE) AS revenue
        |FROM (SELECT o_custkey,
        |        CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DECIMAL(28,4)) AS revenue
        |      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |      GROUP BY o_custkey)
        |ORDER BY revenue DESC, o_custkey LIMIT 10""".stripMargin,

    "q08_corr_subquery" ->
      """SELECT o_custkey, count(*) AS n_above
        |FROM orders o
        |JOIN (SELECT o_custkey,
        |        sum(CAST(o_totalprice AS DECIMAL(18,2))) AS sum_price,
        |        count(*) AS n_orders
        |      FROM orders GROUP BY o_custkey) a USING (o_custkey)
        |WHERE CAST(o.o_totalprice AS DECIMAL(18,2)) * a.n_orders > a.sum_price
        |GROUP BY o_custkey ORDER BY o_custkey""".stripMargin,

    "q09_cube" ->
      """SELECT o_orderstatus, o_orderpriority, count(*) AS n,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM orders
        |GROUP BY CUBE (o_orderstatus, o_orderpriority)
        |ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""".stripMargin,

    // The HLL++ estimate itself is not oracle-comparable (DuckDB's
    // sketch differs); the compared row is the gate: exact distinct
    // count plus a pinned-true within-10% boolean (sim_ivf_topk pattern).
    "q11_approx_distinct" ->
      """SELECT o_orderstatus, count(DISTINCT o_custkey) AS exact_cust,
        |  true AS within_10pct
        |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,

    "q12_percentile" ->
      """SELECT l_returnflag,
        |  round(quantile_cont(l_quantity, 0.5), 6) AS p50_qty,
        |  round(quantile_cont(l_quantity, 0.95), 6) AS p95_qty,
        |  round(quantile_cont(CAST(l_extendedprice AS DOUBLE), 0.9), 6) AS p90_price
        |FROM lineitem GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin,

    "q13_grouping_sets" ->
      """SELECT o_orderstatus, o_orderpriority,
        |  CAST(grouping(o_orderstatus) AS INTEGER) AS g_status,
        |  CAST(grouping(o_orderpriority) AS INTEGER) AS g_prio,
        |  count(*) AS n
        |FROM orders
        |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority),
        |  (o_orderstatus, o_orderpriority))
        |ORDER BY g_status, g_prio,
        |  o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""".stripMargin,

    "q14_pivot" ->
      """SELECT o_orderpriority,
        |  count(*) FILTER (WHERE o_orderstatus = 'F') AS F,
        |  count(*) FILTER (WHERE o_orderstatus = 'O') AS O,
        |  count(*) FILTER (WHERE o_orderstatus = 'P') AS P
        |FROM orders GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin,

    "q15_unpivot" ->
      """WITH wide AS (SELECT o_orderstatus,
        |  CAST(count(*) AS DOUBLE) AS n_orders,
        |  round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 2) AS total_price,
        |  round(CAST(avg(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 2) AS avg_price
        |FROM orders GROUP BY o_orderstatus)
        |SELECT o_orderstatus, metric, value FROM (
        |  SELECT o_orderstatus, 'n_orders' AS metric, n_orders AS value FROM wide
        |  UNION ALL SELECT o_orderstatus, 'total_price', total_price FROM wide
        |  UNION ALL SELECT o_orderstatus, 'avg_price', avg_price FROM wide)
        |ORDER BY o_orderstatus, metric""".stripMargin,

    "q10_sql" ->
      """WITH big AS (
        |  SELECT o_custkey, count(*) AS n
        |  FROM orders WHERE o_totalprice > 100000
        |  GROUP BY o_custkey)
        |SELECT c_custkey, c_mktsegment
        |FROM customer
        |WHERE EXISTS (SELECT 1 FROM big
        |              WHERE big.o_custkey = customer.c_custkey AND big.n >= 2)
        |ORDER BY c_custkey""".stripMargin,

    "op_asof_join" ->
      """WITH l AS (SELECT event_id, user_id, ts FROM events WHERE event_id % 2 = 1),
        |r AS (SELECT user_id, ts,
        |        CAST(max(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS rv
        |      FROM events WHERE event_id % 2 = 0 GROUP BY user_id, ts)
        |SELECT l.event_id, l.user_id, l.ts, r.rv AS r_rv
        |FROM l ASOF LEFT JOIN r ON l.user_id = r.user_id AND r.ts <= l.ts
        |ORDER BY event_id""".stripMargin,

    // the bucketed path must be invisible in the results
    "op_bucketed_join" ->
      """SELECT o_orderstatus, count(*) AS n_items,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,

    // the sketch may only prune, never decide: exact GROUP BY/HAVING
    "op_heavy_hitters" ->
      """SELECT user_id, count(*) AS cnt FROM events
        |GROUP BY user_id
        |HAVING count(*) > 0.0075 * (SELECT count(*) FROM events)
        |ORDER BY user_id""".stripMargin,

    // the salted join must be indistinguishable from the plain join
    "op_salted_join" ->
      """SELECT s_nationkey, count(*) AS n_items,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
        |GROUP BY s_nationkey ORDER BY s_nationkey""".stripMargin,

    // the broadcast as-of must be indistinguishable from the window
    // as-of — same oracle, verbatim
    "op_asof_broadcast" ->
      """WITH l AS (SELECT event_id, user_id, ts FROM events WHERE event_id % 2 = 1),
        |r AS (SELECT user_id, ts,
        |        CAST(max(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS rv
        |      FROM events WHERE event_id % 2 = 0 GROUP BY user_id, ts)
        |SELECT l.event_id, l.user_id, l.ts, r.rv AS r_rv
        |FROM l ASOF LEFT JOIN r ON l.user_id = r.user_id AND r.ts <= l.ts
        |ORDER BY event_id""".stripMargin,

    // the oracle states the range join as the plain BETWEEN join the
    // binning rewrite must be equivalent to
    "op_range_join" ->
      """WITH p AS (SELECT o_orderkey AS promo_id,
        |        CAST(epoch(o_orderdate) AS BIGINT) AS lo,
        |        CAST(epoch(o_orderdate) AS BIGINT)
        |          + (o_orderkey % 30 + 1) * 86400 AS hi
        |      FROM orders WHERE o_orderkey % 97 = 0)
        |SELECT promo_id, count(*) AS n_items,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem JOIN p
        |  ON CAST(epoch(l_shipdate) AS BIGINT) BETWEEN p.lo AND p.hi
        |GROUP BY promo_id ORDER BY promo_id""".stripMargin,

    "op_interval_overlap" ->
      """WITH a AS (SELECT o_orderkey AS a_id,
        |        CAST(epoch(o_orderdate) AS BIGINT) AS a_lo,
        |        CAST(epoch(o_orderdate) AS BIGINT)
        |          + (o_orderkey % 30 + 1) * 86400 AS a_hi
        |      FROM orders WHERE o_orderkey % 97 = 0),
        |b AS (SELECT o_orderkey AS b_id,
        |        CAST(epoch(o_orderdate) AS BIGINT) AS b_lo,
        |        CAST(epoch(o_orderdate) AS BIGINT)
        |          + (o_orderkey % 23 + 1) * 86400 AS b_hi
        |      FROM orders WHERE o_orderkey % 101 = 0)
        |SELECT a_id, b_id FROM a JOIN b
        |  ON a_lo <= b_hi AND b_lo <= a_hi
        |ORDER BY a_id, b_id""".stripMargin,

    // ASOF finds the latest at-or-before row; the tolerance mask then
    // expires it — the identical two-step the Spark operator runs
    "op_asof_tolerance" ->
      """WITH l AS (SELECT event_id, user_id, ts FROM events WHERE event_id % 2 = 1),
        |r AS (SELECT user_id, ts,
        |        CAST(max(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS rv
        |      FROM events WHERE event_id % 2 = 0 GROUP BY user_id, ts)
        |SELECT l.event_id, l.user_id, l.ts,
        |  CASE WHEN r.ts >= l.ts - INTERVAL 30 MINUTE THEN r.rv END AS r_rv
        |FROM l ASOF LEFT JOIN r ON l.user_id = r.user_id AND r.ts <= l.ts
        |ORDER BY event_id""".stripMargin,

    // DuckDB ASOF is backward-only; forward/nearest are emulated with
    // LATERAL first-match subqueries (independent computation path)
    "op_asof_forward" ->
      """WITH l AS (SELECT event_id, user_id, ts FROM events WHERE event_id % 2 = 1),
        |r AS (SELECT user_id, ts,
        |        CAST(max(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS rv
        |      FROM events WHERE event_id % 2 = 0 GROUP BY user_id, ts)
        |SELECT l.event_id, l.user_id, l.ts, f.rv AS r_rv
        |FROM l LEFT JOIN LATERAL (
        |  SELECT r.rv FROM r WHERE r.user_id = l.user_id AND r.ts >= l.ts
        |    AND r.ts <= l.ts + INTERVAL 30 MINUTE
        |  ORDER BY r.ts LIMIT 1) f ON true
        |ORDER BY event_id""".stripMargin,

    "op_asof_nearest" ->
      """WITH l AS (SELECT event_id, user_id, ts FROM events WHERE event_id % 2 = 1),
        |r AS (SELECT user_id, ts,
        |        CAST(max(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS rv
        |      FROM events WHERE event_id % 2 = 0 GROUP BY user_id, ts)
        |SELECT l.event_id, l.user_id, l.ts,
        |  CASE WHEN b.ts IS NOT NULL AND f.ts IS NOT NULL THEN
        |         CASE WHEN l.ts - b.ts <= f.ts - l.ts THEN b.rv ELSE f.rv END
        |       WHEN b.ts IS NOT NULL THEN b.rv ELSE f.rv END AS r_rv
        |FROM l
        |LEFT JOIN LATERAL (
        |  SELECT r.ts, r.rv FROM r WHERE r.user_id = l.user_id
        |    AND r.ts <= l.ts AND r.ts >= l.ts - INTERVAL 30 MINUTE
        |  ORDER BY r.ts DESC LIMIT 1) b ON true
        |LEFT JOIN LATERAL (
        |  SELECT r.ts, r.rv FROM r WHERE r.user_id = l.user_id
        |    AND r.ts >= l.ts AND r.ts <= l.ts + INTERVAL 30 MINUTE
        |  ORDER BY r.ts LIMIT 1) f ON true
        |ORDER BY event_id""".stripMargin,

    "inc_append" ->
      s"""$incFixtureSql
        |SELECT * FROM target UNION ALL SELECT * FROM staged
        |ORDER BY o_orderkey, src""".stripMargin,

    "inc_delete_insert" ->
      s"""$incFixtureSql
        |SELECT * FROM target WHERE o_orderkey NOT IN (SELECT o_orderkey FROM staged)
        |UNION ALL SELECT * FROM staged
        |ORDER BY o_orderkey, src""".stripMargin,

    "inc_merge" ->
      s"""$incFixtureSql
        |SELECT coalesce(t.o_orderkey, s.o_orderkey) AS o_orderkey,
        |  CASE WHEN s.o_orderkey IS NOT NULL THEN s.price ELSE t.price END AS price,
        |  CASE WHEN s.o_orderkey IS NOT NULL THEN s.src ELSE t.src END AS src
        |FROM target t FULL OUTER JOIN staged s ON t.o_orderkey = s.o_orderkey
        |ORDER BY o_orderkey, src""".stripMargin,

    "inc_merge_subset" ->
      s"""$incFixtureSql
        |SELECT coalesce(t.o_orderkey, s.o_orderkey) AS o_orderkey,
        |  CASE WHEN t.o_orderkey IS NOT NULL THEN t.price ELSE s.price END AS price,
        |  CASE WHEN s.o_orderkey IS NOT NULL THEN s.src ELSE t.src END AS src
        |FROM target t FULL OUTER JOIN staged s ON t.o_orderkey = s.o_orderkey
        |ORDER BY o_orderkey, src""".stripMargin,

    "snapshot_scd2" ->
      """WITH o AS (SELECT o_orderkey AS id, o_orderstatus AS v,
        |                  CAST(o_orderdate AS TIMESTAMP) AS ua FROM orders)
        |SELECT id, v, ua AS dbt_valid_from, CAST(NULL AS TIMESTAMP) AS dbt_valid_to
        |FROM o WHERE id % 10 BETWEEN 2 AND 4
        |UNION ALL
        |SELECT id, v, ua, ua + INTERVAL 10 DAY FROM o WHERE id % 10 < 2
        |UNION ALL
        |SELECT id, 'XX', ua + INTERVAL 10 DAY, CAST(NULL AS TIMESTAMP)
        |FROM o WHERE id % 10 < 2
        |UNION ALL
        |SELECT id, v, ua, CAST(NULL AS TIMESTAMP) FROM o WHERE id % 10 >= 5
        |ORDER BY id, dbt_valid_from""".stripMargin,

    "inc_merge_predicates" ->
      s"""$incFixtureSql
        |SELECT coalesce(t.o_orderkey, s.o_orderkey) AS o_orderkey,
        |  CASE WHEN s.o_orderkey IS NOT NULL THEN s.price ELSE t.price END AS price,
        |  CASE WHEN s.o_orderkey IS NOT NULL THEN s.src ELSE t.src END AS src
        |FROM target t FULL OUTER JOIN staged s
        |  ON t.o_orderkey = s.o_orderkey AND t.price < 200000
        |ORDER BY o_orderkey, src""".stripMargin,

    // same fixture and SCD2 semantics as snapshot_scd2 — the bucketed
    // MATERIALIZATION must not change the answer, only the write cost
    "mat_snapshot_bucketed" ->
      """WITH o AS (SELECT o_orderkey AS id, o_orderstatus AS v,
        |                  CAST(o_orderdate AS TIMESTAMP) AS ua FROM orders)
        |SELECT id, v, ua AS dbt_valid_from, CAST(NULL AS TIMESTAMP) AS dbt_valid_to
        |FROM o WHERE id % 10 BETWEEN 2 AND 4
        |UNION ALL
        |SELECT id, v, ua, ua + INTERVAL 10 DAY FROM o WHERE id % 10 < 2
        |UNION ALL
        |SELECT id, 'XX', ua + INTERVAL 10 DAY, CAST(NULL AS TIMESTAMP)
        |FROM o WHERE id % 10 < 2
        |UNION ALL
        |SELECT id, v, ua, CAST(NULL AS TIMESTAMP) FROM o WHERE id % 10 >= 5
        |ORDER BY id, dbt_valid_from""".stripMargin,

    "snapshot_hard_delete" ->
      """WITH o AS (SELECT o_orderkey AS id, o_orderstatus AS v,
        |                  CAST(o_orderdate AS TIMESTAMP) AS ua FROM orders)
        |SELECT id, v, ua AS dbt_valid_from,
        |  CASE WHEN id % 5 = 0 THEN TIMESTAMP '2021-06-01 00:00:00'
        |       ELSE CAST(NULL AS TIMESTAMP) END AS dbt_valid_to
        |FROM o ORDER BY id""".stripMargin,

    "snapshot_scd2_checkcols" ->
      """WITH o AS (SELECT o_orderkey AS id, o_orderstatus AS v,
        |                  o_orderpriority AS w FROM orders),
        |t AS (SELECT TIMESTAMP '2020-01-01 00:00:00' AS t0,
        |             TIMESTAMP '2020-02-01 00:00:00' AS t1)
        |SELECT id, v, w, t0 AS dbt_valid_from, t1 AS dbt_valid_to
        |FROM o, t WHERE id % 10 < 2
        |UNION ALL
        |SELECT id, 'XX', w, t1, CAST(NULL AS TIMESTAMP) FROM o, t WHERE id % 10 < 2
        |UNION ALL
        |SELECT id, v, w, t0, t1 FROM o, t WHERE id % 10 = 2
        |UNION ALL
        |SELECT id, v, 'ZZ', t1, CAST(NULL AS TIMESTAMP) FROM o, t WHERE id % 10 = 2
        |UNION ALL
        |SELECT id, v, w, t0, CAST(NULL AS TIMESTAMP) FROM o, t WHERE id % 10 IN (3, 4)
        |UNION ALL
        |SELECT id, v, w, t1, CAST(NULL AS TIMESTAMP) FROM o, t WHERE id % 10 >= 5
        |ORDER BY id, dbt_valid_from""".stripMargin,

    // ---- materialization / DDL / catalog twins. DuckDB states the
    // EXPECTED CONTENT after the state machine ran (create/swap/refresh/
    // seed are exercised on the Spark side; the oracle pins the result). ----
    "mat_table_swap" ->
      """SELECT n_nationkey, n_name, 'v2' AS ver
        |FROM nation ORDER BY n_nationkey""".stripMargin,

    "mat_table_drop" ->
      """SELECT n_nationkey, n_name, 'v2' AS ver
        |FROM nation ORDER BY n_nationkey""".stripMargin,

    "mat_view" ->
      """SELECT r_regionkey, upper(r_name) AS r_name_up
        |FROM region ORDER BY r_regionkey""".stripMargin,

    "mat_mv_refresh" ->
      """SELECT n_regionkey, count(*) AS n
        |FROM nation GROUP BY n_regionkey ORDER BY n_regionkey""".stripMargin,

    // dur compares as BIGINT micros: Spark writes DayTimeIntervalType
    // as INT64 microseconds in parquet, which is how DuckDB reads the
    // verify dump back
    // bin compares as hex VARCHAR (hex(unhex(..)) keeps the BLOB round-trip
    // in the oracle): the verify driver's pandas compare cannot hash raw
    // bytearray values
    "mat_seed_types" ->
      """SELECT * FROM (VALUES
        |  (CAST(1 AS BIGINT), CAST(1.5 AS DOUBLE), DATE '1995-01-01',
        |   TIMESTAMP '1995-01-01 12:00:00', 'alpha',
        |   CAST(86400000000 AS BIGINT), hex(unhex('65683F')), '{"k":1}'),
        |  (2, 2.0, DATE '1996-02-02', TIMESTAMP '1996-02-02 13:30:00', 'beta',
        |   129600000000, hex(unhex('4F4B')), '{"a":[1,2]}'),
        |  (3, NULL, DATE '1997-03-03', NULL, 'gamma', NULL, NULL, NULL))
        |  t(id, price, born, seen, label, dur, bin_hex, meta)
        |ORDER BY id""".stripMargin,

    "mat_incremental_driver" ->
      s"""$incFixtureSql
        |SELECT coalesce(t.o_orderkey, s.o_orderkey) AS o_orderkey,
        |  CASE WHEN s.o_orderkey IS NOT NULL THEN s.price ELSE t.price END AS price,
        |  CASE WHEN s.o_orderkey IS NOT NULL THEN s.src ELSE t.src END AS src
        |FROM target t FULL OUTER JOIN staged s ON t.o_orderkey = s.o_orderkey
        |ORDER BY o_orderkey, src""".stripMargin,

    "mat_upsert_batches" ->
      """WITH b1 AS (SELECT doc_id AS k, text AS v, 1::BIGINT AS ord
        |  FROM documents),
        |b2 AS (
        |  SELECT doc_id AS k, text || ' v2' AS v, 2::BIGINT AS ord
        |    FROM documents WHERE doc_id % 3 = 0
        |  UNION ALL SELECT doc_id, text || ' v3', 3::BIGINT
        |    FROM documents WHERE doc_id % 3 = 0
        |  UNION ALL SELECT doc_id + 10000, text, 2::BIGINT
        |    FROM documents WHERE doc_id % 7 = 0),
        |c2 AS (SELECT k, v, ord FROM (
        |  SELECT *, row_number() OVER (PARTITION BY k ORDER BY ord DESC)
        |    AS rn FROM b2) WHERE rn = 1)
        |SELECT coalesce(c2.k, b1.k) AS k,
        |  CASE WHEN c2.k IS NOT NULL THEN c2.v ELSE b1.v END AS v,
        |  CASE WHEN c2.k IS NOT NULL THEN c2.ord ELSE b1.ord END AS ord
        |FROM b1 FULL OUTER JOIN c2 ON b1.k = c2.k
        |ORDER BY k""".stripMargin,

    "mat_upsert_partitioned" ->
      """WITH b1 AS (SELECT doc_id AS k, text AS v, 1::BIGINT AS ord,
        |    doc_id % 5 AS p
        |  FROM documents),
        |b2 AS (
        |  SELECT doc_id AS k, text || ' v2' AS v, 2::BIGINT AS ord,
        |      doc_id % 5 AS p
        |    FROM documents WHERE doc_id % 3 = 0
        |  UNION ALL SELECT doc_id, text || ' v3', 3::BIGINT, doc_id % 5
        |    FROM documents WHERE doc_id % 3 = 0
        |  UNION ALL SELECT doc_id + 10000, text, 2::BIGINT,
        |      (doc_id + 10000) % 5
        |    FROM documents WHERE doc_id % 7 = 0),
        |c2 AS (SELECT k, v, ord, p FROM (
        |  SELECT *, row_number() OVER (PARTITION BY k ORDER BY ord DESC)
        |    AS rn FROM b2) WHERE rn = 1)
        |SELECT coalesce(c2.k, b1.k) AS k,
        |  CASE WHEN c2.k IS NOT NULL THEN c2.v ELSE b1.v END AS v,
        |  CASE WHEN c2.k IS NOT NULL THEN c2.ord ELSE b1.ord END AS ord,
        |  CASE WHEN c2.k IS NOT NULL THEN c2.p ELSE b1.p END AS p
        |FROM b1 FULL OUTER JOIN c2 ON b1.k = c2.k
        |ORDER BY k""".stripMargin,

    "mat_incremental_partitioned" ->
      s"""$incFixtureSql
        |SELECT coalesce(t.o_orderkey, s.o_orderkey) AS o_orderkey,
        |  CASE WHEN s.o_orderkey IS NOT NULL THEN s.price ELSE t.price END AS price,
        |  CASE WHEN s.o_orderkey IS NOT NULL THEN s.src ELSE t.src END AS src,
        |  coalesce(t.o_orderkey, s.o_orderkey) % 2 AS p
        |FROM target t FULL OUTER JOIN staged s ON t.o_orderkey = s.o_orderkey
        |ORDER BY o_orderkey, src""".stripMargin,

    "mat_verify_partitions" ->
      """SELECT o_custkey,
        |  count(DISTINCT o_orderstatus) AS n_partitions
        |FROM orders WHERE o_custkey IS NOT NULL
        |GROUP BY o_custkey HAVING count(DISTINCT o_orderstatus) > 1
        |ORDER BY o_custkey""".stripMargin,

    // columnwise delete semantics with keys (p, o_orderkey): a target
    // row deletes iff p ∈ staged ps AND o_orderkey ∈ staged keys
    "mat_di_scoped" ->
      s"""$incFixtureSql
        |SELECT o_orderkey, price, src, o_orderkey % 2 AS p FROM target
        |WHERE NOT (o_orderkey % 2 IN (SELECT o_orderkey % 2 FROM staged)
        |  AND o_orderkey IN (SELECT o_orderkey FROM staged))
        |UNION ALL
        |SELECT o_orderkey, price, src, o_orderkey % 2 AS p FROM staged
        |ORDER BY o_orderkey, src""".stripMargin,

    "se_append_new_cols" ->
      """SELECT o_orderkey,
        |  CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 2 AS DOUBLE) AS price,
        |  o_orderstatus AS status
        |FROM orders ORDER BY o_orderkey""".stripMargin,

    "se_ignore_missing" ->
      """SELECT o_orderkey,
        |  CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 2 AS DOUBLE) AS price,
        |  CAST(NULL AS VARCHAR) AS status
        |FROM orders ORDER BY o_orderkey""".stripMargin,

    "se_expand_types" ->
      """SELECT o_orderkey,
        |  CAST(CAST(CAST(o_totalprice AS DECIMAL(12,2)) AS DECIMAL(18,6)) AS DOUBLE) AS price_wide
        |FROM orders ORDER BY o_orderkey""".stripMargin,

    "ddl_alter_columns" ->
      """SELECT CAST(o_orderkey AS VARCHAR) AS o_orderkey,
        |  o_orderpriority, CAST(NULL AS BOOLEAN) AS flag
        |FROM orders ORDER BY o_orderkey""".stripMargin,

    "cat_catalog" ->
      """SELECT * FROM (VALUES
        |  ('spark_catalog', 'graft_cat', 't1', 'table', 'r_regionkey', 1, 'integer'),
        |  ('spark_catalog', 'graft_cat', 't1', 'table', 'r_name', 2, 'varchar'),
        |  ('spark_catalog', 'graft_cat', 'v1', 'view', 'r_regionkey', 1, 'integer'))
        |  t(table_database, table_schema, table_name, table_type,
        |    column_name, column_index, column_type)
        |ORDER BY table_schema, table_name, column_index""".stripMargin,

    "cat_catalog_relations" ->
      """SELECT * FROM (VALUES
        |  ('spark_catalog', 'graft_cat2', 't2', 'table', 'r_regionkey', 1, 'integer'),
        |  ('spark_catalog', 'graft_cat2', 't2', 'table', 'r_name', 2, 'varchar'))
        |  t(table_database, table_schema, table_name, table_type,
        |    column_name, column_index, column_type)
        |ORDER BY table_schema, table_name, column_index""".stripMargin,

    "cat_comments" ->
      """SELECT * FROM (VALUES
        |  ('__table__', 'demo table'), ('r_regionkey', 'pk'))
        |  t(item, comment)
        |ORDER BY item""".stripMargin,

    "mat_contract" ->
      """SELECT r_regionkey, r_name, true AS mismatch_rejected
        |FROM region ORDER BY r_regionkey""".stripMargin,

    "cat_schemas" ->
      """SELECT 'graft_sch_a' AS schema_name, true AS still_exists""",

    "cat_grants" ->
      """SELECT * FROM (VALUES
        |  ('select', 'alice'), ('select', 'carol'))
        |  t(privilege, grantee)
        |ORDER BY privilege, grantee""".stripMargin,

    // audit counts are real data the oracle recomputes from nation;
    // the grant/doc rows pin the state-machine end state (the grants
    // diff logic itself is unit-tested in MaterializerSpec)
    "mat_hooks" ->
      """WITH audit AS (
        |  SELECT 'pre1' AS tag, count(*) AS val FROM nation
        |  UNION ALL SELECT 'post1', count(*) FROM nation
        |  UNION ALL SELECT 'pre2', count(*) FROM nation
        |  UNION ALL SELECT 'post2', count(*) FROM nation
        |  UNION ALL SELECT * FROM (VALUES
        |    ('grant:select:alice', CAST(0 AS BIGINT)),
        |    ('grant:select:dave', 0),
        |    ('doc:hooked model', 0)) g(tag, val))
        |SELECT tag, val FROM audit ORDER BY tag, val""".stripMargin,

    "src_csv_roundtrip" ->
      """SELECT o_orderkey, o_orderstatus, o_totalprice, o_orderdate
        |FROM orders ORDER BY o_orderkey""".stripMargin,

    "src_json_roundtrip" ->
      """SELECT o_orderkey, o_orderstatus, o_totalprice, o_orderdate
        |FROM orders ORDER BY o_orderkey""".stripMargin,

    "src_orc_roundtrip" ->
      """SELECT o_orderkey, o_orderstatus, o_totalprice, o_orderdate
        |FROM orders ORDER BY o_orderkey""".stripMargin,

    "mat_mv_config" ->
      """SELECT n_regionkey, count(*) AS n,
        |  'create,refresh,full_refresh' AS actions,
        |  'format=PARQUET,retention=30d' AS props,
        |  true AS xsession_ok
        |FROM nation GROUP BY n_regionkey ORDER BY n_regionkey""".stripMargin,
  ) ++ llmOracles

  // ------------------------------------------------------------------
  // DuckDB oracle helpers for the LLM-pipeline ops. All hashing is pure
  // md5/integer arithmetic so the SQL reproduces the Spark expressions
  // bit-for-bit; the long signature SQL is generated programmatically.
  // ------------------------------------------------------------------

  /** Rolling polynomial hash (TextAnalysis.fingerprint/tokenHash) over an
    * expression's characters, in DuckDB list-lambda SQL. */
  private def rollSql(e: String): String =
    s"list_reduce(list_prepend(0::BIGINT, list_transform(" +
      s"list_filter(string_split($e, ''), c -> c != ''), " +
      s"c -> ascii(c)::BIGINT)), (a, x) -> (a*31 + x) % 2147483647)"

  /** Whitespace tokens, empties dropped. */
  private def toksSql(e: String): String =
    s"list_filter(string_split_regex($e, '\\s+'), x -> x != '')"

  /** floor(log2(x)) of a positive integer expression as a comparison
    * ladder — the bit-exact twin of Dedup.floorLog2 (a float log2's
    * last ulp at power-of-two boundaries would flip the floor). */
  private def floorLog2Sql(e: String): String =
    (1 to 62).map(k => s"CAST($e >= ${1L << k} AS BIGINT)")
      .mkString("(", " + ", ")")

  /** Word-3-gram shingle list (Dedup.shingles). */
  private val shingleSql =
    """CASE WHEN len(ws) >= 3
      |  THEN list_transform(range(len(ws)-2), i -> ws[i+1]||' '||ws[i+2]||' '||ws[i+3])
      |  ELSE [array_to_string(ws, ' ')] END""".stripMargin

  /** Shared by dd_decontaminate and dd_decontaminate_set — the two
    * forms (broadcast join vs native sorted-set scalar) implement one
    * contract. */
  private lazy val decontaminateOracle: String =
    s"""WITH bw AS (SELECT ${toksSql("lower(text)")} AS ws FROM documents
      |  WHERE doc_id % 20 = 0),
      |bs0 AS (SELECT unnest($shingleSql) AS sgl FROM bw),
      |bs AS (SELECT DISTINCT ${rollSql("sgl")} AS sh FROM bs0),
      |dw AS (SELECT doc_id, ${toksSql("lower(text)")} AS ws FROM documents),
      |ds0 AS (SELECT doc_id, unnest($shingleSql) AS sgl FROM dw),
      |ds AS (SELECT DISTINCT doc_id, ${rollSql("sgl")} AS sh FROM ds0),
      |m AS (SELECT doc_id, count(*) AS n FROM ds JOIN bs USING (sh)
      |  GROUP BY doc_id)
      |SELECT d.doc_id AS doc,
      |  coalesce(m.n, 0)::BIGINT AS n_contaminated,
      |  coalesce(m.n, 0) >= 1 AS contaminated
      |FROM documents d LEFT JOIN m USING (doc_id)
      |ORDER BY doc""".stripMargin

  /** Fixed merge list + vocabulary for the `ta_bpe_encode` row: a
    * static oracle cannot replay data-dependent merges (the
    * `ta_bpe_pairs` rationale), so encode is compared under a
    * hand-chosen English-ish merge list over base alphabet [0-9a-z]
    * (ids 0-35; merge products 36+; anything else → -1 UNK). */
  private val bpeEncMerges: Seq[(String, String)] = Seq(
    "t" -> "h", "th" -> "e", "a" -> "n", "i" -> "n",
    "e" -> "r", "o" -> "n", "r" -> "e", "a" -> "t")
  private val bpeEncVocab: Seq[String] = graft.llm.TextAnalysis.bpeVocab(
    (('a' to 'z') ++ ('0' to '9')).map(_.toString), bpeEncMerges)

  /** DuckDB replay of per-word BPE merge application: the word as
    * 2-space-separated codepoints with 1-space sentinels, then one
    * global regexp_replace per merge — RE2's leftmost non-overlapping
    * global replace IS BPE's left-to-right scan (each match consumes
    * one space from each flanking separator, so the 2-space invariant
    * and adjacent-match correctness both hold, including l==r runs). */
  private def bpeMergedSql(w: String): String =
    bpeEncMerges.foldLeft(
      s"' ' || array_to_string(regexp_extract_all($w, '.'), '  ') || ' '") {
      case (acc, (l, r)) =>
        s"regexp_replace($acc, ' $l  $r ', ' $l$r ', 'g')"
    }

  /** Shared CTE prefix of the gap-fill oracles: events<40 users bucketed
    * to 10-min ticks, per-tick latest pick, per-key first..last spine,
    * left-join back. The CAST on tick strips DuckDB to_timestamp's
    * TIMESTAMPTZ back to the plain TIMESTAMP Spark produces. */
  private val gapfillCtes: String =
    """WITH e AS (SELECT user_id, ts, event_id, value,
      |    CAST(to_timestamp(floor(epoch(ts) / 600) * 600) AS TIMESTAMP) AS tick
      |  FROM events WHERE user_id < 40),
      |p AS (SELECT user_id, tick, value,
      |    row_number() OVER (PARTITION BY user_id, tick
      |      ORDER BY ts DESC, event_id DESC) AS rn FROM e),
      |b AS (SELECT user_id, tick, value FROM p WHERE rn = 1),
      |r AS (SELECT user_id, min(tick) AS mn, max(tick) AS mx
      |  FROM b GROUP BY user_id),
      |s AS (SELECT user_id,
      |    unnest(generate_series(mn, mx, INTERVAL 600 SECONDS)) AS tick
      |  FROM r),
      |j AS (SELECT s.user_id, s.tick, b.value FROM s
      |  LEFT JOIN b ON b.user_id = s.user_id AND b.tick = s.tick)""".stripMargin

  /** Morton interleave of two integer expressions (Layout.zValue, c=2):
    * bit i of column j lands at position 2i + j — pure integer
    * arithmetic, bit-for-bit across engines. */
  private def zorderSql(c0: String, c1: String, bits: Int): String = {
    val terms = for { j <- 0 until 2; i <- 0 until bits } yield {
      val c = if (j == 0) c0 else c1
      s"((($c % ${1L << bits}) // ${1L << i}) % 2) * ${1L << (i * 2 + j)}"
    }
    terms.mkString("(", " + ", ")::BIGINT")
  }

  /** Double dot product of two list columns, element order, left fold. */
  private def dotSql(a: String, b: String): String =
    s"list_reduce(list_prepend(0.0::DOUBLE, list_transform(" +
      s"range(1, len($a)+1), i -> $a[i]::DOUBLE * $b[i]::DOUBLE)), " +
      s"(x, y) -> x + y)"

  private def cosSql(a: String, b: String): String =
    s"round(${dotSql(a, b)} / sqrt(${dotSql(a, a)} * ${dotSql(b, b)}), 6)"

  /** [[cosSql]] guarded against a zero norm (NULL instead of 0/0 —
    * mirrors rpTopK's pcos guard; both engines rank NULL last under
    * DESC, so degenerate projections never shortlist). */
  private def cosSqlGuarded(a: String, b: String): String =
    s"(CASE WHEN ${dotSql(a, a)} * ${dotSql(b, b)} > 0 " +
      s"THEN ${cosSql(a, b)} ELSE NULL END)"

  /** SQ8 quantization twin of Similarity.sq8Quantize — clamp(floor(
    * x·127 + 0.5), ±127) per component, exact in IEEE doubles. */
  private def sq8Sql(v: String): String =
    s"list_transform($v, x -> CAST(greatest(-127.0, least(127.0, " +
      s"floor(x::DOUBLE * 127.0 + 0.5))) AS BIGINT))"

  /** Exact integer dot over BIGINT lists. */
  private def idotSql(a: String, b: String): String =
    s"list_reduce(list_prepend(0::BIGINT, list_transform(" +
      s"range(1, len($a)+1), i -> $a[i] * $b[i])), (x, y) -> x + y)"

  /** Quantized cosine: one double expression over the exact BIGINT
    * dots — the Similarity.sq8Cosine twin. */
  private def sq8CosSql(a: String, b: String): String =
    s"round(${idotSql(a, b)}::DOUBLE / sqrt(${idotSql(a, a)}::DOUBLE * " +
      s"${idotSql(b, b)}::DOUBLE), 6)"

  /** 16 minhash aggregate exprs over a shingle-hash column `h`: integer
    * mixes (a_i·h + b_i) mod p of ONE rolling hash per shingle — the
    * constants come from Dedup.mixA/mixB so Spark and oracle share them. */
  private val minhashAggSqls: Seq[String] = (0 until 16).map(i =>
    s"min((h * ${Dedup.mixA(i)} + ${Dedup.mixB(i)}) % ${Dedup.MinhashPrime}) AS mh$i")

  /** Band keys from the mh0..mh15 aggregate columns, 4 bands of 4
    * (mirrors Dedup.minhashCandidates' band construction). */
  private val bandListSql: String = {
    val bands = (0 until 4).map { b =>
      val parts = (0 until 4).map(r => s"CAST(mh${b * 4 + r} AS VARCHAR)")
        .mkString(" || '|' || ")
      s"'$b:' || md5($parts)"
    }
    bands.mkString("[", ", ", "]")
  }

  /** Per-band remixes of the token-hash column `h` (constants shared with
    * Dedup.simhashMixA/B — the 31-bit rolling hash supplies 15 bits per
    * band through an independent integer mix). */
  private val simhashMixSqls: Seq[String] =
    (0 until Dedup.SimHashBands).map(b =>
      s"(h * ${Dedup.simhashMixA(b)} + ${Dedup.simhashMixB(b)}) % ${Dedup.MinhashPrime} AS m$b")

  /** Per-bit simhash sum exprs over the mix columns m0..m3 (60 bits). */
  private val simhashSumSqls: Seq[String] =
    (0 until Dedup.SimHashBits).map { j =>
      val (b, r) = (j / Dedup.SimHashBandBits, j % Dedup.SimHashBandBits)
      s"sum(((m$b // ${1L << r}) % 2)*2 - 1) AS v$j"
    }
  private val simhashCombineSql: String = (0 until Dedup.SimHashBits).map(j =>
    s"(CASE WHEN v$j > 0 THEN ${1L << j} ELSE 0 END)").mkString(" + ")

  /** The 4 disjoint 15-bit band keys of a `simhash` column (mirrors
    * Dedup.simhashPairs' banding). */
  private val simhashBandsSql: String = {
    val bits = Dedup.SimHashBits / Dedup.SimHashBands
    (0 until Dedup.SimHashBands).map { b =>
      s"'$b:' || CAST((simhash // ${1L << (b * bits)}) % ${1L << bits} AS VARCHAR)"
    }.mkString("[", ", ", "]")
  }

  /** Precomputed LSH hyperplane literals from Similarity.planeMatrix —
    * the same matrix the Spark side embeds as typedLit arrays. */
  private def planeLiteral(p: Int): String =
    Similarity.planeMatrix(Similarity.Planes, Similarity.Dim)(p)
      .map(_.toString).mkString("[", ", ", "]::DOUBLE[]")

  /** ±1 JL projection rows from Similarity.rpMatrix — shared constants,
    * the planeLiteral convention. */
  private def rpLiteral(t: Int): String =
    Similarity.rpMatrix(Similarity.RpDim, Similarity.Dim)(t)
      .map(_.toString).mkString("[", ", ", "]::DOUBLE[]")

  /** The RpDim-component projected list of vector column `v` (mirrors
    * Similarity.rpProject: ordered double dots against literal rows). */
  private def rpProjSql(v: String): String =
    (0 until Similarity.RpDim).map(t =>
      dotSql(v, s"(${rpLiteral(t)})")).mkString("[", ", ", "]")

  /** 16-bit bucket code of list column `v` using the precomputed planes. */
  private def bucketSql(v: String): String =
    (0 until Similarity.Planes).map { p =>
      s"(CASE WHEN ${dotSql(v, s"(${planeLiteral(p)})")} > 0 THEN ${1L << p} ELSE 0 END)"
    }.mkString("(", " + ", ")")

  private val langScoreSqls: String = Seq(
    "s_zh" -> "[\\x{4e00}-\\x{9fff}]",
    "s_ru" -> "[\\x{0400}-\\x{04ff}]",
    "s_es" -> "(?: el | la | de | que | los | una |ñ)",
    "s_fr" -> "(?: le | les | des | est | dans |à|é)",
    "s_de" -> "(?: der | die | das | und | ist | nicht )",
    "s_en" -> "(?: the | and | of | to | in | is )")
    .map { case (n, p) =>
      s"len(regexp_extract_all(lower(text), '$p')) AS $n"
    }.mkString(",\n  ")

  // PII patterns shared with TextAnalysis (SQL-single-quote safe)
  private val emailRe: String = TextAnalysis.EmailRe
  private val phoneRe: String = TextAnalysis.PhoneRe

  private val llmOracles: Map[String, String] = Map(
    "ta_tokens" ->
      s"""SELECT doc_id,
        |  len(${toksSql("text")}) AS n_ws,
        |  len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS n_bpe,
        |  ${rollSql("text")} AS fp
        |FROM documents ORDER BY doc_id""".stripMargin,

    "ta_langid" ->
      s"""WITH s AS (SELECT doc_id, lang, $langScoreSqls FROM documents),
        |m AS (SELECT *, greatest(s_zh, s_ru, s_es, s_fr, s_de, s_en) AS mx FROM s)
        |SELECT doc_id, lang AS lang_actual,
        |  CASE WHEN mx = 0 THEN 'und'
        |       WHEN s_zh = mx THEN 'zh' WHEN s_ru = mx THEN 'ru'
        |       WHEN s_es = mx THEN 'es' WHEN s_fr = mx THEN 'fr'
        |       WHEN s_de = mx THEN 'de' WHEN s_en = mx THEN 'en'
        |       ELSE 'und' END AS lang_pred
        |FROM m ORDER BY doc_id""".stripMargin,

    // hashed unigram+bigram features, target (en) vs raw bucket
    // models, add-one smoothed log-ratio — the exact DSIR recompute
    "ta_dsir" ->
      s"""WITH t0 AS (SELECT doc_id, ${toksSql("text")} AS ws FROM documents),
        |tn AS (SELECT doc_id, ws FROM t0 WHERE len(ws) > 0),
        |uni AS (SELECT doc_id, unnest(ws) AS g FROM tn),
        |big AS (SELECT doc_id, ws[i] || ' ' || ws[i+1] AS g
        |  FROM tn, LATERAL (SELECT unnest(generate_series(1,
        |    len(ws) - 1)) AS i) p
        |  WHERE len(ws) >= 2),
        |ag AS (SELECT doc_id, g FROM uni UNION ALL
        |  SELECT doc_id, g FROM big),
        |tfd AS (SELECT doc_id, ${rollSql("g")} % 4096 AS b,
        |    count(*)::BIGINT AS tf
        |  FROM ag GROUP BY 1, 2),
        |cr AS (SELECT b, sum(tf)::BIGINT AS cr FROM tfd GROUP BY b),
        |ct AS (SELECT b, sum(tf)::BIGINT AS ct
        |  FROM tfd JOIN documents d USING (doc_id)
        |  WHERE d.lang = 'en' GROUP BY b),
        |tot AS (SELECT (SELECT sum(cr) FROM cr) AS tr,
        |  (SELECT coalesce(sum(ct), 0) FROM ct) AS tt),
        |sc AS (SELECT tfd.doc_id AS doc, sum(tf)::BIGINT AS n_feats,
        |    round(sum(tf::DOUBLE *
        |      (ln((coalesce(ct, 0)::DOUBLE + 1.0) / ((tt + 4096)::DOUBLE))
        |        - ln((cr::DOUBLE + 1.0) / ((tr + 4096)::DOUBLE)))), 6)
        |      AS logw
        |  FROM tfd LEFT JOIN ct USING (b) JOIN cr USING (b), tot
        |  GROUP BY doc, tt, tr)
        |SELECT doc, n_feats, logw, logw >= -0.45 AS keep
        |FROM sc ORDER BY doc""".stripMargin,

    "ta_langid_trained" ->
      s"""WITH w0 AS (
        |  SELECT l.lang, l.j, i AS dim,
        |    ((i * 2654435761 + l.j * 40503) % 1001) - 500 AS w
        |  FROM (SELECT unnest(generate_series(0, 1023)) AS i),
        |    (VALUES ('de',0),('en',1),('es',2),('fr',3),('ru',4),('zh',5))
        |      l(lang, j)),
        |t0 AS (SELECT doc_id, lower(text) AS t FROM documents
        |  WHERE length(lower(text)) >= 3),
        |grams AS (SELECT doc_id, substring(t, p.i, 3) AS gr
        |  FROM t0, LATERAL (SELECT unnest(generate_series(1,
        |    length(t) - 2)) AS i) p),
        |feats AS (SELECT doc_id, ${rollSql("gr")} % 1024 AS dim,
        |    count(*)::BIGINT AS cnt
        |  FROM grams GROUP BY 1, 2),
        |m AS (SELECT doc_id AS doc, lang, sum(cnt * w)::BIGINT AS margin
        |  FROM feats JOIN w0 USING (dim) GROUP BY 1, 2)
        |SELECT doc, margin, lang AS lang_pred FROM m
        |QUALIFY row_number() OVER (PARTITION BY doc
        |  ORDER BY margin DESC, lang) = 1
        |ORDER BY doc""".stripMargin,

    "ta_quality" ->
      s"""WITH b AS (SELECT doc_id,
        |  len(regexp_extract_all(text, '[^A-Za-z0-9\\s]')) AS n_punct,
        |  len(regexp_extract_all(lower(text),
        |    '\\b(?:the|and|of|to|in|is|a|that|it|for|on|with|as|at|by|an|be|this|from|or)\\b')) AS n_stop,
        |  length(text) AS n_chars,
        |  length(regexp_replace(text, '\\s+', '', 'g')) AS n_nonspace,
        |  len(${toksSql("text")}) AS n_tok
        |FROM documents),
        |r AS (SELECT doc_id,
        |  round(n_punct::DOUBLE / greatest(n_chars, 1), 6) AS punct_ratio,
        |  round(n_stop::DOUBLE / greatest(n_tok, 1), 6) AS stopword_ratio,
        |  round(n_nonspace::DOUBLE / greatest(n_tok, 1), 6) AS avg_token_len,
        |  n_chars FROM b)
        |SELECT doc_id, punct_ratio, stopword_ratio, avg_token_len,
        |  round(0.4 * least(n_chars::DOUBLE / 200.0, 1.0)
        |      + 0.3 * least(stopword_ratio / 0.4, 1.0)
        |      + 0.3 * (1.0 - least(punct_ratio / 0.25, 1.0)), 6) AS quality
        |FROM r ORDER BY doc_id""".stripMargin,

    "ta_repetition" ->
      s"""WITH w AS (SELECT doc_id, ${toksSql("lower(text)")} AS ws FROM documents),
        |g AS (SELECT doc_id, ws, CASE WHEN len(ws) >= 2
        |  THEN list_transform(range(len(ws)-1), i -> ws[i+1]||' '||ws[i+2])
        |  ELSE [array_to_string(ws, ' ')] END AS gs FROM w)
        |SELECT doc_id,
        |  round((len(ws) - len(list_distinct(ws)))::DOUBLE
        |    / greatest(len(ws), 1), 6) AS dup_word_frac,
        |  round((len(gs) - len(list_distinct(gs)))::DOUBLE
        |    / greatest(len(gs), 1), 6) AS dup_bigram_frac
        |FROM g ORDER BY doc_id""".stripMargin,

    "ta_vocab" ->
      s"""SELECT tok, count(*) AS n FROM (
        |  SELECT unnest(${toksSql("lower(text)")}) AS tok FROM documents)
        |GROUP BY tok ORDER BY tok""".stripMargin,

    // integer-exact ppm drift: floor division `//` mirrors Spark's
    // `div`; sums cast back to BIGINT (DuckDB sums BIGINT into HUGEINT)
    "ta_drift" ->
      s"""WITH tk AS (SELECT lang = 'en' AS p,
        |    unnest(${toksSql("lower(text)")}) AS tok FROM documents),
        |c AS (SELECT tok,
        |    CAST(sum(CASE WHEN p THEN 1 ELSE 0 END) AS BIGINT) AS n_p,
        |    CAST(sum(CASE WHEN NOT p THEN 1 ELSE 0 END) AS BIGINT) AS n_q
        |  FROM tk GROUP BY tok),
        |tt AS (SELECT CAST(sum(n_p) AS BIGINT) AS t_p,
        |    CAST(sum(n_q) AS BIGINT) AS t_q FROM c)
        |SELECT tok, n_p, n_q,
        |  (n_p * 1000000) // greatest(t_p, 1) AS ppm_p,
        |  (n_q * 1000000) // greatest(t_q, 1) AS ppm_q,
        |  ((n_p * 1000000) // greatest(t_p, 1))
        |    - ((n_q * 1000000) // greatest(t_q, 1)) AS delta_ppm
        |FROM c, tt
        |ORDER BY abs(((n_p * 1000000) // greatest(t_p, 1))
        |  - ((n_q * 1000000) // greatest(t_q, 1))) DESC, tok
        |LIMIT 50""".stripMargin,

    "ta_dupspans" ->
      s"""WITH w AS (SELECT doc_id, ${toksSql("lower(text)")} AS ws FROM documents),
        |sh AS (SELECT doc_id, $shingleSql AS shl FROM w),
        |sx AS (SELECT DISTINCT doc_id, ${rollSql("sgl")} AS h
        |  FROM (SELECT doc_id, unnest(shl) AS sgl FROM sh)),
        |f AS (SELECT h, count(*) AS ndocs FROM sx GROUP BY h)
        |SELECT doc_id, count(*) AS n_spans,
        |  sum(CASE WHEN ndocs > 1 THEN 1 ELSE 0 END)::BIGINT AS n_dup,
        |  round(sum(CASE WHEN ndocs > 1 THEN 1 ELSE 0 END)::DOUBLE
        |    / greatest(count(*), 1), 6) AS dup_span_frac
        |FROM sx JOIN f USING (h) GROUP BY doc_id
        |ORDER BY doc_id""".stripMargin,

    "ta_filter" ->
      s"""WITH ls AS (SELECT doc_id, $langScoreSqls FROM documents),
        |lm AS (SELECT doc_id, s_zh, s_ru, s_es, s_fr, s_de, s_en,
        |  greatest(s_zh, s_ru, s_es, s_fr, s_de, s_en) AS mx FROM ls),
        |lp AS (SELECT doc_id, CASE WHEN mx = 0 THEN 'und'
        |  WHEN s_zh = mx THEN 'zh' WHEN s_ru = mx THEN 'ru'
        |  WHEN s_es = mx THEN 'es' WHEN s_fr = mx THEN 'fr'
        |  WHEN s_de = mx THEN 'de' WHEN s_en = mx THEN 'en'
        |  ELSE 'und' END AS lang FROM lm),
        |qb AS (SELECT doc_id,
        |  len(regexp_extract_all(text, '[^A-Za-z0-9\\s]')) AS n_punct,
        |  len(regexp_extract_all(lower(text),
        |    '\\b(?:the|and|of|to|in|is|a|that|it|for|on|with|as|at|by|an|be|this|from|or)\\b')) AS n_stop,
        |  length(text) AS n_chars,
        |  len(${toksSql("text")}) AS n_tok
        |FROM documents),
        |qr AS (SELECT doc_id,
        |  round(n_punct::DOUBLE / greatest(n_chars, 1), 6) AS punct_ratio,
        |  round(n_stop::DOUBLE / greatest(n_tok, 1), 6) AS stopword_ratio,
        |  n_chars FROM qb),
        |qq AS (SELECT doc_id,
        |  round(0.4 * least(n_chars::DOUBLE / 200.0, 1.0)
        |      + 0.3 * least(stopword_ratio / 0.4, 1.0)
        |      + 0.3 * (1.0 - least(punct_ratio / 0.25, 1.0)), 6) AS quality
        |FROM qr),
        |rw AS (SELECT doc_id, ${toksSql("lower(text)")} AS ws FROM documents),
        |rg AS (SELECT doc_id, ws, CASE WHEN len(ws) >= 2
        |  THEN list_transform(range(len(ws)-1), i -> ws[i+1]||' '||ws[i+2])
        |  ELSE [array_to_string(ws, ' ')] END AS gs FROM rw),
        |rr AS (SELECT doc_id,
        |  round((len(ws) - len(list_distinct(ws)))::DOUBLE
        |    / greatest(len(ws), 1), 6) AS dup_word_frac,
        |  round((len(gs) - len(list_distinct(gs)))::DOUBLE
        |    / greatest(len(gs), 1), 6) AS dup_bigram_frac
        |FROM rg),
        |tk AS (SELECT doc_id,
        |  len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]'))::BIGINT AS n_tokens
        |FROM documents)
        |SELECT d.doc_id, lp.lang, qq.quality, tk.n_tokens,
        |  rr.dup_word_frac, rr.dup_bigram_frac,
        |  (lp.lang = 'en') AS lang_ok,
        |  (qq.quality >= 0.5) AS quality_ok,
        |  (rr.dup_word_frac <= 0.3 AND rr.dup_bigram_frac <= 0.2) AS repetition_ok,
        |  (tk.n_tokens >= 10 AND tk.n_tokens <= 100000) AS length_ok,
        |  ((lp.lang = 'en') AND (qq.quality >= 0.5)
        |    AND (rr.dup_word_frac <= 0.3 AND rr.dup_bigram_frac <= 0.2)
        |    AND (tk.n_tokens >= 10 AND tk.n_tokens <= 100000)) AS keep
        |FROM documents d
        |JOIN lp USING (doc_id) JOIN qq USING (doc_id)
        |JOIN rr USING (doc_id) JOIN tk USING (doc_id)
        |ORDER BY doc_id""".stripMargin,

    "ta_sample" ->
      s"""SELECT doc_id AS doc, lang AS stratum,
        |  (${rollSql("'sample:' || CAST(doc_id AS VARCHAR)")} % 10000) <
        |  (CASE lang WHEN 'en' THEN 5000 WHEN 'zh' THEN 2500
        |    WHEN 'es' THEN 1000 ELSE 500 END) AS keep
        |FROM documents ORDER BY doc""".stripMargin,

    // least(n, ceil(rate·sqrt(n))) uses only correctly-rounded IEEE
    // ops on per-stratum scalars — no cross-stratum float sum, so the
    // threshold cannot flip between engines
    "ta_temperature" ->
      s"""WITH r AS (SELECT doc_id AS doc, source AS stratum,
        |    row_number() OVER (PARTITION BY source
        |      ORDER BY ${rollSql("'tsample:' || CAST(doc_id AS VARCHAR)")} ASC,
        |        doc_id) AS rk
        |  FROM documents),
        |c AS (SELECT source AS stratum, count(*) AS n
        |  FROM documents GROUP BY source)
        |SELECT doc, stratum FROM r JOIN c USING (stratum)
        |WHERE rk <= least(n, ceil(2.0 * sqrt(n)))
        |ORDER BY doc""".stripMargin,

    "mat_data_tests" ->
      """WITH t1 AS (SELECT count(*) AS n FROM (
        |    SELECT l_returnflag FROM lineitem
        |    WHERE l_returnflag IS NOT NULL
        |      AND l_returnflag NOT IN ('A', 'N')
        |    GROUP BY l_returnflag)),
        |t2 AS (SELECT count(*) AS n FROM customer WHERE c_custkey IS NULL),
        |t3 AS (SELECT count(*) AS n FROM (
        |    SELECT o.o_custkey FROM orders o
        |    LEFT JOIN customer c ON c.c_custkey = o.o_custkey
        |    WHERE o.o_custkey IS NOT NULL AND c.c_custkey IS NULL)),
        |t4 AS (SELECT count(*) AS n FROM (
        |    SELECT l_linenumber FROM lineitem WHERE l_linenumber IS NOT NULL
        |    GROUP BY l_linenumber HAVING count(*) > 1)),
        |t5 AS (SELECT count(*) AS n FROM (
        |    SELECT o_orderkey FROM orders WHERE o_orderkey IS NOT NULL
        |    GROUP BY o_orderkey HAVING count(*) > 1))
        |SELECT test_name, n_violations, n_violations = 0 AS passed FROM (
        |  SELECT 'accepted_values_returnflag' AS test_name,
        |    (SELECT n FROM t1) AS n_violations
        |  UNION ALL SELECT 'not_null_custkey', (SELECT n FROM t2)
        |  UNION ALL SELECT 'relationships_orders_customer',
        |    (SELECT n FROM t3)
        |  UNION ALL SELECT 'unique_linenumber', (SELECT n FROM t4)
        |  UNION ALL SELECT 'unique_orderkey', (SELECT n FROM t5))
        |ORDER BY test_name""".stripMargin,

    "ta_bpe_pairs" ->
      s"""WITH wx AS (SELECT unnest(${toksSql("lower(text)")}) AS w
        |  FROM documents),
        |wc AS (SELECT w, count(*)::BIGINT AS cnt FROM wx GROUP BY w),
        |px AS (SELECT substring(w, i, 1) AS l, substring(w, i + 1, 1) AS r,
        |    cnt
        |  FROM wc, unnest(range(1, length(w))) AS t(i)
        |  WHERE length(w) >= 2)
        |SELECT l, r, sum(cnt)::BIGINT AS n FROM px GROUP BY l, r
        |ORDER BY n DESC, l, r LIMIT 50""".stripMargin,

    "ta_bpe_encode" ->
      s"""WITH d AS (SELECT doc_id, ${toksSql("lower(text)")} AS ws
        |  FROM documents),
        |wx AS (SELECT doc_id, i AS wi, ws[i] AS w
        |  FROM d, unnest(range(1, len(ws) + 1)) AS t(i)),
        |sx AS (SELECT doc_id, wi,
        |    string_split(trim(${bpeMergedSql("w")}), '  ') AS syms
        |  FROM wx),
        |se AS (SELECT doc_id, wi, i AS si, syms[i] AS s
        |  FROM sx, unnest(range(1, len(syms) + 1)) AS t(i)),
        |v AS (SELECT vs[i] AS s, (i - 1)::INTEGER AS id
        |  FROM (SELECT [${bpeEncVocab.map(s => s"'$s'").mkString(", ")}]
        |    AS vs), unnest(range(1, ${bpeEncVocab.size} + 1)) AS t(i)),
        |enc AS (SELECT doc_id, list(coalesce(v.id, -1) ORDER BY wi, si)
        |    AS ids
        |  FROM se LEFT JOIN v USING (s) GROUP BY doc_id)
        |SELECT doc_id, (i - 1)::INTEGER AS pos, ids[i]::INTEGER AS id
        |FROM enc, unnest(range(1, len(ids) + 1)) AS t(i)
        |ORDER BY doc_id, pos""".stripMargin,

    "ta_normalize" ->
      """SELECT doc_id, trim(regexp_replace(regexp_replace(
        |  nfc_normalize(text || ' cafe' || chr(769) || ' A' || chr(778)
        |    || ' x' || chr(7) || 'y' || chr(9) || 'z  w'),
        |  '[\x00-\x08\x0B\x0C\x0E-\x1F\x7F]', '', 'g'),
        |  '[ \t]+', ' ', 'g')) AS norm
        |FROM documents ORDER BY doc_id""".stripMargin,

    // the oracle re-derives the mixture rates from the same counts with
    // the same 64-bit integer arithmetic (basis points → feasible total
    // from the binding stratum → ppm thresholds)
    "ta_mixture" ->
      s"""WITH cnt AS (SELECT lang, count(*)::BIGINT AS c FROM documents
        |  WHERE lang IN ('en', 'es', 'zh') GROUP BY lang),
        |w AS (SELECT lang, c,
        |  (CASE lang WHEN 'en' THEN 5000 WHEN 'zh' THEN 3000
        |    WHEN 'es' THEN 2000 END)::BIGINT AS wbps FROM cnt),
        |t AS (SELECT min(c * 10000 // wbps) AS total FROM w),
        |r AS (SELECT lang,
        |  ((wbps * total // 10000) * 1000000) // c AS rate_ppm
        |  FROM w, t)
        |SELECT d.doc_id AS doc, d.lang AS stratum, r.rate_ppm,
        |  (${rollSql("'mix:' || CAST(doc_id AS VARCHAR)")} % 1000000)
        |    < r.rate_ppm AS keep
        |FROM documents d JOIN r ON r.lang = d.lang
        |ORDER BY doc""".stripMargin,

    // the oracle runs the naive global quality-ordered running sum; the
    // Spark side must reach the identical prefix via its histogram
    // two-phase
    "ta_select" ->
      s"""WITH qb AS (SELECT doc_id,
        |  len(regexp_extract_all(text, '[^A-Za-z0-9\\s]')) AS n_punct,
        |  len(regexp_extract_all(lower(text),
        |    '\\b(?:the|and|of|to|in|is|a|that|it|for|on|with|as|at|by|an|be|this|from|or)\\b')) AS n_stop,
        |  length(text) AS n_chars,
        |  len(${toksSql("text")}) AS n_tok
        |FROM documents),
        |qr AS (SELECT doc_id,
        |  round(n_punct::DOUBLE / greatest(n_chars, 1), 6) AS punct_ratio,
        |  round(n_stop::DOUBLE / greatest(n_tok, 1), 6) AS stopword_ratio,
        |  n_chars FROM qb),
        |qq AS (SELECT doc_id,
        |  round(0.4 * least(n_chars::DOUBLE / 200.0, 1.0)
        |      + 0.3 * least(stopword_ratio / 0.4, 1.0)
        |      + 0.3 * (1.0 - least(punct_ratio / 0.25, 1.0)), 6) AS quality
        |FROM qr),
        |tk AS (SELECT doc_id,
        |  len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]'))::BIGINT AS n_tokens
        |FROM documents),
        |c AS (SELECT qq.doc_id, qq.quality, tk.n_tokens,
        |  (sum(tk.n_tokens) OVER (ORDER BY qq.quality DESC, qq.doc_id
        |    ROWS UNBOUNDED PRECEDING))::BIGINT AS cum
        |FROM qq JOIN tk USING (doc_id))
        |SELECT doc_id AS doc, quality, n_tokens, (cum <= 8000) AS selected
        |FROM c ORDER BY doc""".stripMargin,

    "ta_split" ->
      s"""WITH h AS (SELECT doc_id,
        |  ${rollSql("'split:' || CAST(doc_id AS VARCHAR)")} % 100 AS b
        |FROM documents)
        |SELECT doc_id, CASE WHEN b < 80 THEN 'train'
        |  WHEN b < 90 THEN 'val' ELSE 'test' END AS split
        |FROM h ORDER BY doc_id""".stripMargin,

    "ta_split_safe" ->
      s"""WITH u AS (SELECT doc_id, text FROM documents
        |  UNION ALL SELECT doc_id + 10000, text FROM documents),
        |c AS (SELECT doc_id,
        |  min(doc_id) OVER (PARTITION BY md5(text)) AS rep_id FROM u),
        |h AS (SELECT doc_id, rep_id,
        |  ${rollSql("'split:' || CAST(rep_id AS VARCHAR)")} % 100 AS b
        |FROM c)
        |SELECT doc_id, rep_id, CASE WHEN b < 80 THEN 'train'
        |  WHEN b < 90 THEN 'val' ELSE 'test' END AS split
        |FROM h ORDER BY doc_id""".stripMargin,

    "ta_redact" ->
      s"""WITH inj AS (SELECT doc_id,
        |  CASE WHEN doc_id % 5 = 0 THEN text || ' contact user' ||
        |    CAST(doc_id AS VARCHAR) || '@example.com call +1 (555) 010-' ||
        |    CAST(doc_id % 10 AS VARCHAR) ELSE text END AS t
        |FROM documents),
        |e AS (SELECT doc_id, t,
        |  regexp_replace(t, '$emailRe', '<EMAIL>', 'g') AS t_email FROM inj)
        |SELECT doc_id,
        |  len(regexp_extract_all(t, '$emailRe'))
        |    + len(regexp_extract_all(t_email, '$phoneRe')) AS n_pii,
        |  ${rollSql("regexp_replace(t_email, '" + phoneRe + "', '<PHONE>', 'g')")} AS redacted_fp
        |FROM e ORDER BY doc_id""".stripMargin,

    "ta_pack" ->
      s"""WITH b AS (SELECT doc_id,
        |  len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]'))::BIGINT AS n_tokens,
        |  ${rollSql("'pack:' || CAST(doc_id AS VARCHAR)")} % 16 AS grp
        |FROM documents),
        |c AS (SELECT *, sum(n_tokens) OVER (PARTITION BY grp ORDER BY doc_id
        |  ROWS UNBOUNDED PRECEDING) - n_tokens AS cum FROM b)
        |SELECT doc_id AS doc, n_tokens,
        |  (grp * 4294967296 + cum // 2048)::BIGINT AS shard,
        |  (cum % 2048)::BIGINT AS offset
        |FROM c ORDER BY doc""".stripMargin,

    // Robertson idf + Okapi saturation recomputed from scratch; scores
    // rounded to 6 places on both sides for engine-portable floats
    "ta_bm25" ->
      s"""WITH b AS (SELECT doc_id, ${toksSql("lower(text)")} AS ws FROM documents),
        |s AS (SELECT count(*)::DOUBLE AS n, avg(len(ws))::DOUBLE AS avgdl FROM b),
        |f AS (SELECT
        |  (SELECT count(*) FROM b WHERE list_contains(ws, 'join'))::DOUBLE AS df1,
        |  (SELECT count(*) FROM b WHERE list_contains(ws, 'hash'))::DOUBLE AS df2,
        |  (SELECT count(*) FROM b WHERE list_contains(ws, 'window'))::DOUBLE AS df3),
        |t AS (SELECT doc_id, len(ws)::DOUBLE AS dl,
        |  len(list_filter(ws, x -> x = 'join'))::DOUBLE AS tf1,
        |  len(list_filter(ws, x -> x = 'hash'))::DOUBLE AS tf2,
        |  len(list_filter(ws, x -> x = 'window'))::DOUBLE AS tf3
        |  FROM b)
        |SELECT doc_id AS doc, dl::INTEGER AS dl,
        |  round(
        |    ln(1 + (s.n - f.df1 + 0.5)/(f.df1 + 0.5)) * tf1 * 2.2
        |      / (tf1 + 1.2*(0.25 + 0.75*dl/s.avgdl))
        |  + ln(1 + (s.n - f.df2 + 0.5)/(f.df2 + 0.5)) * tf2 * 2.2
        |      / (tf2 + 1.2*(0.25 + 0.75*dl/s.avgdl))
        |  + ln(1 + (s.n - f.df3 + 0.5)/(f.df3 + 0.5)) * tf3 * 2.2
        |      / (tf3 + 1.2*(0.25 + 0.75*dl/s.avgdl)), 6) AS score
        |FROM t, s, f ORDER BY doc""".stripMargin,

    "ta_chunk" ->
      s"""WITH b AS (SELECT doc_id, ${toksSql("text")} AS ws FROM documents),
        |c AS (SELECT doc_id, ws, len(ws) AS n FROM b WHERE len(ws) > 0)
        |SELECT doc_id AS doc, g.i::INTEGER AS chunk_idx,
        |  least(n - g.i*48, 64)::INTEGER AS n_tokens,
        |  array_to_string(ws[g.i*48+1 : least(g.i*48+64, n)], ' ') AS chunk
        |FROM c, LATERAL (SELECT unnest(generate_series(0, (n-1)//48)) AS i) g
        |ORDER BY doc, chunk_idx""".stripMargin,

    // integer weights from the same Knuth-hash ramp, unigram+bigram
    // rolling-hash features — margin algebra replays exactly
    "ta_classify" ->
      s"""WITH w0 AS (SELECT i AS dim, (i * 2654435761) % 1001 - 500 AS w
        |  FROM (SELECT unnest(generate_series(0, 1023)) AS i)),
        |d0 AS (SELECT doc_id, ${toksSql("lower(text)")} AS ws FROM documents),
        |uni AS (SELECT doc_id, unnest(ws) AS f FROM d0),
        |big AS (SELECT doc_id, ws[g.i] || '_' || ws[g.i+1] AS f
        |  FROM d0, LATERAL (SELECT unnest(generate_series(1, len(ws) - 1)) AS i) g
        |  WHERE len(ws) > 1),
        |feats AS (SELECT doc_id, ${rollSql("f")} % 1024 AS dim,
        |    count(*)::BIGINT AS cnt
        |  FROM (SELECT * FROM uni UNION ALL SELECT * FROM big)
        |  GROUP BY 1, 2),
        |m AS (SELECT doc_id AS doc, sum(cnt * w)::BIGINT AS margin
        |  FROM feats JOIN w0 USING (dim) GROUP BY 1)
        |SELECT doc, margin, margin > 0 AS keep FROM m
        |ORDER BY doc""".stripMargin,

    // the oracle rebuilds the packed token stream with window-function
    // arithmetic: per-group exclusive prefix offsets, global position →
    // (window, pos), plus the synthetic tail-padding rows
    "ta_tensorize" ->
      s"""WITH b AS (SELECT doc_id,
        |    list_append(${toksSql("lower(text)")}, '<eos>') AS ws,
        |    ${rollSql("'pack:' || CAST(doc_id AS VARCHAR)")} % 16 AS grp
        |  FROM documents),
        |c AS (SELECT doc_id, ws, grp, len(ws)::BIGINT AS n,
        |    sum(len(ws)::BIGINT) OVER (PARTITION BY grp ORDER BY doc_id
        |      ROWS UNBOUNDED PRECEDING) - len(ws)::BIGINT AS s
        |  FROM b),
        |toks AS (SELECT grp, s + g.i - 1 AS gpos, ws[g.i] AS tok
        |  FROM c, LATERAL (SELECT unnest(generate_series(1,
        |    len(ws)::BIGINT)) AS i) g),
        |tot AS (SELECT grp, count(*) AS tt FROM toks GROUP BY grp),
        |pads AS (SELECT grp, tt + g.i - 1 AS gpos, '<pad>' AS tok
        |  FROM tot, LATERAL (SELECT unnest(generate_series(1,
        |    (128 - tt % 128) % 128)) AS i) g),
        |allt AS (SELECT * FROM toks UNION ALL SELECT * FROM pads)
        |SELECT (grp * 4294967296 + gpos // 128)::BIGINT AS "window",
        |  (gpos % 128)::INTEGER AS pos, tok
        |FROM allt ORDER BY "window", pos""".stripMargin,

    "fn_custom_sql" ->
      s"""SELECT d.doc_id, ${rollSql("d.text")} AS h,
        |  round(${dotSql("e.embedding", "e.embedding")}, 6) AS norm2
        |FROM documents d JOIN embeddings e ON e.vec_id = d.doc_id
        |ORDER BY d.doc_id""".stripMargin,

    "dd_exact" ->
      """WITH u AS (SELECT doc_id, text FROM documents
        |  UNION ALL SELECT doc_id + 10000, text FROM documents)
        |SELECT md5(text) AS content_hash, min(doc_id) AS keep_id,
        |  count(*) AS n_dups
        |FROM u GROUP BY md5(text) ORDER BY keep_id""".stripMargin,

    "dd_soft_weights" ->
      """WITH u AS (SELECT doc_id, text FROM documents
        |  UNION ALL SELECT doc_id + 10000, text FROM documents),
        |c AS (SELECT doc_id,
        |  count(*) OVER (PARTITION BY md5(text)) AS n_dups FROM u)
        |SELECT doc_id, n_dups,
        |  round(1.0::DOUBLE / n_dups, 6) AS weight
        |FROM c ORDER BY doc_id""".stripMargin,

    "dd_minhash_lsh" ->
      s"""WITH u AS (SELECT doc_id, lower(text) AS t FROM documents
        |  UNION ALL SELECT doc_id + 10000, lower(text) FROM documents),
        |w AS (SELECT doc_id, ${toksSql("t")} AS ws FROM u),
        |sh AS (SELECT doc_id, $shingleSql AS shl FROM w),
        |sx AS (SELECT doc_id, unnest(shl) AS sgl FROM sh),
        |hx AS (SELECT doc_id, ${rollSql("sgl")} AS h FROM sx),
        |sig AS (SELECT doc_id, ${minhashAggSqls.mkString(", ")} FROM hx GROUP BY doc_id),
        |bands AS (SELECT doc_id, unnest($bandListSql) AS band FROM sig)
        |SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        |FROM bands a JOIN bands b ON a.band = b.band AND a.doc_id < b.doc_id
        |ORDER BY id_a, id_b""".stripMargin,

    "dd_minhash_estimate" ->
      s"""WITH u AS (SELECT doc_id, lower(text) AS t FROM documents
        |  UNION ALL SELECT doc_id + 10000, lower(text) FROM documents),
        |w AS (SELECT doc_id, ${toksSql("t")} AS ws FROM u),
        |sh AS (SELECT doc_id, $shingleSql AS shl FROM w),
        |sx AS (SELECT doc_id, unnest(shl) AS sgl FROM sh),
        |hx AS (SELECT doc_id, ${rollSql("sgl")} AS h FROM sx),
        |sig AS (SELECT doc_id, ${minhashAggSqls.mkString(", ")} FROM hx GROUP BY doc_id),
        |bands AS (SELECT doc_id, unnest($bandListSql) AS band FROM sig),
        |p AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        |      FROM bands a JOIN bands b ON a.band = b.band AND a.doc_id < b.doc_id)
        |SELECT p.id_a, p.id_b,
        |  (${(0 until 16).map(i =>
               s"CASE WHEN sa.mh$i = sb.mh$i THEN 1 ELSE 0 END")
               .mkString(" + ")}) / 16.0 AS est_jaccard
        |FROM p JOIN sig sa ON sa.doc_id = p.id_a
        |       JOIN sig sb ON sb.doc_id = p.id_b
        |ORDER BY id_a, id_b""".stripMargin,

    "dd_jaccard" ->
      s"""WITH w AS (SELECT doc_id, ${toksSql("lower(text)")} AS ws FROM documents),
        |sh0 AS (SELECT doc_id, $shingleSql AS shl FROM w),
        |sx AS (SELECT doc_id, unnest(shl) AS sgl FROM sh0),
        |s AS (SELECT DISTINCT doc_id, ${rollSql("sgl")} AS sh FROM sx),
        |sz AS (SELECT doc_id, count(*) AS sz FROM s GROUP BY doc_id),
        |pairs AS (SELECT a.doc_id AS id_a, a.doc_id + 1 AS id_b FROM documents a
        |  JOIN documents b ON b.doc_id = a.doc_id + 1 WHERE a.doc_id % 2 = 0),
        |inter AS (SELECT p.id_a, p.id_b, count(*) AS i FROM pairs p
        |  JOIN s a ON a.doc_id = p.id_a JOIN s b ON b.doc_id = p.id_b AND b.sh = a.sh
        |  GROUP BY p.id_a, p.id_b)
        |SELECT p.id_a AS id_a, p.id_b AS id_b,
        |  round(coalesce(i, 0)::DOUBLE / (sa.sz + sb.sz - coalesce(i, 0)), 6) AS jaccard
        |FROM pairs p LEFT JOIN inter ON inter.id_a = p.id_a AND inter.id_b = p.id_b
        |JOIN sz sa ON sa.doc_id = p.id_a JOIN sz sb ON sb.doc_id = p.id_b
        |ORDER BY p.id_a""".stripMargin,

    // the definitional brute force: every co-token pair, exact
    // intersection, exact Jaccard — what the Spark side's prefix
    // filtering must reproduce without losing a single pair
    "dd_allpairs" ->
      s"""WITH toks AS (
        |  SELECT doc_id, unnest(list_distinct(${toksSql("lower(text)")})) AS tok
        |  FROM documents WHERE doc_id % 4 < 2),
        |sizes AS (SELECT doc_id, count(*) AS n FROM toks GROUP BY doc_id),
        |inter AS (SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS i
        |  FROM toks a JOIN toks b ON a.tok = b.tok AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2)
        |SELECT da AS doc_a, db AS doc_b, i AS inter,
        |  sa.n + sb.n - i AS uni,
        |  CAST(i AS DOUBLE) / (sa.n + sb.n - i) AS jaccard
        |FROM inter
        |JOIN sizes sa ON sa.doc_id = da
        |JOIN sizes sb ON sb.doc_id = db
        |WHERE CAST(i AS DOUBLE) / (sa.n + sb.n - i) >= 0.8
        |ORDER BY doc_a, doc_b""".stripMargin,

    // clique-representative recompute: group docs by sorted distinct
    // token set, brute-force Jaccard over DISTINCT sets (rep = min id),
    // plus one self row per multi-member clique at J = 1
    "dd_allpairs_reps" ->
      s"""WITH d0 AS (SELECT doc_id,
        |    list_sort(list_distinct(${toksSql("lower(text)")})) AS ts
        |  FROM documents WHERE doc_id % 4 < 2),
        |g AS (SELECT ts, min(doc_id) AS rep, count(*)::BIGINT AS n
        |  FROM d0 GROUP BY ts),
        |szs AS (SELECT rep, n, len(ts)::BIGINT AS sz FROM g),
        |d AS (SELECT rep, unnest(ts) AS tok FROM g),
        |i AS (SELECT a.rep AS ra, b.rep AS rb, count(*)::BIGINT AS inter
        |  FROM d a JOIN d b ON a.tok = b.tok AND a.rep < b.rep
        |  GROUP BY 1, 2),
        |cr AS (SELECT ra AS doc_a, rb AS doc_b, inter,
        |    sa.sz + sb.sz - inter AS uni,
        |    inter::DOUBLE / (sa.sz + sb.sz - inter) AS jaccard,
        |    sa.n AS n_a, sb.n AS n_b
        |  FROM i JOIN szs sa ON sa.rep = ra JOIN szs sb ON sb.rep = rb
        |  WHERE inter * 1000000 >= 800000 * (sa.sz + sb.sz - inter)),
        |se AS (SELECT rep AS doc_a, rep AS doc_b, sz AS inter, sz AS uni,
        |    sz::DOUBLE / sz AS jaccard, n AS n_a, n AS n_b
        |  FROM szs WHERE n >= 2)
        |SELECT * FROM cr UNION ALL SELECT * FROM se
        |ORDER BY doc_a, doc_b""".stripMargin,

    // clique-representative recompute for the weighted family: collapse
    // key is the token MULTISET (bag ⇒ identical tf·idf vectors);
    // weights computed over the FULL augmented corpus (df counts every
    // clique member), reps pairs brute-forced over distinct bags, self
    // rows via the SAME dot/sqrt op sequence (no literal 1.0)
    "dd_tfidf_reps" ->
      s"""WITH docs AS (SELECT doc_id, text FROM documents
        |    WHERE doc_id % 4 < 2
        |  UNION ALL SELECT doc_id + 10000, text FROM documents
        |    WHERE doc_id % 4 = 0),
        |tok AS (SELECT doc_id, unnest(${toksSql("lower(text)")}) AS tok
        |  FROM docs),
        |tf AS (SELECT doc_id, tok, count(*)::BIGINT AS tf FROM tok
        |  GROUP BY 1, 2),
        |dfc AS (SELECT tok, count(*)::BIGINT AS dfd FROM tf GROUP BY 1),
        |nn AS (SELECT count(*)::BIGINT AS n FROM docs),
        |rr AS (SELECT doc_id, tok, tf, (SELECT n FROM nn) // dfd AS r
        |  FROM tf JOIN dfc USING (tok)),
        |w AS (SELECT doc_id, tok, tf * (1 + ${floorLog2Sql("r")}) AS w
        |  FROM rr),
        |bags AS (SELECT doc_id, list_sort(list(tok)) AS bag FROM tok
        |  GROUP BY doc_id),
        |g AS (SELECT bag, min(doc_id) AS rep, count(*)::BIGINT AS n
        |  FROM bags GROUP BY bag),
        |wr AS (SELECT w.* FROM w JOIN g ON w.doc_id = g.rep),
        |n2 AS (SELECT doc_id, sum(w*w)::BIGINT AS n2 FROM wr GROUP BY 1),
        |d AS (SELECT a.doc_id AS da, b.doc_id AS db,
        |    sum(a.w * b.w)::BIGINT AS dot
        |  FROM wr a JOIN wr b ON a.tok = b.tok AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |cr AS (SELECT da AS doc_a, db AS doc_b, dot, na.n2 AS n2_a,
        |    nb.n2 AS n2_b,
        |    round(dot::DOUBLE / sqrt(na.n2::DOUBLE * nb.n2::DOUBLE), 6)
        |      AS cos,
        |    ga.n AS n_a, gb.n AS n_b
        |  FROM d JOIN n2 na ON na.doc_id = da
        |  JOIN n2 nb ON nb.doc_id = db
        |  JOIN g ga ON ga.rep = da JOIN g gb ON gb.rep = db
        |  WHERE dot::DOUBLE / sqrt(na.n2::DOUBLE * nb.n2::DOUBLE) >= 0.9),
        |se AS (SELECT rep AS doc_a, rep AS doc_b, n2 AS dot, n2 AS n2_a,
        |    n2 AS n2_b,
        |    round(n2::DOUBLE / sqrt(n2::DOUBLE * n2::DOUBLE), 6) AS cos,
        |    n AS n_a, n AS n_b
        |  FROM g JOIN n2 ON n2.doc_id = g.rep
        |  WHERE n >= 2
        |    AND n2::DOUBLE / sqrt(n2::DOUBLE * n2::DOUBLE) >= 0.9)
        |SELECT * FROM cr UNION ALL SELECT * FROM se
        |ORDER BY doc_a, doc_b""".stripMargin,

    // two-sided brute force: left corpus × perturbed right, integer-ppm
    // threshold — completeness contract for the exact cross-corpus join
    "dd_allpairs_join" ->
      s"""WITH l AS (
        |  SELECT doc_id, unnest(list_distinct(${toksSql("lower(text)")})) AS tok
        |  FROM documents WHERE doc_id % 4 < 2),
        |r0 AS (SELECT doc_id + 10000 AS doc_id,
        |    lower(text || ' zz' || CAST(doc_id % 5 AS VARCHAR)) AS t
        |  FROM documents WHERE doc_id % 4 < 2),
        |r AS (SELECT doc_id, unnest(list_distinct(${toksSql("t")})) AS tok
        |  FROM r0),
        |szl AS (SELECT doc_id, count(*) AS n FROM l GROUP BY doc_id),
        |szr AS (SELECT doc_id, count(*) AS n FROM r GROUP BY doc_id),
        |inter AS (SELECT l.doc_id AS da, r.doc_id AS db, count(*) AS i
        |  FROM l JOIN r ON l.tok = r.tok GROUP BY 1, 2)
        |SELECT da AS id_a, db AS id_b, i AS inter,
        |  sa.n + sb.n - i AS uni,
        |  CAST(i AS DOUBLE) / (sa.n + sb.n - i) AS jaccard
        |FROM inter
        |JOIN szl sa ON sa.doc_id = da
        |JOIN szr sb ON sb.doc_id = db
        |WHERE i * 1000000 >= 700000 * (sa.n + sb.n - i)
        |ORDER BY id_a, id_b""".stripMargin,

    "dd_incremental" ->
      s"""WITH hu AS (SELECT doc_id, lower(text) AS t FROM documents
        |  WHERE doc_id < 400),
        |bu AS (SELECT doc_id, lower(text) AS t FROM documents
        |    WHERE doc_id >= 400
        |  UNION ALL SELECT doc_id + 10000, lower(text) FROM documents
        |    WHERE doc_id < 50),
        |hw AS (SELECT doc_id, ${toksSql("t")} AS ws FROM hu),
        |hs AS (SELECT doc_id, $shingleSql AS shl FROM hw),
        |hx AS (SELECT doc_id, unnest(shl) AS sgl FROM hs),
        |hh AS (SELECT doc_id, ${rollSql("sgl")} AS h FROM hx),
        |hsig AS (SELECT doc_id, ${minhashAggSqls.mkString(", ")}
        |  FROM hh GROUP BY doc_id),
        |hb AS (SELECT doc_id AS hist, unnest($bandListSql) AS band FROM hsig),
        |bw AS (SELECT doc_id, ${toksSql("t")} AS ws FROM bu),
        |bs AS (SELECT doc_id, $shingleSql AS shl FROM bw),
        |bx AS (SELECT doc_id, unnest(shl) AS sgl FROM bs),
        |bh AS (SELECT doc_id, ${rollSql("sgl")} AS h FROM bx),
        |bsig AS (SELECT doc_id, ${minhashAggSqls.mkString(", ")}
        |  FROM bh GROUP BY doc_id),
        |bb AS (SELECT doc_id, unnest($bandListSql) AS band FROM bsig),
        |m AS (SELECT b.doc_id, count(DISTINCT h.hist) AS n
        |  FROM bb b JOIN hb h ON b.band = h.band GROUP BY b.doc_id)
        |SELECT x.doc_id AS doc, coalesce(m.n, 0)::BIGINT AS n_dups,
        |  coalesce(m.n, 0) = 0 AS novel
        |FROM bu x LEFT JOIN m USING (doc_id)
        |ORDER BY doc""".stripMargin,

    "dd_decontaminate" -> decontaminateOracle,

    // same oracle by construction: the set form is semantics-identical
    // (LlmSpec pins equivalence with the join form mechanically too)
    "dd_decontaminate_set" -> decontaminateOracle,

    "dd_decontaminate_bloom" ->
      s"""WITH bw AS (SELECT ${toksSql("lower(text)")} AS ws FROM documents
        |  WHERE doc_id % 20 = 0),
        |bs0 AS (SELECT unnest($shingleSql) AS sgl FROM bw),
        |bs AS (SELECT DISTINCT ${rollSql("sgl")} AS sh FROM bs0),
        |dw AS (SELECT doc_id, ${toksSql("lower(text)")} AS ws FROM documents),
        |ds0 AS (SELECT doc_id, unnest($shingleSql) AS sgl FROM dw),
        |ds AS (SELECT DISTINCT doc_id, ${rollSql("sgl")} AS sh FROM ds0),
        |m AS (SELECT doc_id, count(*) AS n FROM ds JOIN bs USING (sh)
        |  GROUP BY doc_id)
        |SELECT d.doc_id AS doc, coalesce(m.n, 0) >= 1 AS contaminated,
        |  true AS bloom_no_false_negative
        |FROM documents d LEFT JOIN m USING (doc_id)
        |ORDER BY doc""".stripMargin,

    "op_source_cap" ->
      """SELECT doc_id, source, n_chars FROM (
        |  SELECT doc_id, source, n_chars, row_number() OVER (
        |    PARTITION BY source ORDER BY n_chars DESC, doc_id) AS rn
        |  FROM documents)
        |WHERE rn <= 3 ORDER BY doc_id""".stripMargin,

    // the hash rank is a fixed permutation both engines can replay
    "op_sample_per_key" ->
      s"""SELECT doc_id, source FROM (
        |  SELECT doc_id, source, row_number() OVER (
        |    PARTITION BY source
        |    ORDER BY ${rollSql("'smp:' || CAST(doc_id AS VARCHAR)")}, doc_id) AS rn
        |  FROM documents)
        |WHERE rn <= 5 ORDER BY doc_id""".stripMargin,

    // E-S key replayed from the shared rolling hash; keys are rounded
    // BEFORE ranking (id tie-break) so the selected SET matches exactly
    "op_weighted_sample" ->
      s"""WITH b AS (SELECT doc_id, n_chars,
        |    ${rollSql("'es:' || CAST(doc_id AS VARCHAR)")} AS h FROM documents),
        |k AS (SELECT doc_id, n_chars,
        |    round(ln((h % 1000000007 + 1) / 1000000008.0) / n_chars, 6) AS es_key
        |  FROM b),
        |sel AS (SELECT * FROM k ORDER BY es_key DESC, doc_id LIMIT 50)
        |SELECT doc_id AS doc, n_chars, es_key FROM sel ORDER BY doc""".stripMargin,

    "op_profile" ->
      Seq("o_custkey", "o_orderdate", "o_orderkey", "o_orderpriority",
          "o_orderstatus", "o_totalprice").map { c =>
        s"""SELECT '$c' AS col_name, count(*)::BIGINT AS n_rows,
          |  count($c)::BIGINT AS n_nonnull,
          |  count(DISTINCT $c)::BIGINT AS ndv,
          |  CAST(min($c) AS VARCHAR) AS min_val,
          |  CAST(max($c) AS VARCHAR) AS max_val
          |FROM orders""".stripMargin
      }.mkString("", "\nUNION ALL\n", "\nORDER BY col_name"),

    // explicit moment-sum identity (not covar_samp) so both engines
    // evaluate the same expression term-for-term
    "op_covariance" ->
      """WITH e AS (SELECT embedding AS v FROM embeddings),
        |x AS (SELECT v, g.i::INTEGER - 1 AS i, v[g.i]::DOUBLE AS xi
        |  FROM e, LATERAL (SELECT unnest(generate_series(1, len(v))) AS i) g),
        |p AS (SELECT x.i, g2.j::INTEGER - 1 AS j, x.xi, x.v[g2.j]::DOUBLE AS xj
        |  FROM x, LATERAL (SELECT unnest(generate_series(1, len(x.v))) AS j) g2
        |  WHERE g2.j - 1 >= x.i),
        |a AS (SELECT i, j, count(*)::BIGINT AS n, sum(xi) AS sx,
        |    sum(xj) AS sy, sum(xi * xj) AS sxy
        |  FROM p GROUP BY i, j)
        |SELECT i, j, round((sxy - sx * sy / n) / (n - 1), 6) + 0.0 AS cov
        |FROM a ORDER BY i, j""".stripMargin,

    // firsts elected by the integer key doc*2^20+pos — equivalent to the
    // engine's lexicographic min(struct(doc, pos)) while pos < 2^20
    "dd_lines" ->
      s"""WITH u AS (SELECT doc_id, lower(text) AS t FROM documents
        |  UNION ALL SELECT doc_id + 10000, lower(text) FROM documents),
        |w AS (SELECT doc_id, ${toksSql("t")} AS ws FROM u),
        |lined AS (SELECT doc_id, array_to_string(list_transform(
        |    generate_series(0, (len(ws) - 1) // 12),
        |    i -> array_to_string(ws[i*12+1 : i*12+12], ' ')), chr(10)) AS t
        |  FROM w),
        |p AS (SELECT doc_id, string_split(t, chr(10)) AS parts FROM lined),
        |l AS (SELECT doc_id, g.i::INTEGER - 1 AS pos, parts[g.i] AS line
        |  FROM p, LATERAL (SELECT unnest(generate_series(1, len(parts))) AS i) g),
        |f AS (SELECT line, min(doc_id * 1048576 + pos) AS first FROM l GROUP BY line),
        |k AS (SELECT l.doc_id, l.pos, l.line FROM l JOIN f USING (line)
        |  WHERE l.doc_id * 1048576 + l.pos = f.first),
        |r AS (SELECT doc_id, count(*)::BIGINT AS n_kept,
        |    string_agg(line, chr(10) ORDER BY pos) AS text FROM k GROUP BY doc_id)
        |SELECT p.doc_id AS doc, len(p.parts)::BIGINT AS n_lines,
        |  coalesce(r.n_kept, 0)::BIGINT AS n_kept, coalesce(r.text, '') AS text
        |FROM p LEFT JOIN r USING (doc_id) ORDER BY doc""".stripMargin,

    "ta_perplexity" ->
      s"""WITH b0 AS (SELECT doc_id, ${toksSql("lower(text)")} AS ws FROM documents),
        |b AS (SELECT * FROM b0 WHERE len(ws) > 0),
        |x AS (SELECT doc_id, len(ws)::INTEGER AS n, unnest(ws) AS w FROM b),
        |wc AS (SELECT w, count(*)::BIGINT AS c FROM x GROUP BY w),
        |s AS (SELECT (sum(c) + count(*))::DOUBLE AS denom FROM wc),
        |tf AS (SELECT doc_id, n, w, count(*)::BIGINT AS tf
        |  FROM x GROUP BY doc_id, n, w)
        |SELECT tf.doc_id AS doc, tf.n AS n_tokens,
        |  round(-sum(tf * ln((c + 1.0) / (SELECT denom FROM s))) / tf.n, 6) AS nll
        |FROM tf JOIN wc USING (w)
        |GROUP BY tf.doc_id, tf.n ORDER BY doc""".stripMargin,

    "ta_hashtfidf" ->
      s"""WITH tok AS (SELECT doc_id, unnest(${toksSql("lower(text)")}) AS tok FROM documents),
        |tf AS (SELECT doc_id, ${rollSql("tok")} % 64 AS dim, count(*)::BIGINT AS tf
        |  FROM tok GROUP BY doc_id, dim),
        |nn AS (SELECT count(*)::DOUBLE AS n FROM documents),
        |dfb AS (SELECT dim, count(*)::BIGINT AS dfb FROM tf GROUP BY dim)
        |SELECT tf.doc_id AS doc, tf.dim, tf.tf,
        |  round(tf * (ln(((SELECT n FROM nn) + 1) / (dfb + 1.0)) + 1), 6) AS tfidf
        |FROM tf JOIN dfb USING (dim) ORDER BY doc, dim""".stripMargin,

    // cosSql is the bit-exact cosine twin (the dd_cosine_pairs
    // contract), so ranks and ties replay identically
    "sim_knn_graph" ->
      s"""WITH coded AS (SELECT vec_id, ${bucketSql("embedding")} AS bucket FROM embeddings),
        |cand AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b FROM coded a
        |  JOIN coded b ON a.bucket = b.bucket AND a.vec_id < b.vec_id),
        |pr AS (SELECT id_a, id_b FROM cand UNION ALL SELECT id_b, id_a FROM cand),
        |cos AS (SELECT p.id_a, p.id_b, ${cosSql("ea.embedding", "eb.embedding")} AS cos
        |  FROM pr p JOIN embeddings ea ON ea.vec_id = p.id_a
        |  JOIN embeddings eb ON eb.vec_id = p.id_b),
        |rk AS (SELECT id_a, id_b, cos, row_number() OVER (
        |  PARTITION BY id_a ORDER BY cos DESC, id_b) AS rn FROM cos)
        |SELECT id_a, id_b, cos FROM rk WHERE rn <= 3
        |ORDER BY id_a, cos DESC, id_b""".stripMargin,

    "ta_bigram" ->
      s"""WITH b0 AS (SELECT doc_id, ${toksSql("lower(text)")} AS ws FROM documents),
        |b AS (SELECT * FROM b0 WHERE len(ws) > 1),
        |v AS (SELECT count(DISTINCT w)::DOUBLE AS vs FROM
        |  (SELECT unnest(ws) AS w FROM b0)),
        |pr AS (SELECT doc_id, len(ws)::INTEGER AS n, ws[g.i] AS w1, ws[g.i + 1] AS w2
        |  FROM b, LATERAL (SELECT unnest(generate_series(1, len(ws) - 1)) AS i) g),
        |ctx AS (SELECT w1, count(*)::BIGINT AS c1 FROM pr GROUP BY w1),
        |big AS (SELECT w1, w2, count(*)::BIGINT AS c12 FROM pr GROUP BY w1, w2),
        |tf AS (SELECT doc_id, n, w1, w2, count(*)::BIGINT AS tf
        |  FROM pr GROUP BY doc_id, n, w1, w2)
        |SELECT tf.doc_id AS doc, tf.n AS n_tokens,
        |  round(-sum(tf * ln((c12 + 1.0) / (c1 + (SELECT vs FROM v))))
        |    / (tf.n - 1), 6) AS nll
        |FROM tf JOIN big USING (w1, w2) JOIN ctx USING (w1)
        |GROUP BY tf.doc_id, tf.n ORDER BY doc""".stripMargin,

    // 10 unrolled iterations of r' = 0.15/N + 0.85*(in_sum + dangling/N)
    // — a recursive CTE cannot aggregate its own reference, so the
    // oracle chains pr0..pr10 as generated CTEs. Every CTE is
    // MATERIALIZED: DuckDB inlines plain CTEs per reference, and with
    // 3 references per iteration the un-hinted chain re-expands pr0
    // 3^10 times (measured: minutes vs 0.09 s)
    "op_pagerank" -> {
      val init =
        """WITH nodes AS MATERIALIZED (SELECT DISTINCT doc_id % 400 AS id FROM documents),
          |edges AS MATERIALIZED (SELECT DISTINCT src, dst FROM (
          |  SELECT doc_id % 400 AS src, (doc_id * doc_id + 7) % 400 AS dst
          |  FROM documents WHERE doc_id % 2 = 0
          |  UNION ALL
          |  SELECT doc_id % 400, (doc_id * 17 + 3) % 400
          |  FROM documents WHERE doc_id % 2 = 0)),
          |odeg AS MATERIALIZED (SELECT src AS id, count(*)::BIGINT AS outdeg
          |  FROM edges GROUP BY src),
          |nn AS MATERIALIZED (SELECT count(*)::DOUBLE AS n FROM nodes),
          |pr0 AS MATERIALIZED (SELECT id, 1.0 / (SELECT n FROM nn) AS rank FROM nodes)""".stripMargin
      val steps = (1 to 10).map { k =>
        val p = s"pr${k - 1}"
        s""",
          |dang$k AS MATERIALIZED (SELECT coalesce(sum(rank), 0) AS dg FROM $p
          |  LEFT JOIN odeg USING (id) WHERE outdeg IS NULL),
          |ct$k AS MATERIALIZED (SELECT e.dst AS id, sum(p.rank / o.outdeg) AS in_sum
          |  FROM $p p JOIN odeg o USING (id) JOIN edges e ON e.src = p.id
          |  GROUP BY e.dst),
          |pr$k AS MATERIALIZED (SELECT nodes.id,
          |  0.15 / (SELECT n FROM nn) + 0.85 * (coalesce(ct$k.in_sum, 0)
          |    + (SELECT dg FROM dang$k) / (SELECT n FROM nn)) AS rank
          |  FROM nodes LEFT JOIN ct$k ON ct$k.id = nodes.id)""".stripMargin
      }.mkString
      init + steps + "\nSELECT id, round(rank, 6) AS rank FROM pr10 ORDER BY id"
    },

    // the union pipeline keeps ids disjoint (left < 10000 <= right), so
    // one signature CTE serves both sides of the cross-corpus join
    "op_fuzzy_join" ->
      s"""WITH u AS (SELECT doc_id, lower(text) AS t FROM documents
        |  UNION ALL SELECT doc_id + 10000,
        |    lower(text || ' zz' || CAST(doc_id % 5 AS VARCHAR)) FROM documents),
        |w AS (SELECT doc_id, ${toksSql("t")} AS ws FROM u),
        |sh AS (SELECT doc_id, $shingleSql AS shl FROM w),
        |sx AS (SELECT doc_id, unnest(shl) AS sgl FROM sh),
        |hx AS (SELECT doc_id, ${rollSql("sgl")} AS h FROM sx),
        |sig AS (SELECT doc_id, ${minhashAggSqls.mkString(", ")} FROM hx GROUP BY doc_id),
        |bands AS (SELECT doc_id, unnest($bandListSql) AS band FROM sig),
        |p AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        |      FROM bands a JOIN bands b ON a.band = b.band
        |      WHERE a.doc_id < 10000 AND b.doc_id >= 10000),
        |e AS (SELECT p.id_a, p.id_b,
        |  (${(0 until 16).map(i =>
               s"CASE WHEN sa.mh$i = sb.mh$i THEN 1 ELSE 0 END")
               .mkString(" + ")}) / 16.0 AS est_jaccard
        |  FROM p JOIN sig sa ON sa.doc_id = p.id_a
        |         JOIN sig sb ON sb.doc_id = p.id_b)
        |SELECT id_a, id_b, est_jaccard FROM e WHERE est_jaccard >= 0.5
        |ORDER BY id_a, id_b""".stripMargin,

    "op_winsorize" ->
      """WITH q AS (SELECT source, quantile_cont(n_chars, 0.05) AS plo,
        |    quantile_cont(n_chars, 0.95) AS phi
        |  FROM documents GROUP BY source)
        |SELECT doc_id, d.source, n_chars,
        |  round(CASE WHEN n_chars < plo THEN plo
        |    WHEN n_chars > phi THEN phi ELSE n_chars::DOUBLE END, 6) AS n_chars_w
        |FROM documents d JOIN q USING (source) ORDER BY doc_id""".stripMargin,

    "op_standardize" ->
      """WITH x AS (SELECT vec_id, g.i::INTEGER - 1 AS i, embedding[g.i]::DOUBLE AS x
        |  FROM embeddings,
        |    LATERAL (SELECT unnest(generate_series(1, len(embedding))) AS i) g),
        |st AS (SELECT i, count(*)::BIGINT AS n, sum(x) AS sx, sum(x * x) AS sxx
        |  FROM x GROUP BY i),
        |m AS (SELECT i, sx / n AS mean,
        |    sqrt((sxx - sx * sx / n) / (n - 1)) AS std FROM st)
        |SELECT x.vec_id, x.i,
        |  CASE WHEN std > 0 THEN round((x.x - mean) / std, 6) + 0.0
        |    ELSE 0.0 END AS z
        |FROM x JOIN m USING (i) ORDER BY vec_id, i""".stripMargin,

    "dd_simhash" ->
      s"""WITH tok AS (SELECT doc_id, unnest(${toksSql("lower(text)")}) AS tok FROM documents),
        |th AS (SELECT doc_id, ${rollSql("tok")} AS h FROM tok),
        |mx AS (SELECT doc_id, ${simhashMixSqls.mkString(", ")} FROM th),
        |sums AS (SELECT doc_id, ${simhashSumSqls.mkString(", ")} FROM mx GROUP BY doc_id)
        |SELECT doc_id AS doc, ($simhashCombineSql)::BIGINT AS simhash
        |FROM sums ORDER BY doc""".stripMargin,

    // the growing SimHash index replayed arithmetically: batch 0 = ids
    // >= 100 vs the seed sigs (ids < 100); batch 1 = the +10000 copies
    // vs seed ∪ batch-0 novel sigs. Token-less docs (no rows in sums)
    // keep a NULL sig and are always novel.
    "dd_simhash_novelty_grow" ->
      s"""WITH tok AS (SELECT doc_id, unnest(${toksSql("lower(text)")}) AS tok FROM documents),
        |th AS (SELECT doc_id, ${rollSql("tok")} AS h FROM tok),
        |mx AS (SELECT doc_id, ${simhashMixSqls.mkString(", ")} FROM th),
        |sums AS (SELECT doc_id, ${simhashSumSqls.mkString(", ")} FROM mx GROUP BY doc_id),
        |sig0 AS (SELECT doc_id AS doc, ($simhashCombineSql)::BIGINT AS simhash FROM sums),
        |sig AS (SELECT d.doc_id AS doc, s.simhash FROM documents d
        |  LEFT JOIN sig0 s ON s.doc = d.doc_id),
        |n0 AS (SELECT doc, simhash FROM sig a WHERE doc >= 100
        |  AND (simhash IS NULL OR NOT EXISTS (
        |    SELECT 1 FROM sig b WHERE b.doc < 100 AND b.simhash IS NOT NULL
        |      AND bit_count(xor(a.simhash, b.simhash)) <= 3))),
        |i2 AS (SELECT simhash FROM sig
        |    WHERE doc < 100 AND simhash IS NOT NULL
        |  UNION ALL SELECT DISTINCT simhash FROM n0
        |    WHERE simhash IS NOT NULL),
        |n1 AS (SELECT a.doc + 10000 AS doc, a.simhash FROM sig a
        |  WHERE a.simhash IS NULL OR NOT EXISTS (
        |    SELECT 1 FROM i2 i WHERE bit_count(xor(a.simhash, i.simhash)) <= 3))
        |SELECT doc AS doc_id, simhash, 0::BIGINT AS batch_id FROM n0
        |UNION ALL SELECT doc, simhash, 1::BIGINT FROM n1
        |ORDER BY doc_id""".stripMargin,

    "dd_simhash_pairs" ->
      s"""WITH u AS (SELECT doc_id, text FROM documents
        |  UNION ALL SELECT doc_id + 10000, text FROM documents),
        |tok AS (SELECT doc_id, unnest(${toksSql("lower(text)")}) AS tok FROM u),
        |th AS (SELECT doc_id, ${rollSql("tok")} AS h FROM tok),
        |mx AS (SELECT doc_id, ${simhashMixSqls.mkString(", ")} FROM th),
        |sums AS (SELECT doc_id, ${simhashSumSqls.mkString(", ")} FROM mx GROUP BY doc_id),
        |sig AS (SELECT doc_id AS doc, ($simhashCombineSql)::BIGINT AS simhash FROM sums),
        |banded AS (SELECT doc, simhash, unnest($simhashBandsSql) AS band FROM sig),
        |cand AS (SELECT DISTINCT a.doc AS id_a, b.doc AS id_b,
        |    a.simhash AS sh_a, b.simhash AS sh_b
        |  FROM banded a JOIN banded b ON a.band = b.band AND a.doc < b.doc)
        |SELECT id_a, id_b, CAST(bit_count(xor(sh_a, sh_b)) AS INTEGER) AS dist
        |FROM cand WHERE bit_count(xor(sh_a, sh_b)) <= 3
        |ORDER BY id_a, id_b""".stripMargin,

    "dd_minhash_clusters" ->
      s"""WITH RECURSIVE u AS (SELECT doc_id, lower(text) AS t FROM documents
        |  UNION ALL SELECT doc_id + 10000, lower(text) FROM documents),
        |w AS (SELECT doc_id, ${toksSql("t")} AS ws FROM u),
        |sh AS (SELECT doc_id, $shingleSql AS shl FROM w),
        |sx AS (SELECT doc_id, unnest(shl) AS sgl FROM sh),
        |hx AS (SELECT doc_id, ${rollSql("sgl")} AS h FROM sx),
        |sig AS (SELECT doc_id, ${minhashAggSqls.mkString(", ")} FROM hx GROUP BY doc_id),
        |bands AS (SELECT doc_id, unnest($bandListSql) AS band FROM sig),
        |cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM bands a JOIN bands b ON a.band = b.band AND a.doc_id < b.doc_id),
        |edges AS (SELECT id_a AS src, id_b AS dst FROM cand
        |  UNION ALL SELECT id_b, id_a FROM cand),
        |walk(doc, anc) AS (
        |  SELECT doc_id, doc_id FROM u
        |  UNION
        |  SELECT e.dst, w2.anc FROM walk w2 JOIN edges e ON e.src = w2.doc)
        |SELECT doc, min(anc) AS rep, (doc = min(anc)) AS keep
        |FROM walk GROUP BY doc ORDER BY doc""".stripMargin,

    // connected components over the near-dup graph: DuckDB's recursive
    // CTE enumerates (node, reachable ancestor) pairs; min(anc) per node
    // is the component representative — the same fixpoint the Spark
    // label-propagation loop converges to.
    "dd_simhash_clusters" ->
      s"""WITH RECURSIVE u AS (SELECT doc_id, text FROM documents
        |  UNION ALL SELECT doc_id + 10000, text FROM documents),
        |tok AS (SELECT doc_id, unnest(${toksSql("lower(text)")}) AS tok FROM u),
        |th AS (SELECT doc_id, ${rollSql("tok")} AS h FROM tok),
        |mx AS (SELECT doc_id, ${simhashMixSqls.mkString(", ")} FROM th),
        |sums AS (SELECT doc_id, ${simhashSumSqls.mkString(", ")} FROM mx GROUP BY doc_id),
        |sig AS (SELECT doc_id AS doc, ($simhashCombineSql)::BIGINT AS simhash FROM sums),
        |banded AS (SELECT doc, simhash, unnest($simhashBandsSql) AS band FROM sig),
        |cand AS (SELECT DISTINCT a.doc AS id_a, b.doc AS id_b
        |  FROM banded a JOIN banded b ON a.band = b.band AND a.doc < b.doc
        |  WHERE bit_count(xor(a.simhash, b.simhash)) <= 3),
        |edges AS (SELECT id_a AS src, id_b AS dst FROM cand
        |  UNION ALL SELECT id_b, id_a FROM cand),
        |walk(doc, anc) AS (
        |  SELECT doc_id, doc_id FROM u
        |  UNION
        |  SELECT e.dst, w.anc FROM walk w JOIN edges e ON e.src = w.doc)
        |SELECT doc, min(anc) AS rep, (doc = min(anc)) AS keep
        |FROM walk GROUP BY doc ORDER BY doc""".stripMargin,

    "dd_cosine_pairs" ->
      s"""WITH pairs AS (SELECT a.vec_id AS id_a, a.vec_id + 1 AS id_b
        |  FROM embeddings a JOIN embeddings b ON b.vec_id = a.vec_id + 1
        |  WHERE a.vec_id % 2 = 0)
        |SELECT p.id_a, p.id_b, ${cosSql("ea.embedding", "eb.embedding")} AS cos
        |FROM pairs p JOIN embeddings ea ON ea.vec_id = p.id_a
        |JOIN embeddings eb ON eb.vec_id = p.id_b
        |ORDER BY id_a""".stripMargin,

    // GLOBAL brute-force novelty — the cell-local search must equal it
    // (copies co-locate; negated vectors match nothing at 0.95)
    "dd_semantic_novelty" ->
      s"""WITH b AS (
        |  SELECT vec_id + 200000 AS vec_id, embedding FROM embeddings
        |  WHERE vec_id % 5 = 0
        |  UNION ALL
        |  SELECT vec_id + 300000, list_transform(embedding, x -> -x)
        |  FROM embeddings WHERE vec_id % 7 = 0),
        |hit AS (SELECT DISTINCT b.vec_id
        |  FROM b JOIN embeddings a
        |    ON ${cosSql("b.embedding", "a.embedding")} >= 0.95)
        |SELECT b.vec_id, h.vec_id IS NULL AS novel
        |FROM b LEFT JOIN hit h ON b.vec_id = h.vec_id
        |ORDER BY b.vec_id""".stripMargin,

    // GLOBAL brute-force drop rule — the cell-local SemDeDup result
    // must equal it (copies co-locate, no natural pair ≥ 0.95)
    "dd_semantic" ->
      s"""WITH u AS (SELECT vec_id, embedding FROM embeddings
        |  UNION ALL SELECT vec_id + 100000, embedding FROM embeddings),
        |drp AS (SELECT DISTINCT b.vec_id
        |  FROM u a JOIN u b ON a.vec_id < b.vec_id
        |  WHERE ${cosSql("a.embedding", "b.embedding")} >= 0.95)
        |SELECT u.vec_id, d.vec_id IS NULL AS kept
        |FROM u LEFT JOIN drp d ON u.vec_id = d.vec_id
        |ORDER BY u.vec_id""".stripMargin,

    // the growing BAND index replayed from the minhash closed form:
    // a doc is novel iff none of its 4 md5 band keys is indexed;
    // batch 0 (originals >= 100) vs the seed bands, batch 1 (copies)
    // vs seed ∪ batch-0-novel bands. Docs absent from the band CTE
    // (null text) trivially pass NOT EXISTS — kept, like the engine.
    "dd_minhash_novelty_grow" ->
      s"""WITH u AS (SELECT doc_id, lower(text) AS t FROM documents),
        |w AS (SELECT doc_id, ${toksSql("t")} AS ws FROM u),
        |sh AS (SELECT doc_id, $shingleSql AS shl FROM w),
        |sx AS (SELECT doc_id, unnest(shl) AS sgl FROM sh),
        |hx AS (SELECT doc_id, ${rollSql("sgl")} AS h FROM sx),
        |sig AS (SELECT doc_id, ${minhashAggSqls.mkString(", ")}
        |  FROM hx GROUP BY doc_id),
        |bnd AS (SELECT doc_id, unnest($bandListSql) AS band FROM sig),
        |n0 AS (SELECT d.doc_id FROM documents d
        |  WHERE d.doc_id >= 100 AND NOT EXISTS (
        |    SELECT 1 FROM bnd a JOIN bnd s2
        |      ON s2.band = a.band AND s2.doc_id < 100
        |    WHERE a.doc_id = d.doc_id)),
        |i1 AS (SELECT band FROM bnd WHERE doc_id < 100
        |  UNION SELECT a.band FROM bnd a JOIN n0 ON n0.doc_id = a.doc_id),
        |n1 AS (SELECT d.doc_id + 10000 AS doc_id FROM documents d
        |  WHERE NOT EXISTS (
        |    SELECT 1 FROM bnd a JOIN i1 ON i1.band = a.band
        |    WHERE a.doc_id = d.doc_id))
        |SELECT doc_id, 0::BIGINT AS batch_id FROM n0
        |UNION ALL SELECT doc_id, 1::BIGINT FROM n1
        |ORDER BY doc_id""".stripMargin,

    // the growing KEY index replayed: a doc is novel iff its content
    // hash (or NULL — no key, no duplicate evidence) is unseen; batch
    // 0 vs the seed keys, batch 1 (copies) vs seed ∪ batch-0 growth
    "dd_key_novelty_grow" ->
      """WITH u AS (SELECT doc_id, md5(lower(text)) AS k FROM documents),
        |n0 AS (SELECT doc_id, k FROM u
        |  WHERE doc_id >= 100 AND (k IS NULL OR NOT EXISTS (
        |    SELECT 1 FROM u s WHERE s.doc_id < 100 AND s.k = u.k))),
        |i1 AS (SELECT DISTINCT k FROM u WHERE doc_id < 100 AND k IS NOT NULL
        |  UNION SELECT k FROM n0 WHERE k IS NOT NULL),
        |n1 AS (SELECT doc_id + 10000 AS doc_id FROM u
        |  WHERE k IS NULL OR k NOT IN (SELECT k FROM i1))
        |SELECT doc_id, 0::BIGINT AS batch_id FROM n0
        |UNION ALL SELECT doc_id, 1::BIGINT FROM n1
        |ORDER BY doc_id""".stripMargin,

    // intra-batch collapse over band ARRAYS replayed as a recursive
    // min-label walk: nodes are distinct band arrays (joined to a
    // fixed-width string — every band key is exactly 34 chars, so
    // string order == array order and the min-label rep matches the
    // engine's min-array rep), edges connect arrays sharing a band;
    // rows keep iff their array is its component's rep. Band-less
    // docs (no signature) pass through. Cold index ⇒ no history drops.
    "dd_minhash_novelty_collapse" ->
      s"""WITH RECURSIVE u AS (SELECT doc_id, lower(text) AS t FROM documents
        |    UNION ALL SELECT doc_id + 10000, lower(text) FROM documents),
        |w AS (SELECT doc_id, ${toksSql("t")} AS ws FROM u),
        |sh AS (SELECT doc_id, $shingleSql AS shl FROM w),
        |sx AS (SELECT doc_id, unnest(shl) AS sgl FROM sh),
        |hx AS (SELECT doc_id, ${rollSql("sgl")} AS h FROM sx),
        |sig AS (SELECT doc_id, ${minhashAggSqls.mkString(", ")}
        |  FROM hx GROUP BY doc_id),
        |ba AS (SELECT doc_id, array_to_string($bandListSql, '|') AS bk
        |  FROM sig),
        |da AS (SELECT DISTINCT bk FROM ba),
        |ex AS (SELECT bk, unnest(string_split(bk, '|')) AS band FROM da),
        |cand AS (SELECT DISTINCT a.bk AS xa, b.bk AS xb
        |  FROM ex a JOIN ex b ON a.band = b.band AND a.bk < b.bk),
        |edges AS (SELECT xa AS src, xb AS dst FROM cand
        |  UNION SELECT xb, xa FROM cand),
        |walk(x, anc) AS (SELECT bk, bk FROM da
        |  UNION SELECT e.dst, w2.anc FROM walk w2 JOIN edges e
        |    ON e.src = w2.x),
        |rep AS (SELECT x, min(anc) AS r FROM walk GROUP BY x)
        |SELECT b.doc_id, 0::BIGINT AS batch_id FROM ba b
        |JOIN rep ON rep.x = b.bk WHERE b.bk = rep.r
        |UNION ALL
        |SELECT u.doc_id, 0::BIGINT FROM u
        |WHERE u.doc_id NOT IN (SELECT doc_id FROM ba)
        |ORDER BY doc_id""".stripMargin,

    // intra-batch collapse over VECTORS replayed globally (the engine's
    // single zero-centroid cell makes within-cell == global): nodes are
    // distinct vectors, edges cos >= 0.95, rep = min vector
    // (lexicographic float lists — identical compare in both engines)
    "dd_semantic_novelty_collapse" ->
      s"""WITH RECURSIVE u AS (
        |  SELECT vec_id, embedding FROM embeddings WHERE vec_id % 4 = 0
        |  UNION ALL
        |  SELECT vec_id + 100000,
        |    list_prepend(embedding[1] * 1.01::FLOAT, embedding[2:])
        |  FROM embeddings WHERE vec_id % 4 = 0),
        |dv AS (SELECT DISTINCT embedding AS v FROM u),
        |e0 AS (SELECT a.v AS va, b.v AS vb FROM dv a JOIN dv b
        |  ON a.v < b.v WHERE ${cosSql("a.v", "b.v")} >= 0.95),
        |edges AS (SELECT va AS src, vb AS dst FROM e0
        |  UNION SELECT vb, va FROM e0),
        |walk(v, anc) AS (SELECT v, v FROM dv
        |  UNION SELECT e.dst, w.anc FROM walk w JOIN edges e
        |    ON e.src = w.v),
        |rep AS (SELECT v, min(anc) AS r FROM walk GROUP BY v)
        |SELECT u.vec_id, 0::BIGINT AS batch_id FROM u
        |JOIN rep ON rep.v = u.embedding WHERE u.embedding = rep.r
        |ORDER BY vec_id""".stripMargin,

    // the growing embedding index replayed with brute-force cosine:
    // batch 0 vs the seed corpus, batch 1 vs seed ∪ batch-0 novelties
    "dd_semantic_novelty_grow" ->
      s"""WITH b0 AS (
        |  SELECT vec_id + 200000 AS vec_id, embedding FROM embeddings
        |  WHERE vec_id % 5 = 0
        |  UNION ALL
        |  SELECT vec_id + 300000, list_transform(embedding, x -> -x)
        |  FROM embeddings WHERE vec_id % 7 = 0),
        |n0 AS (SELECT b.vec_id, b.embedding FROM b0 b
        |  WHERE NOT EXISTS (SELECT 1 FROM embeddings ix
        |    WHERE ${cosSql("b.embedding", "ix.embedding")} >= 0.95)),
        |i1 AS (SELECT embedding FROM embeddings
        |  UNION ALL SELECT embedding FROM n0),
        |b1 AS (
        |  SELECT vec_id + 400000 AS vec_id,
        |    list_transform(embedding, x -> -x) AS embedding
        |  FROM embeddings WHERE vec_id % 7 = 0
        |  UNION ALL
        |  SELECT vec_id + 500000, list_transform(embedding, x -> -x)
        |  FROM embeddings WHERE vec_id % 11 = 0 AND vec_id % 7 <> 0),
        |n1 AS (SELECT b.vec_id FROM b1 b
        |  WHERE NOT EXISTS (SELECT 1 FROM i1 ix
        |    WHERE ${cosSql("b.embedding", "ix.embedding")} >= 0.95))
        |SELECT vec_id, 0::BIGINT AS batch_id FROM n0
        |UNION ALL SELECT vec_id, 1::BIGINT FROM n1
        |ORDER BY vec_id""".stripMargin,

    // identical oracle to dd_semantic — the serving path changes WHERE
    // the centroids come from (pre-trained input vs inline training),
    // never the keep/drop answer (assignment-independent construction)
    "dd_semantic_serve" ->
      s"""WITH u AS (SELECT vec_id, embedding FROM embeddings
        |  UNION ALL SELECT vec_id + 100000, embedding FROM embeddings),
        |drp AS (SELECT DISTINCT b.vec_id
        |  FROM u a JOIN u b ON a.vec_id < b.vec_id
        |  WHERE ${cosSql("a.embedding", "b.embedding")} >= 0.95)
        |SELECT u.vec_id, d.vec_id IS NULL AS kept
        |FROM u LEFT JOIN drp d ON u.vec_id = d.vec_id
        |ORDER BY u.vec_id""".stripMargin,

    // LSH-bucket blocking (the 16 shared hyperplanes), exact cosine
    // verify, then connected components via the recursive-CTE walk —
    // the same fixpoint the Spark label-propagation loop converges to
    "dd_cosine_clusters" ->
      s"""WITH RECURSIVE u AS (SELECT vec_id, embedding FROM embeddings
        |  UNION ALL SELECT vec_id + 10000, embedding FROM embeddings),
        |c AS (SELECT vec_id, embedding, ${bucketSql("embedding")} AS bucket FROM u),
        |e0 AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b
        |  FROM c a JOIN c b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
        |  WHERE ${cosSql("a.embedding", "b.embedding")} >= 0.95),
        |edges AS (SELECT id_a AS src, id_b AS dst FROM e0
        |  UNION SELECT id_b, id_a FROM e0),
        |walk AS (SELECT vec_id AS doc, vec_id AS anc FROM u
        |  UNION
        |  SELECT e.dst, w.anc FROM walk w JOIN edges e ON e.src = w.doc)
        |SELECT doc, min(anc) AS rep, (doc = min(anc)) AS keep
        |FROM walk GROUP BY doc ORDER BY doc""".stripMargin,

    // brute-force weighted-cosine over the SAME integer tf·idf
    // quantization as Dedup.tfidfPairs: dot and norms are exact
    // BIGINTs, the cosine is dot / sqrt(double·double) in the
    // identical op order, so both the pair set and the rounded value
    // replay bit-for-bit (no prefix filter needed here — the filter
    // only prunes, membership is the exact compare)
    "dd_tfidf_pairs" ->
      s"""WITH tok AS (SELECT doc_id, unnest(${toksSql("lower(text)")}) AS tok
        |  FROM documents WHERE doc_id % 4 < 2),
        |tf AS (SELECT doc_id, tok, count(*)::BIGINT AS tf FROM tok GROUP BY 1, 2),
        |dfc AS (SELECT tok, count(*)::BIGINT AS dfd FROM tf GROUP BY 1),
        |nn AS (SELECT count(*)::BIGINT AS n FROM documents WHERE doc_id % 4 < 2),
        |rr AS (SELECT doc_id, tok, tf, (SELECT n FROM nn) // dfd AS r
        |  FROM tf JOIN dfc USING (tok)),
        |w AS (SELECT doc_id, tok, tf * (1 + ${floorLog2Sql("r")}) AS w FROM rr),
        |n2 AS (SELECT doc_id, sum(w*w)::BIGINT AS n2 FROM w GROUP BY 1),
        |d AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |    sum(a.w * b.w)::BIGINT AS dot
        |  FROM w a JOIN w b ON a.tok = b.tok AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2)
        |SELECT doc_a, doc_b, dot, na.n2 AS n2_a, nb.n2 AS n2_b,
        |  round(dot::DOUBLE / sqrt(na.n2::DOUBLE * nb.n2::DOUBLE), 6) AS cos
        |FROM d JOIN n2 na ON na.doc_id = doc_a
        |JOIN n2 nb ON nb.doc_id = doc_b
        |WHERE dot::DOUBLE / sqrt(na.n2::DOUBLE * nb.n2::DOUBLE) >= 0.9
        |ORDER BY doc_a, doc_b""".stripMargin,

    // brute-force ordered containment — the decision is integer-only,
    // the reported value a division of the same two BIGINTs
    "dd_containment" ->
      s"""WITH d AS (SELECT doc_id,
        |    unnest(list_distinct(${toksSql("lower(text)")})) AS tok
        |  FROM documents WHERE doc_id % 4 < 2),
        |sz AS (SELECT doc_id, count(*) AS n FROM d GROUP BY 1),
        |i AS (SELECT a.doc_id AS da, b.doc_id AS db, count(*)::BIGINT AS inter
        |  FROM d a JOIN d b ON a.tok = b.tok AND a.doc_id != b.doc_id
        |  GROUP BY 1, 2)
        |SELECT da AS id_a, db AS id_b, inter, sa.n::BIGINT AS sz_a,
        |  inter::DOUBLE / sa.n AS containment
        |FROM i JOIN sz sa ON sa.doc_id = da
        |WHERE inter * 1000000 >= 950000 * sa.n
        |ORDER BY id_a, id_b""".stripMargin,

    // clique-representative recompute: group docs by sorted distinct
    // token set, brute-force ordered containment over DISTINCT sets,
    // plus one self row per multi-member clique
    "dd_containment_reps" ->
      s"""WITH d0 AS (SELECT doc_id,
        |    list_sort(list_distinct(${toksSql("lower(text)")})) AS ts
        |  FROM documents WHERE doc_id % 4 < 2),
        |g AS (SELECT ts, min(doc_id) AS rep, count(*)::BIGINT AS n
        |  FROM d0 GROUP BY ts),
        |szs AS (SELECT rep, n, len(ts)::BIGINT AS sz FROM g),
        |d AS (SELECT rep, unnest(ts) AS tok FROM g),
        |i AS (SELECT a.rep AS ra, b.rep AS rb, count(*)::BIGINT AS inter
        |  FROM d a JOIN d b ON a.tok = b.tok AND a.rep != b.rep
        |  GROUP BY 1, 2),
        |cr AS (SELECT ra AS id_a, rb AS id_b, inter, sa.sz AS sz_a,
        |    inter::DOUBLE / sa.sz AS containment, sa.n AS n_a, sb.n AS n_b
        |  FROM i JOIN szs sa ON sa.rep = ra JOIN szs sb ON sb.rep = rb
        |  WHERE inter * 1000000 >= 950000 * sa.sz),
        |se AS (SELECT rep AS id_a, rep AS id_b, sz AS inter, sz AS sz_a,
        |    sz::DOUBLE / sz AS containment, n AS n_a, n AS n_b
        |  FROM szs WHERE n >= 2 AND sz > 0)
        |SELECT * FROM cr UNION ALL SELECT * FROM se
        |ORDER BY id_a, id_b""".stripMargin,

    // truncated-snapshot construction + brute-force ordered
    // containment of left in right — decision integer-only
    "dd_containment_join" ->
      s"""WITH l0 AS (SELECT doc_id + 20000 AS doc_id,
        |    array_to_string(ws[1:greatest(len(ws)//2, 1)], ' ') AS text
        |  FROM (SELECT doc_id, ${toksSql("text")} AS ws FROM documents
        |    WHERE doc_id % 10 = 0 AND doc_id % 4 < 2)),
        |la AS (SELECT doc_id, unnest(list_distinct(${toksSql("lower(text)")})) AS tok
        |  FROM l0),
        |rb AS (SELECT doc_id, unnest(list_distinct(${toksSql("lower(text)")})) AS tok
        |  FROM documents WHERE doc_id % 4 < 2),
        |sza AS (SELECT doc_id, count(*) AS n FROM la GROUP BY 1),
        |i AS (SELECT a.doc_id AS da, b.doc_id AS db, count(*)::BIGINT AS inter
        |  FROM la a JOIN rb b ON a.tok = b.tok GROUP BY 1, 2)
        |SELECT da AS id_a, db AS id_b, inter, sa.n::BIGINT AS sz_a,
        |  inter::DOUBLE / sa.n AS containment
        |FROM i JOIN sza sa ON sa.doc_id = da
        |WHERE inter * 1000000 >= 900000 * sa.n
        |ORDER BY id_a, id_b""".stripMargin,

    // group-distinct shingle-hash sets → pairwise Jaccard; shares the
    // decontaminate family's shingle + rolling-hash integers
    "dd_source_overlap" ->
      s"""WITH dw AS (SELECT source, ${toksSql("lower(text)")} AS ws FROM documents),
        |s0 AS (SELECT source, unnest($shingleSql) AS sgl FROM dw),
        |gh AS (SELECT DISTINCT source AS grp, ${rollSql("sgl")} AS sh FROM s0),
        |sz AS (SELECT grp, count(*) AS szn FROM gh GROUP BY 1),
        |i AS (SELECT a.grp AS grp_a, b.grp AS grp_b, count(*)::BIGINT AS inter
        |  FROM gh a JOIN gh b ON a.sh = b.sh AND a.grp < b.grp GROUP BY 1, 2),
        |p AS (SELECT a.grp AS grp_a, b.grp AS grp_b FROM sz a
        |  JOIN sz b ON a.grp < b.grp)
        |SELECT p.grp_a, p.grp_b, coalesce(i.inter, 0)::BIGINT AS inter,
        |  (sa.szn + sb.szn - coalesce(i.inter, 0))::BIGINT AS uni,
        |  coalesce(i.inter, 0)::DOUBLE /
        |    (sa.szn + sb.szn - coalesce(i.inter, 0)) AS jaccard
        |FROM p LEFT JOIN i USING (grp_a, grp_b)
        |JOIN sz sa ON sa.grp = p.grp_a JOIN sz sb ON sb.grp = p.grp_b
        |ORDER BY grp_a, grp_b""".stripMargin,

    // coverage over the same span CTEs as dd_substring_spans, left
    // join back so zero-coverage docs appear
    "dd_substring_coverage" ->
      s"""WITH pos AS (SELECT doc_id, g.i AS p, substr(text, g.i::INTEGER, 64) AS gram
        |  FROM documents, LATERAL (SELECT unnest(generate_series(1, length(text) - 63)) AS i) g
        |  WHERE length(text) >= 64 AND doc_id % 4 < 2),
        |c AS (SELECT gram FROM pos GROUP BY gram HAVING count(*) > 1),
        |dup AS (SELECT doc_id, p FROM pos JOIN c USING (gram)),
        |m AS (SELECT doc_id, p, max(p) OVER (PARTITION BY doc_id ORDER BY p
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pm FROM dup),
        |isl AS (SELECT doc_id, p, sum(CASE WHEN pm IS NULL OR p > pm + 64
        |    THEN 1 ELSE 0 END) OVER (PARTITION BY doc_id ORDER BY p) AS island FROM m),
        |sp AS (SELECT doc_id, (max(p) + 63 - min(p) + 1)::BIGINT AS len
        |  FROM isl GROUP BY doc_id, island),
        |cov AS (SELECT doc_id, sum(len)::BIGINT AS covered FROM sp GROUP BY doc_id)
        |SELECT d.doc_id AS doc, length(d.text)::BIGINT AS n_chars,
        |  coalesce(cov.covered, 0)::BIGINT AS covered,
        |  coalesce(cov.covered, 0)::DOUBLE / length(d.text) AS frac
        |FROM documents d LEFT JOIN cov ON cov.doc_id = d.doc_id
        |WHERE d.doc_id % 4 < 2
        |ORDER BY doc""".stripMargin,

    // brute-force cross-corpus cosine under the shared union-idf
    // integer quantization — same exactness contract as dd_tfidf_pairs
    "dd_tfidf_join" ->
      s"""WITH l0 AS (SELECT doc_id, ${toksSql("lower(text)")} AS ws
        |  FROM documents WHERE doc_id % 4 < 2),
        |r0 AS (SELECT doc_id + 10000 AS doc_id,
        |    ${toksSql("lower(text || ' zz' || CAST(doc_id % 5 AS VARCHAR))")} AS ws
        |  FROM documents WHERE doc_id % 4 < 2),
        |lt AS (SELECT doc_id, unnest(ws) AS tok FROM l0),
        |rt AS (SELECT doc_id, unnest(ws) AS tok FROM r0),
        |tfl AS (SELECT doc_id, tok, count(*)::BIGINT AS tf FROM lt GROUP BY 1, 2),
        |tfr AS (SELECT doc_id, tok, count(*)::BIGINT AS tf FROM rt GROUP BY 1, 2),
        |dfc AS (SELECT tok, count(*)::BIGINT AS dfd
        |  FROM (SELECT * FROM tfl UNION ALL SELECT * FROM tfr) GROUP BY 1),
        |nn AS (SELECT (SELECT count(*) FROM documents
        |    WHERE doc_id % 4 < 2) * 2 AS n),
        |wl AS (SELECT doc_id, tok, tf * (1 + ${floorLog2Sql("r")}) AS w
        |  FROM (SELECT tfl.*, (SELECT n FROM nn) // dfd AS r
        |    FROM tfl JOIN dfc USING (tok))),
        |wr AS (SELECT doc_id, tok, tf * (1 + ${floorLog2Sql("r")}) AS w
        |  FROM (SELECT tfr.*, (SELECT n FROM nn) // dfd AS r
        |    FROM tfr JOIN dfc USING (tok))),
        |n2l AS (SELECT doc_id, sum(w*w)::BIGINT AS n2 FROM wl GROUP BY 1),
        |n2r AS (SELECT doc_id, sum(w*w)::BIGINT AS n2 FROM wr GROUP BY 1),
        |d AS (SELECT a.doc_id AS da, b.doc_id AS db, sum(a.w * b.w)::BIGINT AS dot
        |  FROM wl a JOIN wr b ON a.tok = b.tok GROUP BY 1, 2)
        |SELECT da AS id_a, db AS id_b, dot, na.n2 AS n2_a, nb.n2 AS n2_b,
        |  round(dot::DOUBLE / sqrt(na.n2::DOUBLE * nb.n2::DOUBLE), 6) AS cos
        |FROM d JOIN n2l na ON na.doc_id = da JOIN n2r nb ON nb.doc_id = db
        |WHERE dot::DOUBLE / sqrt(na.n2::DOUBLE * nb.n2::DOUBLE) >= 0.9
        |ORDER BY id_a, id_b""".stripMargin,

    // duplicated k-gram positions → gaps-and-islands span merge; pure
    // integer/string ops, so the spans replay bit-for-bit
    "dd_substring_spans" ->
      s"""WITH pos AS (SELECT doc_id, g.i AS p, substr(text, g.i::INTEGER, 64) AS gram
        |  FROM documents, LATERAL (SELECT unnest(generate_series(1, length(text) - 63)) AS i) g
        |  WHERE length(text) >= 64 AND doc_id % 4 < 2),
        |c AS (SELECT gram FROM pos GROUP BY gram HAVING count(*) > 1),
        |dup AS (SELECT doc_id, p FROM pos JOIN c USING (gram)),
        |m AS (SELECT doc_id, p, max(p) OVER (PARTITION BY doc_id ORDER BY p
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pm FROM dup),
        |isl AS (SELECT doc_id, p, sum(CASE WHEN pm IS NULL OR p > pm + 64
        |    THEN 1 ELSE 0 END) OVER (PARTITION BY doc_id ORDER BY p) AS island FROM m)
        |SELECT doc_id AS doc, island::BIGINT AS span,
        |  min(p)::BIGINT AS span_start, (max(p) + 63)::BIGINT AS span_end,
        |  (max(p) + 63 - min(p) + 1)::BIGINT AS len, count(*)::BIGINT AS n_grams
        |FROM isl GROUP BY doc_id, island
        |ORDER BY doc, span_start""".stripMargin,

    "sim_bruteforce_topk" ->
      s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 5),
        |c AS (SELECT vec_id, embedding AS cv FROM embeddings),
        |scored AS (SELECT query_id, vec_id, ${cosSql("qv", "cv")} AS cos
        |  FROM c CROSS JOIN q WHERE query_id != vec_id),
        |r AS (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS rank FROM scored)
        |SELECT query_id, vec_id, cos, rank FROM r WHERE rank <= 10
        |ORDER BY query_id, rank""".stripMargin,

    "sim_sq8_topk" ->
      s"""WITH q AS (SELECT vec_id AS query_id, ${sq8Sql("embedding")} AS qq
        |  FROM embeddings WHERE vec_id < 5),
        |c AS (SELECT vec_id, ${sq8Sql("embedding")} AS qc FROM embeddings),
        |scored AS (SELECT query_id, vec_id, ${sq8CosSql("qq", "qc")} AS qcos
        |  FROM c CROSS JOIN q WHERE query_id != vec_id),
        |r AS (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY qcos DESC, vec_id) AS rank FROM scored)
        |SELECT query_id, vec_id, qcos, rank FROM r WHERE rank <= 10
        |ORDER BY query_id, rank""".stripMargin,

    "sim_lsh_topk" ->
      // multi-probe radius 2 == all corpus buckets within hamming 2 of
      // the query's bucket (the Spark side explodes the probe list; the
      // popcount join is the set-equivalent formulation)
      s"""WITH c AS (SELECT vec_id, embedding AS cv, ${bucketSql("embedding")} AS bucket FROM embeddings),
        |q AS (SELECT vec_id AS query_id, cv AS qv, bucket AS qbucket FROM c WHERE vec_id < 5),
        |scored AS (SELECT query_id, c.vec_id, ${cosSql("qv", "cv")} AS cos
        |  FROM c JOIN q ON bit_count(xor(c.bucket, q.qbucket)) <= 2
        |  WHERE query_id != c.vec_id),
        |r AS (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS rank FROM scored)
        |SELECT query_id, vec_id, cos, rank FROM r WHERE rank <= 10
        |ORDER BY query_id, rank""".stripMargin,

    "sim_rp_topk" ->
      // the full JL pipeline replays in SQL: literal ±1 projection rows
      // (rpLiteral = Similarity.rpMatrix), projected-cosine shortlist of
      // 40 per query, exact-cosine rerank to top 10 — ties broken by
      // vec_id at both ranks in both engines
      s"""WITH c AS (SELECT vec_id, embedding AS cv, ${rpProjSql("embedding")} AS cp FROM embeddings),
        |q AS (SELECT vec_id AS query_id, cv AS qv, cp AS qp FROM c WHERE vec_id < 5),
        |ps AS (SELECT query_id, vec_id, qv, cv, ${cosSqlGuarded("qp", "cp")} AS pcos
        |  FROM c CROSS JOIN q WHERE query_id != vec_id),
        |sl AS (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY pcos DESC, vec_id) AS prank FROM ps),
        |scored AS (SELECT query_id, vec_id, ${cosSql("qv", "cv")} AS cos FROM sl WHERE prank <= 40),
        |r AS (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS rank FROM scored)
        |SELECT query_id, vec_id, cos, rank FROM r WHERE rank <= 10
        |ORDER BY query_id, rank""".stripMargin,

    // k-means training is not SQL-expressible; the oracle pins the
    // recall gate (per-query recall ≥ 0.6 vs brute force, computed
    // Spark-side against its own exact baseline). Raw recall values are
    // asserted in LlmSpec.
    "sim_ivf_topk" ->
      """SELECT vec_id AS query_id, true AS recall_ok
        |FROM embeddings WHERE vec_id < 5 ORDER BY query_id""".stripMargin,

    // multiple-assignment search must clear the HIGHER 0.8 gate (vs 0.6
    // single-assign) at the same nprobe — recall floors measured in
    // LlmSpec; the oracle pins the gate
    "sim_ivf_multiassign" ->
      """SELECT vec_id AS query_id, true AS recall_ok
        |FROM embeddings WHERE vec_id >= 200 AND vec_id < 205
        |ORDER BY query_id""".stripMargin,

    // IVF×JL composition gate: floor measured 0.60/0.50 (sf0.01/0.001)
    // in RpIvfProbe at nprobe=16/shortlist=200; the oracle pins the
    // 0.4 gate
    "sim_ivf_rp_topk" ->
      """SELECT vec_id AS query_id, true AS recall_ok
        |FROM embeddings WHERE vec_id < 5 ORDER BY query_id""".stripMargin,

    // PQ gate: recall floor measured at 0.9 for this shape (LlmSpec /
    // PqProbe); the oracle pins the 0.7 gate
    "sim_pq_topk" ->
      """SELECT vec_id AS query_id, true AS recall_ok
        |FROM embeddings WHERE vec_id < 5 ORDER BY query_id""".stripMargin,

    // IVFPQ gate: floor 0.7 measured at nprobe=16/shortlist=100
    // (PqProbe); the oracle pins the 0.6 gate
    "sim_ivfpq_topk" ->
      """SELECT vec_id AS query_id, true AS recall_ok
        |FROM embeddings WHERE vec_id < 5 ORDER BY query_id""".stripMargin,

    "mm_decode" ->
      s"""WITH m AS (SELECT doc_id AS media_id,
        |  ['image','audio','video'][(doc_id % 3)::INTEGER + 1] AS media_type,
        |  strlen(text) AS n_bytes,
        |  list_reduce(list_prepend(0::BIGINT, list_transform(
        |    list_filter(string_split(text, ''), c -> c != ''),
        |    c -> ascii(c)::BIGINT)), (a, x) -> (a + x) % 997) AS checksum
        |FROM documents)
        |SELECT media_id, media_type, n_bytes,
        |  ((n_bytes % 640) + 1)::INTEGER AS width,
        |  ((n_bytes % 480) + 1)::INTEGER AS height,
        |  (CASE media_type WHEN 'video' THEN (n_bytes % 24) + 1
        |    WHEN 'audio' THEN (n_bytes % 16000) + 1 ELSE 1 END)::INTEGER AS n_frames,
        |  checksum,
        |  CAST(NULL AS BIGINT) AS px_checksum
        |FROM m ORDER BY media_id""".stripMargin,

    // mirrors MediaCodecs byte layout arithmetically: BMP = 54-byte
    // header + 4-byte-padded 24bpp rows; WAV = 44-byte header + 16-bit
    // samples × channels; PNG = 68 + h·(w+1) (signature + IHDR/IEND +
    // one stored-block zlib IDAT of (filter byte + row) scanlines);
    // JPEG = constant 35-byte SOI/APP0/SOF0/EOI marker fixture;
    // GIF = constant 14 (header + LSD + trailer); MP3 = frames ×
    // MPEG-1 L3 frame length at 128 kbps (417/384/576 for
    // 44100/48000/32000); MP4 = constant 124-byte ftyp+moov/trak/tkhd
    "mm_decode_real" ->
      """WITH f AS (SELECT doc_id AS media_id, doc_id % 8 AS k,
        |  strlen(text) AS tb FROM documents)
        |SELECT media_id,
        |  CASE WHEN k IN (0, 2, 3, 4) THEN 'image'
        |    WHEN k IN (1, 5) THEN 'audio'
        |    ELSE 'video' END AS media_type,
        |  (CASE k
        |    WHEN 0 THEN 54 + ((((media_id % 16 + 1) * 3 + 3) // 4) * 4)
        |      * (media_id % 12 + 1)
        |    WHEN 1 THEN 44 + (media_id % 256 + 1) * (media_id % 2 + 1) * 2
        |    WHEN 2 THEN 68 + (media_id % 10 + 1) * (media_id % 20 + 2)
        |    WHEN 3 THEN 35
        |    WHEN 4 THEN 14
        |    WHEN 5 THEN (media_id % 20 + 1) *
        |      ([417, 384, 576][(media_id % 3)::INTEGER + 1])
        |    WHEN 6 THEN 124
        |    ELSE tb END)::BIGINT AS n_bytes,
        |  (CASE k WHEN 0 THEN media_id % 16 + 1
        |    WHEN 1 THEN 8000 + (media_id % 8) * 1000
        |    WHEN 2 THEN media_id % 20 + 1
        |    WHEN 3 THEN media_id % 30 + 1
        |    WHEN 4 THEN media_id % 25 + 1
        |    WHEN 5 THEN [44100, 48000, 32000][(media_id % 3)::INTEGER + 1]
        |    WHEN 6 THEN media_id % 320 + 16
        |    ELSE (tb % 640) + 1 END)::INTEGER AS width,
        |  (CASE k WHEN 0 THEN media_id % 12 + 1
        |    WHEN 1 THEN media_id % 2 + 1
        |    WHEN 2 THEN media_id % 10 + 1
        |    WHEN 3 THEN media_id % 14 + 1
        |    WHEN 4 THEN media_id % 15 + 1
        |    WHEN 5 THEN media_id % 2 + 1
        |    WHEN 6 THEN media_id % 240 + 16
        |    ELSE (tb % 480) + 1 END)::INTEGER AS height,
        |  (CASE k WHEN 1 THEN media_id % 256 + 1
        |    WHEN 5 THEN media_id % 20 + 1
        |    WHEN 7 THEN (tb % 24) + 1
        |    ELSE 1 END)::INTEGER AS n_frames,
        |  (CASE k
        |    WHEN 0 THEN (3 * (media_id % 16 + 1) * (media_id % 12 + 1)
        |      * (media_id % 251 + 1)) % 997
        |    WHEN 1 THEN ((media_id % 256 + 1) * (media_id % 2 + 1) * 2
        |      * (media_id % 251 + 1)) % 997
        |    WHEN 2 THEN (3 * (media_id % 20 + 1) * (media_id % 10 + 1)
        |      * (media_id % 251 + 1)) % 997
        |    ELSE NULL END)::BIGINT AS px_checksum
        |FROM f ORDER BY media_id""".stripMargin,

    // decoded-CONTENT closed forms: constant-fill payloads make the
    // pixel checksum 3·w·h·fill (images; GIF is palette-lossless so the
    // ImageIO round-trip preserves it exactly) and the PCM sample
    // checksum dataBytes·fill, both mod 997
    "mm_decode_pixels" ->
      """WITH f AS (SELECT doc_id AS media_id, doc_id % 4 AS k,
        |  doc_id % 251 + 1 AS fill, doc_id % 16 + 1 AS w,
        |  doc_id % 12 + 1 AS h FROM documents)
        |SELECT media_id,
        |  CASE WHEN k = 3 THEN 'audio' ELSE 'image' END AS media_type,
        |  (CASE WHEN k = 3 THEN 8000 + (media_id % 8) * 1000
        |    ELSE w END)::INTEGER AS width,
        |  (CASE WHEN k = 3 THEN media_id % 2 + 1
        |    ELSE h END)::INTEGER AS height,
        |  (CASE WHEN k = 3 THEN media_id % 256 + 1
        |    ELSE 1 END)::INTEGER AS n_frames,
        |  (CASE WHEN k = 3 THEN
        |      ((media_id % 256 + 1) * (media_id % 2 + 1) * 2 * fill) % 997
        |    ELSE (3 * w * h * fill) % 997 END)::BIGINT AS px_checksum
        |FROM f ORDER BY media_id""".stripMargin,

    "mm_resize_real" ->
      """WITH f AS (SELECT doc_id AS media_id, doc_id % 251 + 1 AS fill,
        |  (doc_id % 16 + 1)::BIGINT AS w, (doc_id % 12 + 1)::BIGINT AS h
        |  FROM documents WHERE doc_id % 4 <> 3),
        |g AS (SELECT media_id, fill, w, h,
        |  CASE WHEN w <= 8 AND h <= 6 THEN w
        |    WHEN w * 6 >= h * 8 THEN 8
        |    ELSE greatest(1, w * 6 // h) END AS ow,
        |  CASE WHEN w <= 8 AND h <= 6 THEN h
        |    WHEN w * 6 >= h * 8 THEN greatest(1, h * 8 // w)
        |    ELSE 6 END AS oh FROM f)
        |SELECT media_id, w::INTEGER AS width, h::INTEGER AS height,
        |  ow::INTEGER AS out_w, oh::INTEGER AS out_h,
        |  ((3 * ow * oh * fill) % 997)::BIGINT AS px_checksum
        |FROM g ORDER BY media_id""".stripMargin,

    "mm_frames" ->
      """WITH d AS (SELECT doc_id AS media_id, (strlen(text) % 24) + 1 AS n_frames
        |  FROM documents WHERE doc_id % 3 = 2)
        |SELECT media_id, unnest(range(0, n_frames, 4)) AS frame_idx
        |FROM d ORDER BY media_id, frame_idx""".stripMargin,

    "mm_resize" ->
      """WITH m AS (SELECT doc_id AS media_id, strlen(text) AS nb
        |  FROM documents WHERE doc_id % 3 = 0),
        |d AS (SELECT media_id, ((nb % 640) + 1)::INTEGER AS width,
        |             ((nb % 480) + 1)::INTEGER AS height FROM m)
        |SELECT media_id, width, height,
        |  (CASE WHEN width <= 224 AND height <= 160 THEN width
        |        WHEN width * 160 >= height * 224 THEN 224
        |        ELSE greatest((width * 160) // height, 1) END)::INTEGER AS out_w,
        |  (CASE WHEN width <= 224 AND height <= 160 THEN height
        |        WHEN width * 160 >= height * 224
        |          THEN greatest((height * 224) // width, 1)
        |        ELSE 160 END)::INTEGER AS out_h
        |FROM d ORDER BY media_id""".stripMargin,

    // perceptual dedup closed form: the 18×16 raster is affine in
    // (x, y, seed) and PNG/BMP round-trip losslessly, so each dHash
    // grid sample (sx=2·gx, sy=2·gy) has integer gray
    // (r+g+b)//3 with per-channel affine mod-256 values; the planted
    // edit (+128 on red at pixel (4,6) for doc_id%5=0) hits exactly
    // grid cell (gx=2, gy=3). The oracle packs the 64 comparison bits
    // with bit_or (bit 63 → negative BIGINT, same two's complement as
    // the engine) and brute-forces the ≤3-hamming pair search — the
    // engine's banded join must reproduce it exactly.
    "mm_phash_pairs" ->
      """WITH d AS (SELECT doc_id, doc_id % 64 AS s,
        |    (doc_id % 5 = 0) AS p FROM documents),
        |g AS (SELECT d.doc_id, gy.y AS gy, gx.x AS gx,
        |    (((CASE WHEN d.p AND gx.x = 2 AND gy.y = 3
        |         THEN (2*gx.x*7 + 2*gy.y*13 + d.s + 128) % 256
        |         ELSE (2*gx.x*7 + 2*gy.y*13 + d.s) % 256 END)
        |      + (2*gx.x*3 + 2*gy.y*5 + d.s*11) % 256
        |      + (2*gx.x*17 + 2*gy.y + d.s*29) % 256) // 3) AS gray
        |  FROM d, range(9) gx(x), range(8) gy(y)),
        |sig AS (SELECT a.doc_id,
        |    bit_or(CASE WHEN NOT b.gray > a.gray THEN 0::BIGINT
        |      WHEN a.gy*8 + a.gx = 63
        |        THEN (-9223372036854775807 - 1)::BIGINT
        |      ELSE (1::BIGINT << (a.gy*8 + a.gx)::INTEGER) END) AS h
        |  FROM g a JOIN g b ON b.doc_id = a.doc_id
        |    AND b.gy = a.gy AND b.gx = a.gx + 1
        |  WHERE a.gx < 8 GROUP BY a.doc_id)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  bit_count(xor(a.h, b.h))::INTEGER AS dist
        |FROM sig a JOIN sig b ON a.doc_id < b.doc_id
        |WHERE bit_count(xor(a.h, b.h)) <= 3
        |ORDER BY id_a, id_b""".stripMargin,

    // same signature closed form, then min-label component walk over the
    // brute-forced <=3-hamming edges (the dd_simhash_clusters pattern)
    "mm_phash_clusters" ->
      """WITH RECURSIVE d AS (SELECT doc_id, doc_id % 64 AS s,
        |    (doc_id % 5 = 0) AS p FROM documents),
        |g AS (SELECT d.doc_id, gy.y AS gy, gx.x AS gx,
        |    (((CASE WHEN d.p AND gx.x = 2 AND gy.y = 3
        |         THEN (2*gx.x*7 + 2*gy.y*13 + d.s + 128) % 256
        |         ELSE (2*gx.x*7 + 2*gy.y*13 + d.s) % 256 END)
        |      + (2*gx.x*3 + 2*gy.y*5 + d.s*11) % 256
        |      + (2*gx.x*17 + 2*gy.y + d.s*29) % 256) // 3) AS gray
        |  FROM d, range(9) gx(x), range(8) gy(y)),
        |sig AS (SELECT a.doc_id,
        |    bit_or(CASE WHEN NOT b.gray > a.gray THEN 0::BIGINT
        |      WHEN a.gy*8 + a.gx = 63
        |        THEN (-9223372036854775807 - 1)::BIGINT
        |      ELSE (1::BIGINT << (a.gy*8 + a.gx)::INTEGER) END) AS h
        |  FROM g a JOIN g b ON b.doc_id = a.doc_id
        |    AND b.gy = a.gy AND b.gx = a.gx + 1
        |  WHERE a.gx < 8 GROUP BY a.doc_id),
        |cand AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM sig a JOIN sig b ON a.doc_id < b.doc_id
        |  WHERE bit_count(xor(a.h, b.h)) <= 3),
        |edges AS (SELECT id_a AS src, id_b AS dst FROM cand
        |  UNION ALL SELECT id_b, id_a FROM cand),
        |walk(doc, anc) AS (
        |  SELECT doc_id, doc_id FROM documents
        |  UNION
        |  SELECT e.dst, w.anc FROM walk w JOIN edges e ON e.src = w.doc)
        |SELECT doc, min(anc) AS rep, (doc = min(anc)) AS keep
        |FROM walk GROUP BY doc ORDER BY doc""".stripMargin,

    // same signature closed form; novelty = no indexed (doc_id < 30)
    // signature within hamming 3
    "mm_phash_novelty" ->
      """WITH d AS (SELECT doc_id, doc_id % 64 AS s,
        |    (doc_id % 5 = 0) AS p FROM documents),
        |g AS (SELECT d.doc_id, gy.y AS gy, gx.x AS gx,
        |    (((CASE WHEN d.p AND gx.x = 2 AND gy.y = 3
        |         THEN (2*gx.x*7 + 2*gy.y*13 + d.s + 128) % 256
        |         ELSE (2*gx.x*7 + 2*gy.y*13 + d.s) % 256 END)
        |      + (2*gx.x*3 + 2*gy.y*5 + d.s*11) % 256
        |      + (2*gx.x*17 + 2*gy.y + d.s*29) % 256) // 3) AS gray
        |  FROM d, range(9) gx(x), range(8) gy(y)),
        |sig AS (SELECT a.doc_id,
        |    bit_or(CASE WHEN NOT b.gray > a.gray THEN 0::BIGINT
        |      WHEN a.gy*8 + a.gx = 63
        |        THEN (-9223372036854775807 - 1)::BIGINT
        |      ELSE (1::BIGINT << (a.gy*8 + a.gx)::INTEGER) END) AS h
        |  FROM g a JOIN g b ON b.doc_id = a.doc_id
        |    AND b.gy = a.gy AND b.gx = a.gx + 1
        |  WHERE a.gx < 8 GROUP BY a.doc_id)
        |SELECT a.doc_id AS media_id, a.h AS dhash, TRUE AS novel
        |FROM sig a
        |WHERE NOT EXISTS (SELECT 1 FROM sig b WHERE b.doc_id < 30
        |  AND bit_count(xor(a.h, b.h)) <= 3)
        |ORDER BY media_id""".stripMargin,

    // join form: identical decisions to mm_phash_novelty (same oracle)
    "mm_phash_novelty_join" ->
      """WITH d AS (SELECT doc_id, doc_id % 64 AS s,
        |    (doc_id % 5 = 0) AS p FROM documents),
        |g AS (SELECT d.doc_id, gy.y AS gy, gx.x AS gx,
        |    (((CASE WHEN d.p AND gx.x = 2 AND gy.y = 3
        |         THEN (2*gx.x*7 + 2*gy.y*13 + d.s + 128) % 256
        |         ELSE (2*gx.x*7 + 2*gy.y*13 + d.s) % 256 END)
        |      + (2*gx.x*3 + 2*gy.y*5 + d.s*11) % 256
        |      + (2*gx.x*17 + 2*gy.y + d.s*29) % 256) // 3) AS gray
        |  FROM d, range(9) gx(x), range(8) gy(y)),
        |sig AS (SELECT a.doc_id,
        |    bit_or(CASE WHEN NOT b.gray > a.gray THEN 0::BIGINT
        |      WHEN a.gy*8 + a.gx = 63
        |        THEN (-9223372036854775807 - 1)::BIGINT
        |      ELSE (1::BIGINT << (a.gy*8 + a.gx)::INTEGER) END) AS h
        |  FROM g a JOIN g b ON b.doc_id = a.doc_id
        |    AND b.gy = a.gy AND b.gx = a.gx + 1
        |  WHERE a.gx < 8 GROUP BY a.doc_id)
        |SELECT a.doc_id AS media_id, a.h AS dhash, TRUE AS novel
        |FROM sig a
        |WHERE NOT EXISTS (SELECT 1 FROM sig b WHERE b.doc_id < 30
        |  AND bit_count(xor(a.h, b.h)) <= 3)
        |ORDER BY media_id""".stripMargin,

    // the growing index replayed arithmetically: batch 0 = ids 30..59
    // vs the seed sigs (ids < 30); batch 1 = ids >= 60 vs seed ∪
    // batch-0 novel sigs
    "mm_phash_novelty_grow" ->
      """WITH d AS (SELECT doc_id, doc_id % 64 AS s,
        |    (doc_id % 5 = 0) AS p FROM documents),
        |g AS (SELECT d.doc_id, gy.y AS gy, gx.x AS gx,
        |    (((CASE WHEN d.p AND gx.x = 2 AND gy.y = 3
        |         THEN (2*gx.x*7 + 2*gy.y*13 + d.s + 128) % 256
        |         ELSE (2*gx.x*7 + 2*gy.y*13 + d.s) % 256 END)
        |      + (2*gx.x*3 + 2*gy.y*5 + d.s*11) % 256
        |      + (2*gx.x*17 + 2*gy.y + d.s*29) % 256) // 3) AS gray
        |  FROM d, range(9) gx(x), range(8) gy(y)),
        |sig AS (SELECT a.doc_id,
        |    bit_or(CASE WHEN NOT b.gray > a.gray THEN 0::BIGINT
        |      WHEN a.gy*8 + a.gx = 63
        |        THEN (-9223372036854775807 - 1)::BIGINT
        |      ELSE (1::BIGINT << (a.gy*8 + a.gx)::INTEGER) END) AS h
        |  FROM g a JOIN g b ON b.doc_id = a.doc_id
        |    AND b.gy = a.gy AND b.gx = a.gx + 1
        |  WHERE a.gx < 8 GROUP BY a.doc_id),
        |n1 AS (SELECT a.doc_id, a.h FROM sig a
        |  WHERE a.doc_id >= 30 AND a.doc_id < 60
        |  AND NOT EXISTS (SELECT 1 FROM sig b WHERE b.doc_id < 30
        |    AND bit_count(xor(a.h, b.h)) <= 3)),
        |i2 AS (SELECT h FROM sig WHERE doc_id < 30
        |  UNION ALL SELECT h FROM n1),
        |n2 AS (SELECT a.doc_id, a.h FROM sig a WHERE a.doc_id >= 60
        |  AND NOT EXISTS (SELECT 1 FROM i2 i
        |    WHERE bit_count(xor(a.h, i.h)) <= 3))
        |SELECT doc_id AS media_id, h AS dhash, 0::BIGINT AS batch_id
        |FROM n1
        |UNION ALL
        |SELECT doc_id, h, 1::BIGINT FROM n2
        |ORDER BY media_id""".stripMargin,

    // the intra-batch collapse on a cold-start index: components of the
    // hamming<=3 graph over DISTINCT signatures (recursive min-label
    // walk in signature space), rows kept iff their signature IS its
    // component's minimum — the empty index contributes no drops
    "mm_phash_novelty_collapse" ->
      """WITH RECURSIVE d AS (SELECT doc_id, doc_id % 64 AS s,
        |    (doc_id % 5 = 0) AS p FROM documents),
        |g AS (SELECT d.doc_id, gy.y AS gy, gx.x AS gx,
        |    (((CASE WHEN d.p AND gx.x = 2 AND gy.y = 3
        |         THEN (2*gx.x*7 + 2*gy.y*13 + d.s + 128) % 256
        |         ELSE (2*gx.x*7 + 2*gy.y*13 + d.s) % 256 END)
        |      + (2*gx.x*3 + 2*gy.y*5 + d.s*11) % 256
        |      + (2*gx.x*17 + 2*gy.y + d.s*29) % 256) // 3) AS gray
        |  FROM d, range(9) gx(x), range(8) gy(y)),
        |sig AS (SELECT a.doc_id,
        |    bit_or(CASE WHEN NOT b.gray > a.gray THEN 0::BIGINT
        |      WHEN a.gy*8 + a.gx = 63
        |        THEN (-9223372036854775807 - 1)::BIGINT
        |      ELSE (1::BIGINT << (a.gy*8 + a.gx)::INTEGER) END) AS h
        |  FROM g a JOIN g b ON b.doc_id = a.doc_id
        |    AND b.gy = a.gy AND b.gx = a.gx + 1
        |  WHERE a.gx < 8 GROUP BY a.doc_id),
        |hs AS (SELECT DISTINCT h FROM sig),
        |cand AS (SELECT a.h AS ha, b.h AS hb
        |  FROM hs a JOIN hs b ON a.h < b.h
        |  WHERE bit_count(xor(a.h, b.h)) <= 3),
        |edges AS (SELECT ha AS src, hb AS dst FROM cand
        |  UNION ALL SELECT hb, ha FROM cand),
        |walk(h, anc) AS (
        |  SELECT h, h FROM hs
        |  UNION
        |  SELECT e.dst, w.anc FROM walk w JOIN edges e ON e.src = w.h),
        |rep AS (SELECT h, min(anc) AS r FROM walk GROUP BY h)
        |SELECT s.doc_id AS media_id, s.h AS dhash, 0::BIGINT AS batch_id
        |FROM sig s JOIN rep r ON r.h = s.h
        |WHERE s.h = r.r
        |ORDER BY media_id""".stripMargin,

    // audio fingerprint closed form: sample i of seed s = doc_id % 48 is
    // ((i*(s+3) + (i%17)*41 + s*s) % 509) - 254 (+512 at i=100 for
    // doc_id%5=0 — one touched sample, frame 6); 65 frames of 16 samples,
    // energy = sum of squares, bit f = e(f+1) > e(f), packed like the
    // dHash oracle (bit 63 via the BIGINT minimum literal)
    "mm_audio_pairs" ->
      """WITH d AS (SELECT doc_id, doc_id % 48 AS s,
        |    (doc_id % 5 = 0) AS p FROM documents),
        |sm AS (SELECT d.doc_id, i.i // 16 AS f,
        |    (((i.i*(d.s+3) + (i.i % 17)*41 + d.s*d.s) % 509) - 254
        |     + CASE WHEN d.p AND i.i = 100 THEN 512 ELSE 0 END)::BIGINT AS v
        |  FROM d, range(1040) i(i)),
        |e AS (SELECT doc_id, f, sum(v*v) AS en FROM sm
        |  GROUP BY doc_id, f),
        |sig AS (SELECT a.doc_id,
        |    bit_or(CASE WHEN NOT b.en > a.en THEN 0::BIGINT
        |      WHEN a.f = 63 THEN (-9223372036854775807 - 1)::BIGINT
        |      ELSE (1::BIGINT << a.f::INTEGER) END) AS h
        |  FROM e a JOIN e b ON b.doc_id = a.doc_id AND b.f = a.f + 1
        |  WHERE a.f < 64 GROUP BY a.doc_id)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  bit_count(xor(a.h, b.h))::INTEGER AS dist
        |FROM sig a JOIN sig b ON a.doc_id < b.doc_id
        |WHERE bit_count(xor(a.h, b.h)) <= 3
        |ORDER BY id_a, id_b""".stripMargin,

    // the growing aFP index replayed arithmetically (the
    // mm_phash_novelty_grow pattern on the audio closed form)
    "mm_audio_novelty_grow" ->
      """WITH d AS (SELECT doc_id, doc_id % 48 AS s,
        |    (doc_id % 5 = 0) AS p FROM documents),
        |sm AS (SELECT d.doc_id, i.i // 16 AS f,
        |    (((i.i*(d.s+3) + (i.i % 17)*41 + d.s*d.s) % 509) - 254
        |     + CASE WHEN d.p AND i.i = 100 THEN 512 ELSE 0 END)::BIGINT AS v
        |  FROM d, range(1040) i(i)),
        |e AS (SELECT doc_id, f, sum(v*v) AS en FROM sm
        |  GROUP BY doc_id, f),
        |sig AS (SELECT a.doc_id,
        |    bit_or(CASE WHEN NOT b.en > a.en THEN 0::BIGINT
        |      WHEN a.f = 63 THEN (-9223372036854775807 - 1)::BIGINT
        |      ELSE (1::BIGINT << a.f::INTEGER) END) AS h
        |  FROM e a JOIN e b ON b.doc_id = a.doc_id AND b.f = a.f + 1
        |  WHERE a.f < 64 GROUP BY a.doc_id),
        |n0 AS (SELECT a.doc_id, a.h FROM sig a
        |  WHERE a.doc_id >= 30 AND a.doc_id < 60
        |  AND NOT EXISTS (SELECT 1 FROM sig b WHERE b.doc_id < 30
        |    AND bit_count(xor(a.h, b.h)) <= 3)),
        |i2 AS (SELECT h FROM sig WHERE doc_id < 30
        |  UNION ALL SELECT h FROM n0),
        |n1 AS (SELECT a.doc_id, a.h FROM sig a WHERE a.doc_id >= 60
        |  AND NOT EXISTS (SELECT 1 FROM i2 i
        |    WHERE bit_count(xor(a.h, i.h)) <= 3))
        |SELECT doc_id AS media_id, h AS afp, 0::BIGINT AS batch_id
        |FROM n0
        |UNION ALL
        |SELECT doc_id, h, 1::BIGINT FROM n1
        |ORDER BY media_id""".stripMargin,

    // same aFP closed form, then min-label component walk over the
    // brute-forced <=3-hamming edges (the mm_phash_clusters pattern)
    "mm_audio_clusters" ->
      """WITH RECURSIVE d AS (SELECT doc_id, doc_id % 48 AS s,
        |    (doc_id % 5 = 0) AS p FROM documents),
        |sm AS (SELECT d.doc_id, i.i // 16 AS f,
        |    (((i.i*(d.s+3) + (i.i % 17)*41 + d.s*d.s) % 509) - 254
        |     + CASE WHEN d.p AND i.i = 100 THEN 512 ELSE 0 END)::BIGINT AS v
        |  FROM d, range(1040) i(i)),
        |e AS (SELECT doc_id, f, sum(v*v) AS en FROM sm
        |  GROUP BY doc_id, f),
        |sig AS (SELECT a.doc_id,
        |    bit_or(CASE WHEN NOT b.en > a.en THEN 0::BIGINT
        |      WHEN a.f = 63 THEN (-9223372036854775807 - 1)::BIGINT
        |      ELSE (1::BIGINT << a.f::INTEGER) END) AS h
        |  FROM e a JOIN e b ON b.doc_id = a.doc_id AND b.f = a.f + 1
        |  WHERE a.f < 64 GROUP BY a.doc_id),
        |cand AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM sig a JOIN sig b ON a.doc_id < b.doc_id
        |  WHERE bit_count(xor(a.h, b.h)) <= 3),
        |edges AS (SELECT id_a AS src, id_b AS dst FROM cand
        |  UNION ALL SELECT id_b, id_a FROM cand),
        |walk(doc, anc) AS (
        |  SELECT doc_id, doc_id FROM documents
        |  UNION
        |  SELECT e.dst, w.anc FROM walk w JOIN edges e ON e.src = w.doc)
        |SELECT doc, min(anc) AS rep, (doc = min(anc)) AS keep
        |FROM walk GROUP BY doc ORDER BY doc""".stripMargin,

    // same aFP closed form; novelty = no indexed (doc_id < 30)
    // fingerprint within hamming 3
    "mm_audio_novelty" ->
      """WITH d AS (SELECT doc_id, doc_id % 48 AS s,
        |    (doc_id % 5 = 0) AS p FROM documents),
        |sm AS (SELECT d.doc_id, i.i // 16 AS f,
        |    (((i.i*(d.s+3) + (i.i % 17)*41 + d.s*d.s) % 509) - 254
        |     + CASE WHEN d.p AND i.i = 100 THEN 512 ELSE 0 END)::BIGINT AS v
        |  FROM d, range(1040) i(i)),
        |e AS (SELECT doc_id, f, sum(v*v) AS en FROM sm
        |  GROUP BY doc_id, f),
        |sig AS (SELECT a.doc_id,
        |    bit_or(CASE WHEN NOT b.en > a.en THEN 0::BIGINT
        |      WHEN a.f = 63 THEN (-9223372036854775807 - 1)::BIGINT
        |      ELSE (1::BIGINT << a.f::INTEGER) END) AS h
        |  FROM e a JOIN e b ON b.doc_id = a.doc_id AND b.f = a.f + 1
        |  WHERE a.f < 64 GROUP BY a.doc_id)
        |SELECT a.doc_id AS media_id, a.h AS afp, TRUE AS novel
        |FROM sig a
        |WHERE NOT EXISTS (SELECT 1 FROM sig b WHERE b.doc_id < 30
        |  AND bit_count(xor(a.h, b.h)) <= 3)
        |ORDER BY media_id""".stripMargin,

    "ev_tumbling" ->
      """SELECT date_trunc('hour', ts) AS win_start, event_type,
        |  count(*) AS n,
        |  CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "ev_sliding" ->
      """WITH b AS (SELECT date_trunc('hour', ts)
        |    + CASE WHEN minute(ts) >= 30 THEN INTERVAL 30 MINUTE
        |           ELSE INTERVAL 0 MINUTE END AS w1, event_type FROM events),
        |w AS (SELECT w1 AS win_start, event_type FROM b
        |  UNION ALL SELECT w1 - INTERVAL 30 MINUTE, event_type FROM b)
        |SELECT win_start, event_type, count(*) AS n
        |FROM w GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "ev_sessions" ->
      """WITH o AS (SELECT user_id, ts, value,
        |  CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
        |    OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts) >= INTERVAL 30 MINUTE
        |    THEN 1 ELSE 0 END AS brk FROM events),
        |g AS (SELECT *, sum(brk) OVER (PARTITION BY user_id ORDER BY ts
        |  ROWS UNBOUNDED PRECEDING) AS grp FROM o)
        |SELECT user_id, min(ts) AS sess_start,
        |  max(ts) + INTERVAL 30 MINUTE AS sess_end,
        |  count(*) AS n_events,
        |  CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
        |FROM g GROUP BY user_id, grp ORDER BY user_id, sess_start""".stripMargin,

    "ev_sessions_custom" ->
      """WITH o AS (SELECT user_id, ts,
        |  CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
        |    OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts) >= INTERVAL 30 MINUTE
        |    THEN 1 ELSE 0 END AS brk FROM events),
        |g AS (SELECT *, sum(brk) OVER (PARTITION BY user_id ORDER BY ts
        |  ROWS UNBOUNDED PRECEDING) AS grp FROM o)
        |SELECT user_id, min(ts) AS sess_start,
        |  max(ts) + INTERVAL 30 MINUTE AS sess_end,
        |  count(*) AS n_events
        |FROM g GROUP BY user_id, grp ORDER BY user_id, sess_start""".stripMargin,

    "ev_props" ->
      """SELECT event_id, k FROM (
        |  SELECT event_id, CAST(json_extract_string(props, '$.k') AS INTEGER) AS k
        |  FROM events)
        |WHERE k > 50 ORDER BY event_id""".stripMargin,

    // the same recursive-CTE fixpoint as the cluster oracles, over the
    // explicit chain edges
    "op_components" ->
      """WITH RECURSIVE cand AS (
        |  SELECT a.doc_id AS id_a, a.doc_id + 1 AS id_b FROM documents a
        |  JOIN documents b ON b.doc_id = a.doc_id + 1
        |  WHERE a.doc_id % 5 < 2),
        |edges AS (SELECT id_a AS src, id_b AS dst FROM cand
        |  UNION ALL SELECT id_b, id_a FROM cand),
        |walk(doc, anc) AS (
        |  SELECT doc_id, doc_id FROM documents
        |  UNION
        |  SELECT e.dst, w2.anc FROM walk w2 JOIN edges e ON e.src = w2.doc)
        |SELECT doc, min(anc) AS rep, (doc = min(anc)) AS keep
        |FROM walk GROUP BY doc ORDER BY doc""".stripMargin,

    // every CTE MATERIALIZED — the op_pagerank lesson (plain CTEs
    // inline per reference and the unrolled chain re-expands
    // exponentially)
    "op_labelprop" -> {
      val init =
        """WITH ids AS MATERIALIZED (SELECT doc_id FROM documents),
          |tri AS MATERIALIZED (SELECT doc_id AS base FROM ids WHERE doc_id % 3 = 0),
          |eraw AS (SELECT base AS id_a, base + 1 AS id_b FROM tri
          |  UNION ALL SELECT base + 1, base + 2 FROM tri
          |  UNION ALL SELECT base, base + 2 FROM tri),
          |e AS MATERIALIZED (SELECT id_a, id_b FROM eraw
          |  WHERE id_a IN (SELECT doc_id FROM ids)
          |    AND id_b IN (SELECT doc_id FROM ids)),
          |e2 AS MATERIALIZED (SELECT id_a AS a, id_b AS b FROM e
          |  UNION ALL SELECT id_b, id_a FROM e),
          |l0 AS MATERIALIZED (SELECT doc_id AS id, doc_id AS label FROM ids)""".stripMargin
      val steps = (1 to 4).map { k =>
        val p = s"l${k - 1}"
        s""",
          |v$k AS MATERIALIZED (SELECT e2.a AS id, l.label, count(*) AS cnt
          |  FROM e2 JOIN $p l ON l.id = e2.b GROUP BY e2.a, l.label),
          |b$k AS MATERIALIZED (SELECT id, min(label) AS newlab FROM (
          |  SELECT id, label, cnt, max(cnt) OVER (PARTITION BY id) AS mc
          |  FROM v$k) WHERE cnt = mc GROUP BY id),
          |l$k AS MATERIALIZED (SELECT $p.id,
          |  coalesce(b$k.newlab, $p.label) AS label
          |  FROM $p LEFT JOIN b$k ON b$k.id = $p.id)""".stripMargin
      }.mkString
      init + steps + "\nSELECT id, label FROM l4 ORDER BY id"
    },

    // partition replacement in plain SQL: keep partitions absent from
    // the staged batch, append the batch (tuple NOT IN on one non-null
    // partition column ≡ the anti-join)
    "inc_insert_overwrite" ->
      """WITH target AS (
        |  SELECT o_orderkey, o_orderpriority,
        |    CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DOUBLE) AS price,
        |    'target' AS src
        |  FROM orders),
        |staged AS (
        |  SELECT o_orderkey, o_orderpriority,
        |    CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 2 AS DOUBLE) AS price,
        |    'staged' AS src
        |  FROM orders
        |  WHERE o_orderpriority IN ('1-URGENT', '2-HIGH')
        |    AND o_orderkey % 3 = 0)
        |SELECT * FROM target
        |WHERE o_orderpriority NOT IN (SELECT DISTINCT o_orderpriority FROM staged)
        |UNION ALL SELECT * FROM staged
        |ORDER BY o_orderkey, src""".stripMargin,

    // the Spark side round-trips bytes through real files; the oracle
    // recomputes length and digest straight from the table — equality
    // proves the file round trip lost nothing
    "mm_ingest" ->
      """SELECT doc_id,
        |  CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
        |  md5(text) AS md5
        |FROM documents WHERE doc_id < 1000 AND length(text) > 0
        |ORDER BY doc_id""".stripMargin,

    // SQL ntile over the same total order bins identically in both
    // engines (first count%n buckets take the extra row)
    "op_quantile_bin" ->
      """SELECT l_orderkey, l_linenumber, l_returnflag, l_quantity,
        |  CAST(ntile(10) OVER (PARTITION BY l_returnflag
        |    ORDER BY l_quantity, l_orderkey, l_linenumber) AS INTEGER)
        |    AS l_quantity_bin
        |FROM lineitem
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,

    // epoch_us mirrors unix_micros exactly (integer microseconds — a
    // seconds-level epoch would truncate here and round there); the
    // weighted sum is decimal×bigint, double only at the final division
    "op_twap" ->
      """WITH e AS (SELECT user_id, epoch_us(ts) AS t,
        |    CAST(value AS DECIMAL(18,4)) AS v,
        |    lead(epoch_us(ts)) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS nt
        |  FROM events)
        |SELECT user_id, count(*) + 1 AS n_events,
        |  CAST(sum(nt - t) AS BIGINT) AS total_us,
        |  round(CAST(sum(v * (nt - t)) AS DOUBLE)
        |    / CAST(sum(nt - t) AS BIGINT), 6) AS twap
        |FROM e WHERE nt IS NOT NULL
        |GROUP BY user_id ORDER BY user_id""".stripMargin,

    // decimal-exact moment sums (order-independent), then the IDENTICAL
    // double expression tree as Regression.ols — same op sequence,
    // same IEEE result
    "op_regression" ->
      """WITH a AS (SELECT l_returnflag, count(*) AS n,
        |    sum(CAST(l_quantity AS DECIMAL(18,2))) AS sx,
        |    sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS sy,
        |    sum(CAST(l_quantity AS DECIMAL(18,2))
        |      * CAST(l_quantity AS DECIMAL(18,2))) AS sxx,
        |    sum(CAST(l_quantity AS DECIMAL(18,2))
        |      * CAST(l_extendedprice AS DECIMAL(18,2))) AS sxy,
        |    sum(CAST(l_extendedprice AS DECIMAL(18,2))
        |      * CAST(l_extendedprice AS DECIMAL(18,2))) AS syy
        |  FROM lineitem GROUP BY l_returnflag),
        |d AS (SELECT l_returnflag, n, CAST(n AS DOUBLE) AS nd,
        |    CAST(sx AS DOUBLE) AS sxd, CAST(sy AS DOUBLE) AS syd,
        |    CAST(sxx AS DOUBLE) AS sxxd, CAST(sxy AS DOUBLE) AS sxyd,
        |    CAST(syy AS DOUBLE) AS syyd
        |  FROM a)
        |SELECT l_returnflag, n,
        |  CASE WHEN nd*sxxd - sxd*sxd <> 0
        |    THEN (nd*sxyd - sxd*syd) / (nd*sxxd - sxd*sxd) END AS slope,
        |  CASE WHEN nd*sxxd - sxd*sxd <> 0
        |    THEN (syd - ((nd*sxyd - sxd*syd) / (nd*sxxd - sxd*sxd)) * sxd) / nd
        |    END AS intercept,
        |  CASE WHEN nd*sxxd - sxd*sxd <> 0 AND nd*syyd - syd*syd <> 0
        |    THEN ((nd*sxyd - sxd*syd) * (nd*sxyd - sxd*syd))
        |      / ((nd*sxxd - sxd*sxd) * (nd*syyd - syd*syd)) END AS r2
        |FROM d ORDER BY l_returnflag""".stripMargin,

    // same deterministic mutation replayed in SQL; IS DISTINCT FROM is
    // the null-safe compare, concat_ws skips NULLs exactly like Spark's
    "op_table_diff" ->
      """WITH neu AS (
        |  SELECT o_orderkey, o_custkey, o_orderstatus,
        |    CASE WHEN o_orderkey % 13 = 0 THEN o_totalprice + 1
        |         ELSE o_totalprice END AS o_totalprice,
        |    o_orderdate,
        |    CASE WHEN o_orderkey % 17 = 0 THEN '9-RECLASSIFIED'
        |         ELSE o_orderpriority END AS o_orderpriority
        |  FROM orders WHERE o_orderkey % 97 <> 0
        |  UNION ALL
        |  SELECT o_orderkey + 100000000, o_custkey, o_orderstatus,
        |    o_totalprice, o_orderdate, o_orderpriority
        |  FROM orders WHERE o_orderkey % 1009 = 0)
        |SELECT COALESCE(o.o_orderkey, n.o_orderkey) AS o_orderkey,
        |  CASE WHEN o.o_orderkey IS NULL THEN 'added'
        |       WHEN n.o_orderkey IS NULL THEN 'removed'
        |       ELSE 'changed' END AS change,
        |  CASE WHEN o.o_orderkey IS NULL OR n.o_orderkey IS NULL THEN NULL
        |       ELSE concat_ws(',',
        |    CASE WHEN o.o_custkey       IS DISTINCT FROM n.o_custkey       THEN 'o_custkey' END,
        |    CASE WHEN o.o_orderdate     IS DISTINCT FROM n.o_orderdate     THEN 'o_orderdate' END,
        |    CASE WHEN o.o_orderpriority IS DISTINCT FROM n.o_orderpriority THEN 'o_orderpriority' END,
        |    CASE WHEN o.o_orderstatus   IS DISTINCT FROM n.o_orderstatus   THEN 'o_orderstatus' END,
        |    CASE WHEN o.o_totalprice    IS DISTINCT FROM n.o_totalprice    THEN 'o_totalprice' END)
        |  END AS changed_cols
        |FROM orders o FULL OUTER JOIN neu n ON o.o_orderkey = n.o_orderkey
        |WHERE o.o_orderkey IS NULL OR n.o_orderkey IS NULL
        |   OR (o.o_custkey       IS DISTINCT FROM n.o_custkey
        |    OR o.o_orderdate     IS DISTINCT FROM n.o_orderdate
        |    OR o.o_orderpriority IS DISTINCT FROM n.o_orderpriority
        |    OR o.o_orderstatus   IS DISTINCT FROM n.o_orderstatus
        |    OR o.o_totalprice    IS DISTINCT FROM n.o_totalprice)
        |ORDER BY o_orderkey""".stripMargin,

    // the oracle IS the full recompute the merge avoids: exact decimal
    // sums over all of lineitem, double-cast at the end on both sides
    "op_incremental_agg" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
        |  count(*) AS n_rows,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS avg_price,
        |  min(l_shipdate) AS min_ship, max(l_shipdate) AS max_ship
        |FROM lineitem GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,

    // DuckDB cannot replay DataSketches HLL, so the gates ARE the
    // compared values (q11 pattern): exact distinct recomputed here,
    // both booleans pinned literally true — a sketch drift on the Spark
    // side hash-mismatches
    // the deterministic KMV pipeline replayed end to end: hash ranks,
    // per-(status, month) bottom-64 by (rank, value), re-merged
    // bottom-64 per status, nearest-rank index pick
    "op_quantile_rollup" ->
      s"""WITH r AS (SELECT o_orderstatus AS k,
        |    date_trunc('month', o_orderdate) AS b,
        |    CAST(o_totalprice AS DOUBLE) AS v,
        |    ${rollSql("'qs:' || o_orderkey")} AS rk FROM orders),
        |s AS (SELECT k, b, rk, v, row_number()
        |    OVER (PARTITION BY k, b ORDER BY rk, v) AS rn FROM r),
        |samp AS (SELECT k, rk, v FROM s WHERE rn <= 64),
        |m AS (SELECT k, rk, v, row_number()
        |    OVER (PARTITION BY k ORDER BY rk, v) AS rn FROM samp),
        |mm AS (SELECT k, v FROM m WHERE rn <= 64),
        |ob AS (SELECT k, v, row_number()
        |    OVER (PARTITION BY k ORDER BY v) AS i,
        |    count(*) OVER (PARTITION BY k) AS n FROM mm)
        |SELECT k AS o_orderstatus,
        |  max(CASE WHEN i = floor(0.5*(n-1))::BIGINT + 1 THEN v END) AS p50,
        |  max(CASE WHEN i = floor(0.99*(n-1))::BIGINT + 1 THEN v END) AS p99
        |FROM ob GROUP BY k ORDER BY o_orderstatus""".stripMargin,

    "op_sketch_rollup" ->
      """SELECT o_orderstatus, count(DISTINCT o_custkey) AS exact_cust,
        |  true AS union_eq_direct, true AS within_2pct
        |FROM orders GROUP BY o_orderstatus
        |ORDER BY o_orderstatus""".stripMargin,

    // multiset of the k smallest per group is order-independent, so
    // sort-then-slice replays the heap exactly; exploded to scalar
    // (group, pos, value) rows for the driver comparator (r7 `err`)
    "op_bottomk_agg" ->
      """WITH b AS (SELECT l_returnflag,
        |    (list_sort(list(l_orderkey)))[1:5] AS bottom5
        |  FROM lineitem GROUP BY l_returnflag)
        |SELECT l_returnflag, (i - 1)::INTEGER AS pos,
        |  bottom5[i]::BIGINT AS orderkey
        |FROM b, unnest(range(1, len(bottom5) + 1)) AS t(i)
        |ORDER BY l_returnflag, pos""".stripMargin,

    // same minhash/band/walk pipeline as dd_minhash_clusters, then the
    // canonical re-election: score = doc_id ⇒ max(doc) per cluster
    "dd_canonical" ->
      s"""WITH RECURSIVE u AS (SELECT doc_id, lower(text) AS t FROM documents
        |  UNION ALL SELECT doc_id + 10000, lower(text) FROM documents),
        |w AS (SELECT doc_id, ${toksSql("t")} AS ws FROM u),
        |sh AS (SELECT doc_id, $shingleSql AS shl FROM w),
        |sx AS (SELECT doc_id, unnest(shl) AS sgl FROM sh),
        |hx AS (SELECT doc_id, ${rollSql("sgl")} AS h FROM sx),
        |sig AS (SELECT doc_id, ${minhashAggSqls.mkString(", ")} FROM hx GROUP BY doc_id),
        |bands AS (SELECT doc_id, unnest($bandListSql) AS band FROM sig),
        |cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM bands a JOIN bands b ON a.band = b.band AND a.doc_id < b.doc_id),
        |edges AS (SELECT id_a AS src, id_b AS dst FROM cand
        |  UNION ALL SELECT id_b, id_a FROM cand),
        |walk(doc, anc) AS (
        |  SELECT doc_id, doc_id FROM u
        |  UNION
        |  SELECT e.dst, w2.anc FROM walk w2 JOIN edges e ON e.src = w2.doc),
        |clus AS (SELECT doc, min(anc) AS rep FROM walk GROUP BY doc),
        |best AS (SELECT rep, max(doc) AS canonical FROM clus GROUP BY rep)
        |SELECT c.doc, c.rep, b.canonical, (c.doc = b.canonical) AS keep
        |FROM clus c JOIN best b USING (rep) ORDER BY doc""".stripMargin,

    "op_skew_profile" ->
      """WITH s1 AS (SELECT user_id AS k, count(*) AS n FROM events GROUP BY 1),
        |s2 AS (SELECT event_type AS k, count(*) AS n FROM events GROUP BY 1),
        |p1 AS (SELECT count(*) AS n_keys, sum(n)::BIGINT AS n_rows, max(n) AS max_n,
        |  round(quantile_cont(n, 0.5), 6) AS p50_n,
        |  round(quantile_cont(n, 0.99), 6) AS p99_n,
        |  round(max(n)::DOUBLE / (sum(n)::DOUBLE / count(*)), 4) AS skew_ratio,
        |  'user_id' AS key_col FROM s1),
        |p2 AS (SELECT count(*) AS n_keys, sum(n)::BIGINT AS n_rows, max(n) AS max_n,
        |  round(quantile_cont(n, 0.5), 6) AS p50_n,
        |  round(quantile_cont(n, 0.99), 6) AS p99_n,
        |  round(max(n)::DOUBLE / (sum(n)::DOUBLE / count(*)), 4) AS skew_ratio,
        |  'event_type' AS key_col FROM s2)
        |SELECT * FROM p1 UNION ALL SELECT * FROM p2
        |ORDER BY key_col""".stripMargin,

    // brute-force oracle on purpose: proves deletion-neighborhood
    // blocking completeness, not just speed
    "op_editdist_join" ->
      """WITH names AS (SELECT p_name AS nm, min(p_partkey) AS id
        |  FROM part GROUP BY p_name),
        |u AS (SELECT id, nm FROM names
        |  UNION ALL
        |  SELECT id + 100000, substring(nm, 2) FROM names WHERE id % 3 = 0),
        |d AS (SELECT nm, min(id) AS id FROM u GROUP BY nm)
        |SELECT a.id AS id_a, b.id AS id_b,
        |  levenshtein(a.nm, b.nm) AS dist
        |FROM d a JOIN d b ON a.id < b.id
        |WHERE levenshtein(a.nm, b.nm) <= 1
        |ORDER BY id_a, id_b""".stripMargin,

    // brute-force with DuckDB's NATIVE jaro_winkler_similarity — the
    // strongest possible oracle for the custom expression: blocking
    // completeness and scalar parity in one hash
    "op_jw_join" ->
      """SELECT a.p_partkey AS id_a, b.p_partkey AS id_b,
        |  round(jaro_winkler_similarity(a.p_name, b.p_name), 6) AS jw
        |FROM part a JOIN part b ON a.p_partkey < b.p_partkey
        |WHERE jaro_winkler_similarity(a.p_name, b.p_name) >= 0.935
        |ORDER BY id_a, id_b""".stripMargin,

    // clique recompute over DISTINCT names: rep = min key, n = clique
    // size; cross rows are distinct-name pairs (jw = 1 ⟺ equality, so
    // none reaches 1.0), self rows one per duplicated non-empty name
    "op_jw_reps" ->
      """WITH g AS (SELECT p_name AS nm, min(p_partkey) AS rep,
        |    count(*)::BIGINT AS n
        |  FROM part GROUP BY p_name),
        |cr AS (SELECT a.rep AS id_a, b.rep AS id_b,
        |    round(jaro_winkler_similarity(a.nm, b.nm), 6) AS jw,
        |    a.n AS n_a, b.n AS n_b
        |  FROM g a JOIN g b ON a.rep < b.rep
        |  WHERE jaro_winkler_similarity(a.nm, b.nm) >= 0.935),
        |se AS (SELECT rep AS id_a, rep AS id_b, CAST(1.0 AS DOUBLE) AS jw,
        |    n AS n_a, n AS n_b
        |  FROM g WHERE n >= 2 AND length(nm) > 0)
        |SELECT * FROM cr UNION ALL SELECT * FROM se
        |ORDER BY id_a, id_b""".stripMargin,

    "op_jw_cross" ->
      """WITH r AS (SELECT p_partkey + 100000 AS id,
        |    CASE WHEN p_partkey % 2 = 0 THEN p_name
        |      ELSE substring(p_name, 2) END AS nm
        |  FROM part WHERE p_partkey % 4 < 2)
        |SELECT a.p_partkey AS id_a, r.id AS id_b,
        |  round(jaro_winkler_similarity(a.p_name, r.nm), 6) AS jw
        |FROM part a CROSS JOIN r
        |WHERE p_partkey % 4 < 2
        |  AND jaro_winkler_similarity(a.p_name, r.nm) >= 0.945
        |ORDER BY id_a, id_b""".stripMargin,

    // brute-force wedge closure over value-canonical edges — counts
    // are orientation-invariant, so this pins the degree-ordered plan
    "op_triangles" ->
      """WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
        |  WHERE l_orderkey % 4 = 0),
        |e0 AS (SELECT x.l_partkey AS a, y.l_partkey AS b FROM li x JOIN li y
        |  ON x.l_orderkey = y.l_orderkey AND x.l_partkey < y.l_partkey),
        |e AS (SELECT DISTINCT a, b FROM e0),
        |tri AS (SELECT e1.a AS x, e1.b AS y, e2.b AS z
        |  FROM e e1 JOIN e e2 ON e2.a = e1.b
        |  JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b),
        |nodes AS (SELECT a AS node FROM e UNION SELECT b FROM e),
        |c AS (SELECT node, count(*)::BIGINT AS n_tri FROM (
        |  SELECT x AS node FROM tri UNION ALL SELECT y FROM tri
        |  UNION ALL SELECT z FROM tri) GROUP BY node)
        |SELECT n.node, coalesce(c.n_tri, 0)::BIGINT AS n_tri
        |FROM nodes n LEFT JOIN c USING (node)
        |ORDER BY node""".stripMargin,

    "op_rolling" ->
      """SELECT event_id, user_id, ts, value,
        |  count(*) OVER w AS roll_n,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) OVER w AS DOUBLE) AS roll_sum,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) OVER w AS DOUBLE)
        |    / count(*) OVER w AS roll_avg,
        |  CAST(min(CAST(value AS DECIMAL(18,2))) OVER w AS DOUBLE) AS roll_min,
        |  CAST(max(CAST(value AS DECIMAL(18,2))) OVER w AS DOUBLE) AS roll_max
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY epoch(ts)
        |  RANGE BETWEEN 604800 PRECEDING AND CURRENT ROW)
        |ORDER BY event_id""".stripMargin,

    "q18_regional_revenue" ->
      """SELECT r_name, n_name,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) *
        |    (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
        |  count(*) AS n_items
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |  AND c_nationkey = s_nationkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE o_orderdate >= TIMESTAMP '1996-01-01'
        |GROUP BY r_name, n_name
        |ORDER BY r_name, n_name""".stripMargin,

    "q19_promo_revenue" ->
      """SELECT
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) *
        |    (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
        |  count(*) AS n_items
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE (p_brand = 'Brand#11' AND p_size BETWEEN 1 AND 15
        |       AND l_quantity BETWEEN 1 AND 20)
        |   OR (p_brand = 'Brand#22' AND p_size BETWEEN 10 AND 30
        |       AND l_quantity BETWEEN 10 AND 35)
        |   OR (p_brand = 'Brand#33' AND p_size BETWEEN 20 AND 50
        |       AND l_quantity BETWEEN 20 AND 50)""".stripMargin,

    "q20_promo_parts" ->
      """SELECT s_name,
        |  CAST(CAST(s_acctbal AS DECIMAL(18,2)) AS DOUBLE) AS acctbal
        |FROM supplier
        |WHERE s_suppkey IN (
        |  SELECT l_suppkey
        |  FROM lineitem l1
        |  WHERE l_partkey IN (SELECT p_partkey FROM part
        |                      WHERE p_type = 'PROMO')
        |    AND l_shipdate >= TIMESTAMP '1997-01-01'
        |    AND l_shipdate <  TIMESTAMP '1999-01-01'
        |  GROUP BY l_partkey, l_suppkey
        |  HAVING 2 * sum(CAST(l_quantity AS DECIMAL(18,2))) >
        |    (SELECT sum(CAST(l2.l_quantity AS DECIMAL(18,2)))
        |     FROM lineitem l2
        |     WHERE l2.l_partkey = l1.l_partkey
        |       AND l2.l_partkey IN (SELECT p_partkey FROM part
        |                            WHERE p_type = 'PROMO')
        |       AND l2.l_shipdate >= TIMESTAMP '1997-01-01'
        |       AND l2.l_shipdate <  TIMESTAMP '1999-01-01'))
        |ORDER BY s_name""".stripMargin,

    "q21_last_shipper" ->
      """WITH ms AS (
        |  SELECT l_orderkey, l_suppkey, max(l_shipdate) AS ms
        |  FROM lineitem GROUP BY l_orderkey, l_suppkey),
        |w AS (
        |  SELECT *, max(ms) OVER (PARTITION BY l_orderkey) AS m1,
        |    count(*) OVER (PARTITION BY l_orderkey) AS nsupp
        |  FROM ms)
        |SELECT s_name, count(*) AS numwait
        |FROM w JOIN supplier ON l_suppkey = s_suppkey
        |WHERE nsupp > 1 AND ms = m1
        |GROUP BY s_name
        |ORDER BY numwait DESC, s_name LIMIT 10""".stripMargin,

    "q22_dormant_value" ->
      """WITH pos AS (
        |  SELECT sum(CAST(c_acctbal AS DECIMAL(18,2))) AS sum_bal,
        |    count(*) AS n_pos
        |  FROM customer WHERE c_acctbal > 0)
        |SELECT c_mktsegment, count(*) AS n_cust,
        |  CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_bal
        |FROM customer, pos
        |WHERE NOT EXISTS (SELECT 1 FROM orders
        |                  WHERE o_custkey = c_custkey
        |                    AND o_orderdate >= TIMESTAMP '2000-06-01')
        |  AND CAST(c_acctbal AS DECIMAL(18,2)) * pos.n_pos > pos.sum_bal
        |GROUP BY c_mktsegment
        |ORDER BY c_mktsegment""".stripMargin,

    "q16_window_breadth" ->
      """SELECT o_orderkey, o_custkey,
        |  lead(o_orderkey, 1) OVER w AS next_ok,
        |  lag(o_orderkey, 1) OVER w AS prev_ok,
        |  (ntile(4) OVER w)::INTEGER AS quartile,
        |  first_value(o_orderkey) OVER w AS first_ok,
        |  round(percent_rank() OVER w, 6) AS pr,
        |  round(cume_dist() OVER w, 6) AS cd
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderkey)
        |ORDER BY o_orderkey""".stripMargin,

    // sketch gate (the q11 pattern): DuckDB pins the within-5% check
    "q17_approx_percentile" ->
      """SELECT l_returnflag, true AS p50_ok, true AS p90_ok
        |FROM lineitem GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin,

    "op_zorder" ->
      s"""SELECT o_orderkey, ${zorderSql("o_custkey", "o_orderkey", 8)} AS zval
        |FROM orders ORDER BY o_orderkey""".stripMargin,

    "op_compact" ->
      """SELECT n_nationkey, n_name, n_regionkey, 5 AS files_after
        |FROM nation ORDER BY n_nationkey""".stripMargin,

    "op_gapfill" ->
      s"""$gapfillCtes
        |SELECT user_id, tick,
        |  last_value(value IGNORE NULLS) OVER (PARTITION BY user_id
        |    ORDER BY tick ROWS UNBOUNDED PRECEDING) AS filled,
        |  value IS NOT NULL AS observed
        |FROM j ORDER BY user_id, tick""".stripMargin,

    "op_gapfill_bounded" ->
      s"""$gapfillCtes,
        |f AS (SELECT user_id, tick, value,
        |    last_value(value IGNORE NULLS) OVER w AS pv,
        |    last_value(CASE WHEN value IS NOT NULL THEN tick END
        |      IGNORE NULLS) OVER w AS pt
        |  FROM j WINDOW w AS (PARTITION BY user_id ORDER BY tick
        |    ROWS UNBOUNDED PRECEDING))
        |SELECT user_id, tick,
        |  CASE WHEN epoch(tick) - epoch(pt) <= 600 THEN pv END AS filled,
        |  value IS NOT NULL AS observed
        |FROM f ORDER BY user_id, tick""".stripMargin,

    "op_gapfill_forward" ->
      s"""$gapfillCtes
        |SELECT user_id, tick,
        |  first_value(value IGNORE NULLS) OVER (PARTITION BY user_id
        |    ORDER BY tick ROWS BETWEEN CURRENT ROW AND UNBOUNDED
        |    FOLLOWING) AS filled,
        |  value IS NOT NULL AS observed
        |FROM j ORDER BY user_id, tick""".stripMargin,

    "op_gapfill_interp" ->
      s"""$gapfillCtes,
        |f AS (SELECT user_id, tick, value,
        |    last_value(value IGNORE NULLS) OVER wb AS pv,
        |    last_value(CASE WHEN value IS NOT NULL THEN tick END
        |      IGNORE NULLS) OVER wb AS pt,
        |    first_value(value IGNORE NULLS) OVER wf AS nv,
        |    first_value(CASE WHEN value IS NOT NULL THEN tick END
        |      IGNORE NULLS) OVER wf AS nt
        |  FROM j WINDOW
        |    wb AS (PARTITION BY user_id ORDER BY tick
        |      ROWS UNBOUNDED PRECEDING),
        |    wf AS (PARTITION BY user_id ORDER BY tick
        |      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
        |SELECT user_id, tick,
        |  CASE WHEN value IS NOT NULL THEN CAST(value AS DOUBLE)
        |    WHEN epoch(nt) - epoch(pt) <= 1800 THEN
        |      CAST(pv AS DOUBLE) + (CAST(nv AS DOUBLE) - CAST(pv AS DOUBLE))
        |        * (CAST(epoch(tick) - epoch(pt) AS DOUBLE)
        |           / CAST(epoch(nt) - epoch(pt) AS DOUBLE))
        |  END AS filled,
        |  value IS NOT NULL AS observed
        |FROM f ORDER BY user_id, tick""".stripMargin,

    "op_salted_agg" ->
      """SELECT event_type, count(*) AS n,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value,
        |  min(user_id) AS min_user, max(user_id) AS max_user
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    "ev_join" ->
      """WITH i AS (SELECT user_id AS i_user, ts AS i_ts,
        |    event_id AS impression_id FROM events WHERE event_id % 2 = 0),
        |c AS (SELECT user_id AS c_user, ts AS c_ts,
        |    event_id AS click_id FROM events WHERE event_id % 2 = 1)
        |SELECT click_id, impression_id, c_user AS user_id, c_ts, i_ts
        |FROM c JOIN i ON c_user = i_user AND i_ts <= c_ts
        |  AND i_ts >= c_ts - INTERVAL 30 MINUTE
        |ORDER BY click_id, impression_id""".stripMargin,
  )

  /** DuckDB twin of [[incFixture]]. */
  private val incFixtureSql =
    """WITH target AS (
      |  SELECT o_orderkey,
      |    CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DOUBLE) AS price,
      |    'target' AS src
      |  FROM orders WHERE o_orderkey % 4 != 0),
      |staged AS (
      |  SELECT o_orderkey,
      |    CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 2 AS DOUBLE) AS price,
      |    'staged' AS src
      |  FROM orders WHERE o_orderkey % 2 = 0)""".stripMargin
}
