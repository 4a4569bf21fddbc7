package perfbench

import java.nio.file.{Files, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.Dialect
import graft.mat.{CatalogOps, DataTests, Materializer}
import graft.model.Relation
import graft.operators.{AsOfJoin, GapFill, RangeJoin}
import graft.streaming.Events

/** A dbt project deployed, then run on a schedule. Set-up loads the
  * inputs and creates the incremental targets and the SCD2 snapshot. Op 0
  * (warm-up, so its time lands in setup_s) is the project run: two
  * seeds, four staging views over `Dialect` expressions, six marts (four
  * through the operators), the data tests and the catalog. Every later op
  * is one scheduled cycle: it stages one seeded order delta, applies it
  * through the append, delete+insert and merge incremental strategies,
  * and snapshots the customer source (bucketed SCD2). A traced run traces
  * a second project run, then cycles.
  *
  * Views and operator outputs are lazy, so the staged views and each
  * operator mart are materialized (`localCheckpoint`) inside their own
  * span: `functions.staging` then holds the `Dialect` evaluation and
  * `operators.marts` the operator jobs, and `mat.table` only the model
  * query over those results and the write.
  *
  * Delta rates are assumptions, not measurements: new orders are 0.1% of
  * the base per cycle (the size of a TPC-H RF1 refresh); 1/40 of orders
  * change status per cycle and 1/20 of customers per snapshot. */
final class Warehouse(spark: SparkSession, g: Gen, work: Path,
                      orders: Long, traced: Boolean) extends Workload {
  val primaryKind = "cycle"
  val itemsUnit = "delta rows applied"
  val warmupOps = 2              // the project run, one cycle
  val tracedOps = 2              // a project run, one cycle
  val minOps = 1

  private val ncust = math.max(orders / 10, 10L)
  private val nparts = math.max(orders * 2 / 15, 20L)
  private val nevents = orders * 2 / 3
  private val users = math.max(nevents / 700, 10L)
  private val period = if (orders >= 10000) 40 else 20
  private val fresh = math.max(orders / 1000, 5L)
  private val snapPeriod = if (orders >= 10000) 20 else 5
  private val buckets = 8

  private val raw = work.resolve("raw")
  private def rawPath(t: String) = raw.resolve(t).toAbsolutePath.toString
  private val Schema = "pb"
  private def rel(n: String) = Relation(Schema, n)
  private val m = new Materializer(spark)
  private val catalog = new CatalogOps(spark)

  private var testsFailed = 0
  private var catalogRows = Long.MaxValue
  private var runS = Double.NaN
  private var cyclesSeen = 0

  def setup(): Unit = {
    catalog.dropSchema(Schema)
    catalog.createSchema(Schema)
    val o = g.orders(orders, ncust)
    o.write.mode("overwrite").parquet(rawPath("orders"))
    g.lineitem(spark.read.parquet(rawPath("orders")), nparts)
      .write.mode("overwrite").parquet(rawPath("lineitem"))
    g.customer(ncust).write.mode("overwrite").parquet(rawPath("customer"))
    g.events(nevents, users).write.mode("overwrite").parquet(rawPath("events"))
    Files.createDirectories(raw)
    Files.writeString(raw.resolve("segments.csv"),
      g.Segments.zipWithIndex.map { case (s, i) => s"$s,${i % 3 + 1}" }
        .mkString("segment,tier\n", "\n", "\n"))
    Files.writeString(raw.resolve("nations.csv"),
      (0 until 25).map(i => s"$i,NATION_$i,${i % 5}")
        .mkString("n_nationkey,n_name,n_regionkey\n", "\n", "\n"))
    // the incremental targets and the snapshot as of cycle 0
    val base = g.orderVersion(
      spark.range(1, orders + 1).select(col("id").as("o_orderkey")),
      lit(0), ncust)
    m.incremental(rel("inc_orders_log"), base, "append")
    m.incremental(rel("inc_orders_di"), base, "delete+insert",
      Seq("o_orderkey"))
    m.incremental(rel("inc_orders_merge"), withP(base), "merge",
      Seq("o_orderkey"), partitionCols = Seq("p"))
    m.snapshot(rel("snap_customers"), g.customerSource(0, ncust, snapPeriod),
      Seq("c_custkey"), "updated_at", buckets = buckets)
    cyclesSeen = 0
    testsFailed = 0
  }

  private def withP(df: DataFrame) =
    df.withColumn("p", pmod(col("o_orderkey"), lit(16L)))

  override def kindOf(i: Int): String =
    if (i == 0 || (traced && i == warmupOps)) "run" else "cycle"

  def op(i: Int, t: Tracer): Op =
    if (kindOf(i) == "run") {
      val t0 = Clock.now()
      projectRun(t)
      val d = Clock.now() - t0
      if (i == 0) runS = d.wallS
      Op("run", d, 0L)
    } else {
      cyclesSeen += 1
      cycle(cyclesSeen, t)
    }

  /** Creates the staging views and returns each one materialized. */
  private def staging(): Map[String, DataFrame] = {
    def v(name: String, table: String, cols: String*): Unit =
      m.view(rel(name),
        s"SELECT ${cols.mkString(", ")} FROM parquet.`${rawPath(table)}`")
    v("stg_orders", "orders", "o_orderkey", "o_custkey", "o_orderstatus",
      s"${Dialect.safeCast("o_totalprice", "decimal(18,2)")} AS o_totalprice",
      "o_orderdate",
      s"${Dialect.dateTrunc("month", col("o_orderdate"))} AS order_month",
      s"${Dialect.hashMd5(col("o_orderpriority"))} AS priority_hash")
    v("stg_lineitem", "lineitem", "l_orderkey", "l_linenumber", "l_partkey",
      "l_quantity", "l_extendedprice", "l_discount", "l_returnflag",
      "l_shipdate")
    v("stg_customer", "customer", "c_custkey", "c_name",
      s"${Dialect.splitPart(col("c_name"), "#", 2)} AS c_code",
      "c_nationkey", "c_acctbal", "c_mktsegment")
    v("stg_events", "events", "event_id", "ts", "user_id", "event_type",
      "value", s"${Dialect.dateTrunc("day", col("ts"))} AS event_day")
    Seq("stg_orders", "stg_lineitem", "stg_customer", "stg_events")
      .map(n => n -> tbl(n).localCheckpoint()).toMap
  }

  private def tbl(n: String) = spark.table(s"$Schema.$n")

  private def projectRun(t: Tracer): Unit = {
    t.span("mat.seed")(m.seed(rel("seed_segments"),
      raw.resolve("segments.csv").toAbsolutePath.toString))
    t.span("mat.seed")(m.seed(rel("seed_nations"),
      raw.resolve("nations.csv").toAbsolutePath.toString))
    val stg = t.span("functions.staging")(staging())

    val orders = stg("stg_orders"); val li = stg("stg_lineitem")
    val ev = stg("stg_events")
    t.span("mat.table")(m.table(rel("fct_orders"),
      li.join(orders, col("l_orderkey") === col("o_orderkey"))
        .withColumn("ship_days",
          Dialect.dateDiff("day", col("o_orderdate"), col("l_shipdate")))
        .groupBy("o_custkey", "order_month")
        .agg(count(lit(1)).as("n_lines"),
          sum(col("l_extendedprice") * (lit(1) - col("l_discount")))
            .as("revenue"),
          avg(col("ship_days")).as("avg_ship_days"))))
    t.span("mat.table")(m.table(rel("dim_customer"),
      stg("stg_customer")
        .join(tbl("seed_segments"), col("c_mktsegment") === col("segment"))
        .join(tbl("seed_nations"), col("c_nationkey") === col("n_nationkey"))
        .drop("segment", "n_nationkey")))

    def mart(name: String)(build: => DataFrame): Unit = {
      val df = t.span("operators.marts")(build.localCheckpoint())
      t.span("mat.table")(m.table(rel(name), df))
    }
    mart("mart_user_asof") {
      val left = ev.filter(pmod(col("event_id"), lit(2)) === 1)
        .select(col("event_id"), col("user_id"), col("ts"))
      val right = ev.filter(pmod(col("event_id"), lit(2)) === 0)
        .groupBy(col("user_id"), col("ts")).agg(max(col("value")).as("rv"))
      AsOfJoin.asOf(left, right, "user_id", "ts", Seq("rv"))
    }
    mart("mart_promo_lines") {
      val points = li.select(unix_timestamp(col("l_shipdate")).as("pt"),
        col("l_quantity"))
      val promos = orders.filter(col("o_orderkey") % 97 === 0)
        .select(col("o_orderkey").as("promo_id"),
          unix_timestamp(col("o_orderdate")).as("lo"),
          (unix_timestamp(col("o_orderdate")) +
            (col("o_orderkey") % 30 + 1) * 86400L).as("hi"))
      RangeJoin.pointInInterval(points, "pt", promos, "lo", "hi",
          bucketWidth = 86400L * 31)
        .groupBy("promo_id")
        .agg(count(lit(1)).as("n_items"), sum("l_quantity").as("qty"))
    }
    mart("mart_user_grid")(GapFill.gapFill(ev.filter(col("user_id") < 40),
      "user_id", "ts", "event_id", "value", stepSec = 600L))
    mart("mart_sessions")(Events.sessions(ev))

    val results = t.span("mat.data_tests")(DataTests.summary(Seq(
      "unique_dim_customer" -> DataTests.unique(tbl("dim_customer"),
        "c_custkey"),
      "not_null_fct_custkey" -> DataTests.notNull(tbl("fct_orders"),
        "o_custkey"),
      "relationships_fct_customer" -> DataTests.relationships(
        tbl("fct_orders"), "o_custkey", tbl("dim_customer"), "c_custkey"),
      "accepted_orderstatus" -> DataTests.acceptedValues(tbl("stg_orders"),
        "o_orderstatus", Seq("F", "O", "P")))).collect())
    testsFailed += results.count(r => !r.getAs[Boolean]("passed"))
    catalogRows = math.min(catalogRows,
      t.span("mat.catalog")(catalog.getCatalog(Seq(Schema)).collect()).length)
  }

  private def cycle(c: Int, t: Tracer): Op = {
    // staging the delta is the upstream system's work: outside the op
    val delta = g.orderDelta(c, orders, ncust, period, fresh).localCheckpoint()
    val n = delta.count()
    val src = g.customerSource(c, ncust, snapPeriod)
    val t0 = Clock.now()
    t.span("mat.incremental")(m.incremental(rel("inc_orders_log"), delta,
      "append"))
    t.span("mat.incremental")(m.incremental(rel("inc_orders_di"), delta,
      "delete+insert", Seq("o_orderkey")))
    t.span("mat.incremental")(m.incremental(rel("inc_orders_merge"),
      withP(delta), "merge", Seq("o_orderkey"), partitionCols = Seq("p")))
    t.span("mat.snapshot")(m.snapshot(rel("snap_customers"), src,
      Seq("c_custkey"), "updated_at", buckets = buckets))
    Op("cycle", Clock.now() - t0, n)
  }

  /** Same multiset of rows: equal row counts and equal sums of a 64-bit
    * row hash (one aggregate per side instead of two set differences). */
  private def sameRows(a: DataFrame, b: DataFrame): Boolean = {
    def digest(df: DataFrame) = df.agg(count(lit(1)),
      sum(xxhash64(df.columns.toSeq.map(col): _*).cast("decimal(38,0)")))
      .head()
    digest(a) == digest(b.select(a.columns.toSeq.map(col): _*))
  }

  def checks(): Seq[(String, () => Boolean)] = {
    val k = cyclesSeen
    val cols = Seq("o_orderkey", "o_custkey", "o_orderstatus",
      "o_totalprice", "o_orderdate", "version").map(col)
    lazy val latest = g.ordersAfter(k, orders, ncust, period, fresh)
      .select(cols: _*)
    Seq(
      "data_tests_pass" -> (() => testsFailed == 0),
      "catalog_lists_models" -> (() => catalogRows > 0 &&
        catalogRows != Long.MaxValue),
      "append_equals_full_refresh" -> (() => sameRows(
        tbl("inc_orders_log").select(cols: _*),
        (1 to k).map(c => g.orderDelta(c, orders, ncust, period, fresh))
          .foldLeft(g.orderVersion(spark.range(1, orders + 1)
            .select(col("id").as("o_orderkey")), lit(0), ncust))(
            _.unionByName(_)).select(cols: _*))),
      "delete_insert_equals_full_refresh" -> (() =>
        sameRows(tbl("inc_orders_di").select(cols: _*), latest)),
      "merge_equals_full_refresh" -> (() =>
        sameRows(tbl("inc_orders_merge").select(cols: _*), latest)),
      "scd2_one_open_row_per_key" -> (() => {
        val s = tbl("snap_customers")
        val perKey = s.groupBy("c_custkey").agg(
          count(when(col("dbt_valid_to").isNull, 1)).as("open"),
          count(lit(1)).as("versions"))
        perKey.count() == ncust && perKey.filter(col("open") =!= 1).isEmpty
      }),
      "scd2_valid_from_before_valid_to" -> (() => tbl("snap_customers")
        .filter(col("dbt_valid_to").isNotNull &&
          !(col("dbt_valid_from") < col("dbt_valid_to"))).isEmpty),
      "scd2_versions_match_source_changes" -> (() => {
        val got = tbl("snap_customers").groupBy("c_custkey")
          .agg(count(lit(1)).as("n"))
        val want = spark.range(1, ncust + 1)
          .select(col("id").as("c_custkey"))
          .withColumn("n", g.customerVersions(k, ncust, snapPeriod))
        sameRows(got, want)
      }))
  }

  def inputs: Seq[(String, Long, Long)] =
    Seq("orders", "lineitem", "customer", "events").map { t =>
      (t, spark.read.parquet(rawPath(t)).count(), Main.bytesUnder(raw.resolve(t)))
    }

  def named(ops: Seq[Op]): Seq[(String, Double, String)] = {
    val cycles = ops.filter(_.kind == "cycle").map(_.seconds)
    Seq(("run_s (warm-up, cold)", runS, "s"),
      ("incr_cycle_p50_s", Stats.median(cycles), "s"),
      ("incr_cycle_tail_s", Stats.tail(cycles), "s"))
  }
}
