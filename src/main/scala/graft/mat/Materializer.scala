package graft.mat

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType
import graft.model.{ColumnModel, Relation, RelationType}

/** The reference adapter's top-level operators — the materialization state
  * machines of `dbt/include/extrica/macros/materializations/` — driven
  * against the Spark catalog (`saveAsTable` + `spark.catalog`; every
  * rewrite commits and heals through [[PartitionScoped]]).
  *
  * All writes are distributed (`df.write`); the state machine itself is
  * pure catalog orchestration (metadata ops), so nothing here caps scale.
  */
final class Materializer(spark: SparkSession, val catalog: CatalogOps) {

  def this(spark: SparkSession) = this(spark, new CatalogOps(spark))

  import spark.implicits._
  import Materializer.{GraftKeyPrefix, MvSqlKey, MvActionsKey, ViewSecurityKey}

  // ------------------------------------------------------------------
  // hook / docs / grants / properties plumbing shared by the
  // materialization state machines (table.sql:30,62-67,
  // incremental.sql:46,100-106, adapters.sql:277-295)
  // ------------------------------------------------------------------

  /** run_hooks: each hook is a SQL statement executed in order; a hook
    * failure aborts the materialization (dbt behavior). */
  private def runHooks(hooks: Seq[String]): Unit =
    hooks.foreach(spark.sql(_))

  /** persist_docs (adapters.sql:92-101 + dbt's persist_docs macro):
    * relation comment from the model description, column comments for
    * existing columns only. */
  private def persistDocs(rel: Relation, config: ModelConfig): Unit =
    if (config.persistDocs) {
      config.description.foreach(catalog.setTableComment(rel, _))
      if (config.columnComments.nonEmpty)
        catalog.setColumnComments(rel, config.columnComments)
    }

  /** `properties` config → TBLPROPERTIES. The reference renders
    * `WITH (k = v, ...)` inline in the CREATE (adapters.sql:102-110);
    * Spark's writer API cannot attach properties at `saveAsTable` time,
    * so they are set immediately after the write — same end state. */
  private def setProperties(rel: Relation,
                            props: Map[String, String]): Unit =
    PartitionScoped.setProperties(spark, rel.render, props)

  /** Every TBLPROPERTIES entry, including the graft.* metadata keys the
    * MV/view machinery persists (the reference keeps this state in
    * `system.metadata.materialized_views`, adapters.sql:35-39; here the
    * catalog's property store is the durable home, so a fresh
    * SparkSession can pick up where another left off). */
  private def rawProperties(rel: Relation): Map[String, String] =
    PartitionScoped.metadata(spark, rel.render).map(_.properties)
      .getOrElse(Map.empty)

  /** Read back the table properties previously set via the `properties`
    * config (filters out Spark-internal keys and graft metadata).
    * Metadata-only. */
  def getProperties(rel: Relation): Map[String, String] =
    rawProperties(rel)
      .filterNot(_._1.startsWith("transient_lastDdlTime"))
      .filterNot(_._1.startsWith("spark.sql."))
      .filterNot(_._1.startsWith("view."))
      .filterNot(_._1.startsWith(GraftKeyPrefix))

  /** dbt-core `should_revoke`: a new object has nothing to revoke; a
    * fully-replaced one only does if grants copy over — and
    * `extrica__copy_grants()` returns False (apply_grants.sql:11-23) —
    * so only an object that SURVIVED the build (normal incremental run)
    * diffs against its current grants. */
  private def shouldRevoke(existed: Boolean, fullRefresh: Boolean): Boolean =
    existed && !fullRefresh

  /** apply_grants call site: dbt skips the whole flow when the model has
    * no grants config (existing grants stay untouched). */
  private def applyGrantsCfg(rel: Relation, config: ModelConfig,
                             revoke: Boolean): Unit =
    if (config.grants.nonEmpty)
      catalog.applyGrants(rel, config.grants, shouldRevoke = revoke)

  // ------------------------------------------------------------------
  // table materialization (table.sql:1-70)
  // ------------------------------------------------------------------

  /** CTAS with swap. `onTableExists`:
    *  - "rename" (default): CTAS to `__dbt_tmp` → rename old → `__dbt_backup`
    *    → rename tmp → target → drop backup (table.sql:12-48);
    *  - "drop": drop old, then CTAS (table.sql:50-59);
    *  - anything else: logged fallback to rename (table.sql:3-7).
    *
    * Full state machine order (table.sql:30,62-67): pre-hooks → build +
    * swap → persist-docs → apply-grants → post-hooks. The replace wipes
    * existing grants (copy_grants() = False) before the model's grant
    * config is applied grant-only (should_revoke is false on replace).
    */
  def table(rel: Relation, df: DataFrame,
            onTableExists: String = "rename",
            config: ModelConfig = ModelConfig.empty,
            partitionCols: Seq[String] = Nil): Unit = {
    val mode = onTableExists match {
      case "rename" | "drop" => onTableExists
      case other =>
        // table.sql:3-7: invalid value logs and falls back to rename
        System.err.println(
          s"[graft] invalid on_table_exists '$other', falling back to rename")
        "rename"
    }
    // partitioned CTAS (the `partitioned_by` table config of partitioned
    // warehouses): downstream incremental runs on this table take the
    // partition-scoped rewrite path instead of the full-table swap
    def writer(d: DataFrame) =
      if (partitionCols.nonEmpty) d.write.partitionBy(partitionCols: _*)
      else d.write
    val name = rel.render
    val existed = spark.catalog.tableExists(name)
    runHooks(config.preHooks) // table.sql:30
    if (!existed) {
      writer(df).saveAsTable(name)
    } else if (mode == "drop") {
      dropRelation(rel)
      writer(df).saveAsTable(name)
    } else PartitionScoped.swap(spark, name, PartitionScoped.Dbt,
      carry = false)(writer(df).saveAsTable)
    if (existed) catalog.clearGrants(rel) // grants never copy on replace
    setProperties(rel, config.properties)
    persistDocs(rel, config) // table.sql:62
    applyGrantsCfg(rel, config, // table.sql:64-65
      revoke = shouldRevoke(existed, fullRefresh = true))
    runHooks(config.postHooks) // table.sql:67
  }

  /** create_table_as with an enforced contract (adapters.sql:107-124):
    * assert the model's schema matches the expected column list before any
    * write; mismatch aborts with the dbt-style error. */
  def tableWithContract(rel: Relation, df: DataFrame,
                        contract: Seq[ColumnModel]): Unit = {
    val got = df.schema.fields.map(f =>
      (f.name.toLowerCase, ColumnModel.fromSparkType(f.dataType)))
    val want = contract.map(c =>
      (c.name.toLowerCase, ColumnModel.fromSparkType(c.sparkType)))
    if (got.toSeq != want)
      throw new IllegalArgumentException(
        s"contract violation: model columns ${got.mkString(",")} != contract ${want.mkString(",")}")
    table(rel, df)
  }

  // ------------------------------------------------------------------
  // view materialization (view.sql + adapters.sql:136-153,266-295)
  // ------------------------------------------------------------------

  /** `create or replace view … security {definer|invoker}` — the security
    * clause has no Spark equivalent; it is validated (invalid values fall
    * back to definer, adapters.sql:141-147) and recorded, not enforced.
    *
    * State machine order (adapters.sql:277-292 + view.sql:5): pre-hooks →
    * build → apply-grants (should_revoke hardcoded True by the reference)
    * → post-hooks → persist-docs. */
  def view(rel: Relation, sql: String, security: String = "definer",
           config: ModelConfig = ModelConfig.empty): Unit = {
    val sec = security.toLowerCase match {
      case "definer" | "invoker" => security.toLowerCase
      case other =>
        System.err.println(
          s"[graft] invalid view security '$other', falling back to definer")
        "definer"
    }
    runHooks(config.preHooks) // adapters.sql:277
    // adapters.sql:279-282: drop a non-view object of the same name first
    if (spark.catalog.tableExists(rel.render)) {
      val t = spark.catalog.getTable(rel.render)
      if (t.tableType != "VIEW") dropRelation(rel)
    }
    spark.sql(s"CREATE OR REPLACE VIEW ${rel.render} AS $sql")
    // the recorded security mode lives on the view itself (the reference
    // keeps it in engine metadata) — any session can read it back
    setProperties(rel, Map(ViewSecurityKey -> sec))
    applyGrantsCfg(rel, config, revoke = true) // adapters.sql:290
    runHooks(config.postHooks) // adapters.sql:292
    persistDocs(rel, config) // view.sql:5
  }

  def securityOf(rel: Relation): Option[String] =
    if (!spark.catalog.tableExists(rel.render)) None
    else rawProperties(rel).get(ViewSecurityKey)

  // ------------------------------------------------------------------
  // materialized view (materialized_view.sql:1-35)
  // ------------------------------------------------------------------
  // No vanilla-Spark MV → physically refreshed table + defining query,
  // action log, and config persisted as graft.* TBLPROPERTIES on the
  // table itself (the reference persists MV definitions in
  // `system.metadata.materialized_views`, adapters.sql:35-39) — so a
  // fresh SparkSession can refresh an MV another session created.

  private case class MvState(sql: String, properties: Map[String, String])

  /** Stored MV state read back from the catalog (None when the relation
    * does not exist or was not created by [[materializedView]]). */
  private def mvStateOf(rel: Relation): Option[MvState] =
    if (!spark.catalog.tableExists(rel.render)) None
    else rawProperties(rel).get(MvSqlKey)
      .map(sql => MvState(sql, getProperties(rel)))

  /** Re-attach the MV metadata after a rebuild (the swap produces a new
    * table whose properties start from the model config alone). */
  private def writeMvMeta(rel: Relation, sql: String,
                          actions: Seq[String]): Unit =
    setProperties(rel, Map(MvSqlKey -> sql,
      MvActionsKey -> actions.mkString(",")))

  /** Materialized-view state machine with configuration-change
    * detection: applying MV config changes via ALTER is unsupported
    * (extrica__get_materialized_view_configuration_changes returns None,
    * materialized_view.sql:24-30), so ANY change to the defining query
    * or the `properties` config forces a full refresh (drop-equivalent
    * rebuild with the new properties); an unchanged re-materialize is a
    * plain `refresh materialized view`. Actions are recorded —
    * [[mvActions]] — so the distinction is observable. */
  def materializedView(rel: Relation, definingSql: String,
                       config: ModelConfig = ModelConfig.empty): Unit = {
    val prev = mvStateOf(rel)
    val action = prev match {
      case None => "create"
      case Some(st) if st.sql == definingSql &&
        st.properties == config.properties => "refresh"
      case _ => "full_refresh" // materialized_view.sql:24-30
    }
    val actions = prev.map(_ => mvActions(rel)).getOrElse(Nil) :+ action
    table(rel, spark.sql(definingSql), config = config)
    writeMvMeta(rel, definingSql, actions)
  }

  /** `refresh materialized view` (materialized_view.sql:33-35). Reads
    * the stored defining query from the catalog — works from any
    * session, not just the one that created the MV. */
  def refreshMaterializedView(rel: Relation): Unit = {
    val st = mvStateOf(rel).getOrElse(
      throw new IllegalArgumentException(s"not a materialized view: ${rel.render}"))
    val actions = mvActions(rel)
    table(rel, spark.sql(st.sql),
      config = ModelConfig(properties = st.properties))
    writeMvMeta(rel, st.sql, actions)
  }

  def materializedViewQuery(rel: Relation): Option[String] =
    mvStateOf(rel).map(_.sql)

  /** The create/refresh/full_refresh decisions taken for an MV, oldest
    * first — the observable trace of the config-change detection,
    * persisted with the MV. */
  def mvActions(rel: Relation): Seq[String] =
    if (!spark.catalog.tableExists(rel.render)) Nil
    else rawProperties(rel).get(MvActionsKey)
      .map(_.split(",").toSeq.filter(_.nonEmpty)).getOrElse(Nil)

  // ------------------------------------------------------------------
  // seed materialization (seeds/helpers.sql + adapters.sql:52-90)
  // ------------------------------------------------------------------

  /** Load a CSV into a typed table. Column types come from the
    * agate-mirroring inference (ColumnModel.inferSeedType ← impl.py:52-66)
    * unless overridden via `columnTypes` (the dbt `column_types` config,
    * adapters.sql:59,67). Full reset: drop + recreate (adapters.sql:52-55).
    * The reference's 1000-row INSERT batching is a wire-protocol detail
    * with no Spark analogue (single distributed write). */
  def seed(rel: Relation, csvPath: String,
           columnTypes: Map[String, String] = Map.empty): Unit = {
    // RFC-4180 CSV (the dbt seed format): quoted fields escape inner
    // quotes by doubling; Spark's univocity default escape is backslash
    val raw = spark.read.option("header", "true")
      .option("escape", "\"").csv(csvPath)
    val inferred = inferSeedTypes(raw)
    val typed = raw.schema.fieldNames.foldLeft(raw) { (df, c) =>
      val declared = columnTypes.get(c).map(ColumnModel.translateLabel)
        .getOrElse(inferred(c))
      df.withColumn(c, seedCast(df(c), declared))
    }
    dropRelation(rel)
    typed.write.saveAsTable(rel.render)
  }

  /** CSV cell → typed column with the reference's typed-literal
    * semantics (seeds/helpers.sql:6-24 create_bindings):
    *  - `interval*` types take the literal tail verbatim — a cell like
    *    `'1' day` becomes `INTERVAL '1' day` (helpers.sql:12-13);
    *    day/hour/minute/second feed a day-time interval, year/month a
    *    year-month interval;
    *  - `varbinary` cells are hex strings (`VARBINARY '65683F'`);
    *  - `json` is stored textual (Trino JSON ≈ string storage here);
    *  - everything else is a plain cast to the declared type. */
  private def seedCast(c: org.apache.spark.sql.Column,
                       declared: String): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types._
    val base = declared.trim.toLowerCase
    if (base.startsWith("interval")) {
      val v = regexp_extract(c, "'([^']*)'", 1)
      val unit = lower(trim(regexp_extract(c, "'[^']*'\\s*(\\w+)", 1)))
      if (base.contains("year") || base.contains("month"))
        when(unit === "year", make_ym_interval(v.cast(IntegerType)))
          .when(unit === "month", make_ym_interval(lit(0), v.cast(IntegerType)))
      else
        when(unit === "day", make_dt_interval(v.cast(IntegerType)))
          .when(unit === "hour", make_dt_interval(lit(0), v.cast(IntegerType)))
          .when(unit === "minute",
            make_dt_interval(lit(0), lit(0), v.cast(IntegerType)))
          .when(unit === "second",
            make_dt_interval(lit(0), lit(0), lit(0), v.cast(DecimalType(18, 6))))
    } else if (base == "varbinary" || base == "binary") {
      unhex(c)
    } else if (base == "json") {
      c // textual storage; declaredType 'json' is preserved on the model
    } else {
      c.cast(ColumnModel.toSparkType(declared))
    }
  }

  /** Distributed seed type inference: ONE aggregate pass over the whole
    * CSV computing, per column, the non-null count plus an all-match flag
    * per agate value class — no rows ever reach the driver (seeds are
    * small by contract, but the plan scales regardless). Decision rules
    * identical to ColumnModel.inferSeedType (impl.py:52-66). */
  def inferSeedTypes(raw: org.apache.spark.sql.DataFrame)
      : Map[String, String] = {
    import org.apache.spark.sql.functions._
    val fields = raw.schema.fieldNames.toIndexedSeq
    if (fields.isEmpty) return Map.empty
    val classes = Seq(
      "bool" -> Seq(ColumnModel.SeedBoolRe),
      "int" -> Seq(ColumnModel.SeedIntRe),
      "num" -> Seq(ColumnModel.SeedIntRe, ColumnModel.SeedNumRe),
      "date" -> Seq(ColumnModel.SeedDateRe),
      "ts" -> Seq(ColumnModel.SeedTsRe, ColumnModel.SeedDateRe))
    val aggs = fields.flatMap { c =>
      val present = col(c).isNotNull && col(c) =!= ""
      count(when(present, 1)).as(s"${c}__n") +: classes.map { case (k, res) =>
        val m = res.map(re => col(c).rlike(re)).reduce(_ || _)
        coalesce(bool_and(when(present, m)), lit(true)).as(s"${c}__$k")
      }
    }
    val r = raw.agg(aggs.head, aggs.tail: _*).head()
    fields.map { c =>
      val n = r.getAs[Long](s"${c}__n")
      def ok(k: String) = r.getAs[Boolean](s"${c}__$k")
      val t =
        if (n == 0) "VARCHAR"
        else if (ok("bool")) "BOOLEAN"
        else if (ok("int")) "INTEGER"
        else if (ok("num")) "DOUBLE"
        else if (ok("date")) "DATE"
        else if (ok("ts")) "TIMESTAMP"
        else "VARCHAR"
      c -> t
    }.toMap
  }

  // ------------------------------------------------------------------
  // incremental materialization driver (incremental.sql:21-110)
  // ------------------------------------------------------------------

  /** The incremental state machine: first run / full refresh → CTAS;
    * else stage → schema-change handling → strategy → rewrite.
    *
    * On vanilla parquet the delete+insert/merge strategies rewrite the
    * whole table (or, partitioned, the touched partitions); the write
    * commits through [[PartitionScoped.rewrite]] (never overwrite a table
    * from a plan that reads it — SURVEY §7.3 caution).
    */
  def incremental(
      rel: Relation,
      model: DataFrame,
      strategy: String = "append",
      uniqueKeys: Seq[String] = Nil,
      onSchemaChange: String = "ignore",
      fullRefresh: Boolean = false,
      predicates: Seq[org.apache.spark.sql.Column] = Nil,
      config: ModelConfig = ModelConfig.empty,
      partitionCols: Seq[String] = Nil): Unit = {
    val name = rel.render
    // crash recovery before the exists decision: PartitionScoped's contract
    PartitionScoped.heal(spark, name, PartitionScoped.Dbt)
    val exists = spark.catalog.tableExists(name)
    runHooks(config.preHooks) // incremental.sql:46
    // incremental's tail order differs from table's: post-hooks →
    // apply-grants → persist-docs (incremental.sql:100-106)
    def tail(): Unit = {
      setProperties(rel, config.properties)
      runHooks(config.postHooks) // incremental.sql:100
      applyGrantsCfg(rel, config, // incremental.sql:102-104
        revoke = shouldRevoke(exists, fullRefresh))
      persistDocs(rel, config) // incremental.sql:106
    }
    if (!exists || fullRefresh) {
      // incremental.sql:48-66 (replace wipes grants); partitionCols → a
      // partitioned CTAS, so every later run takes the partition-scoped
      // rewrite below instead of the full-table swap
      table(rel, model, partitionCols = partitionCols)
      tail()
      return
    }
    // incremental.sql:79-81: widen target column types so staged values
    // fit (decimal precision/scale grow, never shrink), THEN handle
    // on_schema_change — same order as the reference
    val widened = SchemaEvolution.expandColumnTypes(spark.table(name), model)
    val staged = SchemaEvolution.processSchemaChanges(
      onSchemaChange, widened, model)
    // the staged frame now carries the POST-change schema
    // (append_new_columns adds columns, sync_all_columns adds+removes);
    // evolve the target to that same schema — existing rows get typed
    // NULLs for added columns, removed columns drop — so the strategy
    // rewrites below (which align to the target's columns) keep the
    // evolution instead of silently projecting it away
    val target = widened.select(staged.schema.fields.map { f =>
      if (widened.columns.exists(_.equalsIgnoreCase(f.name)))
        org.apache.spark.sql.functions.col(f.name)
      else
        org.apache.spark.sql.functions.lit(null).cast(f.dataType).as(f.name)
    }.toIndexedSeq: _*)
    // ---- physical write planning ------------------------------------
    // The LOGICAL strategies above are fixed; HOW they hit disk depends
    // on the table's layout and whether this run changes the schema:
    //  - append + unchanged schema: plain INSERT INTO (O(|batch|), the
    //    reference's actual SQL shape, incremental.sql:145-149) — the
    //    target is never read;
    //  - merge / delete+insert on a PARTITIONED table + unchanged
    //    schema: partition-scoped rewrite (read only the partitions the
    //    staged batch touches, commit via dynamic partition overwrite) —
    //    per-run cost is O(touched partitions), not O(|table|). CONTRACT
    //    (PartitionScoped): a key's partition values must be stable
    //    across versions. delete+insert scopes for a SINGLE-column key
    //    (columnwise ≡ tuple there) and for a composite key whose
    //    (single) partition column is itself a key (deletable rows'
    //    partition values are then staged values by definition — see
    //    the strategy dispatch below); other composite-key runs fall
    //    back, because the columnwise-IN delete condition can match a
    //    target row combining values from DIFFERENT staged rows, and
    //    such a row may live in an untouched partition;
    //  - insert_overwrite on a table partitioned by the same columns:
    //    dynamic partition overwrite of the staged batch alone — the
    //    metadata-only form the strategy's scaladoc promises;
    //  - anything else (schema-changing run, unpartitioned keyed
    //    strategies, over-cap batches): full rewrite + tmp/backup swap,
    //    preserving the table's partition layout across the swap.
    val tablePartCols = PartitionScoped.partitionColumns(spark, name)
    val cur = spark.table(name)
    def sig(st: StructType) =
      st.fields.map(f => (f.name.toLowerCase, f.dataType)).toSeq.sortBy(_._1)
    val schemaUnchanged = sig(staged.schema) == sig(cur.schema)
    // table's physical column order (partition columns last) for
    // position-based insertInto
    def aligned(df: DataFrame) =
      df.select(cur.columns.map(org.apache.spark.sql.functions.col)
        .toIndexedSeq: _*)

    def write(scope: Seq[String])(f: DataFrame => DataFrame): Unit =
      PartitionScoped.rewrite(spark, name, PartitionScoped.Dbt, target,
        staged, scope)(f)
    def fullRewrite(f: DataFrame => DataFrame): Unit = write(Nil)(f)
    // scoped path: rewrite only the touched partitions (the full rewrite
    // over the cap); an empty batch touches none and writes nothing (the
    // strategies are identities on an empty staged frame)
    def scoped(f: DataFrame => DataFrame): Unit = write(tablePartCols)(f)

    val scopable = tablePartCols.nonEmpty && schemaUnchanged
    def fastAppend(): Unit =
      if (schemaUnchanged)
        aligned(staged).write.mode("append").insertInto(name)
      else fullRewrite(Incremental.append(_, staged))
    strategy match {
      case "append" => fastAppend()
      case "delete+insert" =>
        // columnwise-IN deletes scope safely in two cases:
        //  - SINGLE key: columnwise ≡ tuple membership, so deletes hit
        //    only staged keys' rows, whose partitions are touched by
        //    the stability contract;
        //  - COMPOSITE key where the table's (single) partition column
        //    is ITSELF one of the keys: a deletable row needs EVERY key
        //    column's value in the staged per-column set — in
        //    particular its partition value ∈ the staged partition
        //    values, which IS the touched set. Complete by
        //    construction, no stability contract needed (the partition
        //    column is a key). Every touched partition also receives
        //    staged rows (each staged row lands in its own partition
        //    value), so the dynamic overwrite rewrites every partition
        //    the scoped read opened — a fully-deleted partition cannot
        //    be silently skipped.
        //  MULTI-column partitioning stays on the full swap even when
        //  partitionCols ⊆ keys: the touched set is TUPLE-based while
        //  columnwise deletes cross-combine per column — a deletable
        //  row may sit in an untouched tuple (the spec pins the
        //  counterexample).
        val diScopable = scopable && (uniqueKeys.size == 1 ||
          (tablePartCols.size == 1 &&
            uniqueKeys.exists(_.equalsIgnoreCase(tablePartCols.head))))
        if (uniqueKeys.isEmpty) fastAppend()
        else if (diScopable)
          scoped(t => Incremental.deleteInsert(t, staged, uniqueKeys,
            predicates))
        else fullRewrite(
          Incremental.deleteInsert(_, staged, uniqueKeys, predicates))
      case "merge" =>
        if (uniqueKeys.isEmpty) fastAppend() // incremental.sql:198-204
        else if (scopable)
          scoped(t => Incremental.merge(t, staged, uniqueKeys,
            predicates = predicates))
        else fullRewrite(
          Incremental.merge(_, staged, uniqueKeys, predicates = predicates))
      case "insert_overwrite" => // extension beyond impl.py:80-81 — the
        // partitioned-warehouse strategy (see Incremental.insertOverwrite)
        if (scopable &&
            tablePartCols.map(_.toLowerCase) ==
              partitionCols.map(_.toLowerCase))
          // the staged batch alone, committed via dynamic partition
          // overwrite: replaces exactly the partitions present in the
          // batch; the target is never read
          PartitionScoped.dynamicOverwrite(spark) {
            aligned(staged).write.mode("overwrite").insertInto(name)
          }
        else fullRewrite(
          Incremental.insertOverwrite(_, staged, partitionCols))
      case other =>
        throw new IllegalArgumentException(
          s"invalid incremental strategy: $other") // impl.py:80-81
    }
    tail()
  }

  // ------------------------------------------------------------------
  // snapshot materialization (dbt-core's snapshot state machine; the
  // reference supplies the MERGE applier, snapshot.sql:13-34)
  // ------------------------------------------------------------------

  /** The `dbt snapshot` state machine driven against a catalog table:
    * first run → build the initial SCD2 table ([[Snapshot.initial]]);
    * later runs → stage changes against the CURRENT table
    * ([[Snapshot.stage]] — timestamp strategy) and apply them
    * ([[Snapshot.applyChanges]]). Crash recovery ([[PartitionScoped]])
    * and hook/grant/docs order follow the incremental materialization.
    *
    * '''Unbucketed''' (`buckets` = 0): each run rewrites the whole
    * history table through the tmp/backup swap — O(|history|) per run,
    * wrong at 100 TB (an SCD2 table only grows).
    *
    * '''Bucketed''' (`buckets` > 0): the table is created partitioned
    * by `dbt_bucket = pmod(xxhash64(keys), buckets)` and each run
    * rewrites ONLY buckets containing staged keys. Scoping is COMPLETE
    * by construction — every staged row (insert / new version / close /
    * hard delete) carries the key it changes, the bucket derives from
    * the key alone, and the superseded open row of key k lives in
    * bucket(k): unlike the incremental strategies there is no
    * partition-stability contract to impose, the bucket function IS
    * key-derived. Per-run cost model (MaterializerSpec-pinned):
    * STAGING reads the OPEN rows only (`dbt_valid_to IS NULL` is
    * pushed to the scan — O(live entities), not O(history)); the APPLY
    * reads and rewrites only the touched buckets. The accumulated
    * closed-row history — the part of an SCD2 table that grows without
    * bound — is neither read nor rewritten outside touched buckets.
    * `dbt_bucket` is reserved; a source column of that name is
    * rejected. */
  def snapshot(rel: Relation, source: DataFrame, keys: Seq[String],
               updatedAt: String, invalidateHardDeletes: Boolean = false,
               now: org.apache.spark.sql.Column =
                 org.apache.spark.sql.functions.current_timestamp(),
               buckets: Int = 0,
               config: ModelConfig = ModelConfig.empty,
               checkCols: Seq[String] = Nil): Unit = {
    import org.apache.spark.sql.functions.{col, lit, pmod, xxhash64}
    require(keys.nonEmpty, "snapshot needs unique keys")
    require(buckets >= 0, s"buckets must be >= 0: $buckets")
    val BucketCol = "dbt_bucket"
    require(!source.columns.exists(_.equalsIgnoreCase(BucketCol)),
      s"$BucketCol is reserved by the bucketed snapshot materialization")
    val name = rel.render
    def bucketOf(n: Int) = pmod(xxhash64(keys.map(col): _*), lit(n))
    // an SCD2 history is the least re-derivable table of all — restore
    // a crash-parked swap before the exists decision
    PartitionScoped.heal(spark, name, PartitionScoped.Dbt)
    val exists = spark.catalog.tableExists(name)
    runHooks(config.preHooks)
    def tail(): Unit = {
      setProperties(rel, config.properties)
      runHooks(config.postHooks)
      applyGrantsCfg(rel, config,
        revoke = shouldRevoke(exists, fullRefresh = false))
      persistDocs(rel, config)
    }
    if (!exists) {
      // checkCols nonEmpty selects the check_cols strategy (no source
      // updated_at; validity starts at the snapshot time `now`)
      val init =
        if (checkCols.nonEmpty) Snapshot.initialCheck(source, keys, now)
        else Snapshot.initial(source, keys, updatedAt)
      val w =
        if (buckets > 0) init.withColumn(BucketCol, bucketOf(buckets))
          .write.partitionBy(BucketCol)
        else init.write
      w.saveAsTable(name)
      // persist the bucket count: the bucket FUNCTION is part of the
      // table's physical contract — a later run bucketing staged rows
      // with a different modulus would scope them outside their key's
      // existing bucket, and the superseded open row (in the ORIGINAL
      // bucket, outside the touched read) would never close: silent
      // SCD2 corruption. Later runs derive the count from here and
      // reject a conflicting parameter.
      if (buckets > 0)
        setProperties(rel,
          Map(Materializer.SnapshotBucketsKey -> buckets.toString))
      tail()
      return
    }
    val snap = spark.table(name)
    val staged0 =
      if (checkCols.nonEmpty) Snapshot.stageCheck(
        snap, source, keys, checkCols, now, invalidateHardDeletes)
      else Snapshot.stage(
        snap, source, keys, updatedAt, invalidateHardDeletes, now)
    // every staged row carries its key columns (hard-delete rows come
    // from the snapshot's own open rows), so the bucket column is one
    // map-side projection for all change types
    val bucketed =
      PartitionScoped.partitionColumns(spark, name) == Seq(BucketCol)
    // derive the bucket count from the table, not the call: the count
    // was fixed at create time (persisted as TBLPROPERTIES) and every
    // later run MUST bucket staged rows with the same modulus or the
    // scoped apply silently corrupts the history (see the create-path
    // comment). A conflicting parameter fails fast; a legacy bucketed
    // table with no persisted count requires the parameter (> 0 —
    // pmod(x, 0) is NULL, which would route every staged row to the
    // null bucket) and heals the property for future runs.
    val effBuckets: Int =
      if (!bucketed) buckets
      else rawProperties(rel).get(Materializer.SnapshotBucketsKey)
        .map(_.trim.toInt) match {
        case Some(p) =>
          require(buckets == 0 || buckets == p,
            s"snapshot bucket-count mismatch on $name: created with $p " +
              s"buckets, this run passed $buckets — a different bucket " +
              "function would stage rows outside their key's existing " +
              "bucket and corrupt the SCD2 history")
          p
        case None =>
          require(buckets > 0,
            s"$name is partitioned by $BucketCol but its bucket count " +
              "is neither persisted nor passed — cannot derive the " +
              "bucket function")
          setProperties(rel,
            Map(Materializer.SnapshotBucketsKey -> buckets.toString))
          buckets
      }
    // staged is consumed up to three times below (the touched-bucket
    // collect, or unbucketed the emptiness probe, and twice inside
    // applyChanges: closers + inserts) — lazily, each consumer re-ran the
    // whole staging join (source scan, unique-key window guard,
    // source⋈open join). Materialize it once: the frame is
    // change-volume-sized (inserts + new versions + closes — exactly what
    // this run writes), so the checkpoint is bounded by the batch, never
    // by the history (r18, guide §5).
    val staged = (if (bucketed)
      staged0.withColumn(BucketCol, bucketOf(effBuckets))
    else staged0).localCheckpoint()
    // nothing changed: no-op (bucketed, the scoped commit finds no
    // touched bucket and writes nothing)
    if (!bucketed && staged.isEmpty) { tail(); return }
    PartitionScoped.rewrite(spark, name, PartitionScoped.Dbt, snap, staged,
      if (bucketed) Seq(BucketCol) else Nil)(
      Snapshot.applyChanges(_, staged))
    tail()
  }

  // ------------------------------------------------------------------
  // shared DDL helpers (adapters.sql)
  // ------------------------------------------------------------------

  /** drop {table|view} if exists (adapters.sql:156-159). */
  def dropRelation(rel: Relation): Unit =
    PartitionScoped.drop(spark, rel.render)

  /** alter {type} x rename to y (adapters.sql:188-193). */
  def renameRelation(from: Relation, to: Relation): Unit =
    PartitionScoped.rename(spark, from.render, to.render)
}

object Materializer {
  /** Namespace of the metadata keys graft persists as TBLPROPERTIES —
    * the durable replacement for the reference's
    * `system.metadata.materialized_views` store (adapters.sql:35-39). */
  val GraftKeyPrefix = "graft."
  val MvSqlKey: String = GraftKeyPrefix + "mv.sql"
  val MvActionsKey: String = GraftKeyPrefix + "mv.actions"
  val ViewSecurityKey: String = GraftKeyPrefix + "view.security"
  /** Bucket count of a bucketed SCD2 snapshot table — persisted at
    * create time because the bucket function is part of the table's
    * physical contract (see [[Materializer.snapshot]]). */
  val SnapshotBucketsKey: String = GraftKeyPrefix + "snapshot.buckets"
}
