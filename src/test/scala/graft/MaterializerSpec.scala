package graft

import org.apache.spark.sql.functions._
import graft.mat.{CatalogOps, Materializer}
import graft.model.{ColumnModel, Relation}

class MaterializerSpec extends SparkSpec {
  import spark.implicits._

  private lazy val mat = new Materializer(spark)
  private lazy val cat = new CatalogOps(spark)

  test("data tests: dbt generic-test null semantics and violation shapes") {
    import graft.mat.DataTests
    val d = Seq(Some(1L), Some(1L), Some(2L), None, None)
      .toDF("id")
    // nulls are NOT uniqueness violations (dbt: not_null is the test
    // for nulls); 1L appears twice -> one violating VALUE
    val u = DataTests.unique(d, "id").collect()
    assert(u.map(r => (r.getLong(0), r.getLong(1))).toSeq == Seq((1L, 2L)))
    assert(DataTests.notNull(d, "id").count() == 2)
    // accepted_values skips nulls; 2L is outside the set
    val av = DataTests.acceptedValues(d, "id", Seq(1L)).collect()
    assert(av.map(r => (r.getLong(0), r.getLong(1))).toSeq == Seq((2L, 1L)))
    // relationships: null FKs ignored, one row PER violating child row
    // (dbt parity — a repeated orphan value counts per occurrence)
    val parent = Seq(1L).toDF("pid")
    val rel = DataTests.relationships(d, "id", parent, "pid").collect()
    assert(rel.map(_.getLong(0)).toSeq == Seq(2L))
    val dupOrphans = Seq(Some(2L), Some(2L), None).toDF("id")
    assert(DataTests.relationships(dupOrphans, "id", parent, "pid")
      .count() == 2)
    // summary is the dbt-test result table
    val s = DataTests.summary(Seq(
        "u" -> DataTests.unique(d, "id"),
        "nn" -> DataTests.notNull(parent, "pid")))
      .orderBy("test_name").collect()
    assert(s.map(r => (r.getString(0), r.getLong(1), r.getBoolean(2)))
      .toSeq == Seq(("nn", 0L, true), ("u", 1L, false)))
  }

  test("table materialization: CTAS + rename swap (table.sql:12-48)") {
    val rel = Relation("t_swap")
    mat.table(rel, Seq((1, "a")).toDF("id", "v"))
    assert(spark.table("t_swap").count() == 1)
    // replace via rename dance; old data fully swapped out
    mat.table(rel, Seq((2, "b"), (3, "c")).toDF("id", "v"))
    assert(spark.table("t_swap").count() == 2)
    // no leftover tmp/backup relations
    assert(!spark.catalog.tableExists("t_swap__dbt_tmp"))
    assert(!spark.catalog.tableExists("t_swap__dbt_backup"))
  }

  test("table on_table_exists=drop + invalid fallback (table.sql:3-7,50-59)") {
    val rel = Relation("t_drop")
    mat.table(rel, Seq((1, "a")).toDF("id", "v"), onTableExists = "drop")
    mat.table(rel, Seq((2, "b")).toDF("id", "v"), onTableExists = "drop")
    assert(spark.table("t_drop").collect()(0).getInt(0) == 2)
    // invalid mode falls back to rename, still works
    mat.table(rel, Seq((9, "z")).toDF("id", "v"), onTableExists = "bogus")
    assert(spark.table("t_drop").collect()(0).getInt(0) == 9)
  }

  test("contract enforcement (adapters.sql:107-124)") {
    val df = Seq((1L, "a")).toDF("id", "name")
    mat.tableWithContract(Relation("t_contract"), df,
      Seq(ColumnModel("id", "bigint"), ColumnModel("name", "varchar")))
    assert(spark.table("t_contract").count() == 1)
    intercept[IllegalArgumentException] {
      mat.tableWithContract(Relation("t_contract2"), df,
        Seq(ColumnModel("id", "integer"), ColumnModel("name", "varchar")))
    }
  }

  test("view create/replace + security fallback (adapters.sql:136-153)") {
    mat.table(Relation("v_base"), Seq((1, "a"), (2, "b")).toDF("id", "v"))
    mat.view(Relation("v1"), "SELECT * FROM v_base WHERE id = 1")
    assert(spark.table("v1").count() == 1)
    mat.view(Relation("v1"), "SELECT * FROM v_base", security = "invoker")
    assert(spark.table("v1").count() == 2)
    assert(mat.securityOf(Relation("v1")).contains("invoker"))
    mat.view(Relation("v1"), "SELECT * FROM v_base", security = "bogus")
    assert(mat.securityOf(Relation("v1")).contains("definer"))
    // view replaces a same-named TABLE by dropping it first (adapters.sql:279-282)
    mat.table(Relation("v2"), Seq((1, "a")).toDF("id", "v"))
    mat.view(Relation("v2"), "SELECT * FROM v_base")
    assert(spark.catalog.getTable("v2").tableType == "VIEW")
  }

  test("materialized view: create + refresh re-runs defining query (materialized_view.sql)") {
    mat.table(Relation("mv_src"), Seq((1, 10.0)).toDF("id", "x"))
    mat.materializedView(Relation("mv1"),
      "SELECT sum(x) AS total FROM mv_src")
    assert(spark.table("mv1").collect()(0).getDouble(0) == 10.0)
    // underlying data changes; MV is stale until refresh
    mat.table(Relation("mv_src"), Seq((1, 10.0), (2, 20.0)).toDF("id", "x"))
    assert(spark.table("mv1").collect()(0).getDouble(0) == 10.0)
    mat.refreshMaterializedView(Relation("mv1"))
    assert(spark.table("mv1").collect()(0).getDouble(0) == 30.0)
  }

  test("seed: CSV load with inference + column_types override (seeds/helpers.sql, impl.py:52-66)") {
    val dir = java.nio.file.Files.createTempDirectory("seed").toFile
    val f = new java.io.File(dir, "s.csv")
    java.nio.file.Files.writeString(f.toPath,
      "id,amount,when,note\n1,1.5,2024-01-01,hello\n2,2,2024-01-02,world\n")
    mat.seed(Relation("seed1"), f.getPath)
    val sch = spark.table("seed1").schema
    assert(sch("id").dataType.typeName == "integer")
    assert(sch("amount").dataType.typeName == "double")
    assert(sch("when").dataType.typeName == "date")
    assert(sch("note").dataType.typeName == "string")
    // override: force amount to decimal(28,6) via dbt generic label
    mat.seed(Relation("seed2"), f.getPath,
      columnTypes = Map("amount" -> "NUMERIC"))
    assert(spark.table("seed2").schema("amount").dataType ==
      org.apache.spark.sql.types.DecimalType(28, 6))
  }

  test("incremental materialization end-to-end (incremental.sql:21-110)") {
    val rel = Relation("inc1")
    mat.incremental(rel, Seq((1L, "a"), (2L, "b")).toDF("id", "v"),
      strategy = "merge", uniqueKeys = Seq("id"))
    assert(spark.table("inc1").count() == 2) // first run = CTAS
    mat.incremental(rel, Seq((2L, "B"), (3L, "c")).toDF("id", "v"),
      strategy = "merge", uniqueKeys = Seq("id"))
    val rows = spark.table("inc1").orderBy("id").collect()
    assert(rows.map(_.getLong(0)).toSeq == Seq(1L, 2L, 3L))
    assert(rows(1).getString(1) == "B")
    // full refresh rebuilds
    mat.incremental(rel, Seq((9L, "z")).toDF("id", "v"),
      strategy = "merge", uniqueKeys = Seq("id"), fullRefresh = true)
    assert(spark.table("inc1").count() == 1)
  }

  test("incremental crash recovery: re-run after a mid-swap crash keeps history") {
    // the tmp/backup swap is not atomic — simulate a crash between the
    // two RENAMEs (target gone, history parked in __dbt_backup) and a
    // crash after the merge materialized but before the final rename
    // (result parked in __dbt_tmp). Without recovery, the re-run's
    // exists check takes the CREATE path and rebuilds the table from
    // the re-run's staged batch alone, silently losing history.
    val rel = Relation("inc_crash")
    for (s <- Seq("inc_crash", "inc_crash__dbt_tmp", "inc_crash__dbt_backup"))
      spark.sql(s"DROP TABLE IF EXISTS $s")
    mat.incremental(rel, Seq((1L, "a"), (2L, "b")).toDF("id", "v"),
      strategy = "merge", uniqueKeys = Seq("id"))
    spark.sql("ALTER TABLE inc_crash RENAME TO inc_crash__dbt_backup")
    mat.incremental(rel, Seq((2L, "B"), (3L, "c")).toDF("id", "v"),
      strategy = "merge", uniqueKeys = Seq("id"))
    assert(spark.table("inc_crash").orderBy("id").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq ==
      Seq((1L, "a"), (2L, "B"), (3L, "c")),
      "batch-1 history must survive the re-run")
    spark.sql("ALTER TABLE inc_crash RENAME TO inc_crash__dbt_tmp")
    mat.incremental(rel, Seq((4L, "d")).toDF("id", "v"),
      strategy = "merge", uniqueKeys = Seq("id"))
    assert(spark.table("inc_crash").count() == 4)
    for (s <- Seq("inc_crash", "inc_crash__dbt_tmp", "inc_crash__dbt_backup"))
      spark.sql(s"DROP TABLE IF EXISTS $s")
  }

  test("incremental insert_overwrite strategy replaces staged partitions only") {
    val rel = Relation("inc_ovr")
    mat.incremental(rel,
      Seq((1L, "p1", "a"), (2L, "p2", "b")).toDF("id", "part", "v"),
      strategy = "insert_overwrite", partitionCols = Seq("part"))
    mat.incremental(rel,
      Seq((9L, "p1", "A")).toDF("id", "part", "v"),
      strategy = "insert_overwrite", partitionCols = Seq("part"))
    // partitioned CTAS puts the partition column physically LAST — select
    // by name (the r11 scoped path creates the table partitioned by part)
    val rows = spark.table("inc_ovr").orderBy("id")
      .select($"id", $"v").collect()
    // p1 replaced wholesale, p2 untouched
    assert(rows.map(r => (r.getLong(0), r.getString(1))).toSeq ==
      Seq((2L, "b"), (9L, "A")))
    // and the physical layout IS partitioned: the scoped commit path
    // (dynamic partition overwrite, no target read) is what ran above
    assert(spark.sessionState.catalog.getTableMetadata(
      org.apache.spark.sql.catalyst.TableIdentifier("inc_ovr"))
      .partitionColumnNames == Seq("part"))
  }

  test("catalog ops: columns, relations, schemas, comments, grants") {
    mat.table(Relation("cat_t"), Seq((1L, "a", 1.5)).toDF("id", "name", "amt"))
    val cols = cat.getColumnsInRelation(Relation("cat_t"))
    assert(cols.map(c => (c.name, c.dtype)) ==
      Seq(("id", "bigint"), ("name", "varchar"), ("amt", "double")))
    assert(cat.getColumnsInRelation(Relation("nope")) == Nil)
    assert(cat.listSchemas().contains("default"))
    assert(cat.schemaExists("default"))
    cat.createSchema("extra_schema")
    assert(cat.schemaExists("extra_schema"))
    cat.dropSchema("extra_schema")
    assert(!cat.schemaExists("extra_schema"))
    val catalog = cat.getCatalog(Seq("default"))
    assert(catalog.filter($"table_name" === "cat_t").count() == 3)
    assert(catalog.columns.contains("column_index"))
    cat.applyGrants(Relation("cat_t"), Map("select" -> Set("alice", "bob")))
    cat.applyGrants(Relation("cat_t"), Map("select" -> Set("bob")))
    assert(cat.showGrants(Relation("cat_t")) == Map("select" -> Set("bob")))
  }

  test("get_catalog_relations filters to the relation list (catalog.sql:23-42)") {
    mat.table(Relation("cr_t1"), Seq((1L, "a")).toDF("id", "name"))
    mat.table(Relation("cr_t2"), Seq(Tuple1(2L)).toDF("id"))
    val out = cat.getCatalogRelations(Seq(Relation("default", "cr_t2")))
    assert(out.select("table_name").distinct().collect()
      .map(_.getString(0)).toSeq == Seq("cr_t2"))
    assert(out.count() == 1)
    assert(out.head.getAs[String]("column_type") == "bigint")
    // schema-less relations resolve against the current database
    assert(cat.getCatalogRelations(Seq(Relation("cr_t2"))).count() == 1)
  }

  test("incremental applies on_schema_change to the target (incremental.sql:83-86)") {
    val rel = Relation("inc_evolve")
    mat.dropRelation(rel)
    mat.incremental(rel, Seq((1L, "a")).toDF("id", "v"), "merge", Seq("id"))
    // append_new_columns: new column appears, pre-existing rows get NULL
    mat.incremental(rel, Seq((2L, "b", 9.5)).toDF("id", "v", "score"),
      "merge", Seq("id"), onSchemaChange = "append_new_columns")
    val t1 = spark.table("inc_evolve")
    assert(t1.columns.toSeq == Seq("id", "v", "score"))
    assert(t1.filter($"id" === 1L).head.isNullAt(2))
    assert(t1.filter($"id" === 2L).head.getDouble(2) == 9.5)
    // sync_all_columns: removed column drops from the target too
    mat.incremental(rel, Seq((3L, 1.0)).toDF("id", "score"),
      "merge", Seq("id"), onSchemaChange = "sync_all_columns")
    val t2 = spark.table("inc_evolve")
    assert(t2.columns.toSeq == Seq("id", "score"))
    assert(t2.count() == 3)
  }

  test("distributed seed inference matches the local agate rules") {
    val df = Seq(("1", "1.5", "2024-01-01", "true", "x"),
        ("2", "2", "2024-01-02 10:00:00", "false", null))
      .toDF("i", "n", "t", "b", "s")
    assert(mat.inferSeedTypes(df) == Map("i" -> "INTEGER", "n" -> "DOUBLE",
      "t" -> "TIMESTAMP", "b" -> "BOOLEAN", "s" -> "VARCHAR"))
  }

  test("incremental run widens target decimal types to fit staged (incremental.sql:79-81)") {
    import org.apache.spark.sql.types._
    val rel = Relation("inc_widen")
    mat.dropRelation(rel)
    val v0 = Seq((1L, BigDecimal("1.50"))).toDF("id", "amt")
      .select($"id", $"amt".cast(DecimalType(10, 2)).as("amt"))
    mat.incremental(rel, v0, strategy = "merge", uniqueKeys = Seq("id"))
    val v1 = Seq((2L, BigDecimal("2.123456"))).toDF("id", "amt")
      .select($"id", $"amt".cast(DecimalType(18, 6)).as("amt"))
    mat.incremental(rel, v1, strategy = "merge", uniqueKeys = Seq("id"))
    val out = spark.table("inc_widen")
    assert(out.schema("amt").dataType == DecimalType(18, 6))
    assert(out.count() == 2)
  }

  test("profile mapping: timezone, session props, default schema (§1.4)") {
    import graft.model.Profile
    val oldTz = spark.conf.get("spark.sql.session.timeZone")
    val oldDb = spark.catalog.currentDatabase
    try {
      Profile.configure(spark, Profile(
        schema = Some("prof_sch"),
        sessionProperties = Map("query_max_run_time" -> "4h"),
        timezone = Some("UTC")))
      assert(spark.conf.get("spark.sql.session.timeZone") == "UTC")
      assert(spark.catalog.currentDatabase == "prof_sch")
      assert(Profile.sessionProperty(spark, "query_max_run_time")
        .contains("4h"))
    } finally {
      spark.conf.set("spark.sql.session.timeZone", oldTz)
      spark.catalog.setCurrentDatabase(oldDb)
    }
  }

  test("exception taxonomy (connections.py:236-258, test_adapter.py:87-116)") {
    import graft.model.{ConnectError, DatabaseError, Errors, RuntimeError}
    // bad SQL → DatabaseError (the ProgrammingError class)
    intercept[DatabaseError] {
      Errors.translate(spark.sql("SELEKT 1"))
    }
    intercept[DatabaseError] {
      Errors.translate(spark.table("no_such_table_zzz").collect())
    }
    // unreachable source → ConnectError
    intercept[ConnectError] {
      Errors.translate(spark.read.parquet("/no/such/path/zzz").collect())
    }
    // anything else → RuntimeError
    intercept[RuntimeError] {
      Errors.translate(throw new IllegalStateException("boom"))
    }
  }

  test("rename relation (adapters.sql:188-193)") {
    mat.table(Relation("rn_a"), Seq(Tuple1(1)).toDF("x"))
    mat.dropRelation(Relation("rn_b"))
    mat.renameRelation(Relation("rn_a"), Relation("rn_b"))
    assert(spark.catalog.tableExists("rn_b") && !spark.catalog.tableExists("rn_a"))
  }

  test("rename relation moves a view (alter view … rename)") {
    for (v <- Seq("rnv_a", "rnv_b")) spark.sql(s"DROP VIEW IF EXISTS $v")
    spark.sql("CREATE VIEW rnv_a AS SELECT 1 AS x")
    mat.renameRelation(Relation("rnv_a"), Relation("rnv_b"))
    assert(!spark.catalog.tableExists("rnv_a"))
    assert(spark.catalog.getTable("rnv_b").tableType == "VIEW")
    assert(spark.table("rnv_b").collect().map(_.getInt(0)).toSeq == Seq(1))
    spark.sql("DROP VIEW rnv_b")
  }

  test("table model replaces an existing view through the swap") {
    for (s <- Seq("tv_swap__dbt_tmp", "tv_swap__dbt_backup"))
      spark.sql(s"DROP TABLE IF EXISTS $s")
    mat.dropRelation(Relation("tv_swap"))
    spark.sql("CREATE VIEW tv_swap AS SELECT 1 AS id")
    mat.table(Relation("tv_swap"), Seq((2, "b"), (3, "c")).toDF("id", "v"))
    assert(spark.catalog.getTable("tv_swap").tableType != "VIEW")
    assert(spark.table("tv_swap").orderBy("id").collect()
      .map(r => (r.getInt(0), r.getString(1))).toSeq == Seq((2, "b"), (3, "c")))
    assert(!spark.catalog.tableExists("tv_swap__dbt_tmp"))
    assert(!spark.catalog.tableExists("tv_swap__dbt_backup"))
    mat.dropRelation(Relation("tv_swap"))
  }

  test("a graft.* property survives the full-rewrite swap") {
    val rel = Relation("inc_props")
    for (s <- Seq("inc_props", "inc_props__dbt_tmp", "inc_props__dbt_backup"))
      spark.sql(s"DROP TABLE IF EXISTS $s")
    mat.incremental(rel, Seq((1L, "a"), (2L, "b")).toDF("id", "v"),
      strategy = "delete+insert", uniqueKeys = Seq("id"))
    spark.sql("ALTER TABLE inc_props SET TBLPROPERTIES ('graft.keep' = 'yes')")
    mat.incremental(rel, Seq((2L, "B")).toDF("id", "v"),
      strategy = "delete+insert", uniqueKeys = Seq("id"))
    assert(spark.table("inc_props").orderBy("id").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq ==
      Seq((1L, "a"), (2L, "B")))
    val props = spark.sql("SHOW TBLPROPERTIES inc_props").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(props.get("graft.keep").contains("yes"),
      s"graft.* property lost in the swap: $props")
    spark.sql("DROP TABLE inc_props")
  }

  test("grants diff matrix: should_revoke on/off, replace wipes (apply_grants.sql)") {
    val c = new CatalogOps(spark)
    val rel = Relation("g_matrix")
    // grant-only pass (new object, should_revoke=false)
    c.applyGrants(rel, Map("select" -> Set("a", "b")), shouldRevoke = false)
    assert(c.showGrants(rel) == Map("select" -> Set("a", "b")))
    // diff pass: b loses select, insert appears, c added
    c.applyGrants(rel, Map("select" -> Set("a", "c"), "insert" -> Set("a")))
    assert(c.showGrants(rel) ==
      Map("select" -> Set("a", "c"), "insert" -> Set("a")))
    // grant-only pass does NOT revoke (no read-back in the reference)
    c.applyGrants(rel, Map("select" -> Set("d")), shouldRevoke = false)
    assert(c.showGrants(rel) ==
      Map("select" -> Set("a", "c", "d"), "insert" -> Set("a")))
    // full replace wipes everything
    c.clearGrants(rel)
    assert(c.showGrants(rel).isEmpty)
  }

  test("table state machine: hook order, docs, grants on replace (table.sql:30,62-67)") {
    import graft.mat.ModelConfig
    val rel = Relation("hk_t")
    mat.dropRelation(rel)
    spark.sql("DROP TABLE IF EXISTS hk_audit")
    val cfg = ModelConfig(
      preHooks = Seq("CREATE TABLE hk_audit AS SELECT 'pre' AS tag"),
      // post-hook sees the materialized target → proves it runs last
      postHooks = Seq("INSERT INTO hk_audit SELECT concat('post:', " +
        "CAST((SELECT count(*) FROM hk_t) AS STRING))"),
      grants = Map("select" -> Set("alice")),
      description = Some("demo"), persistDocs = true)
    mat.table(rel, Seq((1, "x"), (2, "y")).toDF("id", "v"), config = cfg)
    val tags = spark.table("hk_audit").collect().map(_.getString(0)).sorted
    assert(tags.toSeq == Seq("post:2", "pre"))
    assert(mat.catalog.showGrants(rel) == Map("select" -> Set("alice")))
    assert(spark.catalog.getTable("hk_t").description == "demo")
    // replace with different grants: old set never copies over
    mat.table(rel, Seq((3, "z")).toDF("id", "v"),
      config = cfg.copy(preHooks = Nil,
        postHooks = Nil, grants = Map("select" -> Set("bob"))))
    assert(mat.catalog.showGrants(rel) == Map("select" -> Set("bob")))
    // incremental run (survivor): diff path revokes bob, grants carol
    mat.incremental(rel, Seq((4, "w")).toDF("id", "v"), "append",
      config = ModelConfig(grants = Map("select" -> Set("carol"))))
    assert(mat.catalog.showGrants(rel) == Map("select" -> Set("carol")))
    // empty grants config leaves existing grants untouched (dbt skips)
    mat.incremental(rel, Seq((5, "q")).toDF("id", "v"), "append")
    assert(mat.catalog.showGrants(rel) == Map("select" -> Set("carol")))
  }

  test("table properties set + read back (adapters.sql:102-110)") {
    val rel = Relation("props_t")
    mat.table(rel, Seq(Tuple1(1)).toDF("x"),
      config = graft.mat.ModelConfig(
        properties = Map("format" -> "PARQUET", "retention" -> "7d")))
    val p = mat.getProperties(rel)
    assert(p.get("format").contains("PARQUET"))
    assert(p.get("retention").contains("7d"))
  }

  test("MV config change forces full refresh (materialized_view.sql:24-30)") {
    import graft.mat.ModelConfig
    val rel = Relation("mv_cfg_t")
    mat.dropRelation(rel)
    spark.sql("DROP TABLE IF EXISTS mv_cfg_src")
    Seq((1, 10), (2, 20)).toDF("k", "v").write.saveAsTable("mv_cfg_src")
    val sql = "SELECT k, sum(v) AS s FROM mv_cfg_src GROUP BY k"
    val cfg = ModelConfig(properties = Map("a" -> "1"))
    mat.materializedView(rel, sql, cfg)
    mat.materializedView(rel, sql, cfg) // unchanged → refresh
    mat.materializedView(rel, sql, cfg.copy(properties = Map("a" -> "2")))
    mat.materializedView(rel, "SELECT k, max(v) AS s FROM mv_cfg_src GROUP BY k", cfg.copy(properties = Map("a" -> "2")))
    assert(mat.mvActions(rel) ==
      Seq("create", "refresh", "full_refresh", "full_refresh"))
    assert(mat.getProperties(rel).get("a").contains("2"))
  }

  test("MV + view metadata survive a fresh session (adapters.sql:35-39 analogue)") {
    import graft.mat.ModelConfig
    val rel = Relation("mv_xsession_t")
    mat.dropRelation(rel)
    spark.sql("DROP TABLE IF EXISTS mv_xs_src")
    Seq((1, 10), (2, 20)).toDF("k", "v").write.saveAsTable("mv_xs_src")
    val sql = "SELECT k, sum(v) AS s FROM mv_xs_src GROUP BY k"
    mat.materializedView(rel, sql,
      ModelConfig(properties = Map("a" -> "1")))
    mat.view(Relation("view_xs_t"), "SELECT * FROM mv_xs_src",
      security = "invoker")
    // a brand-new session state + Materializer sees only the catalog —
    // the defining query, action log, config, and view security must all
    // come back from TBLPROPERTIES, not driver memory
    val mat2 = new graft.mat.Materializer(spark.newSession())
    assert(mat2.materializedViewQuery(rel).contains(sql))
    assert(mat2.mvActions(rel) == Seq("create"))
    assert(mat2.securityOf(Relation("view_xs_t")).contains("invoker"))
    spark.sql("INSERT INTO mv_xs_src VALUES (1, 5)")
    mat2.refreshMaterializedView(rel)
    assert(spark.table(rel.render).orderBy("k").collect()
      .map(r => (r.getInt(0), r.getLong(1))).toSeq == Seq((1, 15L), (2, 20L)))
    // refresh preserves the stored metadata and the user properties
    assert(mat2.materializedViewQuery(rel).contains(sql))
    assert(mat2.getProperties(rel).get("a").contains("1"))
    // a non-MV table refuses to refresh
    mat.table(Relation("plain_xs_t"), Seq(Tuple1(1)).toDF("x"))
    intercept[IllegalArgumentException] {
      mat2.refreshMaterializedView(Relation("plain_xs_t"))
    }
  }

  test("seed typed literals: interval, varbinary, json (seeds/helpers.sql:6-24)") {
    val csv = java.nio.file.Files.createTempFile("seed_lit", ".csv")
    java.nio.file.Files.writeString(csv,
      "id,dur,mth,bin,meta\n" +
        "1,'90' minute,'2' year,DEAD,\"{\"\"x\"\":true}\"\n" +
        "2,'45' second,'3' month,BEEF,plain\n")
    mat.seed(Relation("seed_lit"), csv.toString,
      columnTypes = Map("dur" -> "interval day to second",
        "mth" -> "interval year to month", "bin" -> "varbinary",
        "meta" -> "json"))
    val t = spark.table("seed_lit").orderBy("id").collect()
    assert(t(0).getAs[java.time.Duration]("dur") ==
      java.time.Duration.ofMinutes(90))
    assert(t(1).getAs[java.time.Duration]("dur") ==
      java.time.Duration.ofSeconds(45))
    assert(t(0).getAs[java.time.Period]("mth") == java.time.Period.ofYears(2))
    assert(t(1).getAs[java.time.Period]("mth") == java.time.Period.ofMonths(3))
    assert(t(0).getAs[Array[Byte]]("bin").toSeq ==
      Seq(0xDE.toByte, 0xAD.toByte))
    assert(t(0).getAs[String]("meta") == """{"x":true}""")
    assert(t(1).getAs[String]("meta") == "plain")
  }

  // ---- r11: partition-scoped incremental physical paths ----------------

  /** Parquet file names per partition dir of a catalog table. */
  private def partFiles(table: String, p: Long): Set[String] = {
    import scala.jdk.CollectionConverters._
    val loc = spark.sessionState.catalog.getTableMetadata(
      org.apache.spark.sql.catalyst.TableIdentifier(table)).location.getPath
    val d = java.nio.file.Paths.get(loc, s"p=$p")
    if (!java.nio.file.Files.exists(d)) Set.empty
    else {
      val s = java.nio.file.Files.list(d)
      try s.iterator().asScala.map(_.getFileName.toString)
        .filter(_.endsWith(".parquet")).toSet
      finally s.close()
    }
  }

  /** Run `body` capturing every QueryExecution, return the target-table
    * FileSourceScanExec nodes observed (AQE stages flattened through). */
  private def capturedTargetScans(table: String)(body: => Unit)
      : Seq[org.apache.spark.sql.execution.FileSourceScanExec] =
    capturedExecutions(body)
      .flatMap(qe => planNodes(qe.executedPlan))
      .collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec
          if f.relation.location.rootPaths.exists(_.toString.contains(table))
            && !f.relation.location.rootPaths.exists(p =>
                 p.toString.contains("__dbt_scoped_tmp") ||
                 p.toString.contains("__dbt_tmp")) => f
      }

  test("partition-scoped incremental merge: untouched partitions neither read nor rewritten") {
    val rel = Relation("inc_part_merge")
    for (s <- Seq("inc_part_merge", "inc_part_merge__dbt_tmp",
        "inc_part_merge__dbt_backup", "inc_part_merge__dbt_scoped_tmp"))
      spark.sql(s"DROP TABLE IF EXISTS $s")
    val b1 = (0L until 50L).map(i => (i, s"v$i", i % 5))
      .toDF("k", "v", "p")
    mat.incremental(rel, b1, strategy = "merge", uniqueKeys = Seq("k"),
      partitionCols = Seq("p"))
    assert(spark.sessionState.catalog.getTableMetadata(
      org.apache.spark.sql.catalyst.TableIdentifier("inc_part_merge"))
      .partitionColumnNames == Seq("p"))
    val before = (0L to 4L).map(p => p -> partFiles("inc_part_merge", p)).toMap
    // batch 2 touches ONLY p=2 (keys 7 update, 52 insert; p = k % 5 —
    // the partition-stability contract)
    val b2 = Seq((7L, "v7b", 2L), (52L, "new", 2L)).toDF("k", "v", "p")
    val scans = capturedTargetScans("inc_part_merge") {
      mat.incremental(rel, b2, strategy = "merge", uniqueKeys = Seq("k"),
        partitionCols = Seq("p"))
    }
    for (p <- 0L to 4L if p != 2L)
      assert(partFiles("inc_part_merge", p) == before(p),
        s"untouched partition p=$p was rewritten")
    assert(partFiles("inc_part_merge", 2L) != before(2L))
    assert(scans.nonEmpty, "no target scan captured")
    for (f <- scans) {
      assert(f.partitionFilters.nonEmpty,
        s"target scan had no partition filters: ${f.metadata}")
      val read = f.metrics.get("numFiles").map(_.value).getOrElse(-1L)
      assert(read <= before(2L).size,
        s"scan read $read files — untouched partitions were read")
    }
    val got = spark.table("inc_part_merge").orderBy($"k")
      .select($"k", $"v").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    val want = (0L until 50L).map(i =>
      (i, if (i == 7L) "v7b" else s"v$i")) :+ (52L, "new")
    assert(got == want)
    // no scratch tables leak
    assert(!spark.catalog.tableExists("inc_part_merge__dbt_scoped_tmp"))
  }

  test("incremental append never reads the target (INSERT INTO shape)") {
    val rel = Relation("inc_fast_app")
    spark.sql("DROP TABLE IF EXISTS inc_fast_app")
    mat.incremental(rel, Seq((1L, "a"), (2L, "b")).toDF("id", "v"),
      strategy = "append")
    val loc = spark.sessionState.catalog.getTableMetadata(
      org.apache.spark.sql.catalyst.TableIdentifier("inc_fast_app"))
      .location.getPath
    def files(): Set[String] = {
      import scala.jdk.CollectionConverters._
      val s = java.nio.file.Files.list(java.nio.file.Paths.get(loc))
      try s.iterator().asScala.map(_.getFileName.toString)
        .filter(_.endsWith(".parquet")).toSet
      finally s.close()
    }
    val before = files()
    val scans = capturedTargetScans("inc_fast_app") {
      mat.incremental(rel, Seq((3L, "c")).toDF("id", "v"),
        strategy = "append")
    }
    assert(scans.isEmpty,
      s"append read the target: ${scans.map(_.metadata)}")
    val after = files()
    assert(before.subsetOf(after) && after.size > before.size,
      "append must ADD files, never rewrite existing ones")
    assert(spark.table("inc_fast_app").orderBy("id").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq ==
      Seq((1L, "a"), (2L, "b"), (3L, "c")))
    // schema-changing append still works (falls back to the full swap)
    mat.incremental(rel, Seq((4L, "d", 1.5)).toDF("id", "v", "score"),
      strategy = "append", onSchemaChange = "append_new_columns")
    val rows = spark.table("inc_fast_app").orderBy("id").collect()
    assert(rows.length == 4 && rows(3).getDouble(2) == 1.5 &&
      rows.take(3).forall(_.isNullAt(2)))
  }

  test("partitioned incremental: schema-change run preserves the partition layout") {
    val rel = Relation("inc_part_se")
    spark.sql("DROP TABLE IF EXISTS inc_part_se")
    mat.incremental(rel, Seq((1L, "a", 0L), (2L, "b", 1L))
        .toDF("k", "v", "p"),
      strategy = "merge", uniqueKeys = Seq("k"), partitionCols = Seq("p"))
    // new column → full rewrite; the swap must keep the table partitioned
    mat.incremental(rel, Seq((2L, "B", 1L, 9.0), (3L, "c", 0L, 7.0))
        .toDF("k", "v", "p", "score"),
      strategy = "merge", uniqueKeys = Seq("k"),
      onSchemaChange = "append_new_columns", partitionCols = Seq("p"))
    assert(spark.sessionState.catalog.getTableMetadata(
      org.apache.spark.sql.catalyst.TableIdentifier("inc_part_se"))
      .partitionColumnNames == Seq("p"))
    val got = spark.table("inc_part_se").orderBy("k")
      .select($"k", $"v", $"score").collect()
      .map(r => (r.getLong(0), r.getString(1),
        if (r.isNullAt(2)) None else Some(r.getDouble(2)))).toSeq
    assert(got == Seq((1L, "a", None), (2L, "B", Some(9.0)),
      (3L, "c", Some(7.0))))
  }

  test("scoped merge at 256 touched partitions: one In node, exact result") {
    // width pin for the single-column touched predicate: a wide batch
    // must plan as ONE In(values) — not a 256-term OR tree — and still
    // produce the exact merge result
    val rel = Relation("inc_part_wide")
    for (s <- Seq("inc_part_wide", "inc_part_wide__dbt_scoped_tmp"))
      spark.sql(s"DROP TABLE IF EXISTS $s")
    val b1 = (0L until 2048L).map(i => (i, s"v$i", i % 512)).toDF("k", "v", "p")
    mat.incremental(rel, b1, strategy = "merge", uniqueKeys = Seq("k"),
      partitionCols = Seq("p"))
    // batch 2 touches partitions 0..255 (k % 512 < 256), updates evens,
    // inserts one new key per touched partition
    val b2 = (0L until 2048L).filter(i => i % 512 < 256 && i % 2 == 0)
      .map(i => (i, s"u$i", i % 512))
      .++((0L until 256L).map(p => (10000L + p, "new", p)))
      .toDF("k", "v", "p")
    mat.incremental(rel, b2, strategy = "merge", uniqueKeys = Seq("k"),
      partitionCols = Seq("p"))
    val got = spark.table("inc_part_wide")
      .select($"k", $"v").orderBy($"k").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    val want = ((0L until 2048L).map { i =>
      (i, if (i % 512 < 256 && i % 2 == 0) s"u$i" else s"v$i")
    } ++ (0L until 256L).map(p => (10000L + p, "new"))).sortBy(_._1)
    assert(got == want)
    for (s <- Seq("inc_part_wide", "inc_part_wide__dbt_scoped_tmp"))
      spark.sql(s"DROP TABLE IF EXISTS $s")
  }

  test("composite-key delete+insert on a partitioned table keeps columnwise-IN semantics") {
    // columnwise IN can match a target row whose key columns combine
    // values from DIFFERENT staged rows — such a row may live in a
    // partition the staged batch never touches, so the scoped path is
    // WRONG for composite keys and must fall back to the full rewrite.
    // target (1,4) in p=3: staged has k1=1 (in p=0) and k2=4 (in p=1),
    // so columnwise IN deletes it even though p=3 is untouched.
    val rel = Relation("inc_part_di")
    spark.sql("DROP TABLE IF EXISTS inc_part_di")
    val target = Seq((1L, 2L, "t12", 0L), (3L, 4L, "t34", 1L),
      (1L, 4L, "t14", 3L), (5L, 6L, "t56", 2L))
      .toDF("k1", "k2", "v", "p")
    mat.incremental(rel, target, strategy = "delete+insert",
      uniqueKeys = Seq("k1", "k2"), partitionCols = Seq("p"))
    val staged = Seq((1L, 2L, "s12", 0L), (3L, 4L, "s34", 1L))
      .toDF("k1", "k2", "v", "p")
    mat.incremental(rel, staged, strategy = "delete+insert",
      uniqueKeys = Seq("k1", "k2"), partitionCols = Seq("p"))
    val got = spark.table("inc_part_di").orderBy("k1", "k2")
      .select($"k1", $"k2", $"v").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSeq
    // (1,4) deleted by columnwise IN despite living in untouched p=3;
    // (5,6) survives; staged rows inserted
    assert(got == Seq((1L, 2L, "s12"), (3L, 4L, "s34"), (5L, 6L, "t56")))
  }

  test("delete+insert scopes when the single partition column is a unique key") {
    val rel = Relation("inc_di_pkey")
    for (s <- Seq("inc_di_pkey", "inc_di_pkey__dbt_tmp",
        "inc_di_pkey__dbt_backup", "inc_di_pkey__dbt_scoped_tmp"))
      spark.sql(s"DROP TABLE IF EXISTS $s")
    val target = Seq((0L, 1L, "a"), (0L, 2L, "b"), (1L, 1L, "c"),
      (1L, 2L, "d"), (2L, 9L, "e")).toDF("p", "id", "v")
    mat.incremental(rel, target, strategy = "delete+insert",
      uniqueKeys = Seq("p", "id"), partitionCols = Seq("p"))
    val before = (0L to 2L).map(q => q -> partFiles("inc_di_pkey", q)).toMap
    // staged (0,2) and (1,1): the columnwise-IN delete set is
    // p ∈ {0,1} AND id ∈ {1,2} — FOUR target rows including the
    // cross-combinations (0,1) and (1,2), all provably inside the
    // touched partitions {0,1} because p is itself a key; partition 2
    // must be neither read nor rewritten
    val staged = Seq((0L, 2L, "B"), (1L, 1L, "C")).toDF("p", "id", "v")
    val scans = capturedTargetScans("inc_di_pkey") {
      mat.incremental(rel, staged, strategy = "delete+insert",
        uniqueKeys = Seq("p", "id"), partitionCols = Seq("p"))
    }
    assert(partFiles("inc_di_pkey", 2L) == before(2L),
      "untouched partition p=2 was rewritten")
    assert(partFiles("inc_di_pkey", 0L) != before(0L))
    assert(scans.nonEmpty, "no target scan captured")
    for (f <- scans)
      assert(f.partitionFilters.nonEmpty,
        s"unscoped target scan: ${f.metadata}")
    val got = spark.table("inc_di_pkey").orderBy($"p", $"id")
      .select($"p", $"id", $"v").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSeq
    // cross-combined rows (0,1) and (1,2) deleted; (2,9) untouched
    assert(got == Seq((0L, 2L, "B"), (1L, 1L, "C"), (2L, 9L, "e")))
    assert(!spark.catalog.tableExists("inc_di_pkey__dbt_scoped_tmp"))
    for (s <- Seq("inc_di_pkey", "inc_di_pkey__dbt_tmp",
        "inc_di_pkey__dbt_backup", "inc_di_pkey__dbt_scoped_tmp"))
      spark.sql(s"DROP TABLE IF EXISTS $s")
  }

  test("bucketed snapshot materialization: untouched buckets neither read nor rewritten") {
    import org.apache.spark.sql.functions.{xxhash64, pmod}
    val rel = Relation("snap_bucketed")
    for (s <- Seq("snap_bucketed", "snap_bucketed__dbt_tmp",
        "snap_bucketed__dbt_backup", "snap_bucketed__dbt_scoped_tmp"))
      spark.sql(s"DROP TABLE IF EXISTS $s")
    val t0 = java.sql.Timestamp.valueOf("2020-01-01 00:00:00")
    val t1 = java.sql.Timestamp.valueOf("2020-02-01 00:00:00")
    val v0 = (0L until 40L).map(i => (i, s"v$i", t0)).toDF("id", "v", "updated_at")
    mat.snapshot(rel, v0, Seq("id"), "updated_at", buckets = 8)
    assert(spark.sessionState.catalog.getTableMetadata(
      org.apache.spark.sql.catalyst.TableIdentifier("snap_bucketed"))
      .partitionColumnNames == Seq("dbt_bucket"))
    // which bucket does id=7 land in? (xxhash64 is engine-deterministic)
    val b7 = v0.filter($"id" === 7L)
      .select(pmod(xxhash64($"id"), lit(8L))).head().getLong(0)
    def bFiles(p: Long): Set[String] = {
      import scala.jdk.CollectionConverters._
      val loc = spark.sessionState.catalog.getTableMetadata(
        org.apache.spark.sql.catalyst.TableIdentifier("snap_bucketed"))
        .location.getPath
      val d = java.nio.file.Paths.get(loc, s"dbt_bucket=$p")
      if (!java.nio.file.Files.exists(d)) Set.empty
      else {
        val s = java.nio.file.Files.list(d)
        try s.iterator().asScala.map(_.getFileName.toString)
          .filter(_.endsWith(".parquet")).toSet
        finally s.close()
      }
    }
    val before = (0L until 8L).map(p => p -> bFiles(p)).toMap
    // run 2: ONLY id=7 changes (new version at t1)
    val v1 = v0.withColumn("v",
        when($"id" === 7L, lit("v7b")).otherwise($"v"))
      .withColumn("updated_at",
        when($"id" === 7L, lit(t1)).otherwise($"updated_at"))
    val scans = capturedTargetScans("snap_bucketed") {
      mat.snapshot(rel, v1, Seq("id"), "updated_at", buckets = 8)
    }
    for (p <- 0L until 8L if p != b7)
      assert(bFiles(p) == before(p), s"untouched bucket $p was rewritten")
    assert(bFiles(b7) != before(b7), "touched bucket not rewritten")
    // cost model: STAGING reads open rows only (the IsNull(dbt_valid_to)
    // filter is pushed to the scan — O(live entities), not O(history));
    // the APPLY reads only touched buckets (partition filters). Every
    // target scan must be one of the two shapes, and the bucket-pruned
    // apply read must actually occur.
    assert(scans.nonEmpty, "no target scan captured")
    for (f <- scans)
      assert(f.partitionFilters.nonEmpty ||
        f.metadata.get("PushedFilters").exists(
          _.contains("IsNull(dbt_valid_to)")),
        s"full-history scan with no bucket pruning: ${f.metadata}")
    assert(scans.exists(_.partitionFilters.nonEmpty),
      "no bucket-pruned apply scan observed")
    // SCD2 content: id=7 has a closed row and a new open row
    val rows7 = spark.table("snap_bucketed").filter($"id" === 7L)
      .orderBy($"dbt_valid_from")
      .select($"v", $"dbt_valid_to").collect()
    assert(rows7.length == 2)
    assert(rows7(0).getString(0) == "v7" && !rows7(0).isNullAt(1))
    assert(rows7(1).getString(0) == "v7b" && rows7(1).isNullAt(1))
    // everyone else: exactly one forever-open row
    assert(spark.table("snap_bucketed").count() == 41)
    assert(spark.table("snap_bucketed")
      .filter($"dbt_valid_to".isNull).count() == 40)
    // run 3: nothing changes → no-op, file sets identical everywhere
    val mid = (0L until 8L).map(p => p -> bFiles(p)).toMap
    mat.snapshot(rel, v1, Seq("id"), "updated_at", buckets = 8)
    for (p <- 0L until 8L)
      assert(bFiles(p) == mid(p), s"no-change run rewrote bucket $p")
    // crash recovery: park history in backup, re-run restores + applies
    spark.sql("ALTER TABLE snap_bucketed RENAME TO snap_bucketed__dbt_backup")
    val v2 = v1.withColumn("v",
        when($"id" === 9L, lit("v9b")).otherwise($"v"))
      .withColumn("updated_at",
        when($"id" === 9L, lit(java.sql.Timestamp.valueOf(
          "2020-03-01 00:00:00"))).otherwise($"updated_at"))
    mat.snapshot(rel, v2, Seq("id"), "updated_at", buckets = 8)
    assert(spark.table("snap_bucketed").count() == 42,
      "history must survive the crash-recovery re-run")
    assert(spark.table("snap_bucketed").filter($"id" === 7L).count() == 2)
    for (s <- Seq("snap_bucketed", "snap_bucketed__dbt_tmp",
        "snap_bucketed__dbt_backup", "snap_bucketed__dbt_scoped_tmp"))
      spark.sql(s"DROP TABLE IF EXISTS $s")
  }

  test("bucketed snapshot: hard deletes close rows in their key's bucket only") {
    val rel = Relation("snap_hd_bucketed")
    for (s <- Seq("snap_hd_bucketed", "snap_hd_bucketed__dbt_scoped_tmp"))
      spark.sql(s"DROP TABLE IF EXISTS $s")
    val t0 = java.sql.Timestamp.valueOf("2020-01-01 00:00:00")
    val now1 = lit(java.sql.Timestamp.valueOf("2020-06-01 00:00:00"))
    val v0 = (0L until 20L).map(i => (i, s"v$i", t0)).toDF("id", "v", "updated_at")
    mat.snapshot(rel, v0, Seq("id"), "updated_at",
      invalidateHardDeletes = true, buckets = 4)
    // id=7 vanishes from the source: its open row must close at now1 —
    // the staged delete row comes from the SNAPSHOT side and must still
    // derive its bucket from the key (one scoped bucket rewritten)
    val v1 = v0.filter($"id" =!= 7L)
    mat.snapshot(rel, v1, Seq("id"), "updated_at",
      invalidateHardDeletes = true, now = now1, buckets = 4)
    val got = spark.table("snap_hd_bucketed")
      .select($"id", $"dbt_valid_to").orderBy($"id").collect()
      .map(r => (r.getLong(0), r.isNullAt(1))).toSeq
    assert(got == (0L until 20L).map(i => (i, i != 7L)))
    // and the closed row still lives in bucket(7)
    import org.apache.spark.sql.functions.{xxhash64, pmod}
    val b7 = v0.filter($"id" === 7L)
      .select(pmod(xxhash64($"id"), lit(4L))).head().getLong(0)
    assert(spark.table("snap_hd_bucketed")
      .filter($"id" === 7L && $"dbt_bucket" === b7).count() == 1)
    for (s <- Seq("snap_hd_bucketed", "snap_hd_bucketed__dbt_scoped_tmp"))
      spark.sql(s"DROP TABLE IF EXISTS $s")
  }

  test("verifyPartitionKeys detects a violated stability contract") {
    val tbl = "ups_unstable"
    for (s <- Seq(tbl, s"${tbl}__upsert_tmp", s"${tbl}__upsert_backup"))
      spark.sql(s"DROP TABLE IF EXISTS $s")
    // batch 1: key 1 lives in p=0
    graft.streaming.Events.upsertBatch(
      Seq((1L, "a", 0L, 1L), (2L, "x", 0L, 1L)).toDF("k", "v", "p", "ver"),
      tbl, Seq("k"), "ver", partitionCols = Seq("p"))
    // batch 2 VIOLATES the contract: key 1 arrives in p=1 — the scoped
    // merge cannot see the old row and INSERTs, silently duplicating
    // the key across two partitions
    graft.streaming.Events.upsertBatch(
      Seq((1L, "b", 1L, 2L)).toDF("k", "v", "p", "ver"),
      tbl, Seq("k"), "ver", partitionCols = Seq("p"))
    assert(spark.table(tbl).filter($"k" === 1L).count() == 2)
    // the verifier is the detection path for exactly that state
    val bad = graft.mat.PartitionScoped.verifyPartitionKeys(spark, tbl, Seq("k"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(bad == Seq((1L, 2L)))
    // a stable producer comes back clean
    assert(graft.mat.PartitionScoped.verifyPartitionKeys(
      spark.table(tbl).filter($"p" === 0L), Seq("k"), Seq("p")).isEmpty)
    // null-keyed rows carry no upsert identity and are ignored
    val withNull = spark.table(tbl).unionByName(
      Seq((Option.empty[Long], "n", 5L, 9L)).toDF("k", "v", "p", "ver"))
    assert(graft.mat.PartitionScoped
      .verifyPartitionKeys(withNull, Seq("k"), Seq("p"))
      .collect().map(_.getLong(0)).toSeq == Seq(1L))
    for (s <- Seq(tbl, s"${tbl}__upsert_tmp", s"${tbl}__upsert_backup"))
      spark.sql(s"DROP TABLE IF EXISTS $s")
  }

  test("bucketed snapshot: bucket count is persisted, derived, and validated") {
    val rel = Relation("snap_bcount")
    for (s <- Seq("snap_bcount", "snap_bcount__dbt_scoped_tmp"))
      spark.sql(s"DROP TABLE IF EXISTS $s")
    val t0 = java.sql.Timestamp.valueOf("2020-01-01 00:00:00")
    val t1 = java.sql.Timestamp.valueOf("2020-02-01 00:00:00")
    val v0 = (0L until 20L).map(i => (i, s"v$i", t0)).toDF("id", "v", "updated_at")
    mat.snapshot(rel, v0, Seq("id"), "updated_at", buckets = 8)
    // the count is persisted at create time
    val prop = spark.sql("SHOW TBLPROPERTIES snap_bcount").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
      .get(Materializer.SnapshotBucketsKey)
    assert(prop.contains("8"))
    // a later run with the DEFAULT buckets=0 derives 8 from the table —
    // before persistence this would have bucketed staged rows with
    // pmod(x, 0) = NULL, missed the superseded open row in bucket(7),
    // and left id=7 with two open rows
    val v1 = v0.withColumn("v",
        when($"id" === 7L, lit("v7b")).otherwise($"v"))
      .withColumn("updated_at",
        when($"id" === 7L, lit(t1)).otherwise($"updated_at"))
    mat.snapshot(rel, v1, Seq("id"), "updated_at")
    val open7 = spark.table("snap_bcount")
      .filter($"id" === 7L && $"dbt_valid_to".isNull)
    assert(open7.count() == 1, "superseded open row was not closed")
    assert(open7.select($"v").head().getString(0) == "v7b")
    // a conflicting explicit count fails fast instead of corrupting
    val e = intercept[IllegalArgumentException] {
      mat.snapshot(rel, v1, Seq("id"), "updated_at", buckets = 4)
    }
    assert(e.getMessage.contains("bucket-count mismatch"))
    // a matching explicit count still runs
    mat.snapshot(rel, v1, Seq("id"), "updated_at", buckets = 8)
    for (s <- Seq("snap_bcount", "snap_bcount__dbt_scoped_tmp"))
      spark.sql(s"DROP TABLE IF EXISTS $s")
  }

  test("snapshot materialization check_cols strategy (bucketed)") {
    val rel = Relation("snap_cc_bucketed")
    for (s <- Seq("snap_cc_bucketed", "snap_cc_bucketed__dbt_scoped_tmp"))
      spark.sql(s"DROP TABLE IF EXISTS $s")
    val n0 = lit(java.sql.Timestamp.valueOf("2020-01-01 00:00:00"))
    val n1 = lit(java.sql.Timestamp.valueOf("2020-02-01 00:00:00"))
    val v0 = Seq((1L, "a", "x"), (2L, "b", "y")).toDF("id", "v", "w")
    val v1 = Seq((1L, "a2", "x"), (2L, "b", "y"), (3L, "c", "z"))
      .toDF("id", "v", "w")
    mat.snapshot(rel, v0, Seq("id"), updatedAt = null, now = n0,
      buckets = 4, checkCols = Seq("v", "w"))
    mat.snapshot(rel, v1, Seq("id"), updatedAt = null, now = n1,
      buckets = 4, checkCols = Seq("v", "w"))
    val got = spark.table("snap_cc_bucketed")
      .select($"id", $"v", $"dbt_valid_to".isNull.as("open"))
      .orderBy($"id", $"v").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getBoolean(2))).toSeq
    // id=1 changed (closed old + new open), id=2 unchanged, id=3 inserted
    assert(got == Seq((1L, "a", false), (1L, "a2", true),
      (2L, "b", true), (3L, "c", true)))
    for (s <- Seq("snap_cc_bucketed", "snap_cc_bucketed__dbt_scoped_tmp"))
      spark.sql(s"DROP TABLE IF EXISTS $s")
  }

  test("unbucketed snapshot materialization matches the logical two-step run") {
    val rel = Relation("snap_plain")
    spark.sql("DROP TABLE IF EXISTS snap_plain")
    val t0 = java.sql.Timestamp.valueOf("2020-01-01 00:00:00")
    val t1 = java.sql.Timestamp.valueOf("2020-02-01 00:00:00")
    val v0 = Seq((1L, "a", t0), (2L, "b", t0)).toDF("id", "v", "updated_at")
    val v1 = Seq((1L, "a2", t1), (2L, "b", t0), (3L, "c", t1))
      .toDF("id", "v", "updated_at")
    mat.snapshot(rel, v0, Seq("id"), "updated_at")
    mat.snapshot(rel, v1, Seq("id"), "updated_at")
    val got = spark.table("snap_plain")
      .select($"id", $"v", $"dbt_valid_to".isNull.as("open"))
      .orderBy($"id", $"v").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getBoolean(2))).toSeq
    val want = graft.mat.Snapshot.run(
        graft.mat.Snapshot.initial(v0, Seq("id"), "updated_at"),
        v1, Seq("id"), "updated_at")
      .select($"id", $"v", $"dbt_valid_to".isNull.as("open"))
      .orderBy($"id", $"v").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getBoolean(2))).toSeq
    assert(got == want)
    assert(got == Seq((1L, "a", false), (1L, "a2", true),
      (2L, "b", true), (3L, "c", true)))
    spark.sql("DROP TABLE IF EXISTS snap_plain")
  }

  test("partition-scoped single-key delete+insert rewrites only touched partitions") {
    val rel = Relation("inc_part_di1")
    for (s <- Seq("inc_part_di1", "inc_part_di1__dbt_scoped_tmp"))
      spark.sql(s"DROP TABLE IF EXISTS $s")
    val b1 = (0L until 30L).map(i => (i, s"v$i", i % 3)).toDF("k", "v", "p")
    mat.incremental(rel, b1, strategy = "delete+insert",
      uniqueKeys = Seq("k"), partitionCols = Seq("p"))
    val before = (0L to 2L).map(p => p -> partFiles("inc_part_di1", p)).toMap
    // touches only p=1 (keys 7 replace, 31 insert)
    val b2 = Seq((7L, "v7b", 1L), (31L, "new", 1L)).toDF("k", "v", "p")
    val scans = capturedTargetScans("inc_part_di1") {
      mat.incremental(rel, b2, strategy = "delete+insert",
        uniqueKeys = Seq("k"), partitionCols = Seq("p"))
    }
    for (p <- Seq(0L, 2L))
      assert(partFiles("inc_part_di1", p) == before(p),
        s"untouched partition p=$p was rewritten")
    assert(scans.nonEmpty && scans.forall(_.partitionFilters.nonEmpty),
      "single-key delete+insert target scans must be partition-pruned")
    val got = spark.table("inc_part_di1").orderBy($"k")
      .select($"k", $"v").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    val want = (0L until 30L).map(i =>
      (i, if (i == 7L) "v7b" else s"v$i")) :+ (31L, "new")
    assert(got == want)
  }
}
