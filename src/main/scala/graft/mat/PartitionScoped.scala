package graft.mat

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.catalog.{CatalogTable, CatalogTableType}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._

/** How a rewrite reaches the catalog, and how a crashed one heals — the
  * one commit path of the table, incremental and snapshot
  * materializations ([[Materializer]]) and of the streaming upsert sink
  * and compaction ([[graft.streaming.Events]]).
  *
  * A rewrite commits one of two ways ([[rewrite]]):
  *  - '''scoped''' (the 100 TB incremental shape on a partitioned
  *    vanilla-parquet table: per-run cost tracks the partitions the
  *    staged batch touches, never the accumulated table size):
  *     1. [[touchedTuples]] — one job, no shuffle, collects the staged
  *        batch's distinct partition tuples (each task dedups its own);
  *        an empty set means an empty batch, and nothing is written;
  *     2. [[touchedPredicate]] — the tuples become literal, null-safe
  *        partition filters (static pruning: the target read never opens
  *        untouched partitions);
  *     3. the caller's keyed rewrite (merge / delete+insert / SCD2
  *        apply) runs against the SCOPED target read;
  *     4. [[overwriteTouched]] — the scoped result is materialized by an
  *        eager local checkpoint (never overwrite partitions of a table
  *        from a plan that reads it), rebalanced on the partition columns
  *        and committed via dynamic partition overwrite, which rewrites
  *        exactly the partitions present in the result — the touched
  *        set, one file each for a small batch;
  *  - '''full''' ([[swap]], the reference's rename swap, table.sql:34-48,
  *    materialized_view.sql:11-21): the result is written to
  *    `<table>__<tag>_tmp`, the target renamed to `<table>__<tag>_backup`,
  *    the tmp renamed into place and the backup dropped. Unpartitioned
  *    tables, schema-changing runs and batches over
  *    [[MaxTouchedPartitions]] take it; the table's partition layout is
  *    kept across it.
  *
  * '''Recovery contract.''' The swap is two renames, not atomic. A crash
  * leaves one of three states: the tmp written but nothing renamed
  * (target intact); the target renamed away (old content in the backup,
  * new in the tmp); or the tmp renamed in but the backup not yet dropped.
  * [[heal]] — run on entry by every caller whose table holds history
  * (incremental, snapshot, upsert, the ingest loop and compaction) —
  * applies one rule: a missing target is restored from the backup, or
  * else promoted from the tmp; a present target gets its scratch tables
  * dropped. The backup comes first because it is the state the re-run is
  * computed against: restoring it and re-running converges for every
  * caller, also for a non-idempotent rewrite (an append's full rewrite),
  * which promoting the tmp and re-running would apply twice. `table()`
  * does not heal: its re-run rebuilds the whole model.
  *
  * Scratch names per caller (a constant [[Tag]] each; the names are the
  * ones tables crash-parked by earlier versions carry):
  *  - [[Dbt]] — table, incremental, snapshot: `__dbt_tmp`,
  *    `__dbt_backup`;
  *  - [[Upsert]] — [[graft.streaming.Events.upsertBatch]]:
  *    `__upsert_tmp`, `__upsert_backup`;
  *  - [[Compact]] — [[graft.streaming.Events.compactBatchTable]]:
  *    `__compact_tmp`, `__compact_backup` (never scoped).
  *
  * A scoped commit writes no catalog table and never removes the target
  * (it overwrites partitions of the existing table), so no crash of it
  * leaves the target missing. Its checkpoint lives in executor memory
  * and disk only: a lost block fails the insert job before its commit,
  * so the target is unchanged and a re-run converges. Earlier versions
  * staged the scoped result in a catalog table (`__dbt_scoped_tmp`; for
  * upsert, `__upsert_tmp`); [[Tag.scratch]] still names it, so [[heal]]
  * drops one they parked whenever the target is present, and never
  * promotes `__dbt_scoped_tmp`.
  *
  * `graft.*` TBLPROPERTIES (the snapshot's bucket count, an ingest
  * index's geometry and cap) live on the catalog entry, which the tmp's
  * `saveAsTable` writes fresh: [[swap]] carries them onto the tmp for
  * incremental, snapshot, upsert and compaction. `table()` does not
  * carry them — a replaced model starts from its config (a materialized
  * view re-writes its own keys after the swap).
  *
  * CONTRACT (all scoped callers): a key's partition values must be stable
  * across versions — derive them from the key, not from mutable
  * attributes. A version arriving in a different partition than its
  * predecessor cannot see the old row: the scoped rewrite INSERTs it,
  * leaving the key duplicated across two partitions. This is the standard
  * constraint of partition-local upserts (the alternative is a global key
  * index, i.e. a different engine). The contract is verifiable after the
  * fact: [[verifyPartitionKeys]] detects keys that leaked across
  * partitions — run it offline as a data test on any scoped target.
  *
  * Table names are plain `[db.]table` identifiers; the generated SQL
  * quotes them.
  */
object PartitionScoped {

  /** Max distinct partition tuples one staged batch may touch before the
    * scoped path falls back to the full-table rewrite: the touched set is
    * collected to the driver (the same metadata dynamic partition
    * overwrite itself tracks per commit), so it must stay metadata-sized.
    * A batch touching more partitions than this is effectively a
    * full-table write anyway. */
  val MaxTouchedPartitions = 10000

  /** One caller's scratch-table suffixes (see the recovery contract);
    * `scopedTmp` is healed, never written. */
  private[graft] final case class Tag(tmp: String, backup: String,
                                      scopedTmp: String) {
    def scratch: Seq[String] = Seq(tmp, backup, scopedTmp).distinct
  }
  private[graft] val Dbt = Tag("__dbt_tmp", "__dbt_backup", "__dbt_scoped_tmp")
  private[graft] val Upsert =
    Tag("__upsert_tmp", "__upsert_backup", "__upsert_tmp")
  private[graft] val Compact =
    Tag("__compact_tmp", "__compact_backup", "__compact_tmp")

  /** Restore a crash-parked rewrite of `table` (the recovery contract's
    * one rule): a missing target is restored from the backup, or else
    * promoted from the tmp; a present target gets its scratch tables
    * dropped. Metadata only; idempotent. */
  private[graft] def heal(spark: SparkSession, table: String,
                          tag: Tag): Unit = {
    def exists(t: String) = spark.catalog.tableExists(t)
    val present = exists(table) ||
      Seq(tag.backup, tag.tmp).map(table + _).find(exists).exists { parked =>
        rename(spark, parked, table); true
      }
    if (present) tag.scratch.foreach(s => drop(spark, table + s))
  }

  /** Full rewrite: `writeTmp` writes the new table under the tmp name it
    * is given; with `carry` the target's `graft.*` TBLPROPERTIES the tmp
    * does not set itself are copied onto it; then the rename pair and the
    * backup drop. */
  private[graft] def swap(spark: SparkSession, table: String, tag: Tag,
                          carry: Boolean)(writeTmp: String => Unit): Unit = {
    val tmp = table + tag.tmp
    val backup = table + tag.backup
    drop(spark, tmp); drop(spark, backup)
    writeTmp(tmp)
    if (carry) {
      def props(t: String) = metadata(spark, t).map(_.properties)
        .getOrElse(Map.empty)
      val own = props(tmp)
      setProperties(spark, tmp, props(table).filter { case (k, _) =>
        k.startsWith(Materializer.GraftKeyPrefix) && !own.contains(k) })
    }
    rename(spark, table, backup)
    rename(spark, tmp, table)
    drop(spark, backup)
  }

  /** Commit `f(target)` — the caller's rewrite of the current `target`
    * read against the `staged` batch — into `table`. With `partCols` the
    * table's own partition columns ([[scopes]]) and at most
    * [[MaxTouchedPartitions]] touched partition tuples, `f` sees only the
    * touched partitions and the result is committed by
    * [[overwriteTouched]] (aligned to the table's physical column order);
    * no touched tuple (an empty batch) writes nothing. Otherwise `f` sees
    * the whole target and the result goes through [[swap]], written with
    * the table's partition columns that the result still carries (a
    * schema-changing run may add columns, so the result's own schema is
    * written; a sync_all_columns run that removed a partition column
    * rewrites unpartitioned). Other `partCols` take the full swap:
    * dynamic overwrite replaces whole table partitions, so a scope on
    * other columns (an upsert batch passing `partitionCols` to a table
    * created without them) would replace them with part of their rows.
    * The full swap runs on an empty `staged` too; its callers decide
    * whether that is a no-op. */
  private[graft] def rewrite(spark: SparkSession, table: String, tag: Tag,
                             target: DataFrame, staged: DataFrame,
                             partCols: Seq[String])(
                             f: DataFrame => DataFrame): Unit = {
    val tableParts = partitionColumns(spark, table)
    (if (scopes(tableParts, partCols)) touchedTuples(staged, partCols)
     else None) match {
      case Some(touched) =>
        if (touched.nonEmpty)
          overwriteTouched(spark, table, partCols,
            f(target.filter(touchedPredicate(touched, partCols)))
              .select(spark.table(table).columns.map(col).toIndexedSeq: _*))
      case None =>
        val result = f(target)
        val keepParts = tableParts.filter(c =>
          result.columns.exists(_.equalsIgnoreCase(c)))
        swap(spark, table, tag, carry = true) { tmp =>
          (if (keepParts.nonEmpty) result.write.partitionBy(keepParts: _*)
           else result.write).saveAsTable(tmp)
        }
    }
  }

  /** Whether [[rewrite]] scopes by `partCols` a table partitioned by
    * `tableParts`: the same columns, and some. */
  private[graft] def scopes(tableParts: Seq[String],
                            partCols: Seq[String]): Boolean =
    partCols.nonEmpty &&
      partCols.map(_.toLowerCase).toSet == tableParts.map(_.toLowerCase).toSet

  /** The staged batch's distinct partition tuples, in one job that adds
    * no shuffle: each task keeps at most [[MaxTouchedPartitions]] + 1
    * distinct tuples of its own and the driver merges them. `None` past
    * the cap (the caller falls back to the full-table rewrite); empty for
    * an empty batch. */
  private def touchedTuples(staged: DataFrame,
                            partitionCols: Seq[String]): Option[Seq[Row]] = {
    val cap = MaxTouchedPartitions + 1
    val perTask = staged.select(partitionCols.map(col): _*).rdd
      .mapPartitions { rows =>
        val seen = scala.collection.mutable.HashSet.empty[Row]
        while (rows.hasNext && seen.size < cap) seen += rows.next()
        Iterator.single(seen.toArray)
      }.collect()
    val touched = perTask.iterator.flatten.distinct.take(cap).toSeq
    if (touched.size > MaxTouchedPartitions) None else Some(touched)
  }

  /** Non-empty `touched` partition tuples as one literal, null-safe
    * filter (`<=>` — a NULL partition value is a real partition and must
    * scope like any other). */
  private def touchedPredicate(touched: Seq[Row],
                               partitionCols: Seq[String]): Column =
    if (partitionCols.size == 1) {
      // single partition column — the common case: ONE In node instead
      // of a |touched|-term OR tree (a 10k-term OR is real Catalyst
      // analysis cost at the cap; In is one node and still statically
      // prunable). `IN` is null-VOIDING, not null-safe, so a NULL
      // partition value (a real partition) gets its own isNull disjunct.
      val c = col(partitionCols.head)
      val (nulls, vals) = touched.map(_.get(0)).partition(_ == null)
      val in = if (vals.nonEmpty) Some(c.isin(vals: _*)) else None
      val nn = if (nulls.nonEmpty) Some(c.isNull) else None
      (in.toSeq ++ nn.toSeq).reduce(_ || _)
    } else touched.map { r =>
      partitionCols.zipWithIndex
        .map { case (c, i) => col(c) <=> lit(r.get(i)) }
        .reduce(_ && _)
    }.reduce(_ || _)

  /** Commit a scoped rewrite: an eager local checkpoint of `result` is
    * the barrier that cuts its lineage to `table` (never overwrite
    * partitions of a table from a plan that reads it); then a rebalance
    * on `partCols` and a dynamic-partition overwrite into `table`
    * (position-based `insertInto`; `result` is aligned to the target's
    * physical order, partition columns last). Only partitions PRESENT in
    * the result — exactly the touched set — are rewritten; every other
    * partition's files are untouched. The rebalance gives each partition
    * to one task, so a small batch writes one file per touched partition,
    * while adaptive execution still splits a skewed one. The checkpoint's
    * blocks are released after the commit; a lost block fails the insert
    * before its commit (the recovery contract). */
  private def overwriteTouched(spark: SparkSession, table: String,
                               partCols: Seq[String],
                               result: DataFrame): Unit = {
    val barrier = result.localCheckpoint()
    try dynamicOverwrite(spark) {
      barrier.hint("rebalance", partCols.map(col): _*)
        .write.mode("overwrite").insertInto(table)
    } finally releaseCheckpoints(barrier.queryExecution.logical.collect {
      case r: LogicalRDD => r.rdd
    })
  }

  /** Unpersist `rdds`, locally checkpointed ones included. Spark warns,
    * for every checkpointed RDD it releases, that its lineage is
    * truncated — true, and the point of releasing it — so the
    * `org.apache.spark.rdd` logger (the warning comes from the concrete
    * RDD subclass's logger) is held at ERROR around the call only. A
    * logger that had no level of its own gets the temporary one removed
    * afterwards, so it keeps inheriting from the root; concurrent commits
    * take turns, so none restores another's temporary level. */
  private[graft] def releaseCheckpoints(
      rdds: Iterable[org.apache.spark.rdd.RDD[_]]): Unit = synchronized {
    import org.apache.logging.log4j.{Level, LogManager}
    import org.apache.logging.log4j.core.LoggerContext
    import org.apache.logging.log4j.core.config.Configurator
    val rddLogger = "org.apache.spark.rdd"
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    val prev = Option(ctx.getConfiguration.getLoggers.get(rddLogger))
      .map(_.getLevel)
    Configurator.setLevel(rddLogger, Level.ERROR)
    try rdds.foreach(_.unpersist(blocking = false))
    finally prev match {
      case Some(level) => Configurator.setLevel(rddLogger, level)
      case None =>
        ctx.getConfiguration.removeLogger(rddLogger)
        ctx.updateLoggers()
    }
  }

  /** `ALTER {TABLE|VIEW} … RENAME TO …` — the `alter {type}` form of
    * dbt's rename_relation (Spark rejects `ALTER TABLE` on a view) — plus
    * partition-metadata repair. The session catalog's rename moves the
    * data directory but DROPS a partitioned table's partition metadata
    * (probed: `SHOW PARTITIONS` comes back empty and the table reads as 0
    * rows after a rename); `MSCK REPAIR` re-registers the partitions from
    * the filesystem, including NULL partition values. Every rename in the
    * project goes through here, or a partitioned table silently empties
    * on the swap. */
  def rename(spark: SparkSession, from: String, to: String): Unit = {
    val meta = metadata(spark, from)
    val view = meta.exists(_.tableType == CatalogTableType.VIEW)
    spark.sql(s"ALTER ${if (view) "VIEW" else "TABLE"} ${quote(from)} " +
      s"RENAME TO ${quote(to)}")
    if (meta.exists(_.partitionColumnNames.nonEmpty))
      spark.sql(s"MSCK REPAIR TABLE ${quote(to)}")
  }

  /** `DROP {TABLE|VIEW} IF EXISTS`, by the relation's own type. */
  private[graft] def drop(spark: SparkSession, name: String): Unit =
    if (spark.catalog.tableExists(name)) {
      val view = spark.catalog.getTable(name).tableType == "VIEW"
      spark.sql(s"DROP ${if (view) "VIEW" else "TABLE"} IF EXISTS " +
        quote(name))
    }

  /** `ALTER {TABLE|VIEW} … SET TBLPROPERTIES`, keys and values escaped as
    * string literals; no-op for an empty map. */
  private[graft] def setProperties(spark: SparkSession, name: String,
                                   props: Map[String, String]): Unit =
    if (props.nonEmpty) {
      def quoted(s: String) =
        "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"
      val view =
        metadata(spark, name).exists(_.tableType == CatalogTableType.VIEW)
      val kvs = props.toSeq.sortBy(_._1)
        .map { case (k, v) => s"${quoted(k)} = ${quoted(v)}" }.mkString(", ")
      spark.sql(s"ALTER ${if (view) "VIEW" else "TABLE"} ${quote(name)} " +
        s"SET TBLPROPERTIES ($kvs)")
    }

  /** The catalog entry of `name`; `None` only when the name does not
    * resolve — a missing table or database, or an identifier the
    * table-identifier parser rejects. Any OTHER metadata failure
    * propagates: swallowing a transient catalog error would silently
    * degrade a partitioned table to the unpartitioned swap (layout loss
    * that costs every later run its partition scoping) or skip the MSCK
    * repair a rename depends on (the renamed table reads as 0 rows). */
  private[graft] def metadata(spark: SparkSession,
                              name: String): Option[CatalogTable] =
    try Some(spark.sessionState.catalog.getTableMetadata(
      spark.sessionState.sqlParser.parseTableIdentifier(name)))
    catch {
      case _: org.apache.spark.sql.catalyst.analysis.NoSuchTableException |
           _: org.apache.spark.sql.catalyst.analysis.NoSuchDatabaseException |
           _: org.apache.spark.sql.catalyst.parser.ParseException => None
    }

  /** The catalog's partition columns of `name` (Nil when unpartitioned or
    * the name does not resolve, see [[metadata]]). */
  private[graft] def partitionColumns(spark: SparkSession,
                                      name: String): Seq[String] =
    metadata(spark, name).map(_.partitionColumnNames).getOrElse(Nil)

  private def quote(name: String): String =
    name.split('.').map(p => s"`$p`").mkString(".")

  /** Partition-stability VERIFIER for the scoped-rewrite contract (see
    * the object scaladoc): returns the keys whose rows span MORE THAN
    * ONE partition tuple — exactly the rows a scoped rewrite can no
    * longer see together, i.e. silently duplicated keys. One
    * hash-partitioned groupBy on the keys with a distinct-count of the
    * partition tuple — O(|table|) once, runnable offline as a data
    * test (the violation is otherwise undetectable short of a manual
    * query). Null-keyed rows are excluded: the scoped writers drop
    * them, so they carry no upsert identity. Output: the key columns +
    * `n_partitions` (only rows with n_partitions > 1); an empty result
    * means the contract holds. */
  def verifyPartitionKeys(df: DataFrame, keys: Seq[String],
                          partitionCols: Seq[String]): DataFrame = {
    require(keys.nonEmpty, "verifyPartitionKeys needs key columns")
    require(partitionCols.nonEmpty,
      "verifyPartitionKeys needs partition columns")
    df.filter(keys.map(col(_).isNotNull).reduce(_ && _))
      .groupBy(keys.map(col): _*)
      .agg(countDistinct(struct(partitionCols.map(col): _*))
        .as("n_partitions"))
      .filter(col("n_partitions") > 1)
  }

  /** [[verifyPartitionKeys]] against a catalog table, partition columns
    * taken from the table's own metadata. */
  def verifyPartitionKeys(spark: SparkSession, table: String,
                          keys: Seq[String]): DataFrame = {
    val partCols = spark.sessionState.catalog.getTableMetadata(
      spark.sessionState.sqlParser.parseTableIdentifier(table))
      .partitionColumnNames
    require(partCols.nonEmpty, s"$table is not partitioned")
    verifyPartitionKeys(spark.table(table), keys, partCols)
  }

  /** Run `body` with `partitionOverwriteMode=dynamic` (overwrite replaces
    * only the partitions PRESENT in the written frame), restoring the
    * previous conf value after. */
  def dynamicOverwrite(spark: SparkSession)(body: => Unit): Unit = {
    val overwriteMode = "spark.sql.sources.partitionOverwriteMode"
    val prev = spark.conf.getOption(overwriteMode)
    spark.conf.set(overwriteMode, "dynamic")
    try body
    finally {
      prev match {
        case Some(v) => spark.conf.set(overwriteMode, v)
        case None => spark.conf.unset(overwriteMode)
      }
    }
  }
}
