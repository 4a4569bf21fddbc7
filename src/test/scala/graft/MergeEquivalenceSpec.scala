package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.mat.Incremental

/** `Incremental.merge` (one full outer join) against the three-branch
  * form it replaced — matched rows from an inner join, unmatched target
  * rows and unmatched staged rows from two anti-joins, unioned — kept
  * here as the reference. Both must return the same multiset of rows on
  * every MERGE case: predicates, update/exclude subsets, null keys,
  * duplicate target keys, an empty batch and a batch with no overlap. */
class MergeEquivalenceSpec extends SparkSpec {
  import spark.implicits._

  /** The three-branch merge, as `Incremental.merge` computed it before
    * the full outer join (the staged-key guard aside: every batch here
    * has unique non-null keys). */
  private def threeBranch(target: DataFrame, staged: DataFrame,
                          uniqueKeys: Seq[String],
                          updateColumns: Seq[String] = Nil,
                          excludeColumns: Seq[String] = Nil,
                          predicates: Seq[Column] = Nil): DataFrame = {
    val cols = target.columns.toIndexedSeq
    val updates = (if (updateColumns.nonEmpty) updateColumns
                   else cols.filterNot(uniqueKeys.contains))
      .filterNot(excludeColumns.contains)
    val t = target.alias("t")
    val s = staged.select(cols.map(col): _*).alias("s")
    val on = (uniqueKeys.map(k => col(s"t.$k") === col(s"s.$k")) ++
      predicates).reduce(_ && _)
    val matched = t.join(s, on, "inner").select(cols.map { c =>
      if (updates.contains(c)) col(s"s.$c").as(c) else col(s"t.$c").as(c)
    }: _*)
    val keptTarget = t.join(s, on, "left_anti").select(cols.map(col): _*)
    val inserted = s.join(t, on, "left_anti").select(cols.map(col): _*)
    keptTarget.unionByName(matched).unionByName(inserted)
  }

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toSeq.mkString("|")).toSeq.sorted

  private val target = Seq[(java.lang.Long, String, Double)](
    (1L, "a", 10.0), (2L, "b", 20.0), (2L, "b'", 21.0), (3L, "c", 30.0),
    (null, "n", 0.0)).toDF("id", "name", "amt")

  private def batch(rs: (java.lang.Long, String, Double)*): DataFrame =
    rs.toDF("id", "name", "amt")

  private val overlap = batch((2L, "B", 22.0), (3L, "C", 33.0),
    (4L, "d", 40.0), (null, "N", 1.0))

  private val cases: Seq[(String, DataFrame, Seq[String], Seq[String],
                          Seq[Column])] = Seq(
    ("update and insert", overlap, Nil, Nil, Nil),
    ("updateColumns subset", overlap, Seq("amt"), Nil, Nil),
    ("excludeColumns subset", overlap, Nil, Seq("amt"), Nil),
    ("target-side predicate", overlap, Nil, Nil, Seq(col("t.amt") < 25)),
    ("staged-side predicate", overlap, Nil, Nil, Seq(col("s.amt") > 30)),
    ("empty batch", batch(), Nil, Nil, Nil),
    ("no overlap", batch((7L, "g", 70.0), (8L, "h", 80.0)), Nil, Nil, Nil))

  for ((name, staged, upd, excl, preds) <- cases)
    test(s"merge as one full outer join equals the three-branch form: $name") {
      val got = Incremental.merge(target, staged, Seq("id"),
        updateColumns = upd, excludeColumns = excl, predicates = preds)
      assert(rows(got) ==
        rows(threeBranch(target, staged, Seq("id"), upd, excl, preds)))
    }

  test("merge: null keys insert, duplicate target keys each update") {
    val got = rows(Incremental.merge(target, overlap, Seq("id")))
    // both id=2 target rows take the staged values
    assert(got.count(_ == "2|B|22.0") == 2)
    // the staged null-keyed row inserts beside the target's
    assert(got.contains("null|N|1.0") && got.contains("null|n|0.0"))
    assert(got.size == 7)
  }

  test("merge as one full outer join: one join, target scanned once") {
    val plan = Incremental.merge(target.repartition(2), overlap, Seq("id"))
      .queryExecution.optimizedPlan
    val joins = plan.collect {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join => j
    }
    assert(joins.size == 1, plan.treeString)
    assert(joins.head.joinType == org.apache.spark.sql.catalyst.plans.FullOuter)
  }
}
