package graft

import org.apache.spark.sql.SparkSession

/** r16 — the fn_ map-sentinel anomaly: fn_safe_cast / fn_datediff
  * measured 1.26–1.38× their r15 archive values in BOTH r16 board runs
  * while sentinel_shuffle / sentinel_codegen / src_csv_roundtrip were
  * clean (0.96–0.98×) in the second. Solo steady state (6 repeats, one
  * JVM, the convention of test_archive/board_order_probe_r15.txt)
  * against the clean src_csv row separates box/systemic from
  * board-position effects. Run:
  * `sbt "Test/runMain graft.FnSentProbe"` */
object FnSentProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR",
      "/root/testdata/sf0.1")
    val spark = SparkSession.builder()
      .master("local[32]")
      .config("spark.sql.shuffle.partitions", 32)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    def time(name: String)(mk: => org.apache.spark.sql.DataFrame): Unit = {
      val t0 = System.nanoTime()
      mk.write.format("noop").mode("overwrite").save()
      println(f"[probe] $name%-22s ${(System.nanoTime() - t0) / 1e9}%6.2f s")
    }
    for (pass <- 1 to 6; q <- Seq("fn_safe_cast", "fn_datediff",
        "src_csv_roundtrip"))
      time(s"$q pass $pass")(SparkEntry.queries(q)(spark, sfDir))
    spark.stop()
  }
}
