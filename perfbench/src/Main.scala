package perfbench

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession

/** Runs one workload (or, for the smoke run, `all` in turn) in one JVM and
  * writes `<out>/<workload>/raw.json` (and, traced, `spans.jsonl`).
  * `perfbench/run.py` builds the classes, starts this main and turns
  * `raw.json` into the result line.
  *
  * Sequence: session start, `setup` and warm-up ops (together setup_s);
  * with `--trace 1` the fixed traced sequence; the measured window of
  * untraced ops (closed loop, one call in flight); the output checks. */
object Main {

  def bytesUnder(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.iterator.asScala.filter(Files.isRegularFile(_))
        .map(Files.size).sum
      finally s.close()
    }

  private def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024.0)
      .getOrElse(Double.NaN)

  /** (steal, total) jiffies of every CPU of the machine, from /proc/stat;
    * (0, 0) where the file is missing. */
  private def cpuJiffies(): (Long, Long) = {
    val f = Paths.get("/proc/stat")
    if (!Files.exists(f)) (0L, 0L)
    else {
      val xs = Files.readAllLines(f).get(0).trim.split("\\s+").drop(1)
        .take(8).map(_.toLong)
      (if (xs.length > 7) xs(7) else 0L, xs.sum)
    }
  }

  /** Share of the machine's CPU time the host gave to others since `j0`. */
  private def stealShare(j0: (Long, Long)): Double = {
    val (s1, t1) = cpuJiffies()
    if (t1 == j0._2) Double.NaN else (s1 - j0._1).toDouble / (t1 - j0._2)
  }

  private def timed[T](body: => T): (T, Stamp) = {
    val t0 = Clock.now()
    val r = body
    (r, Clock.now() - t0)
  }

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) =>
      k.stripPrefix("--") -> v }.toMap
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val trace = a("trace") == "1"
    val tiny = a.getOrElse("scale", "full") == "tiny"
    val cores = a("cores").toInt
    val work = Paths.get(a("work")).toAbsolutePath
    val out = Paths.get(a("out")).toAbsolutePath

    val (spark, session) = timed(SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.catalogImplementation", "in-memory")
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.ui.enabled", "false")
      .getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")
    val names = a("workload") match {
      case "all" => Seq("warehouse_run", "novelty_ingest")
      case w => Seq(w)
    }
    names.foreach(w => run(spark, session, w, seed, seconds, trace, tiny,
      work, out.resolve(w)))
    spark.stop()
  }

  /** One workload in the running session; writes `out/raw.json`. */
  private def run(spark: SparkSession, session: Stamp, workload: String,
                  seed: Long, seconds: Double, trace: Boolean, tiny: Boolean,
                  work: Path, out: Path): Unit = {
    Files.createDirectories(out)
    val g = new Gen(spark, seed)
    val wl: Workload = workload match {
      case "warehouse_run" =>
        new Warehouse(spark, g, work, if (tiny) 3000L else 20000L, trace)
      case "novelty_ingest" =>
        new Ingest(spark, g, work, if (tiny) 30L else 80L,
          if (tiny) 300L else 400L, if (tiny) 30 else 25, trace)
      case other => sys.error(s"unknown workload $other")
    }

    var attempted = 0
    var failed = 0
    val errors = scala.collection.mutable.ArrayBuffer.empty[String]
    def fail(what: String, e: Throwable): Unit = {
      failed += 1
      errors += s"$what: ${e.getClass.getName}: ${e.getMessage}".take(500)
      System.err.println(s"[perfbench] $what failed")
      e.printStackTrace()
    }
    var next = 0
    def runOp(t: Tracer): Option[Op] = {
      val i = next
      next += 1
      attempted += 1
      val r =
        try Some(t.span(s"op.${wl.kindOf(i)}")(wl.op(i, t)))
        catch { case e: Exception => fail(s"op $i", e); None }
      // per-op scratch (checkpoint blocks), released outside the timed op
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = true))
      r
    }

    val setupJiffies = cpuJiffies()
    val (_, inputS) = timed(wl.setup())
    val off = new Tracer(spark, "off")
    val (_, warmS) = timed((1 to wl.warmupOps).foreach(_ => runOp(off)))
    val setup = session + inputS + warmS
    val setupSteal = stealShare(setupJiffies)

    val runId = s"${workload}-${seed}-${System.currentTimeMillis()}"
    val traced = if (!trace) Nil else {
      val t = new Tracer(spark, runId)
      t.start()
      val ops = (1 to wl.tracedOps).flatMap(_ => runOp(t))
      t.stop()
      Files.writeString(out.resolve("spans.jsonl"), t.spansJsonl)
      Seq(t -> ops)
    }

    val measured = scala.collection.mutable.ArrayBuffer.empty[Op]
    val windowJiffies = cpuJiffies()
    val t0 = System.nanoTime()
    var n = 0
    while ((System.nanoTime() - t0) / 1e9 < seconds || n < wl.minOps) {
      measured ++= runOp(off)
      n += 1
    }
    val windowS = (System.nanoTime() - t0) / 1e9
    val windowSteal = stealShare(windowJiffies)

    val checks = wl.checks().map { case (name, f) =>
      attempted += 1
      val (ok, s) = timed(try {
        val ok = f()
        if (!ok) { failed += 1; errors += s"check $name failed" }
        ok
      } catch { case e: Exception => fail(s"check $name", e); false })
      (name, ok, s.wallS)
    }

    val primOps = measured.filter(_.kind == wl.primaryKind).toSeq
    val prim = primOps.map(_.seconds)
    val e2e = Seq("setup_s" -> setup.cpuS,
      "op_cpu_s" -> Stats.median(primOps.map(_.cpuS)))

    val layers = traced.flatMap { case (t, ops) =>
      val by = t.byName
      val perSpan = by.toSeq.flatMap { case (name, ms) =>
        ms.toSeq.map { case (k, v) => s"$name.$k" -> v } }
      val roots = by.filter(_._1.startsWith("op."))
      def total(k: String) = roots.values.map(_(k)).sum
      val tracedPrim = ops.filter(_.kind == wl.primaryKind).map(_.cpuS)
      perSpan ++ Seq(
        "spark.cpu_s" -> total("cpu_s"), "spark.gc_s" -> total("gc_s"),
        "spark.spill_mb" -> total("spill_mb"),
        "spark.tasks" -> total("tasks"),
        "trace.overhead" ->
          Stats.median(tracedPrim) / Stats.median(primOps.map(_.cpuS)))
    }

    def nums(kvs: Seq[(String, Double)]) =
      Json.obj(kvs.map { case (k, v) => k -> Json.num(v) })
    val sc = spark.sparkContext
    val inputs = wl.inputs
    val info = Json.obj(Seq(
      "workload" -> Json.str(workload), "seed" -> seed.toString,
      "scale" -> Json.str(if (tiny) "tiny" else "full"),
      "master" -> Json.str(sc.master),
      "default_parallelism" -> sc.defaultParallelism.toString,
      "xmx_mb" -> (Runtime.getRuntime.maxMemory / (1024 * 1024)).toString,
      "spark_version" -> Json.str(spark.version),
      "session_start_s" -> Json.num(session.wallS),
      "setup_wall_s" -> Json.num(setup.wallS),
      "op_p50_s" -> Json.num(Stats.median(prim)),
      "peak_rss_mb" -> Json.num(peakRssMb()),
      "setup_inputs_s" -> Json.num(inputS.wallS),
      "warmup_s" -> Json.num(warmS.wallS),
      "window_s" -> Json.num(windowS),
      "steal_share_setup" -> Json.num(setupSteal),
      "steal_share_window" -> Json.num(windowSteal),
      "ops" -> Json.arr(measured.toSeq.map(o => Json.obj(Seq(
        "kind" -> Json.str(o.kind), "s" -> Json.num(o.seconds),
        "cpu_s" -> Json.num(o.cpuS),
        "items" -> o.items.toString)))),
      "primary_op" -> Json.str(wl.primaryKind),
      "primary_samples" -> prim.size.toString,
      "primary_tail_s" -> Json.num(Stats.tail(prim)),
      "items_unit" -> Json.str(wl.itemsUnit),
      "named" -> Json.obj(wl.named(measured.toSeq).map { case (k, v, u) =>
        k -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u))) }),
      "inputs" -> Json.arr(inputs.map { case (n, r, b) => Json.obj(Seq(
        "name" -> Json.str(n), "rows" -> r.toString, "bytes" -> b.toString))
      }),
      "checks" -> Json.obj(checks.map { case (k, ok, _) => k -> ok.toString }),
      "checks_s" -> Json.num(checks.map(_._3).sum),
      "errors" -> Json.arr(errors.toSeq.map(Json.str))))
    Files.writeString(out.resolve("raw.json"), Json.obj(Seq(
      "attempted" -> attempted.toString, "failed" -> failed.toString,
      "end_to_end" -> nums(e2e), "per_layer" -> nums(layers),
      "info" -> info)) + "\n")
  }
}
