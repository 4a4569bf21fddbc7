package perfbench

import scala.collection.mutable
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Counters attributed to one span instance (its own work only; the
  * summary adds descendants to get inclusive figures). */
final class Counters {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleBytes = 0L
  var spillBytes = 0L
  var writtenBytes = 0L
  var planMs = 0L
  var compiles = 0L       // inclusive delta, read on the calling thread
  var checkpoints = 0L    // inclusive persistent-RDD delta
}

final case class Span(id: Int, name: String, parent: Int, startNs: Long,
                      startMs: Long, var endNs: Long = 0L,
                      var endMs: Long = 0L,
                      counters: Counters = new Counters)

/** Spans around the library calls the benchmark makes, plus the Spark
  * counters that land inside each span. Disabled, `span` only runs its
  * body: no job groups, no listeners.
  *
  * Attribution: every span sets its own job group, so jobs, stages and
  * task metrics go to the innermost open span. Catalyst phase times come
  * from a `QueryExecutionListener` and go to the innermost span whose
  * interval holds the phase start. Codegen compilations and the
  * persistent-RDD count are read before and after each span on the
  * calling thread (one call is in flight at a time). */
final class Tracer(spark: SparkSession, val runId: String) {
  private val sc = spark.sparkContext
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil
  private var enabled = false
  private val groupPrefix = s"pb-$runId-"

  private val countersOf =
    new java.util.concurrent.ConcurrentHashMap[Int, Counters]()
  private val stageSpan = mutable.Map.empty[Int, Int] // listener thread only
  private val phases = mutable.ArrayBuffer.empty[(Long, Long)] // (startMs, ms)

  private def spanOfGroup(props: java.util.Properties): Option[Int] =
    Option(props).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .filter(_.startsWith(groupPrefix))
      .map(_.stripPrefix(groupPrefix).toInt)

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      spanOfGroup(e.properties).foreach { id =>
        val c = countersOf.get(id)
        c.jobs += 1
        c.stages += e.stageInfos.size
        e.stageInfos.foreach(si => stageSpan(si.stageId) = id)
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      for (id <- stageSpan.get(e.stageId); m <- Option(e.taskMetrics)) {
        val c = countersOf.get(id)
        c.tasks += 1
        c.cpuNs += m.executorCpuTime
        c.gcMs += m.jvmGCTime
        c.shuffleBytes += m.shuffleReadMetrics.totalBytesRead +
          m.shuffleWriteMetrics.bytesWritten
        c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        c.writtenBytes += m.outputMetrics.bytesWritten
      }
  }

  private val qeListener = new QueryExecutionListener {
    private def record(qe: QueryExecution): Unit = {
      val ps = qe.tracker.phases.values
      if (ps.nonEmpty) phases.synchronized {
        phases += ((ps.map(_.startTimeMs).min,
          ps.map(p => p.endTimeMs - p.startTimeMs).sum))
      }
    }
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
      record(qe)
    override def onFailure(f: String, qe: QueryExecution,
                           e: Exception): Unit = record(qe)
  }

  def start(): Unit = {
    sc.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
    enabled = true
  }

  /** Stop recording, wait until every queued listener event has been
    * delivered, then attribute the plan phases. */
  def stop(): Unit = {
    enabled = false
    org.apache.spark.PerfbenchBridge.drain(sc)
    sc.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
    phases.synchronized {
      phases.foreach { case (t, ms) =>
        spans.filter(s => s.startMs <= t && t <= s.endMs)
          .maxByOption(_.startNs).foreach(_.counters.planMs += ms)
      }
      phases.clear()
    }
  }

  private def compiles(): Long =
    org.apache.spark.metrics.source.CodegenMetrics
      .METRIC_COMPILATION_TIME.getCount

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val s = Span(spans.size, name, stack.headOption.map(_.id).getOrElse(-1),
        System.nanoTime(), System.currentTimeMillis())
      spans += s
      countersOf.put(s.id, s.counters)
      stack = s :: stack
      val c0 = compiles()
      val p0 = sc.getPersistentRDDs.size
      sc.setJobGroup(groupPrefix + s.id, name)
      try body
      finally {
        s.endNs = System.nanoTime()
        s.endMs = System.currentTimeMillis()
        s.counters.compiles = compiles() - c0
        s.counters.checkpoints = sc.getPersistentRDDs.size - p0
        stack = stack.tail
        stack.headOption match {
          case Some(p) => sc.setJobGroup(groupPrefix + p.id, p.name)
          case None => sc.clearJobGroup()
        }
      }
    }

  /** Per span NAME, summed over its instances: busy seconds and the
    * inclusive counters (own work plus every descendant's). */
  def byName: Map[String, Map[String, Double]] = {
    val children = spans.groupBy(_.parent)
    def incl(s: Span): Counters = {
      val t = new Counters
      def add(x: Span): Unit = {
        val c = x.counters
        t.jobs += c.jobs; t.stages += c.stages; t.tasks += c.tasks
        t.cpuNs += c.cpuNs; t.gcMs += c.gcMs
        t.shuffleBytes += c.shuffleBytes; t.spillBytes += c.spillBytes
        t.writtenBytes += c.writtenBytes; t.planMs += c.planMs
        children.getOrElse(x.id, Nil).foreach(add)
      }
      add(s)
      t.compiles = s.counters.compiles
      t.checkpoints = s.counters.checkpoints
      t
    }
    spans.groupBy(_.name).map { case (name, ss) =>
      val cs = ss.map(incl)
      val mb = 1024.0 * 1024.0
      name -> Map(
        "s" -> ss.map(s => (s.endNs - s.startNs) / 1e9).sum,
        "jobs" -> cs.map(_.jobs).sum.toDouble,
        "plan_ms" -> cs.map(_.planMs).sum.toDouble,
        "compiles" -> cs.map(_.compiles).sum.toDouble,
        "shuffle_mb" -> cs.map(_.shuffleBytes).sum / mb,
        "mb_written" -> cs.map(_.writtenBytes).sum / mb,
        "checkpoints" -> cs.map(_.checkpoints).sum.toDouble,
        "cpu_s" -> cs.map(_.cpuNs).sum / 1e9,
        "gc_s" -> cs.map(_.gcMs).sum / 1e3,
        "spill_mb" -> cs.map(_.spillBytes).sum / mb,
        "tasks" -> cs.map(_.tasks).sum.toDouble)
    }
  }

  /** One JSON object per span, in start order: name, parent, start and
    * end (ns since the first span), run id and the span's own counters. */
  def spansJsonl: String = {
    val t0 = spans.headOption.map(_.startNs).getOrElse(0L)
    spans.map { s =>
      val c = s.counters
      Json.obj(Seq(
        "run" -> Json.str(runId), "id" -> s.id.toString,
        "name" -> Json.str(s.name), "parent" -> s.parent.toString,
        "start_ns" -> (s.startNs - t0).toString,
        "end_ns" -> (s.endNs - t0).toString,
        "jobs" -> c.jobs.toString, "stages" -> c.stages.toString,
        "tasks" -> c.tasks.toString, "cpu_ns" -> c.cpuNs.toString,
        "gc_ms" -> c.gcMs.toString, "shuffle_bytes" -> c.shuffleBytes.toString,
        "spill_bytes" -> c.spillBytes.toString,
        "written_bytes" -> c.writtenBytes.toString,
        "plan_ms" -> c.planMs.toString,
        "compiles_incl" -> c.compiles.toString,
        "checkpoints_incl" -> c.checkpoints.toString))
    }.mkString("", "\n", "\n")
  }
}

/** Minimal JSON rendering: callers pass already-rendered values. */
object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else d.toString
  def obj(kvs: Seq[(String, String)]): String =
    kvs.map { case (k, v) => str(k) + ": " + v }.mkString("{", ", ", "}")
  def arr(vs: Seq[String]): String = vs.mkString("[", ", ", "]")
}
