package perfbench

/** Wall and process-CPU clocks read together. CPU time counts every JVM
  * thread (Spark tasks, driver, code generation, JIT, GC) and leaves out
  * time the host did not run the process, so it holds steady on a shared
  * machine whose wall time drifts with CPU steal. */
final case class Stamp(wallNs: Long, cpuNs: Long) {
  def -(o: Stamp): Stamp = Stamp(wallNs - o.wallNs, cpuNs - o.cpuNs)
  def +(o: Stamp): Stamp = Stamp(wallNs + o.wallNs, cpuNs + o.cpuNs)
  def wallS: Double = wallNs / 1e9
  def cpuS: Double = cpuNs / 1e9
}
object Clock {
  private val os = java.lang.management.ManagementFactory
    .getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  def now(): Stamp = Stamp(System.nanoTime(), os.getProcessCpuTime)
}

/** One timed call sequence of a workload: `kind` names what it was (the
  * primary kind feeds the op metrics), `items` how much work it did
  * (rows written, documents, arrivals). */
final case class Op(kind: String, seconds: Double, cpuS: Double, items: Long)
object Op {
  def apply(kind: String, d: Stamp, items: Long): Op =
    Op(kind, d.wallS, d.cpuS, items)
}

/** A benchmark workload. Ops are numbered from 0 across warm-up, the
  * traced sequence and the measured window, so state (growing history,
  * indexes) advances the same way in every run of one seed. */
trait Workload {
  /** The op kind whose latencies are the workload's op_p50_s. */
  def primaryKind: String
  /** The kind of op number `i` (names its root span). */
  def kindOf(i: Int): String = primaryKind
  /** What `items` counts, for the self-describing record. */
  def itemsUnit: String
  /** Ops run untimed before measuring (caches, JIT, codegen). */
  def warmupOps: Int
  /** Length of the fixed traced sequence in a `--trace 1` run. */
  def tracedOps: Int
  /** Fewest ops in the measured window, whatever the time. */
  def minOps: Int

  /** Drop every table, generate the inputs, create seeds and indexes.
    * Repeatable: each call starts from nothing. */
  def setup(): Unit
  /** Op number `i`; spans wrap every library call it makes. */
  def op(i: Int, t: Tracer): Op
  /** Output checks against generator ground truth, after all ops. */
  def checks(): Seq[(String, () => Boolean)]
  /** (input name, rows, bytes) as generated for this run. */
  def inputs: Seq[(String, Long, Long)]
  /** The workload's own named figures for the run record (run_s,
    * docs_per_s, batch_p50_s, ...), from the measured ops. */
  def named(ops: Seq[Op]): Seq[(String, Double, String)]
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted; val n = s.size
    if (n == 0) Double.NaN
    else if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }
  /** The highest percentile with at least ten samples beyond it (the
    * 11th-largest sample); NaN when there are ten samples or fewer. */
  def tail(xs: Seq[Double]): Double = {
    val s = xs.sorted; val n = s.size
    if (n <= 10) Double.NaN else s(n - 11)
  }
}
