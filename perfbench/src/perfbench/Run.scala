package perfbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** A metric as printed: value and unit. */
final case class Metric(value: Double, unit: String)

/** What a workload reports. `op`, `opTail` and `aux` are its three
  * end-to-end timings (see `perfbench/README.md`); `report` holds every
  * workload-specific metric by name; `layers` is filled in traced runs.
  * `bypasses` names the prefixes of the per-layer metrics whose layer or
  * path the workload never calls: those alone print as 0.
  */
final case class Result(
    setupS: Double, op: Double, opTail: Double, aux: Double,
    report: Map[String, Metric], layers: Map[String, Metric], bypasses: Seq[String])

/** Converts `System.nanoTime` readings to epoch milliseconds, the clock
  * of Spark's job events.
  */
final class Clock {
  private val nano0 = System.nanoTime()
  private val epoch0 = System.currentTimeMillis().toDouble
  def epochMs(ns: Long): Double = epoch0 + (ns - nano0) / 1e6
}

object Disk {
  private def files(f: File): Iterator[File] =
    if (f.isDirectory) Option(f.listFiles).iterator.flatten.flatMap(files)
    else if (f.isFile) Iterator(f) else Iterator.empty

  /** Bytes of every file under `f`. */
  def bytes(f: File): Long = files(f).map(_.length).sum
  /** Bytes of the parquet data files under `f`. */
  def data(f: File): Long = files(f).filter(_.getName.endsWith(".parquet")).map(_.length).sum
}

/** One benchmark run of one workload: its operations, their latencies,
  * failures and output checks, and the tracer of a traced run.
  *
  * Every operation and every output check counts as attempted. An
  * operation that throws is named and counted as failed, and its
  * elapsed time is not recorded; a check that is false or throws counts
  * as failed too. In a traced run every other operation with the same
  * key is traced, so traced and untraced latencies of the same work can
  * be compared in one process (the tracing overhead).
  */
final class Run(
    val spark: SparkSession, val seed: Long, val seconds: Int, val traced: Boolean,
    val work: File) {
  val tracer = new Tracer(spark)
  if (traced) tracer.attach()
  val clock = tracer.clock

  var attempted = 0
  var failed = 0
  val failures = ArrayBuffer.empty[String]
  private var ops = 0
  private val perKey = mutable.Map.empty[String, Int]
  /** Latencies of successful untraced operations, by kind. */
  val latencies = mutable.LinkedHashMap.empty[String, ArrayBuffer[Double]]
  /** `(key, traced, seconds)` of every successful operation. */
  val samples = ArrayBuffer.empty[(String, Boolean, Double)]
  /** Root span id of each traced operation, by kind. */
  val tracedOps = mutable.LinkedHashMap.empty[String, ArrayBuffer[Int]]
  /** Root span id of the last operation, if it was traced and succeeded. */
  var lastTraced: Option[Int] = None

  private def describe(e: Throwable) =
    s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).linesIterator.nextOption().getOrElse("")}"

  /** Time one operation of `kind`. `key` names the work: repetitions
    * of one key alternate between traced and untraced in a traced run,
    * starting traced when `phase` is even.
    */
  def op[T](kind: String, key: String, phase: Int = 0)(f: => T): Option[T] = {
    attempted += 1
    ops += 1
    val n = perKey.getOrElse(key, 0)
    perKey(key) = n + 1
    val trace = traced && (n + phase) % 2 == 0
    tracer.beginOp(ops, key)
    tracer.active = trace
    val firstSpan = tracer.spans.size
    lastTraced = None
    val t0 = System.nanoTime()
    try {
      val r = tracer.span(kind)(f)
      val dt = (System.nanoTime() - t0) / 1e9
      samples += ((key, trace, dt))
      if (trace) {
        val root = tracer.spans.iterator.drop(firstSpan).find(_.parent == 0).get.id
        tracedOps.getOrElseUpdate(kind, ArrayBuffer.empty) += root
        lastTraced = Some(root)
      } else latencies.getOrElseUpdate(kind, ArrayBuffer.empty) += dt
      Some(r)
    } catch {
      case NonFatal(e) =>
        failed += 1
        failures += s"$kind $key: ${describe(e)}"
        Console.err.println(s"[perfbench] FAILED $kind $key: ${describe(e)}")
        None
    } finally tracer.active = false
  }

  /** Peak bytes of heap still live between operations (see `settle`). */
  var heapPeak = 0L

  /** Sample the live heap between operations (never inside a timing):
    * wait for queued listener events, then collect and pause while
    * Spark's context cleaner releases the blocks, broadcasts and
    * shuffles of collected datasets, at least four times and until two
    * readings of the heap in use agree within 1 MB, and record the last
    * reading. Each collection lets the cleaner free more: after an `etl`
    * day the heap in use reads about 480, 285, then 80 MB, and two early
    * readings can agree while the bulk is still to be freed.
    */
  def settle(): Unit = {
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    val heap = ManagementFactory.getMemoryMXBean
    def collect() = { System.gc(); Thread.sleep(100); heap.getHeapMemoryUsage.getUsed }
    var (prev, cur, n) = (collect(), collect(), 2)
    while ((n < 4 || math.abs(cur - prev) > (1L << 20)) && n < 10) { prev = cur; cur = collect(); n += 1 }
    heapPeak = math.max(heapPeak, cur)
  }

  /** An output check: counted as attempted, failed unless it holds. */
  def check(name: String)(cond: => Boolean): Unit = {
    attempted += 1
    val error = try { if (cond) None else Some("does not hold") }
      catch { case NonFatal(e) => Some(describe(e)) }
    error.foreach { msg =>
      failed += 1
      failures += s"check $name: $msg"
      Console.err.println(s"[perfbench] CHECK FAILED $name: $msg")
    }
  }

  /** Per-layer view of a traced run; read once all operations are done. */
  lazy val layers: Layers = Layers.of(this)

  /** Median traced ÷ median untraced latency − 1, over the keys that
    * have both; the median of those ratios.
    */
  def tracingOverhead: Double = {
    val ratios = samples.groupBy(_._1).values.flatMap { s =>
      val (t, u) = s.partition(_._2)
      if (t.isEmpty || u.isEmpty) None
      else Some(Stats.median(t.map(_._3).toSeq) / Stats.median(u.map(_._3).toSeq))
    }.toSeq
    if (ratios.isEmpty) Double.NaN else Stats.median(ratios) - 1
  }
}

object Stats {
  /** Linear-interpolated quantile, `q` in [0, 1]. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = pos.toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  def geomean(xs: Seq[Double]): Double = math.exp(xs.map(math.log).sum / xs.size)
  /** The highest quantile with at least ten samples above it (the
    * median when there are fewer than 21 samples).
    */
  def tailQuantile(n: Int): Double = math.max(0.5, 1.0 - 10.0 / n)
  def mean(xs: Seq[Double]): Double = xs.sum / xs.size
}
