package perfbench

import scala.collection.mutable

/** Per-layer metrics of a traced run, derived from its spans and the
  * counters Spark attributed to them.
  */
final class Layers(r: Run, counters: Map[Int, Counters]) {
  import Layers._

  private val children: Map[Int, Seq[Span]] = r.tracer.spans.toSeq.groupBy(_.parent)

  /** A span's counters including those of every span below it. */
  def inclusive(s: Span): Counters = {
    val c = new Counters
    def walk(x: Span): Unit = { c.add(counters(x.id)); children.getOrElse(x.id, Nil).foreach(walk) }
    walk(s)
    c
  }

  /** The traced operations of `kind`, with their spans. */
  def ops(kind: String): Seq[OpTrace] = {
    val byId = r.tracer.spans.iterator.map(s => s.id -> s).toMap
    r.tracedOps.getOrElse(kind, Nil).toSeq.map { id =>
      val root = byId(id)
      OpTrace(root, r.tracer.spans.filter(_.op == root.op).toSeq, inclusive(root))
    }
  }

  /** Engine metrics per traced operation of `kind`: counts as medians;
    * planning, execution and driver-side time as means (Spark reports
    * the first two in whole milliseconds).
    */
  def generic(kind: String): Map[String, Metric] = {
    val os = ops(kind)
    def med(f: Counters => Double) = Stats.median(os.map(o => f(o.total)))
    val plan = os.map(_.total.planMs / 1e3)
    val exec = os.map(_.total.execMs / 1e3)
    val driver = os.map(o => math.max(0.0, o.root.seconds - o.total.execMs / 1e3 - o.total.planMs / 1e3))
    Map(
      "spark.jobs" -> Metric(med(_.jobs.toDouble), "count"),
      "spark.stages" -> Metric(med(_.stages.toDouble), "count"),
      "spark.tasks" -> Metric(med(_.tasks.toDouble), "count"),
      "spark.input_mb" -> Metric(med(_.inputBytes / MB), "MB"),
      "spark.shuffle_mb" -> Metric(med(_.shuffleBytes / MB), "MB"),
      "spark.output_mb" -> Metric(med(_.outputBytes / MB), "MB"),
      "spark.spill_mb" -> Metric(med(_.spillBytes / MB), "MB"),
      "spark.plan_s" -> Metric(Stats.mean(plan), "s"),
      "spark.exec_s" -> Metric(Stats.mean(exec), "s"),
      "lib.driver_s" -> Metric(Stats.mean(driver), "s"),
      "trace.overhead_frac" -> Metric(r.tracingOverhead, "ratio"))
  }

  /** For each span name, per traced operation of `kind`: its wall time
    * (all spans of that name summed) and its inclusive counters, as
    * medians over the operations.
    */
  def spanMetrics(kind: String, names: Seq[String], prefix: String = ""): Map[String, Metric] = {
    val os = ops(kind)
    names.flatMap { name =>
      val per = os.map { o =>
        val ss = o.spans.filter(_.name == name)
        val c = new Counters
        ss.foreach(s => c.add(inclusive(s)))
        (ss.map(_.seconds).sum, c)
      }
      def med(f: Counters => Double) = Stats.median(per.map(p => f(p._2)))
      val p = prefix + name
      Seq(
        s"${p}_s" -> Metric(Stats.median(per.map(_._1)), "s"),
        s"$p.jobs" -> Metric(med(_.jobs.toDouble), "count"),
        s"$p.tasks" -> Metric(med(_.tasks.toDouble), "count"),
        s"$p.input_mb" -> Metric(med(_.inputBytes / MB), "MB"),
        s"$p.shuffle_mb" -> Metric(med(_.shuffleBytes / MB), "MB"),
        s"$p.output_mb" -> Metric(med(_.outputBytes / MB), "MB"),
        s"$p.spill_mb" -> Metric(med(_.spillBytes / MB), "MB"))
    }.toMap
  }

  /** Mean self time per traced operation of `kind`, by layer: a span's
    * duration minus what its child spans and its own Spark jobs cover.
    * Job time is the `spark` layer; the operation's root span is the
    * benchmark's own glue (`bench`).
    */
  def selfTimes(kind: String): Map[String, Metric] = {
    val os = ops(kind)
    val totals = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    for (o <- os; s <- o.spans) {
      val (from, to) = (r.clock.epochMs(s.startNs), r.clock.epochMs(s.endNs))
      val jobs = counters(s.id).jobIntervals
      val kids = children.getOrElse(s.id, Nil).map(k => (r.clock.epochMs(k.startNs), r.clock.epochMs(k.endNs)))
      val jobMs = covered(jobs.toSeq, from, to)
      val selfMs = (to - from) - covered(kids ++ jobs, from, to)
      totals(if (s.parent == 0) "bench" else s.name.takeWhile(_ != '.')) += selfMs / 1e3
      totals("spark") += jobMs / 1e3
    }
    totals.map { case (l, v) => s"self.${l}_s" -> Metric(v / os.size, "s") }.toMap
  }

  /** Span records for the trace file; each job is a child span. */
  def spanRecords: Seq[Map[String, Any]] = r.tracer.spans.toSeq.flatMap { s =>
    val c = counters(s.id)
    Map[String, Any]("id" -> s.id, "parent" -> s.parent, "op" -> s.op, "key" -> s.key, "name" -> s.name,
      "start_ms" -> r.clock.epochMs(s.startNs), "end_ms" -> r.clock.epochMs(s.endNs), "ok" -> s.ok,
      "jobs" -> c.jobs, "stages" -> c.stages, "tasks" -> c.tasks, "input_bytes" -> c.inputBytes,
      "shuffle_bytes" -> c.shuffleBytes, "output_bytes" -> c.outputBytes,
      "spill_bytes" -> c.spillBytes, "plan_ms" -> c.planMs) +:
      c.jobIntervals.toSeq.map { case (a, b) =>
        Map[String, Any]("parent" -> s.id, "op" -> s.op, "name" -> "spark.job",
          "start_ms" -> a, "end_ms" -> b)
      }
  }

  /** Deterministic counters summed per operation key and span name
    * (`key/name`), for `counter_diff.py`.
    */
  def counterTotals: Map[String, Map[String, Long]] =
    r.tracer.spans.toSeq.groupBy(s => s"${s.key}/${s.name}").map { case (name, ss) =>
      val c = new Counters
      ss.foreach(s => c.add(counters(s.id)))
      name -> (Map("spans" -> ss.size.toLong, "jobs" -> c.jobs, "tasks" -> c.tasks,
        "input_bytes" -> c.inputBytes, "shuffle_bytes" -> c.shuffleBytes,
        "output_bytes" -> c.outputBytes))
    }
}

object Layers {
  val MB = 1024.0 * 1024.0

  final case class OpTrace(root: Span, spans: Seq[Span], total: Counters)

  def of(r: Run): Layers = new Layers(r, r.tracer.collect())

  /** Length of the part of [from, to] covered by the intervals. */
  def covered(iv: Seq[(Double, Double)], from: Double, to: Double): Double = {
    var total = 0.0; var end = from
    for ((a, b) <- iv.map { case (a, b) => (math.max(a, from), math.min(b, to)) }.sortBy(_._1)) {
      val s = math.max(a, end)
      if (b > s) { total += b - s; end = b }
    }
    total
  }
}
