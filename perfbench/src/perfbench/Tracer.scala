package perfbench

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.PerfbenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** What Spark did on behalf of one span: the jobs, stages and tasks it
  * ran, the bytes those tasks moved, the wall-clock intervals its jobs
  * covered and the planning time of its SQL executions.
  */
final class Counters {
  var jobs, stages, tasks = 0L
  var inputBytes, shuffleBytes, outputBytes, spillBytes = 0L
  var planMs = 0.0
  /** `(start, end)` of each finished job, epoch milliseconds. */
  val jobIntervals = ArrayBuffer.empty[(Double, Double)]

  def add(o: Counters): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    inputBytes += o.inputBytes; shuffleBytes += o.shuffleBytes
    outputBytes += o.outputBytes; spillBytes += o.spillBytes
    planMs += o.planMs; jobIntervals ++= o.jobIntervals
  }

  /** Milliseconds during which at least one job of the span ran. */
  def execMs: Double = Layers.covered(jobIntervals.toSeq, Double.NegativeInfinity, Double.PositiveInfinity)
}

/** One timed call made by the benchmark into a layer of the library.
  * `op` numbers the operation (day, query or table op) the call belongs
  * to and `key` names it; `parent` is the enclosing span, 0 for an
  * operation's root span.
  */
final case class Span(
    id: Int, parent: Int, op: Int, key: String, name: String, startNs: Long, endNs: Long, ok: Boolean) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Spans around the benchmark's calls into the library, plus a Spark
  * listener and a query-execution listener that attribute jobs, tasks,
  * bytes and planning time to the innermost open span. The span id
  * travels to Spark as a thread-local job property, so every job a call
  * submits is charged to that call. Planning has no such property: each
  * phase (analysis, optimisation, planning) of a successful SQL
  * execution is charged by time, to the innermost span that was open at
  * its midpoint, clipped to that span. Spans stay in memory until the
  * run ends. While `active` is false, `span` only runs its body.
  */
final class Tracer(spark: SparkSession) {
  private val SpanKey = "perfbench.span"
  private val sc = spark.sparkContext
  val clock = new Clock

  val spans = ArrayBuffer.empty[Span]
  var active = false
  private var open: List[Int] = Nil
  private var nextId = 1
  private var op = 0
  private var key = ""

  // written on the listener-bus thread, read after `drain`
  private val lock = new Object
  private val counters = mutable.Map.empty[Int, Counters]
  private val stageSpan = mutable.Map.empty[Int, Int]
  private val jobStart = mutable.Map.empty[Int, (Int, Long)]
  /** `(start, end)` of each planning phase, epoch milliseconds. */
  private val phases = ArrayBuffer.empty[(Double, Double)]

  private def spanOf(props: java.util.Properties): Option[Int] =
    Option(props).flatMap(p => Option(p.getProperty(SpanKey))).map(_.toInt)
  private def of(span: Int) = counters.getOrElseUpdate(span, new Counters)

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = lock.synchronized {
      spanOf(e.properties).foreach { s =>
        of(s).jobs += 1
        jobStart(e.jobId) = (s, e.time)
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = lock.synchronized {
      jobStart.remove(e.jobId).foreach { case (s, t0) => of(s).jobIntervals += ((t0.toDouble, e.time.toDouble)) }
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = lock.synchronized {
      spanOf(e.properties).foreach { s =>
        of(s).stages += 1
        stageSpan(e.stageInfo.stageId) = s
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = lock.synchronized {
      stageSpan.get(e.stageId).foreach { s =>
        val c = of(s)
        c.tasks += 1
        Option(e.taskMetrics).foreach { m =>
          c.inputBytes += m.inputMetrics.bytesRead
          c.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
          c.outputBytes += m.outputMetrics.bytesWritten
          c.spillBytes += m.diskBytesSpilled
        }
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      lock.synchronized {
        phases ++= qe.tracker.phases.values.map(p => (p.startTimeMs.toDouble, p.endTimeMs.toDouble))
      }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  def attach(): Unit = {
    sc.addSparkListener(listener)
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].listenerManager.register(qeListener)
  }

  /** Start operation number `n`, named `k`: later spans belong to it. */
  def beginOp(n: Int, k: String): Unit = { op = n; key = k }

  /** Run `f` as span `name`, a child of the innermost open span. */
  def span[T](name: String)(f: => T): T =
    if (!active) f
    else {
      val id = nextId
      nextId += 1
      val parent = open.headOption.getOrElse(0)
      val prev = sc.getLocalProperty(SpanKey)
      sc.setLocalProperty(SpanKey, id.toString)
      open = id :: open
      val t0 = System.nanoTime()
      var ok = false
      try { val r = f; ok = true; r }
      finally {
        spans += Span(id, parent, op, key, name, t0, System.nanoTime(), ok)
        open = open.tail
        sc.setLocalProperty(SpanKey, prev)
      }
    }

  /** Wait for queued listener events, then return each span's own
    * counters (not including its children's).
    */
  def collect(): Map[Int, Counters] = {
    PerfbenchBus.drain(sc)
    lock.synchronized {
      val iv = spans.map(s => (s, clock.epochMs(s.startNs), clock.epochMs(s.endNs)))
      for ((a, b) <- phases) {
        val mid = (a + b) / 2
        val open = iv.filter { case (_, s, e) => s <= mid && mid <= e }
        if (open.nonEmpty) {
          val (span, s, e) = open.maxBy(_._1.startNs)
          of(span.id).planMs += math.max(0.0, math.min(b, e) - math.max(a, s))
        }
      }
      phases.clear()
      spans.map(s => s.id -> counters.getOrElse(s.id, new Counters)).toMap
    }
  }
}
