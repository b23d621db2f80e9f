package perfbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.Files

import scala.collection.immutable.ListMap
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

import graft.GraftSession

/** One benchmark run:
  * `--workload etl|registry --seed N --seconds S --trace 0|1
  *  --work DIR --out DIR`.
  *
  * Prints one report line with every workload metric, then, as the last
  * line, the result: `correct`, `attempted`, `failed` and the end-to-end
  * metrics (untraced run) or the per-layer metrics (traced run). A traced
  * run also writes its spans and counters to `--out`.
  */
object Main {
  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)

  /** The metrics `BENCHMARK.json` declares in `section`, in its order,
    * taken from `measured`. A declared metric the workload did not
    * measure is 0 when its name starts with one of `bypasses` (the
    * workload never calls that layer or path); any other missing metric,
    * or a value that is not a number, fails the run.
    */
  def declared(section: String, measured: Map[String, Metric], bypasses: Seq[String]): ListMap[String, Metric] = {
    val spec = mapper.readTree(new File("BENCHMARK.json"))
    ListMap(spec.get(section).elements().asScala.toSeq.map { m =>
      val (name, unit) = (m.get("name").asText, m.get("unit").asText)
      val v = measured.getOrElse(name, {
        require(bypasses.exists(name.startsWith), s"metric $name was not measured")
        Metric(0.0, unit)
      })
      require(v.unit == unit && !v.value.isNaN && !v.value.isInfinite, s"metric $name: $v, declared in $unit")
      name -> v
    }: _*)
  }

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val workload = opts("workload")
    val seed = opts("seed").toLong
    val traced = opts("trace") == "1"
    val work = new File(opts("work"))
    val out = new File(opts("out"))
    val run: Run => Result = workload match {
      case "etl" => Etl.run
      case "registry" => Registry.run
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

    val t0 = System.nanoTime()
    val cpus = Runtime.getRuntime.availableProcessors.toString
    val spark = GraftSession.builder(cpus)
      .config("spark.local.dir", new File(work, "spark-local").getPath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sessionS = (System.nanoTime() - t0) / 1e9
    try {
      val r = new Run(spark, seed, opts("seconds").toInt, traced, work)
      val res = run(r)
      val setupS = sessionS + res.setupS
      println(mapper.writeValueAsString(ListMap("workload" -> workload, "seed" -> seed, "traced" -> traced,
        "report" -> (ListMap("session_s" -> Metric(sessionS, "s")) ++ res.report),
        "layers" -> ListMap(res.layers.toSeq.sortBy(_._1): _*),
        "failures" -> r.failures.toSeq)))
      if (traced) {
        out.mkdirs()
        val trace = ListMap("workload" -> workload, "seed" -> seed, "seconds" -> r.seconds,
          "counters" -> r.layers.counterTotals, "spans" -> r.layers.spanRecords)
        Files.write(new File(out, s"$workload-seed$seed.json").toPath,
          mapper.writeValueAsString(trace).getBytes(StandardCharsets.UTF_8))
      }
      val metrics =
        if (traced) declared("per_layer", res.layers, res.bypasses)
        else declared("end_to_end", Map(
          "setup_s" -> Metric(setupS, "s"),
          "op_s" -> Metric(res.op, "s"),
          "op_tail_s" -> Metric(res.opTail, "s"),
          "aux_s" -> Metric(res.aux, "s"),
          "heap_peak_mb" -> Metric(r.heapPeak / (1024.0 * 1024.0), "MB")), Nil)
      println(mapper.writeValueAsString(ListMap("correct" -> (r.failed == 0), "attempted" -> r.attempted,
        "failed" -> r.failed, "metrics" -> metrics)))
    } finally spark.stop()
  }
}
