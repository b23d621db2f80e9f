package perfbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.commons.io.FileUtils
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, FloatType}

import graft.SparkEntry
import graft.ext.StoreTimer

/** A fixed panel of `SparkEntry.queries` entries over the sf0.001
  * tables in `perfbench/data/sf0.001`, each delivered to Spark's `noop`
  * sink (`df.write.format("noop")`), not counted. Every round runs the
  * panel in a seed-shuffled order; one client, closed loop. The stored
  * relations the queries share (`RelationStore`, `IvfStore`) are built
  * in set-up by one untimed round.
  *
  * The panel and each query's pinned row count and order-insensitive
  * hash are in `perfbench/registry_expected.tsv`; the check recomputes
  * both after the timed rounds.
  */
object Registry {
  /** Seconds of `--seconds` per timed round: sizes the number of rounds
    * (the default 10 gives four; a round takes about 4.5 s on a 4-core
    * host).
    */
  val RoundSeconds = 2.5

  final case class Expected(name: String, rows: Long, hash: Option[String])

  def panel(bench: File): Seq[Expected] =
    Files.readAllLines(new File(bench, "registry_expected.tsv").toPath, StandardCharsets.UTF_8)
      .asScala.toSeq.filterNot(l => l.isEmpty || l.startsWith("#")).map { l =>
        val Array(name, rows, hash) = l.split("\t")
        Expected(name, rows.toLong, Some(hash).filter(_ != "-"))
      }

  /** Copy the tables into the run directory: store keys name the data
    * directory, so each run builds its stores afresh.
    */
  def data(bench: File, work: File): String = {
    val dir = new File(work, "registry-data")
    FileUtils.copyDirectory(new File(bench, "data/sf0.001"), dir)
    dir.getPath
  }

  /** Row count and order-insensitive hash of a query's result: the sum
    * of a 64-bit hash of every row, top-level floating columns rounded
    * to 6 decimals first.
    */
  def fingerprint(df: DataFrame): (Long, String) = {
    val cols: Seq[Column] = df.schema.fields.toSeq.map { f =>
      f.dataType match {
        case DoubleType | FloatType => round(col(s"`${f.name}`"), 6)
        case _ => col(s"`${f.name}`")
      }
    }
    val h = if (cols.isEmpty) lit(0L) else xxhash64(cols: _*)
    val row = df.select(h.cast("decimal(38,0)").as("h"))
      .agg(count(lit(1)), coalesce(sum("h"), lit(0).cast("decimal(38,0)"))).head()
    (row.getLong(0), row.getDecimal(1).toPlainString)
  }

  def deliver(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  def run(r: Run): Result = {
    val spark = r.spark
    val bench = new File("perfbench")
    val queries = SparkEntry.queries
    val expected = panel(bench)
    val dir = data(bench, r.work)
    def unpin(): Unit = spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))

    // set-up: one untimed round builds the stores and warms the code
    val t0 = System.nanoTime()
    for (e <- expected) deliver(queries(e.name)(spark, dir))
    unpin()
    val setupS = (System.nanoTime() - t0) / 1e9
    val stores = StoreTimer.snapshot

    val rounds = math.max(2, math.round(r.seconds / RoundSeconds).toInt)
    val rnd = new scala.util.Random(r.seed)
    for (_ <- 1 to rounds) {
      // in a traced run half of each round is traced, the other half
      // the next round
      for ((e, i) <- rnd.shuffle(expected.zipWithIndex)) r.op("query", e.name, phase = i) {
        val df = r.tracer.span("queries.build")(queries(e.name)(spark, dir))
        r.tracer.span("spark.write")(deliver(df))
      }
      unpin()
      r.settle()
    }

    for (e <- expected) r.check(s"registry.${e.name}") {
      val (rows, hash) = fingerprint(queries(e.name)(spark, dir))
      val ok = rows == e.rows && e.hash.forall(_ == hash)
      if (!ok) Console.err.println(s"[perfbench] ${e.name}: rows $rows hash $hash, expected ${e.rows} ${e.hash}")
      ok
    }

    val all = r.latencies.getOrElse("query", Nil).toSeq
    val perQuery = r.samples.filterNot(_._2).groupBy(_._1).values.map(s => Stats.median(s.map(_._3).toSeq)).toSeq
    val total = perQuery.sum
    val tailQ = Stats.tailQuantile(all.size)
    val report = Map(
      "query_p50_s" -> Metric(Stats.median(all), "s"),
      "query_geomean_s" -> Metric(Stats.geomean(perQuery), "s"),
      "query_tail_s" -> Metric(Stats.quantile(all, tailQ), "s"),
      "query_tail_quantile" -> Metric(tailQ, "ratio"),
      "query_p95_s" -> Metric(Stats.quantile(all, 0.95), "s"),
      "query_total_s" -> Metric(total, "s"),
      "queries" -> Metric(expected.size, "count"),
      "rounds" -> Metric(rounds, "count"),
      "ext.store_build_s" -> Metric(stores.values.sum, "s"),
      "ext.store_builds" -> Metric(stores.size, "count"))

    val layers = if (!r.traced) Map.empty[String, Metric] else {
      val tr = r.layers
      tr.generic("query") ++ tr.selfTimes("query") ++
        tr.spanMetrics("query", Seq("queries.build")).collect {
          case ("queries.build_s", m) => "queries.build_s" -> m
          case ("queries.build.jobs", m) => "queries.build_jobs" -> m
        } ++
        Map("ext.store_builds" -> Metric(stores.size, "count"),
          "ext.store_build_s" -> Metric(stores.values.sum, "s"))
    }
    Result(setupS, op = Stats.geomean(perQuery), opTail = Stats.quantile(all, tailQ), aux = total,
      report = report, layers = layers, bypasses = Seq("pipeline.", "sources.publish", "sources.space_amp"))
  }
}

/** Writes `registry_expected.tsv` rows for the named queries (all
  * queries when none is named): name, rows, hash, and the delivered
  * seconds of a warm run as a comment, for choosing the panel. A hash
  * that differs between two calls is written as `-` (rows checked
  * only). Run the same way `run.py` runs `perfbench.Main`, with
  * `perfbench.RegistryPin <work dir> [query ...]`.
  */
object RegistryPin {
  def main(args: Array[String]): Unit = {
    val spark = graft.GraftSession.builder(Runtime.getRuntime.availableProcessors.toString).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val dir = Registry.data(new File("perfbench"), new File(args(0)))
    val names = if (args.length > 1) args.toSeq.drop(1) else SparkEntry.queries.keys.toSeq.sorted
    for (n <- names) {
      val fn = SparkEntry.queries(n)
      try {
        Registry.deliver(fn(spark, dir))
        val t0 = System.nanoTime()
        Registry.deliver(fn(spark, dir))
        val s = (System.nanoTime() - t0) / 1e9
        val (rows, h1) = Registry.fingerprint(fn(spark, dir))
        val (_, h2) = Registry.fingerprint(fn(spark, dir))
        println(s"$n\t$rows\t${if (h1 == h2) h1 else "-"}\t# $s")
      } catch { case e: Exception => println(s"# $n failed: ${e.getClass.getSimpleName}") }
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    }
    spark.stop()
  }
}
