package perfbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.pipeline.CovidPipeline
import graft.pipeline.CovidPipeline.Raw
import graft.sources.{RawZone, SnapshotPublish}

/** The paper's daily job over seeded OWID feeds: day 0's full load
  * (raw files → first published snapshot), timed as the process's first
  * use of its code path, as in a daily batch job; one untimed daily
  * cycle that warms the daily code path; `K` timed ordinary daily cycles
  * (state read back with `SnapshotPublish.readCurrent` → incremental →
  * reconcile → publish); one backfill day that restates ≈10 % of the
  * trailing 365 days; and three warm full loads of the last day's feeds
  * into fresh tables, the first also the checks' reference. The ordinary
  * days, the backfill day and the warm full loads thus run under the
  * same conditions. One client, closed loop; set-up is the session start
  * alone.
  *
  * Checks: the replayed enterprise table equals a full reload of the
  * last day's feeds on (CodeISO, Date) and the 20 update columns; the
  * warehouse surrogate keys are dense and unique over every mapped
  * location-date; no `Is_updated = 'Y'` survives publish.
  */
object Etl {
  val Locations = 30
  val History = 200
  /** Restated rows per source on an ordinary day. */
  val Restated = 10
  /** Expected seconds of one warm daily cycle on a 4-core host; sizes
    * `K`.
    */
  val DaySeconds = 11.0

  private def readRaw(spark: SparkSession, dir: File): Raw = {
    def csv(name: String) = RawZone.csvAllString(spark, new File(dir, name).getPath)
    Raw.fromCsv(csv(OwidGen.Files(0)), csv(OwidGen.Files(1)), csv(OwidGen.Files(2)),
      csv(OwidGen.Files(3)), csv(OwidGen.Files(4)))
  }

  /** Warehouse/enterprise frames with the 25 final columns and no rows. */
  private def emptyFinal(curated: DataFrame): DataFrame =
    curated.limit(0).drop("Year", "Month", "Is_updated")
      .withColumn("_SK_METRICS_FACT", lit(0L))
      .select(CovidPipeline.FinalColumns.map(col): _*)

  /** One pipeline instance: its feeds, its published tables, and the
    * calls of a full load and of a daily cycle.
    */
  private final class Instance(r: Run, dir: File, gen: OwidGen, feedRoot: File) {
    private val spark = r.spark
    private val t = r.tracer
    val root: String = new File(dir, "published").getPath
    val curated0 = new File(dir, "curated0")
    def feeds(d: Int) = new File(feedRoot, f"day=$d%03d")

    /** Full load of day `d`'s feeds into this instance's tables. */
    def fullLoad(d: Int): Unit = {
      val raw = t.span("sources.read_feeds")(readRaw(spark, feeds(d)))
      val fact = t.span("pipeline.full_load")(CovidPipeline.fullLoad(raw, gen.asOf(d)))
      t.span("sources.full_write")(RawZone.overwritePartitioned(fact, curated0.getPath, Seq("Year", "Month")))
      val curated = t.span("sources.full_read")(spark.read.parquet(curated0.getPath))
      val empty = emptyFinal(curated)
      val rec = t.span("pipeline.full_reconcile")(CovidPipeline.reconcile(
        curated, empty, empty, fullMode = true, gen.today(d), gen.asOf(d)))
      t.span("sources.full_publish")(CovidPipeline.publishReconciled(root, rec))
    }

    def cycle(d: Int): CovidPipeline.Reconciled = {
      val today = t.span("sources.read_feeds")(readRaw(spark, feeds(d)))
      val yesterday = t.span("sources.read_feeds")(readRaw(spark, feeds(d - 1)))
      val Seq(curated, warehouse, enterprise) = t.span("sources.read_current")(
        Seq("curated", "warehouse", "enterprise").map(SnapshotPublish.readCurrent(spark, root, _)))
      val cur = t.span("pipeline.incremental")(
        CovidPipeline.incremental(today, yesterday, curated, gen.today(d), gen.asOf(d)))
      val rec = t.span("pipeline.reconcile")(
        CovidPipeline.reconcile(cur, warehouse, enterprise, fullMode = false, gen.today(d), gen.asOf(d)))
      t.span("sources.publish")(CovidPipeline.publishReconciled(root, rec))
      rec
    }

    def current(table: String): DataFrame = SnapshotPublish.readCurrent(spark, root, table)
    def currentDir: File =
      new File(root, f"v=${SnapshotPublish.currentVersion(spark, root).get}%08d")
  }

  def run(r: Run): Result = {
    val k = math.max(1, math.round(r.seconds / DaySeconds).toInt)
    val last = k + 2
    val gen = new OwidGen(r.seed, Locations, History, Restated, last)
    val feedRoot = new File(r.work, "feeds")
    val inst = new Instance(r, new File(r.work, "replay"), gen, feedRoot)

    // day 0's full load publishes the first snapshot, cold
    gen.next(inst.feeds(0))
    r.op("full_load", "full_load")(inst.fullLoad(0))
    r.settle()

    // per traced day: bytes of its inputs (both days' feeds and the
    // snapshot it starts from), rows and bytes of its upsert batch
    val inputBytes = mutable.Map.empty[Int, Long]
    val batch = mutable.Map.empty[Int, (Long, Double)]
    def day(kind: String, d: Int): Unit = {
      val in = Disk.bytes(inst.feeds(d)) + Disk.bytes(inst.feeds(d - 1)) + Disk.data(inst.currentDir)
      val rec = r.op(kind, kind)(inst.cycle(d))
      for (root <- r.lastTraced; rc <- rec) {
        inputBytes(root) = in
        val rows = rc.upsertBatch.count()
        val wh = new File(inst.currentDir, "warehouse")
        batch(root) = (rows, rows * Disk.data(wh).toDouble / inst.current("warehouse").count())
      }
    }
    // day 1 warms the daily code path, untimed and untraced; settle
    // outside `day`, whose frame still holds the day's frames
    gen.next(inst.feeds(1))
    r.op("warmup_day", "warmup_day", phase = 1)(inst.cycle(1))
    r.settle()
    for (d <- 2 until last) { gen.next(inst.feeds(d)); day("day", d); r.settle() }
    gen.next(inst.feeds(last), backfill = true)
    day("backfill_day", last)
    r.settle()
    // three warm full loads of the last day's feeds into fresh tables:
    // `reload_s` is their median, since one takes only a few seconds;
    // the first is the checks' reference; in a traced run they alternate
    // traced, untraced, traced, which gives the tracing overhead
    val reloads = (1 to 3).map { i =>
      val reload = new Instance(r, new File(r.work, s"reload-$i"), gen, feedRoot)
      r.op("reload", "reload")(reload.fullLoad(last))
      reload
    }
    val reload = reloads.head

    // ---- output checks ----
    r.check("etl.replay_equals_full_reload") {
      val cols = (Seq("CodeISO", "Date") ++ CovidPipeline.EnterpriseUpdateCols).map(col)
      val a = inst.current("enterprise").select(cols: _*)
      val b = reload.current("enterprise").select(cols: _*)
      a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty
    }
    r.check("etl.sk_dense_unique") {
      val row = inst.current("warehouse").agg(count(lit(1)), countDistinct("_SK_METRICS_FACT"),
        min("_SK_METRICS_FACT"), max("_SK_METRICS_FACT")).head()
      val n = row.getLong(0)
      n == Locations.toLong * (History + last) && row.getLong(1) == n &&
        row.getLong(2) == 1L && row.getLong(3) == n
    }
    r.check("etl.no_dirty_flag_after_publish") {
      inst.current("curated").filter(col("Is_updated") === "Y").isEmpty
    }

    // the replayed tables: every published version, and the curated
    // table of the day-0 full load
    val spaceAmp = (Disk.bytes(new File(inst.root)) + Disk.bytes(inst.curated0)).toDouble /
      Disk.data(inst.currentDir)
    val days = r.latencies.getOrElse("day", Nil).toSeq
    val report = Map(
      "full_load_s" -> Metric(r.latencies.get("full_load").map(_.head).getOrElse(Double.NaN), "s"),
      "reload_s" -> Metric(r.latencies.get("reload").map(l => Stats.median(l.toSeq)).getOrElse(Double.NaN), "s"),
      "day_p50_s" -> Metric(if (days.isEmpty) Double.NaN else Stats.median(days), "s"),
      "days" -> Metric(k, "count"),
      "backfill_day_s" -> Metric(r.latencies.get("backfill_day").map(_.head).getOrElse(Double.NaN), "s"),
      "space_amp" -> Metric(spaceAmp, "ratio"))

    val layers = if (!r.traced) Map.empty[String, Metric] else {
      val tr = r.layers
      val dayOps = tr.ops("day")
      tr.generic("day") ++ tr.selfTimes("day") ++
        tr.spanMetrics("day", Seq("pipeline.incremental", "pipeline.reconcile", "sources.publish")) ++
        tr.spanMetrics("reload", Seq("sources.full_write", "pipeline.full_reconcile", "sources.full_publish")) ++
        tr.spanMetrics("backfill_day", Seq("pipeline.incremental", "pipeline.reconcile", "sources.publish"),
          prefix = "backfill.") ++
        Map(
          "pipeline.read_amp" -> Metric(Stats.median(dayOps.map(o =>
            o.total.inputBytes.toDouble / inputBytes(o.root.id))), "ratio"),
          "sources.publish_write_amp" -> Metric(Stats.median(dayOps.map(o =>
            o.total.outputBytes / batch(o.root.id)._2)), "ratio"),
          "pipeline.batch_rows" -> Metric(Stats.median(dayOps.map(o => batch(o.root.id)._1.toDouble)), "count"),
          "sources.space_amp" -> Metric(spaceAmp, "ratio"))
    }
    Result(setupS = 0.0,
      op = report("day_p50_s").value,
      opTail = report("backfill_day_s").value,
      aux = report("reload_s").value,
      report = report, layers = layers, bypasses = Seq("queries.", "ext."))
  }
}
