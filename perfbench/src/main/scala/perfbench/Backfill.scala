package perfbench

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.Tables
import graft.operators.{EventAggregator, MetricsStore}
import graft.serving.MetricsHttpServer
import graft.streaming.Pipelines

/** `backfill`: `Pipelines.runAll` with its default `Trigger.AvailableNow`,
  * unchanged, over one generated `events.parquet`, then served by
  * `MetricsHttpServer`. A catch-up runs runAll into a fresh store and
  * checkpoint until all three queries have terminated (two batches per
  * query: the data and the no-data eviction batch), then starts a server
  * over the store, refreshes it once and reads `/metrics/event/windows`
  * a few times; it ends when a read first lists the newest event window
  * the catch-up closed. */
object Backfill {
  val eventWindowMs = 60000L // runAll's event window
  val readsPerCatchUp = 10

  final case class CatchUp(out: String, wallMs: Double, queryMs: Seq[Double],
                           watermarks: Map[String, Long], visibleMs: Double,
                           newest: Option[Long], refreshMs: Double, refreshNoop: Boolean,
                           reads: Seq[Read], lastBody: String)

  /** Start of every event window that holds an input event of a type
    * the event metrics count. */
  def eventWindows(spark: SparkSession, src: String): Array[Long] =
    Tables.events(spark, src)
      .filter(col("event_type").isin(EventAggregator.defaultAllowed: _*))
      .select((floor(unix_millis(col("ts")) / eventWindowMs) * eventWindowMs).cast("long"))
      .distinct().collect().map(_.getLong(0)).sorted

  /** The newest window `ExactEventMetrics` has emitted by watermark `wm`:
    * its event-time timeout fires once the watermark passes the end. */
  def newestClosed(windows: Array[Long], wm: Long): Option[Long] =
    windows.filter(_ + eventWindowMs < wm).lastOption

  /** One catch-up; with `windows` (the input's event windows) it is
    * served and lasts until the newest closed window is listed. */
  def catchUp(spark: SparkSession, src: String, out: String, tr: Tracer,
              windows: Option[Array[Long]]): CatchUp =
    tr.span("backfill.catch_up", out) { id =>
      val t0 = Clock.nowMs
      val qs: Seq[StreamingQuery] = Pipelines.runAll(spark, src, out)
      val ends = Array.fill(qs.size)(0.0)
      while (ends.contains(0.0)) {
        qs.indices.foreach(i => if (ends(i) == 0.0 && !qs(i).isActive) ends(i) = Clock.nowMs)
        Thread.sleep(2)
      }
      qs.foreach(_.awaitTermination()) // rethrows a query's failure
      qs.foreach(tr.batches(_, out, id))
      val wms = qs.flatMap(q => q.recentProgress.flatMap(Streams.watermarkMs).maxOption.map(q.name -> _)).toMap
      val newest = for (w <- windows; wm <- wms.get("event_metrics"); n <- newestClosed(w, wm)) yield n
      val base = CatchUp(out, ends.max - t0, ends.toSeq.map(_ - t0), wms, Double.NaN, newest,
        Double.NaN, refreshNoop = false, Nil, "")
      if (windows.isEmpty) base
      else {
        val server = new MetricsHttpServer(new MetricsStore(spark, out))
        val port = server.start()
        val client = Http.client()
        try {
          val before = Http.get(client, port, Http.windowsPath)._2
          val r0 = Clock.nowMs
          tr.span("serving.refresh", new java.io.File(out).getName, id)(_ => server.refresh())
          val r1 = Clock.nowMs
          var visible = Double.NaN
          var body = before
          val reads = (1 to readsPerCatchUp).map { _ =>
            val a = Clock.nowMs
            val (status, b) = Http.get(client, port, Http.windowsPath)
            val done = Clock.nowMs
            if (status == 200) body = b
            if (visible.isNaN && newest.exists(n => Http.windowStarts(b).contains(n))) visible = done - t0
            Read(a, done, done, status)
          }
          base.copy(visibleMs = visible, refreshMs = r1 - r0, refreshNoop = body == before,
            reads = reads, lastBody = body)
        } finally server.stop()
      }
    }

  def inputRows(spark: SparkSession, src: String): Long =
    spark.read.parquet(s"$src/events.parquet").count()

  def run(spark: SparkSession, conf: Conf, rep: Report, tr: Tracer,
          layers: Option[SparkLayers]): Unit = {
    val src = conf.dataDir
    // warm-up on a small file of the same shape: JIT and codegen of the
    // streaming path, off the clock. The serving path warms up on the
    // first timed catch-up, whose refresh is about twice as slow: only
    // the best serve time counts.
    val w0 = Clock.nowMs
    catchUp(spark, s"$src/warmup", s"${conf.workDir}/warmup", tr, None)
    rep.fact("warmup_s", (Clock.nowMs - w0) / 1000)
    val rows = inputRows(spark, src)
    val windows = Some(eventWindows(spark, src))

    val m0 = Clock.nowMs
    rep.firstTimedOpMs = m0
    val runs = ArrayBuffer.empty[CatchUp]
    while (runs.size < 2 || (Clock.nowMs - m0 < conf.seconds * 1000.0 && runs.size < 20)) {
      runs += catchUp(spark, src, s"${conf.workDir}/rep${runs.size}", tr, windows)
    }
    val m1 = Clock.nowMs
    rep.timedEndMs = m1
    // best times, as graft.Bench takes each query's best pass: host noise
    // only ever adds time. Visibility = best catch-up + best serve time
    // (from the queries' end to the first read listing the newest window)
    val perQuery = runs.map(_.queryMs).transpose.map(_.min).toSeq
    val visibleMs = runs.map(_.wallMs).min + runs.map(r => r.visibleMs - r.wallMs).min
    rep.put("throughput_per_s", rows * 1000.0 / visibleMs, "1/s", runs.size)
    rep.put("geomean_ms", Stats.geomean(perQuery), "ms", runs.size)
    rep.put("visible_ms", visibleMs, "ms", runs.size)
    rep.put("rows_per_s", rows * 1000.0 / runs.map(_.wallMs).min, "1/s", runs.size)
    rep.setting("input_rows", rows)
    rep.setting("event_windows", windows.get.length)
    rep.fact("catch_ups", runs.size)
    rep.fact("serve_ms", runs.map(r => r.visibleMs - r.wallMs).toSeq)
    rep.fact("catch_up_ms", runs.map(_.wallMs).toSeq)

    val reads = runs.flatMap(_.reads).toSeq
    reads.foreach(r => rep.check(s"read after the refresh returned ${r.status}", r.status == 200))

    layers.foreach { l =>
      l.drain()
      val ps = l.progress.asScala.toSeq.filter(p => Streams.startMs(p) >= m0 && Streams.endMs(p) <= m1)
      Streams.layerMetrics(ps, rep)
      val writes = l.plans.asScala.toSeq.filter(p => p.startMs >= m0 && p.startMs <= m1 &&
        p.writePath.exists(w => Streams.names.exists(n => w.endsWith(s"/$n"))))
      rep.put("storage.write_ms_p50", Stats.median(writes.map(_.durationMs)), "ms", writes.size)
      rep.put("storage.batches", writes.size.toDouble, "count")
      val files = Main.countFiles(runs.last.out, Streams.names)
      rep.put("storage.files", files.values.sum.toDouble, "count")
      // a catch-up's whole input waits until its data batch commits
      rep.put("source.backlog_rows_max", rows.toDouble, "rows")
      rep.put("serving.refresh_ms_p50", Stats.median(runs.map(_.refreshMs).toSeq), "ms", runs.size)
      rep.put("serving.refreshes", runs.size.toDouble, "count")
      rep.put("serving.refresh_noop", runs.count(_.refreshNoop).toDouble, "count")
      rep.put("serving.table_files", (files("event_metrics") + files("performance_metrics")).toDouble, "count")
      rep.put("http.reads", reads.size.toDouble, "count")
      rep.put("http.non200", reads.count(_.status != 200).toDouble, "count")
      rep.put("http.server_ms_p50", Stats.median(reads.map(r => r.doneMs - r.sentMs)), "ms", reads.size)
    }

    // the last catch-up's store against the batch transforms; windows
    // that end after the final watermark stay open under AvailableNow
    val last = runs.last
    Streams.names.foreach(n => rep.check(s"$n reported no watermark", last.watermarks.contains(n)))
    runs.foreach(r => rep.check(s"${r.out}: newest closed window ${r.newest} never served",
      !r.visibleMs.isNaN))
    // what was served: the newest 120 windows of the store, newest first
    val stored = spark.read.parquet(s"${last.out}/event_metrics").select("window_start_ms")
      .distinct().orderBy(col("window_start_ms").desc).limit(120).collect().map(_.getLong(0)).toSeq
    val servedStarts = Http.windowStarts(last.lastBody)
    rep.check(s"served windows ${servedStarts.take(3)}... differ from the store's newest ${stored.take(3)}...",
      servedStarts == stored && stored.headOption == last.newest)
    val c0 = Clock.nowMs
    Streams.checkStored(spark, last.out, Tables.events(spark, src), "60 seconds", "300 seconds",
      "1800 seconds", last.watermarks, slackMs = 300000L, conf.corrupt, rep)
    rep.fact("check_s", (Clock.nowMs - c0) / 1000)
  }
}
