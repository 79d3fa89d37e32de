package perfbench

import java.net.URI
import java.net.http.{HttpRequest, HttpResponse}
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue, Executors}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener, Trigger}

import graft.operators.MetricsStore
import graft.serving.MetricsHttpServer
import graft.streaming.Pipelines

/** Event with the corpus `events` columns; `ts` is its due send time. */
final case class Ev(event_id: Long, ts: java.sql.Timestamp, user_id: Long,
                    event_type: String, value: Double, props: String)

/** `ingest_1k`: the live topology under open-loop load.
  *
  * One generator thread sends events on a fixed schedule (event i is due
  * at start + i/rate), whether or not the system keeps up, and feeds the
  * identical sequence to one MemoryStream per query, so no two queries
  * share a source's offsets (one shared MemoryStream has been seen to
  * fail with "Offsets committed out of order"). Each source has 3
  * partitions, like the reference's Kafka topics. The three queries are built as `Pipelines.runAll` builds
  * them, with short windows passed through the functions' arguments,
  * and `MetricsHttpServer` serves their store. Two closed-loop readers
  * poll `/metrics/event/windows`; a window is visible at the first 200
  * response that lists it. */
object Ingest {
  val rate = 1000          // events/s: the reference's peak load scenario
  val windowMs = 100L      // short windows: ~10 window closes per second
  val watermarkMs = 1000L  // the reference's test watermark
  val gap = "2 seconds"
  val users = 1500
  val types: Array[String] = Array("view", "click", "purchase", "signup", "error")
  /** A trigger every 5 s: the serving refresh (seconds on this store)
    * keeps up, so the refresh queue and with it visibility latency do not
    * grow over the run, as they do under back-to-back triggers. */
  val triggerMs = 5000L
  val trigger: Trigger = Trigger.ProcessingTime(triggerMs)

  private def mix(z0: Long): Long = {
    var z = z0
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  /** Event `i` depends only on (seed, i); only its timestamp depends on
    * when the run started. */
  def event(seed: Long, i: Long, tsMs: Long): Ev = {
    val h = mix(seed * 0x9e3779b97f4a7c15L + i)
    Ev(i, new java.sql.Timestamp(tsMs), (h >>> 1) % users,
      types(((h >>> 33) % types.length).toInt), ((h >>> 40) % 50000L) / 100.0,
      s"""{"k": ${(h >>> 20) % 100}}""")
  }

  final class Generator(seed: Long, sources: Seq[MemoryStream[Ev]]) extends Thread("bench-generator") {
    setDaemon(true)
    @volatile var running = true
    val startMs: Long = math.ceil(Clock.nowMs).toLong + 200
    val sent = ArrayBuffer.empty[Ev]
    val lagMs = ArrayBuffer.empty[Double] // how late each chunk went out
    def dueMs(i: Long): Long = startMs + i * 1000L / rate
    def dueBy(t: Double): Long = if (t < startMs) 0L else ((t - startMs) * rate / 1000).toLong + 1
    override def run(): Unit = while (running) {
      val now = Clock.nowMs
      val n = dueBy(now)
      if (n > sent.size) {
        val chunk = (sent.size.toLong until n).map(i => event(seed, i, dueMs(i)))
        sources.foreach(_.addData(chunk))
        lagMs += now - dueMs(chunk.head.event_id)
        sent ++= chunk
      }
      Thread.sleep(10)
    }
  }

  final class Reader(port: Int, seen: ConcurrentHashMap[Long, Double], idx: Int)
      extends Thread(s"bench-reader-$idx") {
    setDaemon(true)
    @volatile var running = true
    val reads = new ConcurrentLinkedQueue[Read]
    private val client = Http.client()
    private val req = HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port${Http.windowsPath}")).build()
    override def run(): Unit = while (running) {
      val t0 = Clock.nowMs
      var headers = 0.0
      val handler: HttpResponse.BodyHandler[String] = info => {
        headers = Clock.nowMs
        HttpResponse.BodySubscribers.ofString(java.nio.charset.StandardCharsets.UTF_8)
      }
      val (status, body) =
        try { val r = client.send(req, handler); (r.statusCode, r.body) }
        catch { case _: java.io.IOException => (0, "") }
      val t1 = Clock.nowMs
      reads.add(Read(t0, if (headers > 0) headers else t1, t1, status))
      if (status == 200) Http.windowStarts(body).foreach(seen.putIfAbsent(_, t1))
    }
  }

  def run(spark: SparkSession, conf: Conf, rep: Report, tr: Tracer,
          layers: Option[SparkLayers]): Unit = {
    val out = s"${conf.workDir}/store"
    val watermark = s"$watermarkMs milliseconds"
    val window = s"$windowMs milliseconds"
    // fixed source parallelism (the reference's topics have 3 partitions);
    // without it every addData block becomes its own input partition
    val sources = Streams.names.indices.map(i =>
      new MemoryStream[Ev](1000 + i, spark, Some(3))(Encoders.product[Ev]))
    val dfs = sources.map(_.toDF())
    val built = Seq(
      ("event_metrics", Pipelines.eventMetrics(dfs(0), watermark, windowMs),
        Seq("window_start_ms", "event_type")),
      ("session_metrics", Pipelines.sessionMetrics(dfs(1), watermark, gap),
        Seq("start_ms", "user_id")),
      ("performance_metrics", Pipelines.perfMetrics(dfs(2), watermark, window),
        Seq("window_start_ms", "category")))
    val queries: Seq[StreamingQuery] = built.map { case (name, df, key) =>
      df.writeStream
        .queryName(name)
        .outputMode("append")
        .option("checkpointLocation", s"$out/_chk/$name")
        .trigger(trigger)
        .foreachBatch { (batch: DataFrame, batchId: Long) =>
          Pipelines.writeStorageBatch(batch, batchId, s"$out/$name", key)
        }
        .start()
    }
    val server = new MetricsHttpServer(new MetricsStore(spark, out))
    val port = server.start()
    val probe = Http.client()

    // Untraced: the program's own refresh listener. Traced: the same
    // trigger rule (event_metrics progress with input rows, or any query
    // ending) driving the public refresh() so each call can be timed; a
    // refresh that leaves the served windows unchanged is a no-op.
    val refreshPool = Executors.newSingleThreadExecutor()
    var lastBody = ""
    val noopAt = new ConcurrentLinkedQueue[Double]
    def timedRefresh(cause: String): Unit = refreshPool.submit(new Runnable {
      def run(): Unit = {
        val t0 = Clock.nowMs
        try tr.span("serving.refresh", cause)(_ => server.refresh()) catch { case _: Throwable => () }
        val (_, body) = Http.get(probe, port, Http.windowsPath)
        if (body == lastBody) noopAt.add(t0)
        lastBody = body
      }
    })
    val listener: StreamingQueryListener =
      if (!conf.trace) server.attachAutoRefresh(spark)
      else {
        val l = new StreamingQueryListener {
          override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
          override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
            if (e.progress.name == "event_metrics" && e.progress.numInputRows > 0)
              timedRefresh(s"event_metrics.batch ${e.progress.batchId}")
          override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit =
            timedRefresh("terminated")
        }
        spark.streams.addListener(l)
        l
      }

    val gen = new Generator(conf.seed, sources)
    gen.start()
    rep.fact("topology_started_s", (Clock.nowMs - conf.startEpochMs) / 1000)
    val readyBy = Clock.nowMs + 120000
    while (Http.get(probe, port, "/readyz")._1 != 200) {
      if (Clock.nowMs > readyBy || queries.exists(q => !q.isActive)) {
        queries.foreach(q => q.exception.foreach(e => throw e))
        throw new IllegalStateException("/readyz never returned 200")
      }
      Thread.sleep(50)
    }
    rep.fact("ready_s", (Clock.nowMs - conf.startEpochMs) / 1000)
    val seen = new ConcurrentHashMap[Long, Double]
    val readers = (1 to 2).map(new Reader(port, seen, _))
    readers.foreach(_.start())
    Thread.sleep(2000) // warm-up under load after the first window is served

    val m0 = Clock.nowMs
    rep.firstTimedOpMs = m0
    val m1 = m0 + conf.seconds * 1000.0
    while (Clock.nowMs < m1) {
      if (queries.exists(q => !q.isActive)) queries.foreach(q => q.exception.foreach(e => throw e))
      Thread.sleep(20)
    }
    rep.timedEndMs = m1
    readers.foreach(_.running = false)
    readers.foreach(_.join())
    gen.running = false
    gen.join()
    // stop each query between triggers, so no batch is cut mid-write;
    // refreshes still queued are not waited for
    spark.streams.removeListener(listener)
    refreshPool.shutdownNow()
    queries.foreach { q =>
      val by = Clock.nowMs + 30000
      while (q.status.isTriggerActive && Clock.nowMs < by) Thread.sleep(5)
      q.stop()
    }
    val progress = queries.flatMap(_.recentProgress.toSeq)
    val watermarks = queries.flatMap(q => Option(q.lastProgress).flatMap(Streams.watermarkMs)
      .map(q.name -> _)).toMap
    queries.foreach(q => tr.batches(q, q.name, 0L))
    server.stop()
    rep.fact("stop_s", (Clock.nowMs - m1) / 1000)

    // end-to-end: windows first served inside the measured interval (in
    // steady state as many as close in it), reads, sustained commit rate
    val firstSeen = seen.asScala.toSeq.filter { case (_, t) => t >= m0 && t < m1 }
    val visible = firstSeen.map { case (ws, t) => t - (ws + windowMs + watermarkMs) }
    // no window may be skipped between the first and the last one served
    // in the measured interval
    val served = firstSeen.map(_._1).sorted
    if (served.nonEmpty) Iterator.iterate(served.head)(_ + windowMs).takeWhile(_ <= served.last)
      .foreach(ws => rep.check(s"window $ws never served", seen.containsKey(ws)))
    val reads = readers.flatMap(_.reads.asScala).filter(r => r.sentMs >= m0 && r.sentMs < m1)
    reads.foreach(r => rep.check(s"read returned ${r.status}", r.status == 200))
    val readMs = reads.filter(_.status == 200).map(r => r.doneMs - r.sentMs)
    val perQueryRate = Streams.names.map { q =>
      val ends = progress.filter(_.name == q).map(p => (Streams.endMs(p), p.numInputRows))
      val inside = ends.filter { case (e, _) => e > m0 && e <= m1 }
      val before = ends.filter(_._1 <= m0).map(_._1)
      if (inside.isEmpty || before.isEmpty) 0.0
      else inside.map(_._2).sum * 1000.0 / (inside.map(_._1).max - before.max)
    }
    val throughput = perQueryRate.sum / perQueryRate.size
    rep.put("visible_p50_ms", Stats.median(visible), "ms", visible.size)
    rep.put("visible_p90_ms", Stats.pct(visible, 0.9), "ms", visible.size)
    rep.put("geomean_ms", Stats.geomean(visible), "ms", visible.size)
    rep.put("throughput_per_s", throughput, "1/s", progress.size)
    rep.put("read_p50_ms", Stats.median(readMs), "ms", readMs.size)
    rep.put("read_p99_ms", Stats.pct(readMs, 0.99), "ms", readMs.size)
    rep.put("achieved_frac", throughput / rate, "frac", progress.size)
    rep.setting("rate_per_s", rate)
    rep.setting("trigger_ms", triggerMs)
    rep.setting("window_ms", windowMs)
    rep.setting("watermark_ms", watermarkMs)
    rep.setting("session_gap", gap)
    rep.setting("users", users)
    rep.fact("events_sent", gen.sent.size)
    rep.fact("generator_lag_ms_p99", Stats.pct(gen.lagMs.toSeq, 0.99))
    rep.fact("generator_lag_ms_max", if (gen.lagMs.isEmpty) 0.0 else gen.lagMs.max)

    if (conf.trace) {
      val inWindow = progress.filter(p => Streams.endMs(p) >= m0 && Streams.endMs(p) <= m1)
      Streams.layerMetrics(inWindow, rep)
      val committed = progress.map(p => (Streams.endMs(p), p.name, p.numInputRows)).sortBy(_._1)
      var acc = Map.empty[String, Long].withDefaultValue(0L)
      var backlog = 0L
      committed.foreach { case (t, q, n) =>
        acc += q -> (acc(q) + n)
        if (t >= m0 && t <= m1) backlog = backlog max (gen.dueBy(t) - acc(q))
      }
      rep.put("source.backlog_rows_max", backlog.toDouble, "rows")
      layers.foreach { l =>
        l.drain()
        val writes = l.plans.asScala.filter(p => p.startMs >= m0 && p.startMs <= m1 &&
          p.writePath.exists(w => Streams.names.exists(n => w.endsWith(s"/$n"))))
        rep.put("storage.write_ms_p50", Stats.median(writes.map(_.durationMs).toSeq), "ms", writes.size)
        rep.put("storage.batches", writes.size.toDouble, "count")
      }
      val refreshes = tr.named("serving.refresh").filter(s => s.startMs >= m0 && s.startMs <= m1)
      rep.put("serving.refresh_ms_p50", Stats.median(refreshes.map(s => s.endMs - s.startMs)), "ms", refreshes.size)
      rep.put("serving.refreshes", refreshes.size.toDouble, "count")
      rep.put("serving.refresh_noop", noopAt.asScala.count(t => t >= m0 && t <= m1).toDouble, "count")
      val files = Main.countFiles(out, Streams.names)
      rep.put("storage.files", files.values.sum.toDouble, "count")
      rep.put("serving.table_files", (files("event_metrics") + files("performance_metrics")).toDouble, "count")
      rep.put("http.reads", reads.size.toDouble, "count")
      rep.put("http.non200", reads.count(_.status != 200).toDouble, "count")
      rep.put("http.server_ms_p50", Stats.median(reads.map(r => r.headersMs - r.sentMs)), "ms", reads.size)
    }

    val c0 = Clock.nowMs
    val events = spark.createDataset(gen.sent.toSeq)(Encoders.product[Ev]).toDF()
    Streams.checkStored(spark, out, events, window, window, gap, watermarks,
      slackMs = 0L, conf.corrupt, rep)
    rep.fact("check_s", (Clock.nowMs - c0) / 1000)
  }
}
