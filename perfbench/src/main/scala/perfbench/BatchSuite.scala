package perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.SparkEntry

/** `batch_suite`: timed passes over a pinned slice of the `SparkEntry`
  * query library. The list lives here so a query added to the program
  * does not change the workload. Each query is fully evaluated through
  * the noop sink, as `graft.Bench` does, and its time is the minimum
  * over its timed runs, as in `graft.Bench`: noise only ever adds time,
  * and the JVM keeps getting faster for several passes after warm-up. */
object BatchSuite {
  val pinned: Seq[String] = Seq(
    // loop families: many small jobs, driver-only gaps between them
    "q_incr_clusters", "q_bpe_train",
    // the reference's own batch surface
    "q_event_agg", "q_sessions", "q_perf", "q_overview",
    // pure job overhead
    "q_filter_proj")

  def run(spark: SparkSession, conf: Conf, rep: Report, tr: Tracer,
          layers: Option[SparkLayers]): Unit = {
    val dir = conf.dataDir
    // warm-up pass, untimed and concurrent: JIT and codegen, and each
    // result written for the oracle check
    val warm = graft.Engine.inParallel(pinned.map(q => () =>
      try {
        SparkEntry.queries(q)(spark, dir).coalesce(1).write.mode("overwrite")
          .parquet(s"${conf.workDir}/results/$q")
        None
      } catch { case e: Exception => Some(s"$q failed: ${e.getMessage}") }): _*)
    warm.flatten.foreach(rep.check(_, ok = false))
    val oracle = SparkEntry.oracleSql.filter { case (q, _) => pinned.contains(q) }
    java.nio.file.Files.write(java.nio.file.Paths.get(s"${conf.workDir}/oracle_sql.json"),
      Json.obj(oracle.toSeq.sortBy(_._1)).getBytes("UTF-8"))

    val times = mutable.LinkedHashMap(pinned.map(_ -> mutable.ArrayBuffer.empty[Double]): _*)
    val spans = mutable.ArrayBuffer.empty[(String, Double, Double)]
    val m0 = Clock.nowMs
    rep.firstTimedOpMs = m0
    var passes = 0
    val passMs = mutable.ArrayBuffer.empty[Double]
    while (passes < 4 || (Clock.nowMs - m0 < conf.seconds * 1000.0 && passes < 6)) {
      val p0 = Clock.nowMs
      tr.span("batch.pass", s"pass$passes") { passId => pinned.foreach { q =>
        // a sub-second query runs up to 3 times in a pass
        val reps = mutable.ArrayBuffer.empty[Double]
        while (reps.isEmpty || (reps.size < 3 && reps.sum < 1000.0)) {
          val a = Clock.nowMs
          try tr.span(q, s"pass$passes", passId) { _ =>
            SparkEntry.queries(q)(spark, dir).write.format("noop").mode("overwrite").save()
          } catch { case e: Exception => rep.check(s"$q failed: ${e.getMessage}", ok = false) }
          val b = Clock.nowMs
          reps += b - a
          spans += ((q, a, b))
        }
        times(q) ++= reps
      }}
      passes += 1
      passMs += Clock.nowMs - p0
    }
    rep.timedEndMs = Clock.nowMs
    val perQuery = times.view.mapValues(_.min).toSeq
    val ms = perQuery.map(_._2)
    val suiteS = ms.sum / 1000
    rep.put("throughput_per_s", pinned.size / suiteS, "1/s", passes)
    rep.put("suite_s", suiteS, "s", passes)
    rep.put("geomean_ms", Stats.geomean(ms), "ms", ms.size)
    rep.setting("queries", pinned)
    rep.fact("passes", passes)
    rep.fact("pass_ms", passMs.toSeq)
    rep.fact("query_ms", perQuery.toMap)

    layers.foreach { l =>
      l.drain()
      pinned.foreach { q =>
        val mine = spans.filter(_._1 == q).map { case (_, a, b) => l.window(a, b, conf.cores) }
        def avg(k: String) = mine.map(_(k)).sum / mine.size
        rep.put(s"$q.plan_ms", avg("plan_ms"), "ms", mine.size)
        rep.put(s"$q.jobs", avg("jobs"), "count", mine.size)
        rep.put(s"$q.driver_only_s", avg("driver_only_s"), "s", mine.size)
        rep.put(s"$q.task_s", avg("task_s"), "s", mine.size)
      }
    }
  }
}
