package perfbench

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryProgress

import graft.operators.{EventAggregator, PerformanceTracker, SessionTracker}

/** What the streaming workloads share: the three query names, the
  * trigger-loop and state layer figures read off query progress, and
  * the check of stored rows against the batch transforms. */
object Streams {
  val names: Seq[String] = Seq("event_metrics", "session_metrics", "performance_metrics")

  def watermarkMs(p: StreamingQueryProgress): Option[Long] =
    Option(p.eventTime.get("watermark")).map(java.time.Instant.parse(_).toEpochMilli)
  def startMs(p: StreamingQueryProgress): Double = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
  def dur(p: StreamingQueryProgress, k: String): Double =
    Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)
  def endMs(p: StreamingQueryProgress): Double = startMs(p) + dur(p, "triggerExecution")

  /** Trigger-loop and state metrics per query, `<query>.<metric>`. A
    * query absent from `ps` reports zeros: its layer was bypassed. */
  def layerMetrics(ps: Seq[StreamingQueryProgress], rep: Report): Unit =
    names.foreach { q =>
      val all = ps.filter(_.name == q)
      val data = all.filter(_.numInputRows > 0)
      val noData = all.filter(_.numInputRows == 0)
      def p50(xs: Seq[StreamingQueryProgress], k: String) = Stats.median(xs.map(dur(_, k)))
      val ops = all.map(_.stateOperators.toSeq)
      rep.put(s"$q.trigger_ms_p50", p50(data, "triggerExecution"), "ms", data.size)
      rep.put(s"$q.add_batch_ms", p50(data, "addBatch"), "ms", data.size)
      rep.put(s"$q.query_planning_ms", p50(data, "queryPlanning"), "ms", data.size)
      rep.put(s"$q.wal_commit_ms", p50(data, "walCommit"), "ms", data.size)
      rep.put(s"$q.commit_offsets_ms", p50(data, "commitOffsets"), "ms", data.size)
      rep.put(s"$q.batches", all.size.toDouble, "count")
      rep.put(s"$q.rows", all.map(_.numInputRows).sum.toDouble, "count")
      rep.put(s"$q.state_rows_max", (0L +: ops.map(_.map(_.numRowsTotal).sum)).max.toDouble, "count")
      rep.put(s"$q.state_bytes_max", (0L +: ops.map(_.map(_.memoryUsedBytes).sum)).max.toDouble, "bytes")
      rep.put(s"$q.state_commit_ms", Stats.median(ops.map(_.map(_.commitTimeMs).sum.toDouble)), "ms", ops.size)
      rep.put(s"$q.evict_batch_ms", p50(noData, "triggerExecution"), "ms", noData.size)
    }

  /** Batch forms of the three transforms over the same input, with the
    * column that says when a row closes. */
  def expected(events: DataFrame, eventWindow: String, perfWindow: String,
               gap: String): Seq[(String, DataFrame, String)] = Seq(
    ("event_metrics", EventAggregator.aggregate(events, windowDuration = eventWindow),
      "window_end_ms"),
    ("session_metrics", SessionTracker.sessions(events, gap = gap), "end_ms"),
    ("performance_metrics", PerformanceTracker.metrics(events, windowDuration = perfWindow),
      "window_end_ms"))

  /** Stored rows must equal the batch rows for the same keys, and every
    * batch row that closed at least `slackMs` before the query's final
    * watermark must be stored. With `corrupt` one expected row is
    * altered, which the check must catch. The three tables are checked
    * concurrently. */
  def checkStored(spark: SparkSession, outDir: String, events: DataFrame,
                  eventWindow: String, perfWindow: String, gap: String,
                  watermarks: Map[String, Long], slackMs: Long,
                  corrupt: Boolean, rep: Report): Unit = {
    val results = graft.Engine.inParallel(expected(events, eventWindow, perfWindow, gap).map {
      case (name, batch, endCol) => () =>
        // materialized before the `endCol` filter below: pushed under the
        // aggregate, a predicate on session_window's end filters events
        // before sessions merge and so changes which sessions exist
        val exp0 = batch.localCheckpoint()
        val exp = if (!corrupt || name != "event_metrics") exp0 else {
          val first = exp0.agg(min("window_start_ms")).head().getLong(0)
          exp0.withColumn("event_count",
            when(col("window_start_ms") === first, col("event_count") + 1)
              .otherwise(col("event_count")))
        }
        val cols: Seq[Column] = exp.columns.toSeq.map(col)
        val stored = spark.read.parquet(s"$outDir/$name").select(cols: _*)
        val extra = stored.exceptAll(exp).count()
        val missingRows = watermarks.get(name).toSeq.flatMap(wm =>
          exp.filter(col(endCol) <= wm - slackMs).exceptAll(stored).orderBy(col(endCol)).collect().toSeq)
        (name, extra, missingRows, stored.count())
    }: _*)
    results.foreach { case (name, extra, missingRows, n) =>
      rep.fact(s"$name.stored_rows", n)
      rep.check(s"$name: $extra stored rows differ from the batch transform", extra == 0)
      rep.check(s"$name: ${missingRows.size} closed rows missing from the store, first " +
        missingRows.take(3).mkString(" "), missingRows.isEmpty)
      rep.check(s"$name: no rows stored", n > 0)
    }
  }
}
