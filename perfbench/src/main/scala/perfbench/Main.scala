package perfbench

import org.apache.spark.sql.SparkSession

/** Benchmark entry point, started by `perfbench/run.py` with key=value
  * arguments. Runs one workload, checks its outputs and prints one line
  * `PERFBENCH_RESULT <json>`: the run config, the metrics, and the
  * operations attempted and failed. */
object Main {
  def session(cores: Int, workDir: String): SparkSession = {
    val spark = graft.Engine.sessionBuilder(cores)
      .config("spark.local.dir", s"$workDir/spark-local")
      .config("spark.sql.warehouse.dir", s"$workDir/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** Parquet files under each `<dir>/<name>`. */
  def countFiles(dir: String, names: Seq[String]): Map[String, Long] = names.map { n =>
    val p = java.nio.file.Paths.get(dir, n)
    n -> (if (!java.nio.file.Files.exists(p)) 0L else {
      val s = java.nio.file.Files.walk(p)
      try s.filter(_.toString.endsWith(".parquet")).count() finally s.close()
    })
  }.toMap

  /** The constant-work query from `graft.Bench`, scaled down: host noise
    * shows here first. */
  def sentinelMs(spark: SparkSession): Double = {
    val t0 = Clock.nowMs
    spark.range(0, 16L * 1000L * 1000L, 1, 8)
      .selectExpr("id % 97 AS k", "(id * 2654435761) % 1000003 AS v")
      .groupBy("k").agg(org.apache.spark.sql.functions.sum("v"))
      .write.format("noop").mode("overwrite").save()
    Clock.nowMs - t0
  }

  /** Streaming, HTTP and pool threads outlive a failed workload: leave
    * with an exit code either way. */
  def main(args: Array[String]): Unit = {
    val code = try { run(args); 0 } catch { case e: Throwable => e.printStackTrace(); 1 }
    System.exit(code)
  }

  def run(args: Array[String]): Unit = {
    val kv = args.map(_.split("=", 2)).map(a => a(0) -> a(1)).toMap
    val conf = Conf(kv("workload"), kv("seed").toLong, kv("seconds").toInt,
      kv("trace") == "1", kv("cores").toInt, kv("driver_memory"), kv("data"),
      kv("work"), kv("start_ms").toLong, kv("size") == "tiny", kv("corrupt") == "1")
    var spark = session(conf.cores, conf.workDir)
    val rep = new Report
    rep.fact("spark_ready_s", (Clock.nowMs - conf.startEpochMs) / 1000)
    val tr = new Tracer(conf.trace)
    val layers = if (conf.trace) Some(new SparkLayers(spark).attach()) else None
    val sentinels = scala.collection.mutable.ArrayBuffer.empty[Double]
    if (conf.trace) { sentinelMs(spark); sentinels += sentinelMs(spark) }

    conf.workload match {
      case "ingest_1k" => Ingest.run(spark, conf, rep, tr, layers)
      case "backfill" => Backfill.run(spark, conf, rep, tr, layers)
      case "batch_suite" => BatchSuite.run(spark, conf, rep, tr, layers)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    rep.put("setup_s", (rep.firstTimedOpMs - conf.startEpochMs) / 1000, "s")

    if (conf.trace) {
      sentinels += sentinelMs(spark)
      rep.put("host.sentinel_ms", Stats.median(sentinels.toSeq), "ms", sentinels.size)
      layers.foreach { l =>
        l.detach()
        l.window(rep.firstTimedOpMs, rep.timedEndMs, conf.cores).foreach { case (k, v) =>
          val unit = if (k.endsWith("_s")) "s" else if (k.endsWith("_bytes")) "bytes"
                     else if (k.endsWith("_ms")) "ms" else if (k == "utilization") "frac" else "count"
          rep.put(s"spark.$k", v, unit)
        }
      }
      // the single-threaded reference for the catch-up path
      if (conf.workload == "backfill") {
        spark.stop()
        spark = session(1, conf.workDir)
        val c = Backfill.catchUp(spark, conf.dataDir, s"${conf.workDir}/one-core", new Tracer(false), None)
        rep.put("backfill.rows_per_s_1core",
          Backfill.inputRows(spark, conf.dataDir) * 1000.0 / c.wallMs, "1/s")
      }
      tr.write(kv("spans"))
    }
    rep.fact("result_s", (Clock.nowMs - conf.startEpochMs) / 1000)
    println("PERFBENCH_RESULT " + rep.json(conf))
    spark.stop()
  }
}
