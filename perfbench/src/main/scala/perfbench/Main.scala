package perfbench

import org.apache.spark.sql.SparkSession

import java.nio.file.{Files, Paths}

/** One benchmark run in its own JVM:
  * `perfbench.Main --workload W --seed N --seconds S --trace 0|1 --work DIR --cores C --out FILE`.
  * Writes the result object to FILE; with tracing on, also writes the
  * spans as JSON lines to `DIR/../traces/`. Workload `train` measures
  * nothing: it only loads the classes runs need (see `Workloads.train`). */
object Main {

  /** End-to-end metrics with their units, in BENCHMARK.json order. */
  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "op_p50_ms" -> "ms", "lookup_p50_ms" -> "ms",
    "store_bytes_per_doc" -> "B", "retained_heap_mb" -> "MB")

  /** Per-layer metrics with their units. A workload that bypasses a
    * layer reports 0 for it. */
  val PerLayer: Seq[(String, String)] = Seq(
    "sync.plan_s" -> "s", "sync.plan_source_mb" -> "MB",
    "sync.buckets_rewritten_per_round" -> "count", "sync.bytes_written_per_change" -> "B",
    "sync.store_files" -> "count", "sync.lookup_mb_read" -> "MB",
    "sync.bootstrap_s" -> "s", "serve.build_s" -> "s",
    "spark.jobs_per_op" -> "count", "spark.tasks_per_op" -> "count",
    "spark.shuffle_mb_per_op" -> "MB", "spark.gc_ms_per_op" -> "ms",
    "spark.core_busy_ratio" -> "ratio",
    "serve.lexical_ms" -> "ms", "serve.dense_ms" -> "ms",
    "serve.mb_read_per_call" -> "MB", "serve.snapshot_files" -> "count",
    "trace.overhead_ratio" -> "ratio")

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def arg(k: String) = args.getOrElse(k, sys.error(s"missing --$k"))
    val workload = arg("workload")
    require(Workloads.Names.contains(workload) || workload == "train", s"unknown workload $workload")
    val seed = arg("seed").toLong
    val seconds = arg("seconds").toDouble
    val trace = arg("trace") == "1"
    val work = Paths.get(arg("work")).toAbsolutePath
    val cores = arg("cores").toInt
    val out = Paths.get(arg("out"))
    Files.createDirectories(work)

    val t0 = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.range(1).collect()
    val sessionS = (System.nanoTime() - t0) / 1e9

    val tracer = if (trace) Some(new Tracer(spark)) else None
    val ctx = new RunContext(spark, seed, seconds, work, cores, tracer)
    ctx.log("session up")
    if (workload == "train") {
      Workloads.train(ctx)
      spark.stop()
      System.exit(0)
    }
    val o = Workloads.run(workload, ctx)
    tracer.foreach(_.write(work.getParent.resolve("traces").resolve(s"$workload-seed$seed.jsonl")))

    // Spark drops broadcast and shuffle state from a cleaner thread once
    // its references are collected; repeated collections let it catch up
    val heap = (1 to 3).map { _ =>
      System.gc()
      Thread.sleep(300)
      java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    }.min
    o.failures.take(20).foreach { case (what, msg) => ctx.log(s"FAILED $what: $msg") }

    val setup = sessionS + o.bootstrapS + o.warmupS
    val metrics: Seq[(String, String, Double)] =
      if (trace) PerLayer.map { case (n, u) => (n, u, o.layers.getOrElse(n, 0.0)) }
      else {
        val v = Map(
          "setup_s" -> setup,
          "op_p50_ms" -> Stats.median(o.opsMs),
          "lookup_p50_ms" -> Stats.median(o.lookupsMs),
          "store_bytes_per_doc" -> o.storeBytesPerDoc,
          "retained_heap_mb" -> heap / (1024.0 * 1024.0))
        EndToEnd.map { case (n, u) => (n, u, v(n)) }
      }
    ctx.log(f"$workload seed=$seed ops=${o.opsMs.size} session=$sessionS%.2fs " +
      f"bootstrap=${o.bootstrapS}%.2fs warmup=${o.warmupS}%.2fs " +
      s"ops_ms=${o.opsMs.map(x => f"$x%.0f").mkString(",")} lookups_ms=${o.lookupsMs.map(x => f"$x%.0f").mkString(",")}")
    val failed = o.failures.map(_._1).distinct.size
    val json = s"""{"correct": ${o.failures.isEmpty}, "attempted": ${o.attempted}, "failed": $failed, "metrics": {""" +
      metrics.map { case (n, u, x) => s""""$n": {"value": ${num(x)}, "unit": "$u"}""" }.mkString(", ") + "}}"
    Files.writeString(out, json + "\n")
    spark.stop()
    System.exit(0)
  }

  private def num(x: Double): String =
    if (x.isNaN || x.isInfinite) "null" else java.math.BigDecimal.valueOf(x).toPlainString
}
