package perfbench

import java.nio.file.{Files, StandardOpenOption}

import graft.Sessions

/** Benchmark entry point (driven by perfbench/run.py):
  * `--workload <name> --seed <n> --seconds <s> --trace <0|1>`.
  * Prints one JSON result as the last line of stdout; logs go to stderr.
  */
object Main {
  val Workloads: Seq[String] = Seq("pipeline_initial", "pipeline_restate", "evals_upsert_mor", "operator_mix")

  /** End-to-end metrics, printed with `--trace 0`. */
  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s",
    "write_ms_p50" -> "ms",
    "read_ms_p50" -> "ms",
    "stored_bytes_per_input_byte" -> "ratio",
    "live_heap_mb" -> "MB")

  private val Stages = Seq("purge_stage", "extract_forms", "replace_forms", "extract_contacts",
    "merge_contacts", "extract_evaluations", "merge_evaluations", "rebuild_scores",
    "extract_transcripts", "rebuild_transcripts", "extract_comments", "rebuild_comments", "backup_mirror")

  /** Per-layer metrics, printed with `--trace 1`; 0 where a workload
    * does not call the layer. */
  val PerLayer: Seq[(String, String)] =
    Stages.map(s => s"pipeline.stage_ms.$s" -> "ms") ++ Seq(
      "pipeline.driver_ms" -> "ms",
      "pipeline.unattributed_ms" -> "ms",
      "pipeline.stage_failures" -> "count",
      "ingest.fetch_calls" -> "count",
      "ingest.fetch_ms" -> "ms",
      "ingest.fetch_bytes" -> "bytes",
      "ingest.empty_fetch_ratio" -> "ratio",
      "ingest.extract_overhead_ms" -> "ms",
      "sinks.stage_files" -> "count",
      "sinks.stage_bytes" -> "bytes",
      "sinks.target_files" -> "count",
      "sinks.target_bytes" -> "bytes",
      "sinks.bytes_written_per_input_byte" -> "ratio",
      "maintenance.rows_written" -> "count",
      "maintenance.rows_rewritten_per_staged_row" -> "ratio",
      "snapshot.commit_jobs" -> "count",
      "snapshot.commit_tasks" -> "count",
      "snapshot.commit_driver_ms" -> "ms",
      "snapshot.commit_files_added" -> "count",
      "snapshot.read_jobs" -> "count",
      "snapshot.read_ms_per_pending_epoch" -> "ms",
      "snapshot.fold_ms" -> "ms",
      "snapshot.fold_bytes_rewritten" -> "bytes",
      "snapshot.vacuum_ms" -> "ms",
      "snapshot.table_files" -> "count",
      "snapshot.manifest_bytes" -> "bytes",
      "spark.jobs" -> "count",
      "spark.tasks" -> "count",
      "spark.task_run_ms" -> "ms",
      "spark.task_cpu_ms" -> "ms",
      "spark.core_util" -> "ratio",
      "spark.shuffle_read_bytes" -> "bytes",
      "spark.shuffle_write_bytes" -> "bytes",
      "spark.spill_bytes" -> "bytes",
      "spark.gc_ms" -> "ms",
      "catalyst.planning_ms" -> "ms",
      "catalyst.query_executions" -> "count",
      "trace.overhead_ratio" -> "ratio") ++
    OperatorWorkload.Rows.flatMap(r => Seq(s"op.${r}_s" -> "s", s"op.$r.core_util" -> "ratio"))

  def main(args: Array[String]): Unit = {
    val opts = Opts.parse(args)
    require(Workloads.contains(opts.workload), s"unknown workload ${opts.workload}; one of ${Workloads.mkString(", ")}")
    require(opts.seconds >= 1, "--seconds must be positive")
    val t0 = System.nanoTime()
    val spark = Sessions.local(Runtime.getRuntime.availableProcessors().toString)
    spark.sparkContext.setLogLevel("ERROR")
    Sessions.quietBoundedWindowWarning()
    val sessionMs = Stats.millisSince(t0)

    val recorded = opts.expected.filter(Files.exists(_)).map(Recorded.load).getOrElse(Map.empty)
    val tracer = new Tracer
    val ctx = new Ctx(spark, opts, tracer, recorded)
    val workload: Workload = opts.workload match {
      case "pipeline_initial" => new PipelineWorkload(ctx, restate = false)
      case "pipeline_restate" => new PipelineWorkload(ctx, restate = true)
      case "evals_upsert_mor" => new MorWorkload(ctx)
      case "operator_mix" => new OperatorWorkload(ctx)
    }
    val root = opts.work.resolve(s"${opts.workload}-${opts.seed}")
    FsStats.delete(root)
    try {
      // set-up is charged with generation, seeding and two warm-up
      // iterations (after one the JIT is still compiling, and the next
      // iteration runs 10-30% faster); the time of correctness checks
      // is kept out of it
      val c0 = ctx.checkNanos
      val s0 = System.nanoTime()
      workload.setup(root)
      (1 to 2).foreach(_ => workload.warmUp())
      val setupMs = sessionMs + Stats.millisSince(s0) - (ctx.checkNanos - c0) / 1e6
      // closed loop, one client, at least two iterations so a slow run
      // still takes its medians over the same work; with --trace 1 odd
      // iterations are traced and even ones give the untraced baseline
      // for the overhead
      val loop0 = System.nanoTime()
      var i = 0
      while (i < 2 || System.nanoTime() - loop0 < opts.seconds * 1000000000L) {
        val traced = opts.trace && i % 2 == 1
        if (traced) tracer.attach(spark)
        try workload.iterate(traced) finally if (traced) tracer.detach(spark)
        i += 1
      }
      val metrics: Seq[(String, Double, String)] =
        if (opts.trace) {
          val traced = workload.unitMs.collect { case (true, ms) => ms }.toSeq
          val plain = workload.unitMs.collect { case (false, ms) => ms }.toSeq
          val values = workload.perLayer +
            ("trace.overhead_ratio" -> (Stats.median(traced) / Stats.median(plain) - 1))
          val spans = tracer.write(opts.work.getParent.resolve("traces").resolve(s"${opts.workload}-${opts.seed}.jsonl"))
          System.err.println(s"[perfbench] wrote $spans spans")
          PerLayer.map { case (n, u) => (n, values.getOrElse(n, 0.0), u) }
        } else {
          val values = workload.endToEnd + ("setup_s" -> setupMs / 1000.0)
          // the heap is measured once the benchmark's own inputs are dropped
          workload.release()
          val all = values + ("live_heap_mb" -> liveHeapMb())
          EndToEnd.map { case (n, u) => (n, all(n), u) }
        }
      opts.record.foreach(Recorded.append(_, ctx.observed.toMap))
      System.err.println(s"[perfbench] ${opts.workload} seed ${opts.seed}: $i iterations " +
        s"(${workload.unitMs.map(u => f"${u._2 / 1000}%.2f").mkString(" ")} s), " +
        f"session ${sessionMs / 1000}%.2f s, set-up ${setupMs / 1000}%.2f s")
      println(Json.obj(Seq(
        "correct" -> (ctx.failed == 0),
        "attempted" -> ctx.attempted,
        "failed" -> ctx.failed,
        "metrics" -> metrics.map { case (n, v, u) => n -> Map("value" -> v, "unit" -> u) }.toMap)))
    } finally {
      spark.stop()
      FsStats.delete(root)
    }
  }

  /** Driver heap in use after a full collection. */
  private def liveHeapMb(): Double = {
    val rt = Runtime.getRuntime
    (1 to 3).foreach { _ => System.gc(); Thread.sleep(50) }
    (rt.totalMemory() - rt.freeMemory()) / (1024.0 * 1024.0)
  }
}

/** Table fingerprints recorded at the default seed and volume, one
  * tab-separated `workload table rows hash` line each. */
object Recorded {
  def load(p: java.nio.file.Path): Map[(String, String), (Long, String)] =
    Files.readAllLines(p).toArray(Array.empty[String]).toSeq.filter(_.trim.nonEmpty).map { l =>
      val Array(w, t, n, h) = l.split("\t")
      (w, t) -> (n.toLong, h)
    }.toMap

  def append(p: java.nio.file.Path, fps: Map[(String, String), (Long, String)]): Unit = {
    val lines = fps.toSeq.sortBy(_._1).map { case ((w, t), (n, h)) => s"$w\t$t\t$n\t$h\n" }.mkString
    Files.writeString(p, lines, StandardOpenOption.CREATE, StandardOpenOption.APPEND): Unit
  }
}
