package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import graft.{CalabrioPipeline, Pipeline, Schemas}
import graft.operators.Queries
import org.apache.spark.sql.SparkSession

object Forms {
  /** The committed fixture forms, verbatim and as shapes. */
  def load(spark: SparkSession): (String, Vector[FormShape]) = {
    val path = Paths.get("fixtures", "forms.json")
    val json = Files.readString(path)
    val shapes = spark.read.option("multiLine", true).schema(Schemas.forms).json(path.toString)
      .collect().toVector.map { f =>
        def seq(r: org.apache.spark.sql.Row, i: Int) =
          if (r.isNullAt(i)) Vector.empty[org.apache.spark.sql.Row] else r.getSeq[org.apache.spark.sql.Row](i).toVector
        FormShape(f.getLong(0), seq(f, 2).map { s =>
          (s.getLong(0), seq(s, 3).map(q => (q.getLong(0), seq(q, 3).map(_.getLong(0)))))
        })
      }.sortBy(_.id)
    (json, shapes)
  }
}

/** `pipeline_initial` (restate = false): every iteration clears the
  * targets and runs `fullRun` over all eight windows.
  * `pipeline_restate` (restate = true): setup lands the full state,
  * then every iteration re-extracts the last window, whose source data
  * was restated; replays must leave every target unchanged.
  * After each run the reference's analytic reads go over the fresh
  * targets through `registerViews`.
  */
final class PipelineWorkload(ctx: Ctx, restate: Boolean) extends Workload {
  import ctx.spark

  private val volume = Volume(ctx.opts.volume)
  private val seed = ctx.opts.seed
  private var dir: Path = _
  private var config: CalabrioPipeline.Config = _
  private var windows: Seq[graft.sources.Ingest.DateWindow] = Nil
  private var store = ""
  private var expected: Model = _
  private var inputBytes = 0L
  private var replayRef = Map.empty[String, (Long, String)]

  val unitMs = mutable.ArrayBuffer.empty[(Boolean, Double)]
  private val writeMs = mutable.ArrayBuffer.empty[Double]
  private val readMs = mutable.ArrayBuffer.empty[Double]
  private val layer = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  private var stageFailures = 0L

  private def targetsDir = dir.resolve("targets")

  def setup(d: Path): Unit = {
    dir = d
    config = CalabrioPipeline.Config(d.resolve("stage").toString, targetsDir.toString)
    val (formsJson, forms) = Forms.load(spark)
    val initial = Payloads.generate(seed, volume, forms)
    store = s"${d.getFileName}-${if (restate) "restated" else "initial"}"
    if (!restate) {
      val p = Payloads.render(initial, volume, formsJson)
      PayloadStore.put(store, p)
      windows = p.windows
      expected = initial
      inputBytes = p.bytes
    } else {
      val landed = s"${d.getFileName}-initial"
      val p1 = Payloads.render(initial, volume, formsJson)
      PayloadStore.put(landed, p1)
      fullRun(p1.windows, landed).foreach(rs =>
        ctx.check(rs.forall(_.error.isEmpty), s"landing run failed: ${rs.filter(_.error.nonEmpty)}"))
      PayloadStore.remove(landed)
      val restated = Payloads.restate(seed, initial, volume.windows - 1)
      val p2 = Payloads.render(restated, volume, formsJson)
      PayloadStore.put(store, p2)
      windows = Seq(p2.windows.last)
      expected = restated
      inputBytes = p2.bytes
      replayRef = Map.empty
    }
  }

  def warmUp(): Unit = {
    iterate(traced = false)
    Seq(unitMs, writeMs, readMs).foreach(_.clear())
  }

  def release(): Unit = {
    PayloadStore.remove(store)
    expected = null
  }

  private def fullRun(ws: Seq[graft.sources.Ingest.DateWindow], id: String): Option[Seq[Pipeline.StageResult]] =
    ctx.op("fullRun")(CalabrioPipeline.fullRun(
      spark, config, ws, FormsFetcher(id), ContactsFetcher(id), EvalsFetcher(id),
      TranscriptsFetcher(id), CommentsFetcher(id)))

  def iterate(traced: Boolean): Unit = {
    val tr = ctx.tracer
    if (!restate) FsStats.delete(targetsDir)
    val fetch0 = FetchStats.snapshot()
    val it0 = tr.now()
    val t0 = System.nanoTime()
    val results = fullRun(windows, store)
    val runMs = Stats.millisSince(t0)
    val runEnd = tr.now()
    results.foreach { rs =>
      // fullRun isolates a failed stage; each stage is an operation
      ctx.attempted += rs.size - 1
      rs.filter(_.error.nonEmpty).foreach { r =>
        ctx.failed += 1
        stageFailures += 1
        System.err.println(s"[perfbench] stage ${r.name} failed: ${r.error.get}")
      }
    }
    val a0 = System.nanoTime()
    val reads = tr.span("analytics", "read")(analytics())
    val readEnd = tr.now()
    readMs += Stats.millisSince(a0)
    writeMs += runMs
    unitMs += ((traced, runMs))
    ctx.checking(tr.span("checks", "check")(checkTargets(reads)))
    if (traced) results.foreach(rs => recordLayers(rs, it0, runEnd, readEnd, FetchStats.snapshot() - fetch0))
  }

  /** The reference's analytic reads; returns each read's row count. */
  private def analytics(): Map[String, Long] = {
    val views = CalabrioPipeline.registerViews(spark, config)
    ctx.check(views.size == 7, s"registerViews registered $views")
    def read(name: String)(rows: => Array[org.apache.spark.sql.Row]): Option[(String, Long)] =
      ctx.op(name)(ctx.tracer.span(name, "read")(name -> rows.length.toLong))
    val troubleshooting = ctx.op("troubleshooting")(ctx.tracer.span("troubleshooting", "read")(spark.sql(
      """SELECT (SELECT count(*) FROM t_qa_contacts),
        |       (SELECT count(*) FROM t_qa_evaluations),
        |       (SELECT count(*) FROM t_qa_evaluation_comments)""".stripMargin).head()))
    troubleshooting.foreach { r =>
      val want = expected.expectedRows
      ctx.check(Seq(r.getLong(0), r.getLong(1), r.getLong(2)) ==
        Seq(want("t_qa_contacts"), want("t_qa_evaluations"), want("t_qa_evaluation_comments")),
        s"troubleshooting counts $r != $want")
    }
    Seq(
      read("trouble_children")(Queries.troubleChildren(spark.table("t_qa_evaluations")).collect()),
      read("running_tally")(spark.sql(
        """SELECT dt, tally,
          |       sum(tally) OVER (ORDER BY dt ROWS BETWEEN 4 PRECEDING AND CURRENT ROW) AS running_tally
          |FROM (SELECT to_date(contact_start_time) AS dt, count(contact_id) AS tally
          |      FROM t_qa_contacts WHERE contact_start_time IS NOT NULL GROUP BY 1)
          |ORDER BY running_tally DESC, dt""".stripMargin).collect()),
      read("reconcile")(spark.sql(
        """SELECT DISTINCT e.contact_id
          |FROM t_qa_evaluations e LEFT JOIN t_qa_contacts c ON e.contact_id = c.contact_id
          |WHERE c.contact_id IS NOT NULL ORDER BY 1""".stripMargin).collect())).flatten.toMap
  }

  private def checkTargets(reads: Map[String, Long]): Unit = {
    ctx.check(reads.get("trouble_children").forall(_ == expected.troubleChildren),
      s"trouble_children rows ${reads.get("trouble_children")} != ${expected.troubleChildren}")
    ctx.check(reads.get("running_tally").forall(_ == expected.contactDays),
      s"running_tally rows ${reads.get("running_tally")} != ${expected.contactDays}")
    ctx.check(reads.get("reconcile").forall(_ == expected.reconciledContacts),
      s"reconcile rows ${reads.get("reconcile")} != ${expected.reconciledContacts}")
    val prints = ctx.fingerprints(CalabrioPipeline.targetTables(config).toSeq.sortBy(_._1).map {
      case (name, path) => name -> spark.read.parquet(path)
    })
    val want = expected.expectedRows
    prints.foreach { case (name, fp) =>
      ctx.check(fp._1 == want(name), s"$name has ${fp._1} rows, the generator implies ${want(name)}")
      ctx.checkRecorded(name, fp)
    }
    if (restate) {
      if (replayRef.isEmpty) replayRef = prints
      else ctx.check(prints == replayRef, s"replay changed targets: $prints != $replayRef")
    }
  }

  private val mergeStages = Set("replace_forms", "merge_contacts", "merge_evaluations", "rebuild_scores",
    "rebuild_transcripts", "rebuild_comments", "backup_mirror")

  private def recordLayers(
      rs: Seq[Pipeline.StageResult], start: Double, runEnd: Double, end: Double,
      fetch: FetchStats.Snapshot): Unit = {
    val tr = ctx.tracer
    tr.drain()
    def add(k: String, v: Double): Unit = layer.getOrElseUpdate(k, mutable.ArrayBuffer.empty) += v
    tr.record("iteration", "iteration", start, end)
    tr.record("fullRun", "fullRun", start, runEnd)
    val intervals = rs.scanLeft(start)(_ + _.millis).zip(rs)
    val stageWork = intervals.map { case (s, r) =>
      tr.record(r.name, "stage", s, s + r.millis)
      add(s"pipeline.stage_ms.${r.name}", r.millis.toDouble)
      r.name -> tr.work(s, s + r.millis)
    }.toMap
    val runWall = runEnd - start
    add("pipeline.driver_ms", runWall - tr.work(start, runEnd).jobCoveredMs)
    add("pipeline.unattributed_ms", runWall - rs.map(_.millis).sum)
    val fetchMs = fetch.nanos / 1e6
    add("ingest.fetch_calls", fetch.calls.toDouble)
    add("ingest.fetch_ms", fetchMs)
    add("ingest.fetch_bytes", fetch.bytes.toDouble)
    add("ingest.empty_fetch_ratio", if (fetch.calls == 0) 0.0 else fetch.empty.toDouble / fetch.calls)
    add("ingest.extract_overhead_ms", rs.filter(_.name.startsWith("extract_")).map(_.millis).sum - fetchMs)
    val (stageFiles, stageBytes) = FsStats.usage(Paths.get(config.stageDir))
    val (targetFiles, targetBytes) = FsStats.usage(targetsDir)
    add("sinks.stage_files", stageFiles.toDouble)
    add("sinks.stage_bytes", stageBytes.toDouble)
    add("sinks.target_files", targetFiles.toDouble)
    add("sinks.target_bytes", targetBytes.toDouble)
    val all = tr.work(start, end)
    add("sinks.bytes_written_per_input_byte", all.bytesWritten.toDouble / math.max(1L, fetch.bytes))
    val merged = stageWork.collect { case (n, w) if mergeStages(n) => w.recordsWritten }.sum
    val staged = stageWork.collect { case (n, w) if n.startsWith("extract_") => w.recordsWritten }.sum
    add("maintenance.rows_written", merged.toDouble)
    add("maintenance.rows_rewritten_per_staged_row", merged.toDouble / math.max(1L, staged))
    Engine.record(add, all, end - start, ctx.cores)
  }

  def endToEnd: Map[String, Double] = Map(
    "write_ms_p50" -> Stats.median(writeMs.toSeq),
    "read_ms_p50" -> Stats.median(readMs.toSeq),
    "stored_bytes_per_input_byte" -> FsStats.usage(targetsDir)._2.toDouble / inputBytes)

  def perLayer: Map[String, Double] =
    layer.map { case (k, xs) => k -> Stats.median(xs.toSeq) }.toMap +
      ("pipeline.stage_failures" -> stageFailures.toDouble)
}

/** Spark-engine per-layer metrics over one iteration. */
object Engine {
  def record(add: (String, Double) => Unit, w: Work, wallMs: Double, cores: Int): Unit = {
    add("spark.jobs", w.jobs.toDouble)
    add("spark.tasks", w.tasks.toDouble)
    add("spark.task_run_ms", w.runMs.toDouble)
    add("spark.task_cpu_ms", w.cpuMs.toDouble)
    add("spark.core_util", w.runMs / (wallMs * cores))
    add("spark.shuffle_read_bytes", w.shuffleRead.toDouble)
    add("spark.shuffle_write_bytes", w.shuffleWrite.toDouble)
    add("spark.spill_bytes", w.spill.toDouble)
    add("spark.gc_ms", w.gcMs.toDouble)
    add("catalyst.planning_ms", w.planningMs.toDouble)
    add("catalyst.query_executions", w.queryExecutions.toDouble)
  }
}
