package perfbench

import java.nio.file.Path

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.Schemas
import graft.operators.Shred
import graft.sources.{Ingest, SnapshotTable}
import org.apache.spark.sql.{Encoders, Row}
import org.apache.spark.sql.types.StructType

/** `evals_upsert_mor`: setup commits the shredded evaluations to a
  * snapshot table. One iteration is a cycle over the lookback: four
  * merge-on-read upsert epochs, each holding the re-scored evaluations
  * of two extraction windows and followed by a head read; the cycle
  * ends with `applyDeletes`, then `vacuum` keeping the cycle's
  * versions. Neither extraction nor the pipeline merges run.
  */
final class MorWorkload(ctx: Ctx) extends Workload {
  import ctx.spark

  private val volume = Volume(ctx.opts.volume)
  /** Epochs per cycle. Each pending epoch adds a fixed cost to every head
    * read, so eight one-window epochs would not fit the run length. */
  private val Epochs = 4
  private var table = ""
  private var tableDir: Path = _
  private var schema: StructType = _
  private var base: Vector[Row] = Vector.empty
  private var epochRows: Vector[Vector[Row]] = Vector.empty
  private var inputBytes = 0L
  private var cycle = 0
  private var epoch = 0L

  val unitMs = mutable.ArrayBuffer.empty[(Boolean, Double)]
  private val commitMs = mutable.ArrayBuffer.empty[Double]
  private val readMs = mutable.ArrayBuffer.empty[Double]
  private val layer = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]

  def setup(d: Path): Unit = {
    tableDir = d.resolve("evaluations")
    table = tableDir.toString
    val (formsJson, forms) = Forms.load(spark)
    val model = Payloads.generate(ctx.opts.seed, volume, forms)
    val payloads = Payloads.render(model, volume, formsJson)
    inputBytes = payloads.evals.values.map(_.length.toLong).sum
    val docs = spark.createDataset(payloads.evals.values.toSeq)(Encoders.STRING)
    val shredded = Shred.evaluations(Ingest.parseDocs(docs, Schemas.evaluations))
    schema = shredded.schema
    base = shredded.collect().toVector.sortBy(_.getLong(0))
    ctx.checking {
      ctx.check(base.size.toLong == model.expectedRows("t_qa_evaluations"),
        s"shredded ${base.size} evaluations, the generator implies ${model.expectedRows("t_qa_evaluations")}")
      ctx.checkRecorded("evaluations", ctx.fingerprints(Seq("evaluations" -> frame(base)))("evaluations"))
    }
    ctx.op("commitAppend")(SnapshotTable.commitAppend(frame(base), table))
    val byId = base.map(r => r.getLong(0) -> r).toMap
    epochRows = Vector.tabulate(Epochs) { w =>
      model.evals.filter(e => e.scored && e.rescored && e.contact.window * Epochs / volume.windows == w)
        .map(_.id).distinct.sorted.map(byId)
    }
    cycle = 0
    epoch = 0
  }

  def warmUp(): Unit = {
    iterate(traced = false)
    Seq(unitMs, commitMs, readMs).foreach(_.clear())
  }

  def release(): Unit = {
    base = Vector.empty
    epochRows = Vector.empty
  }

  private def frame(rows: Seq[Row]) = spark.createDataFrame(rows.asJava, schema)

  private lazy val rawIdx = schema.fieldIndex("raw_score")
  private lazy val finalIdx = schema.fieldIndex("final_score")
  private lazy val respIdx = schema.fieldIndex("response_state")

  /** The image cycle `c` writes for a re-scored evaluation. */
  private def rescore(r: Row, c: Int): Row = {
    val v = r.toSeq.toArray
    v(rawIdx) = (r.getLong(rawIdx) + c + 1) % 101
    v(finalIdx) = r.getDouble(finalIdx) + 0.25 * (c + 1)
    v(respIdx) = Payloads.Responses((c + 1) % Payloads.Responses.size)
    Row.fromSeq(v.toSeq)
  }

  /** Runs one operation; returns its result, wall ms, and span bounds. */
  private def timed[A](name: String, kind: String, out: mutable.ArrayBuffer[Double])(
      body: => A): (Option[A], Double, Double, Double) = {
    val tr = ctx.tracer
    val s = tr.now()
    val t0 = System.nanoTime()
    val r = ctx.op(name)(tr.span(name, kind)(body))
    val ms = Stats.millisSince(t0)
    out += ms
    (r, ms, s, tr.now())
  }

  def iterate(traced: Boolean): Unit = {
    val tr = ctx.tracer
    val c = cycle
    cycle += 1
    val start = tr.now()
    val cycleMs = mutable.ArrayBuffer.empty[Double]
    val commits = mutable.ArrayBuffer.empty[(Double, Double, Double, Long)] // (ms, start, end, files added)
    val reads = mutable.ArrayBuffer.empty[(Double, Double, Double)]
    (0 until Epochs).foreach { w =>
      val batch = frame(epochRows(w).map(rescore(_, c)))
      val filesBefore = if (traced) FsStats.usage(tableDir)._1 else 0L
      val (v, ms, s, e) = timed("commitStreamUpsertMoR", "commit", cycleMs) {
        SnapshotTable.commitStreamUpsertMoR(batch, table, Seq("evaluation_id"), batchId = epoch, appId = "restate")
      }
      epoch += 1
      commitMs += ms
      v.foreach(x => ctx.check(x.nonEmpty, s"epoch ${epoch - 1} was taken for a replay"))
      commits += ((ms, s, e, if (traced) FsStats.usage(tableDir)._1 - filesBefore else 0L))
      val (_, rms, rs, re) = timed("read", "read", cycleMs) {
        SnapshotTable.read(spark, table).write.format("noop").mode("overwrite").save()
      }
      readMs += rms
      reads += ((rms, rs, re))
    }
    val (_, foldMs, fs, fe) = timed("applyDeletes", "fold", cycleMs)(SnapshotTable.applyDeletes(spark, table))
    val (_, vacMs, _, _) = timed("vacuum", "vacuum", cycleMs)(SnapshotTable.vacuum(spark, table, keepVersions = Epochs + 1))
    val end = tr.now()
    unitMs += ((traced, cycleMs.sum))
    ctx.checking(tr.span("checks", "check")(checkHead(c)))
    if (traced) {
      tr.drain()
      def add(k: String, v: Double): Unit = layer.getOrElseUpdate(k, mutable.ArrayBuffer.empty) += v
      tr.record("iteration", "iteration", start, end)
      commits.foreach { case (ms, s, e, files) =>
        val w = tr.work(s, e)
        add("snapshot.commit_jobs", w.jobs.toDouble)
        add("snapshot.commit_tasks", w.tasks.toDouble)
        add("snapshot.commit_driver_ms", ms - w.jobCoveredMs)
        add("snapshot.commit_files_added", files.toDouble)
      }
      reads.foreach { case (_, s, e) => add("snapshot.read_jobs", tr.work(s, e).jobs.toDouble) }
      add("snapshot.read_ms_per_pending_epoch",
        Stats.slope(reads.zipWithIndex.map { case ((ms, _, _), k) => ((k + 1).toDouble, ms) }.toSeq))
      add("snapshot.fold_ms", foldMs)
      add("snapshot.fold_bytes_rewritten", tr.work(fs, fe).bytesWritten.toDouble)
      add("snapshot.vacuum_ms", vacMs)
      add("snapshot.table_files", FsStats.usage(tableDir)._1.toDouble)
      add("snapshot.manifest_bytes", FsStats.usage(tableDir.resolve("_manifests"))._2.toDouble)
      Engine.record(add, tr.work(start, end), end - start, ctx.cores)
    }
  }

  /** The head must equal the latest image of every key. */
  private def checkHead(c: Int): Unit = {
    val rescored = epochRows.flatten.map(r => r.getLong(0) -> rescore(r, c)).toMap
    val want = base.map(r => rescored.getOrElse(r.getLong(0), r))
    val head = scala.util.Try(SnapshotTable.read(spark, table).collect().toVector.sortBy(_.getLong(0)))
    ctx.check(head.toOption.contains(want),
      s"cycle $c head (${head.map(_.size)} rows) differs from the latest images (${want.size} rows)")
  }

  def endToEnd: Map[String, Double] = Map(
    "write_ms_p50" -> Stats.median(commitMs.toSeq),
    "read_ms_p50" -> Stats.median(readMs.toSeq),
    "stored_bytes_per_input_byte" -> FsStats.usage(tableDir)._2.toDouble / inputBytes)

  def perLayer: Map[String, Double] = layer.map { case (k, xs) => k -> Stats.median(xs.toSeq) }.toMap
}
