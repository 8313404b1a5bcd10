package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Run-wide state: the session, the operation ledger behind
  * `attempted`/`failed`, the tracer, and the recorded table hashes.
  */
final class Ctx(
    val spark: SparkSession, val opts: Opts, val tracer: Tracer,
    recorded: Map[(String, String), (Long, String)]) {
  var attempted = 0L
  var failed = 0L
  /** Time spent in correctness checks, kept out of setup_s. */
  var checkNanos = 0L
  val observed = mutable.LinkedHashMap.empty[(String, String), (Long, String)]
  val cores: Int = spark.sparkContext.defaultParallelism

  /** One operation of the workload: a failure is counted, logged and swallowed. */
  def op[A](name: String)(body: => A): Option[A] = {
    attempted += 1
    try Some(body)
    catch {
      case e: Throwable =>
        failed += 1
        System.err.println(s"[perfbench] operation $name failed: $e")
        None
    }
  }

  /** A correctness check on an operation already counted as attempted. */
  def check(ok: Boolean, what: => String): Unit =
    if (!ok) {
      failed += 1
      System.err.println(s"[perfbench] check failed: $what")
    }

  def checking[A](body: => A): A = {
    val t0 = System.nanoTime()
    try body finally checkNanos += System.nanoTime() - t0
  }

  /** Row count and order-independent content hash of each frame, in one job. */
  def fingerprints(dfs: Seq[(String, DataFrame)]): Map[String, (Long, String)] =
    dfs.map { case (name, df) =>
      df.select(xxhash64(df.columns.map(c => col(s"`$c`")): _*).cast("decimal(38,0)").as("h"))
        .agg(lit(name), count(lit(1)), coalesce(sum(col("h")), lit(0)).cast("string"))
    }.reduce(_ union _).collect().map(r => r.getString(0) -> (r.getLong(1), r.getString(2))).toMap

  /** Compares with the fingerprint recorded at the default seed and volume. */
  def checkRecorded(table: String, fp: (Long, String)): Unit = {
    val key = (opts.workload, table)
    observed(key) = fp
    if (opts.seed == Opts.DefaultSeed && opts.volume == Opts.DefaultVolume)
      check(recorded.get(key).contains(fp), s"$table fingerprint $fp != recorded ${recorded.get(key)}")
  }
}

final case class Opts(
    workload: String, seed: Long, seconds: Int, trace: Boolean, work: Path,
    volume: Double, expected: Option[Path], record: Option[Path])

object Opts {
  val DefaultSeed = 1L
  val DefaultVolume = 0.0625

  def parse(args: Array[String]): Opts = {
    val kv = args.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => throw new IllegalArgumentException(s"bad arguments: ${other.mkString(" ")}")
    }.toMap
    val known = Set("workload", "seed", "seconds", "trace", "work", "volume", "expected", "record")
    require(kv.keySet.subsetOf(known), s"unknown options: ${kv.keySet -- known}")
    Opts(
      workload = kv.getOrElse("workload", throw new IllegalArgumentException("--workload is required")),
      seed = kv.get("seed").map(_.toLong).getOrElse(DefaultSeed),
      seconds = kv.get("seconds").map(_.toInt).getOrElse(10),
      trace = kv.get("trace").contains("1"),
      work = Paths.get(kv.getOrElse("work", ".bench_build/work")).toAbsolutePath,
      volume = kv.get("volume").map(_.toDouble).getOrElse(DefaultVolume),
      expected = kv.get("expected").map(Paths.get(_)),
      record = kv.get("record").map(Paths.get(_)))
  }
}

/** One closed-loop workload: `setup` generates the inputs and lands
  * the starting state under `dir`; `warmUp` runs one iteration whose
  * samples are dropped; `iterate` is one measured iteration. */
trait Workload {
  def setup(dir: Path): Unit
  def warmUp(): Unit
  def iterate(traced: Boolean): Unit
  /** Drops the benchmark's own inputs before the heap is measured. */
  def release(): Unit
  /** Wall time of each iteration's timed work, flagged when traced. */
  def unitMs: collection.Seq[(Boolean, Double)]
  /** End-to-end values other than setup_s and live_heap_mb. */
  def endToEnd: Map[String, Double]
  def perLayer: Map[String, Double]
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Least-squares slope of y over x. */
  def slope(pts: Seq[(Double, Double)]): Double = {
    val n = pts.size.toDouble
    val mx = pts.map(_._1).sum / n
    val my = pts.map(_._2).sum / n
    val sxx = pts.map { case (x, _) => (x - mx) * (x - mx) }.sum
    if (sxx == 0) 0.0 else pts.map { case (x, y) => (x - mx) * (y - my) }.sum / sxx
  }

  def millisSince(t0: Long): Double = (System.nanoTime() - t0) / 1e6
}

object FsStats {
  /** (files, bytes) under `dir`, 0 when absent. */
  def usage(dir: Path): (Long, Long) =
    if (!Files.exists(dir)) (0L, 0L)
    else {
      val s = Files.walk(dir)
      try s.iterator().asScala.filter(Files.isRegularFile(_))
        .foldLeft((0L, 0L)) { case ((n, b), p) => (n + 1, b + Files.size(p)) }
      finally s.close()
    }

  def delete(dir: Path): Unit =
    if (Files.exists(dir)) {
      val s = Files.walk(dir)
      try s.iterator().asScala.toSeq.reverse.foreach(Files.delete) finally s.close()
    }
}
