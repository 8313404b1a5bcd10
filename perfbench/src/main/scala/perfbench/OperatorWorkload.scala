package perfbench

import java.nio.file.Path
import java.util.SplittableRandom

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.SparkEntry
import graft.sources.Sinks
import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

/** One generated input table of the operator rows. */
final case class OpTable(name: String, schema: StructType, rows: Vector[Row]) {
  /** Value bytes: 8 per long, 4 per float, UTF-8 length of strings. */
  def bytes: Long = rows.iterator.map(_.toSeq.iterator.map {
    case s: String => s.getBytes(java.nio.charset.StandardCharsets.UTF_8).length.toLong
    case xs: Seq[_] => 4L * xs.size
    case _ => 8L
  }.sum).sum
}

/** Seeded stand-ins for the testdata tables the seven operator rows
  * read, with only the columns they read. A volume share of 1/16 gives
  * a quarter of the sf0.01 row counts (125 documents and vectors, 375
  * customers, 3,750 orders over 500 parts and 25 suppliers). Index
  * rules fix every count and the planted near-duplicates; the seed
  * decides words, vectors and keys.
  */
object OpTables {
  private val Words = Vector("key", "agg", "row", "scan", "slow", "fast", "table", "value", "part",
    "hash", "merge", "batch", "window", "spark", "order", "data", "column", "join", "small", "line",
    "customer", "query", "big", "sort", "stream", "filter", "group", "vector", "the", "a")
  private val Dims = 64

  def generate(seed: Long, share: Double): Seq[OpTable] = {
    val k = share * 4
    def n(sf001: Int, min: Int) = math.max(min, math.round(sf001 * k).toInt)
    val (nDocs, nVecs, nCust, nParts, nSupp) = (n(500, 40), n(500, 40), n(1500, 100), n(2000, 50), n(100, 10))
    val nOrders = 10 * nCust
    val r = new SplittableRandom(seed)

    // every tenth document has a near twin (one word replaced) and a
    // 90% prefix (contained in it), so the near-dup rows find pairs
    val texts = new Array[Vector[String]](nDocs)
    (0 until nDocs).foreach { i =>
      texts(i) = i % 10 match {
        case 1 => texts(i - 1).updated(r.nextInt(texts(i - 1).size), Words(r.nextInt(Words.size)))
        case 2 => texts(i - 2).take(texts(i - 2).size - texts(i - 2).size / 10)
        case _ => Vector.fill(10 + (i * 37) % 90)(Words(r.nextInt(Words.size)))
      }
    }
    val documents = OpTable("documents",
      StructType(Seq(StructField("doc_id", LongType), StructField("text", StringType))),
      Vector.tabulate(nDocs)(i => Row(i.toLong, texts(i).mkString(" "))))

    // Gaussian vectors; every twentieth is a noisy copy of the one before
    val vecs = new Array[Array[Float]](nVecs)
    (0 until nVecs).foreach { i =>
      vecs(i) =
        if (i % 20 == 1) vecs(i - 1).map(x => x + (0.2 * r.nextGaussian()).toFloat)
        else Array.fill(Dims)(r.nextGaussian().toFloat)
    }
    val embeddings = OpTable("embeddings",
      StructType(Seq(StructField("vec_id", LongType), StructField("embedding", ArrayType(FloatType)))),
      Vector.tabulate(nVecs)(i => Row(i.toLong, vecs(i).toSeq)))

    val customer = OpTable("customer",
      StructType(Seq(StructField("c_custkey", LongType), StructField("c_name", StringType))),
      Vector.tabulate(nCust)(i => Row(i.toLong, f"Customer#$i%09d")))

    val orders = OpTable("orders",
      StructType(Seq(StructField("o_orderkey", LongType), StructField("o_custkey", LongType))),
      Vector.tabulate(nOrders)(o => Row(o.toLong, r.nextInt(nCust).toLong)))

    // 1–7 lines per order (4 on average), by the order key alone
    val lineitem = OpTable("lineitem",
      StructType(Seq(StructField("l_orderkey", LongType), StructField("l_partkey", LongType),
        StructField("l_suppkey", LongType))),
      (0 until nOrders).iterator.flatMap { o =>
        Iterator.fill(1 + (((o * 2654435761L) >>> 7) % 7).toInt)(
          Row(o.toLong, r.nextInt(nParts).toLong, r.nextInt(nSupp).toLong))
      }.toVector)

    Seq(documents, embeddings, customer, orders, lineitem)
  }
}

/** `operator_mix`: the compute-bound rows of `SparkEntry.queries` over
  * seeded stand-ins of the tables they read. Each iteration lands the
  * five tables under the work dir with `Sinks.overwriteAtomic`, then
  * makes one pass over the seven rows, each collected to the driver
  * (one execution gives both the timing and the checked result). The
  * rows exercise `graft.operators` (Similarity, Linkage, PageRank,
  * Triangles) and `graft.expressions`; no pipeline workload does.
  */
final class OperatorWorkload(ctx: Ctx) extends Workload {
  import ctx.spark
  import OperatorWorkload.Rows

  private val queries = Rows.map(r => r -> SparkEntry.queries(r)).toMap
  private var dir: Path = _
  private var tables: Seq[OpTable] = Nil
  private var inputBytes = 0L
  /** Each row's fingerprint at its first pass; later passes must match. */
  private val first = mutable.Map.empty[String, (Long, String)]

  val unitMs = mutable.ArrayBuffer.empty[(Boolean, Double)]
  private val landMs = mutable.ArrayBuffer.empty[Double]
  private val passMs = mutable.ArrayBuffer.empty[Double]
  private val layer = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]

  def setup(d: Path): Unit = {
    dir = d
    tables = OpTables.generate(ctx.opts.seed, ctx.opts.volume)
    inputBytes = tables.map(_.bytes).sum
  }

  def warmUp(): Unit = {
    iterate(traced = false)
    Seq(unitMs, landMs, passMs).foreach(_.clear())
  }

  def release(): Unit = tables = Nil

  def iterate(traced: Boolean): Unit = {
    val tr = ctx.tracer
    val start = tr.now()
    val l0 = System.nanoTime()
    tables.foreach { t =>
      ctx.op(s"land ${t.name}")(tr.span(s"land ${t.name}", "write")(
        Sinks.overwriteAtomic(spark.createDataFrame(t.rows.asJava, t.schema), dir.resolve(s"${t.name}.parquet").toString)))
    }
    landMs += Stats.millisSince(l0)
    val passStart = tr.now()
    val p0 = System.nanoTime()
    val rows = Rows.map { row =>
      val s = tr.now()
      val t0 = System.nanoTime()
      val out = ctx.op(row)(tr.span(row, "row")(queries(row)(spark, dir.toString).collect()))
      (row, out, Stats.millisSince(t0), s, tr.now())
    }
    val ms = Stats.millisSince(p0)
    val end = tr.now()
    passMs += ms
    unitMs += ((traced, ms))
    ctx.checking(tr.span("checks", "check")(rows.foreach { case (row, out, _, _, _) => out.foreach(checkRow(row, _)) }))
    if (traced) {
      tr.drain()
      def add(k: String, v: Double): Unit = layer.getOrElseUpdate(k, mutable.ArrayBuffer.empty) += v
      tr.record("iteration", "iteration", start, end)
      tr.record("pass", "pass", passStart, end)
      rows.foreach { case (row, _, rowMs, s, e) =>
        add(s"op.${row}_s", rowMs / 1000)
        add(s"op.$row.core_util", tr.work(s, e).runMs / (rowMs * ctx.cores))
      }
      Engine.record(add, tr.work(start, end), end - start, ctx.cores)
    }
  }

  /** A row's output is non-empty and the same on every pass; at the
    * default seed it equals the recorded fingerprint. */
  private def checkRow(row: String, out: Array[Row]): Unit = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    out.map(_.toString).sorted.foreach(r => md.update(r.getBytes(java.nio.charset.StandardCharsets.UTF_8)))
    val fp = (out.length.toLong, md.digest().take(16).map(b => f"$b%02x").mkString)
    ctx.check(out.nonEmpty, s"$row returned no rows")
    ctx.check(first.getOrElseUpdate(row, fp) == fp, s"$row fingerprint $fp != first pass ${first(row)}")
    ctx.checkRecorded(row, fp)
  }

  def endToEnd: Map[String, Double] = Map(
    "write_ms_p50" -> Stats.median(landMs.toSeq),
    "read_ms_p50" -> Stats.median(passMs.toSeq),
    "stored_bytes_per_input_byte" -> FsStats.usage(dir)._2.toDouble / inputBytes)

  def perLayer: Map[String, Double] = layer.map { case (k, xs) => k -> Stats.median(xs.toSeq) }.toMap
}

object OperatorWorkload {
  val Rows: Seq[String] = Seq("containment_neardup", "edit_distance_join", "embedding_neardup",
    "jaccard_neardup", "pagerank", "triangle_count", "clustering_coeff")
}
