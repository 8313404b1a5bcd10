package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.LongAdder

import graft.sources.{Extraction, Ingest}

/** Serves rendered payloads to the program's fetcher traits. The
  * fetchers ship to executors by value, so they carry only a store id;
  * in `local[*]` the executors share this JVM and look the payloads up
  * here. Each call is one map lookup.
  */
object PayloadStore {
  private val stores = new ConcurrentHashMap[String, Payloads]()
  def put(id: String, p: Payloads): Unit = { stores.put(id, p); () }
  def get(id: String): Payloads =
    Option(stores.get(id)).getOrElse(throw new IllegalStateException(s"no payload store $id"))
  def remove(id: String): Unit = { stores.remove(id); () }
}

/** Counters at the fetcher boundary (ingest.* per-layer metrics). */
object FetchStats {
  val calls = new LongAdder
  val empty = new LongAdder
  val bytes = new LongAdder
  val nanos = new LongAdder

  final case class Snapshot(calls: Long, empty: Long, bytes: Long, nanos: Long) {
    def -(o: Snapshot): Snapshot = Snapshot(calls - o.calls, empty - o.empty, bytes - o.bytes, nanos - o.nanos)
  }
  def snapshot(): Snapshot = Snapshot(calls.sum(), empty.sum(), bytes.sum(), nanos.sum())

  def serve(kind: String)(lookup: => Option[String]): Iterator[String] = {
    val tracer = Tracer.active
    val start = tracer.fold(0.0)(_.now())
    val t0 = System.nanoTime()
    val r = lookup
    nanos.add(System.nanoTime() - t0)
    tracer.foreach(t => t.record(kind, "fetch", start, t.now()))
    calls.increment()
    r match {
      case Some(s) => bytes.add(s.length.toLong); Iterator.single(s)
      case None => empty.increment(); Iterator.empty
    }
  }
}

final case class FormsFetcher(store: String) extends Ingest.BatchFetcher {
  def fetch(): Iterator[String] = FetchStats.serve("fetch forms")(Some(PayloadStore.get(store).forms))
}

final case class ContactsFetcher(store: String) extends Ingest.WindowFetcher {
  def fetch(w: Ingest.DateWindow): Iterator[String] =
    FetchStats.serve("fetch contacts")(PayloadStore.get(store).contacts.get(w.start))
}

final case class EvalsFetcher(store: String) extends Ingest.KeyFetcher {
  def fetch(key: Long): Iterator[String] = FetchStats.serve("fetch evaluations")(PayloadStore.get(store).evals.get(key))
}

final case class TranscriptsFetcher(store: String) extends Ingest.KeyFetcher {
  def fetch(key: Long): Iterator[String] = FetchStats.serve("fetch transcripts")(PayloadStore.get(store).transcripts.get(key))
}

/** Follows `/api/rest/recording/contact/<cid>/eval/<eid>/comment`. */
final case class CommentsFetcher(store: String) extends Extraction.LinkFetcher {
  def fetch(url: String): Iterator[String] = FetchStats.serve("fetch comments") {
    val runs = "\\d+".r.findAllIn(url).toSeq
    if (runs.size < 2) None else PayloadStore.get(store).comments.get(runs(1).toLong)
  }
}
