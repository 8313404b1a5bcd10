package perfbench

import java.time.{Instant, LocalDate, ZoneId, ZoneOffset}
import java.util.SplittableRandom

import graft.sources.Ingest

/** BASELINE.md's production volumes (the troubleshooting.sql counts,
  * 2-day windows over a 16-day lookback) scaled by `share`. Every
  * seed yields exactly these totals, split evenly over the windows.
  */
final case class Volume(share: Double) {
  require(share > 0, s"volume share must be positive, got $share")
  val windows: Int = 8
  val contacts: Int = math.max(windows, math.round(16625 * share).toInt)
  val evaluations: Int = math.max(windows, math.round(22730 * share).toInt)
  val comments: Int = math.max(windows, math.round(130212 * share).toInt)
}

/** One fixture form: (section id, (question id, option ids)). */
final case class FormShape(id: Long, sections: Vector[(Long, Vector[(Long, Vector[Long])])])

final case class Contact(id: Long, window: Int, startMs: Long, agent: Int, utterances: Int)

final case class Evaluation(
    id: Long, contact: Contact, form: FormShape, agent: Int, evaluator: Option[Int],
    counted: Boolean, evaluatedMs: Long, scored: Boolean, response: String,
    additive: Long, total: Double, hasLink: Boolean, selected: Vector[Vector[Option[Long]]],
    duplicated: Boolean, rescored: Boolean)

final case class Comment(
    id: Long, eval: Evaluation, section: Long, question: Option[Long], createdMs: Long,
    commentor: Int, text: String, history: Vector[(Long, Int)])

/** One state of the source system: what every endpoint would return. */
final case class Model(
    seed: Long, forms: Vector[FormShape], contacts: Vector[Contact],
    evals: Vector[Evaluation], comments: Vector[Comment]) {

  /** Target row counts the pipeline must land for this state, derived
    * from the generator alone (the shred and merge rules of
    * Update…sql: SCORED filter, dedup per key, inner flatten of
    * scores, alphanumeric comment text). */
  def expectedRows: Map[String, Long] = {
    val scored = evals.filter(_.scored)
    val live = evals.filter(_.hasLink).map(_.id).toSet
    Map(
      "t_qa_forms" -> forms.iterator.flatMap(_.sections).flatMap(_._2).map(_._2.size.toLong).sum,
      "t_qa_contacts" -> contacts.size.toLong,
      "t_qa_evaluations" -> scored.size.toLong,
      "t_qa_evaluation_scores" -> scored.iterator
        .map(e => e.form.sections.map(_._2.size).sum.toLong * (if (e.duplicated) 2 else 1)).sum,
      "t_qa_evaluation_comments" -> comments.count(c =>
        live(c.eval.id) && c.text.exists(_.isLetterOrDigit)).toLong,
      "t_qa_transcripts" -> contacts.iterator.map(_.utterances.toLong).sum,
      "t_contacts_staging_backup" -> contacts.size.toLong)
  }

  /** Rows `Queries.troubleChildren` returns: scored evaluations with no evaluator. */
  def troubleChildren: Long = evals.count(e => e.scored && e.evaluator.isEmpty).toLong

  /** Distinct Denver calendar days holding a contact (the running tally's rows). */
  def contactDays: Long =
    contacts.map(c => Instant.ofEpochMilli(c.startMs).atZone(Payloads.Denver).toLocalDate).distinct.size.toLong

  /** Distinct contacts with at least one scored evaluation (the reconciliation's rows). */
  def reconciledContacts: Long = evals.filter(_.scored).map(_.contact.id).distinct.size.toLong
}

/** Rendered endpoint responses, looked up by the fetchers. */
final class Payloads(
    val windows: Seq[Ingest.DateWindow],
    val forms: String,
    val contacts: Map[String, String],
    val evals: Map[Long, String],
    val transcripts: Map[Long, String],
    val comments: Map[Long, String]) {

  /** JSON bytes a full extraction of this state fetches. */
  val bytes: Long = {
    def len(s: Iterable[String]) = s.iterator.map(_.length.toLong).sum
    forms.length + len(contacts.values) + len(evals.values) + len(transcripts.values) + len(comments.values)
  }

  /** SHA-256 over every response in a canonical order. */
  def digest: String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    def add(s: String): Unit = md.update(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    add(forms)
    windows.foreach(w => add(contacts.getOrElse(w.start, "")))
    Seq(evals, transcripts, comments).foreach(_.toSeq.sortBy(_._1).foreach { case (k, v) => add(s"$k:$v") })
    md.digest().map(b => f"$b%02x").mkString
  }
}

/** Seeded, Calabrio-shaped source data (FIXTURES.md §A shapes). The
  * seed decides contents; the volume alone decides every count, so two
  * seeds cost the program the same work.
  */
object Payloads {
  val Denver: ZoneId = ZoneId.of("America/Denver")
  val Begin: LocalDate = LocalDate.parse("2024-03-01")
  private val DayMs = 86400000L
  private val Base = "https://calabriocloud.example/api/rest"
  private val Words = Vector("call", "agent", "greeting", "hold", "transfer", "empathy", "policy",
    "refund", "billing", "escalate", "resolved", "follow-up", "script", "tone", "verify", "account",
    "promise", "callback", "survey", "closing")
  val Responses: Vector[String] = Vector("AGREED", "DISAGREED", "NONE", "ACKNOWLEDGED")

  private def windowStartMs(w: Int): Long =
    Begin.plusDays(2L * w).atStartOfDay(ZoneOffset.UTC).toInstant.toEpochMilli

  /** A value in [0, n) fixed by a record's index alone; `salt` keeps the
    * choices independent. Choices that change a count use this, not the
    * seed. */
  private def pick(index: Long, salt: Int, n: Int): Int = {
    var z = index * 0x9E3779B97F4A7C15L + salt * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 31)) * 0x94D049BB133111EBL
    java.lang.Long.remainderUnsigned(z ^ (z >>> 29), n.toLong).toInt
  }

  /** True for one in `n` record indexes. */
  private def rule(index: Long, salt: Int, n: Int): Boolean = pick(index, salt, n) == 0

  private def words(r: SplittableRandom, n: Int): String =
    (0 until n).map(_ => Words(r.nextInt(Words.size))).mkString(" ")

  private def scores(r: SplittableRandom): (Long, Double, String) =
    (r.nextLong(101), r.nextInt(401) / 4.0, Responses(r.nextInt(Responses.size)))

  /** The initial state. Index rules (not the seed) fix each
    * evaluation's form and which records are unscored (20%), duplicated
    * (1%), evaluator-less (2%) or linkless (5%), which evaluation each
    * comment belongs to, and which evaluations a restatement re-scores
    * (20%) or drops (10%), so every seed gives the same volumes. The
    * seed decides contacts' evaluations, times, scores and text. */
  def generate(seed: Long, v: Volume, forms: Vector[FormShape]): Model = {
    val r = new SplittableRandom(seed)
    val contacts = Vector.tabulate(v.contacts) { i =>
      val w = i % v.windows
      Contact(1000000L + i, w, windowStartMs(w) + r.nextLong(2 * DayMs), r.nextInt(120), i % 4)
    }
    val byWindow = contacts.groupBy(_.window)
    val evals = Vector.tabulate(v.evaluations) { j =>
      val ws = byWindow(j % v.windows)
      val c = ws(r.nextInt(ws.size))
      val form = forms(pick(j, 7, forms.size))
      val (add, tot, resp) = scores(r)
      Evaluation(
        id = 5000000L + j, contact = c, form = form, agent = c.agent,
        evaluator = if (rule(j, 3, 50)) None else Some(r.nextInt(40)),
        counted = r.nextInt(10) != 0,
        evaluatedMs = c.startMs + r.nextLong(3 * DayMs),
        scored = !rule(j, 1, 5), response = resp, additive = add, total = tot,
        hasLink = !rule(j, 4, 20),
        selected = form.sections.map(_._2.map { case (_, opts) =>
          if (opts.isEmpty || r.nextInt(12) == 0) None else Some(opts(r.nextInt(opts.size)))
        }),
        duplicated = rule(j, 2, 100),
        rescored = rule(j, 5, 5))
    }
    val linked = evals.filter(_.hasLink).groupBy(_.contact.window)
    val comments = Vector.tabulate(v.comments)(k => comment(r, 90000000L + k, linked(k % v.windows), k))
    Model(seed, forms, contacts, evals, comments)
  }

  private def comment(r: SplittableRandom, id: Long, pool: Vector[Evaluation], k: Int): Comment = {
    val e = pool(pick(id, 8, pool.size))
    val sections = e.form.sections
    val (sec, qs) =
      if (sections.isEmpty) (1000L * e.form.id, Vector.empty)
      else sections(r.nextInt(sections.size))
    val created = e.evaluatedMs + r.nextLong(DayMs)
    Comment(id, e, sec,
      if (qs.isEmpty || k % 10 == 6) None else Some(qs(r.nextInt(qs.size))._1),
      created, r.nextInt(60),
      if (k % 33 == 4) "...." else s"Comment $k on eval ${e.id}: ${words(r, 3 + r.nextInt(6))}",
      Vector.tabulate(r.nextInt(3))(h => (created + (h + 1) * 60000L, r.nextInt(60))))
  }

  /** The nightly restatement of `window`: in it, 20% of evaluations are
    * re-scored, 10% vanish upstream, and 10% more comments appear.
    * Everything outside the window is unchanged. */
  def restate(seed: Long, m: Model, window: Int): Model = {
    val r = new SplittableRandom(seed ^ 0x5DEECE66DL)
    val evals = m.evals.flatMap { e =>
      if (e.contact.window != window) Some(e)
      else if (rule(e.id - 5000000L, 6, 10)) None
      else if (e.rescored) {
        val (add, tot, resp) = scores(r)
        Some(e.copy(additive = add, total = tot, response = resp))
      } else Some(e)
    }
    val byId = evals.map(e => e.id -> e).toMap
    val kept = m.comments.flatMap(c => byId.get(c.eval.id).map(e => c.copy(eval = e)))
    val pool = evals.filter(e => e.hasLink && e.contact.window == window)
    val fresh = m.comments.count(_.eval.contact.window == window) / 10
    val added = Vector.tabulate(fresh)(k => comment(r, 95000000L + k, pool, k))
    m.copy(evals = evals, comments = kept ++ added)
  }

  /** The endpoint responses of a state. `formsJson` is served verbatim. */
  def render(m: Model, v: Volume, formsJson: String): Payloads = {
    def arr(xs: Iterable[String]) = xs.mkString("[", ",", "]")
    val windows = Ingest.planWindows(Begin, Begin.plusDays(2L * v.windows), 2)
    val contacts = m.contacts.groupBy(_.window).map { case (w, cs) =>
      windows(w).start -> arr(cs.sortBy(_.id).map(contactJson))
    }
    val evals = m.evals.groupBy(_.contact.id).map { case (cid, es) =>
      cid -> arr(es.sortBy(_.id).flatMap(e => if (e.duplicated) Seq(evalJson(e), evalJson(e)) else Seq(evalJson(e))))
    }
    val transcripts = m.contacts.filter(_.utterances > 0).map { c =>
      c.id -> arr((0 until c.utterances).map(s =>
        s"""{"ccrid":${c.id},"seq":$s,"text":"utterance $s of call ${c.id}: ${words(new SplittableRandom(m.seed * 1000003L + c.id * 4 + s), 6)}"}"""))
    }.toMap
    val comments = m.comments.groupBy(_.eval.id).map { case (eid, cs) =>
      eid -> arr(cs.sortBy(_.id).map(commentJson))
    }
    new Payloads(windows, formsJson, contacts, evals, transcripts, comments)
  }

  private def contactJson(c: Contact): String =
    s"""{"id":${c.id},"startTime":${c.startMs},"assocCallId":"CJP-${c.id}",""" +
      s""""agent":{"$$ref":"$Base/person/${7000 + c.agent}","displayId":"agent${c.agent}",""" +
      s""""firstName":"First${c.agent}","lastName":"Last${c.agent}","username":"user${c.agent}"}}"""

  private def evalJson(e: Evaluation): String = {
    val sections = e.form.sections.zip(e.selected).map { case ((sid, qs), sel) =>
      val questions = qs.zip(sel).map { case ((qid, _), o) =>
        s"""{"id":$qid,"selectedOption":${o.fold("null")(_.toString)}}"""
      }
      s"""{"id":$sid,"questions":${questions.mkString("[", ",", "]")}}"""
    }
    val c = e.contact.id
    s"""{"id":${e.id},"qualityRef":"$Base/recording/contact/$c",""" +
      s""""evalForm":{"evalFormId":${e.form.id}},"agent":{"id":${7000 + e.agent}},""" +
      e.evaluator.fold("")(x => s""""evaluator":{"id":${8000 + x}},""") +
      s""""isScoreCounted":${e.counted},"evaluated":${e.evaluatedMs},""" +
      s""""state":{"text":"${if (e.scored) "SCORED" else "IN_PROGRESS"}"},""" +
      s""""responseState":{"text":"${e.response}"},"additiveScore":${e.additive},""" +
      s""""totalScore":${e.total},""" +
      (if (e.hasLink) s""""comments":"/api/rest/recording/contact/$c/eval/${e.id}/comment",""" else "") +
      s""""sections":${sections.mkString("[", ",", "]")}}"""
  }

  private def commentJson(c: Comment): String = {
    val hist = c.history.map { case (t, p) =>
      s"""{"created":$t,"commentor":{"$$ref":"$Base/person/${8100 + p}"}}"""
    }
    s"""{"$$ref":"$Base/recording/contact/${c.eval.contact.id}/eval/${c.eval.id}/comment/${c.id}",""" +
      s""""sectionFK":${c.section},"questionFK":${c.question.fold("null")(_.toString)},""" +
      s""""created":${c.createdMs},"commentor":{"$$ref":"$Base/person/${8200 + c.commentor}"},""" +
      s""""text":"${c.text}","history":${hist.mkString("[", ",", "]")}}"""
  }
}
