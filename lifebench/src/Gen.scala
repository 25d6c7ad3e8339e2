package lifebench

import java.nio.charset.StandardCharsets.UTF_8
import java.util.SplittableRandom

import scala.collection.immutable.ListMap

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

/** Seeded input generator. Everything the engine receives is written to
  * files from these values; the ground truth (expected ids, expected
  * cleaned content, designed duplicate pairs, designed match classes)
  * stays in the benchmark and is computed here, apart from the engine.
  *
  * The seed picks words, dates, titles and which master rows a tick
  * re-scrapes; the make-up of each input (counts per class, line lengths
  * per record slot, positions of special lines, which page is copied) is
  * fixed, so every seed carries the same amount of work. */
object Gen {

  // No digits, and none of the words the cleaner's cutoff, dosage or
  // DOI-veto patterns key on ("granted", "received", "review", "orally",
  // "less", "greater", "reference", "cited", ...), so only the designed
  // special lines trigger them.
  val Vocab: Array[String] = (
    "patients therapy treatment tumor response clinical efficacy safety adverse " +
    "reactions cohort median survival progression free overall rate duration " +
    "randomized placebo arm combination monotherapy metastatic advanced refractory " +
    "relapsed lymphoma leukemia carcinoma melanoma myeloma sarcoma solid tumors " +
    "biomarker mutation positive negative expression inhibitor antibody kinase " +
    "receptor targeted chemotherapy radiation surgery adjuvant neoadjuvant first " +
    "line second prior regimen dose escalation cycle infusion intravenous tablet " +
    "capsule hepatic renal impairment toxicity neutropenia anemia fatigue nausea " +
    "diarrhea rash fever infection hemorrhage interstitial lung disease cardiac " +
    "monitoring baseline endpoint primary secondary objective complete partial " +
    "stable assessed independent central committee confirmed evaluated enrolled " +
    "eligible population subgroup analysis interim final hazard confidence " +
    "interval statistically significant improvement observed common serious fatal " +
    "discontinuation interruption reduction label indication approval accelerated " +
    "regular conversion sponsor agency pediatric adult elderly women men pregnancy " +
    "contraception embryo fetal warnings precautions contraindications exposure " +
    "clearance half life metabolism enzyme transporter interaction concomitant " +
    "strong moderate weak avoid evidence benefit risk profile favorable sustained " +
    "durable measurable lesions imaging scans weeks months years visit schedule " +
    "protocol amendment investigator site region global study phase open single " +
    "multicenter marrow plasma serum platelet count liver kidney heart skin"
  ).split(" ")

  // special lines of the FDA pages (json_split_and_clean.py's patterns)
  val Boilerplate = Array(
    "Follow the Oncology Center of Excellence on X (formerly Twitter) @FDAOncology",
    "Healthcare professionals should report all serious adverse events suspected to be associated with the use of any medicine and device to MedWatch.")
  val Headers = Array("Efficacy and Safety", "Recommended Dosage", "Expedited Programs")
  val CutoffLine =
    "This review used the Assessment Aid, a voluntary submission from the applicant to facilitate the assessment."
  val RescuedCutoffLine = "The application was granted priority review for this indication."
  val DosageLines = Array(
    "The recommended dose is 240 mg orally once daily with food.",
    "The recommended dose is 160 mg every two weeks until disease progression.",
    "Administer 1.5 mg/kg as an intravenous infusion over thirty minutes.")

  /** Jackson, with Scala collections; writes the generated files and
    * the run's result, and parses the program's JSON output. */
  val mapper: ObjectMapper = new ObjectMapper().registerModule(DefaultScalaModule)

  /** One JSON object, keys in the given order. */
  def jsonObj(kv: (String, Any)*): String = mapper.writeValueAsString(ListMap(kv: _*))

  def md5Hex(s: String): String = {
    val d = java.security.MessageDigest.getInstance("MD5").digest(s.getBytes(UTF_8))
    d.map(b => f"${b & 0xff}%02x").mkString
  }

  /** rag_id the FDA lifecycle must assign: md5 of the url, or of
    * `title_date` when the url is empty (fda_watcher.py:86-93, :328). */
  def fdaRagId(url: String, title: String, date: String): String =
    md5Hex(if (url.trim.nonEmpty) url.trim else s"${title}_$date")

  final class Rng(seed: Long) {
    private val r = new SplittableRandom(seed)
    def int(n: Int): Int = r.nextInt(n)
    def between(lo: Int, hi: Int): Int = lo + r.nextInt(hi - lo + 1)
    def word(): String = Vocab(r.nextInt(Vocab.length))
  }
  def rng(seed: Long, stream: Long): Rng = new Rng(seed * 1000003L + stream)

  /** Words up to about `len` characters; no trailing ':' (a ':' line
    * changes the cleaner's blank-line and rescue rules). */
  def sentence(r: Rng, len: Int): String = {
    val sb = new StringBuilder
    while (sb.length < len) { if (sb.nonEmpty) sb.append(' '); sb.append(r.word()) }
    sb.setCharAt(0, sb.charAt(0).toUpper)
    sb.append('.').toString
  }

  // ---------------------------------------------------------------- FDA

  sealed trait Kind
  case object Body extends Kind     // kept
  case object Kept extends Kind     // kept special line (rescued cutoff, dosage)
  case object Dropped extends Kind  // boilerplate, header, cutoff, post-cutoff tail

  final case class Line(text: String, kind: Kind)

  /** One scraped listing row plus what the lifecycle must make of it. */
  final case class FdaRecord(url: String, title: String, description: String,
      date: String, lines: Vector[Line], publish: Boolean) {
    def text: String = lines.map(_.text).mkString("\n")
    def ragId: String = fdaRagId(url, title, date)
    /** The content `clean_corpus` must produce: kept lines in order. */
    def expectedContent: String = lines.filter(_.kind != Dropped).map(_.text).mkString("\n")
    def json: String = jsonObj("url" -> url, "title" -> title,
      "description" -> description, "date" -> date, "text" -> text)
  }

  /** Line-length profile of record slot `i`, out of every ten pages:
    * four short bullet lists, four medium prose, one long and one of
    * multi-hundred-character paragraphs (the clean kernel is superlinear
    * in line length). Lengths depend on the slot and line only, so every
    * seed carries the same work; the seed picks the words. */
  private def bodyLines(r: Rng, slot: Int, scale: Double): Vector[Line] = {
    val (nLines, lo, hi, bullet) = slot % 10 match {
      case 0 | 1 | 2 | 3 => (30, 20, 40, true)
      case 4 | 5 | 6 | 7 => (14, 60, 120, false)
      case 8             => (8, 150, 250, false)
      case _             => (5, 300, 400, false)
    }
    val n = math.max(2, (nLines * scale).toInt)
    Vector.tabulate(n) { j =>
      val s = sentence(r, lo + (slot * 7 + j * 13) % (hi - lo + 1))
      Line(if (bullet) "- " + s else s, Body)
    }
  }

  private def date(r: Rng): String =
    f"${r.between(1, 12)}%02d/${r.between(1, 28)}%02d/${r.between(2019, 2025)}"

  private def title(r: Rng, tag: String): String =
    s"FDA approves ${r.word()} ${r.word()} for ${r.word()} ${r.word()} $tag"

  /** A publishable page: body with a header, a boilerplate line, on
    * alternate slots a rescued cutoff (cutoff line followed by a dosage
    * line within 15 lines, so both stay), and on every other slot a real
    * cutoff with a tail that must be cut. */
  def fdaPage(r: Rng, slot: Int, url: String, scale: Double = 1.0): FdaRecord = {
    val body = bodyLines(r, slot, scale)
    val third = math.max(1, body.size / 3)
    val b = Vector.newBuilder[Line]
    b ++= body.take(third)
    b += Line(Headers(slot % Headers.length), Dropped)
    b ++= body.slice(third, 2 * third)
    if (slot % 3 == 0) {
      b += Line(RescuedCutoffLine, Kept)
      b += Line(sentence(r, 60), Body)
      b += Line(DosageLines(slot % DosageLines.length), Kept)
    }
    b += Line(Boilerplate(slot % Boilerplate.length), Dropped)
    b ++= body.drop(2 * third)
    if (slot % 2 == 1) {
      b += Line(CutoffLine, Dropped)
      b ++= Vector.fill(4)(Line(sentence(r, r.between(40, 120)), Dropped))
    }
    FdaRecord(url, title(r, s"page $slot"), sentence(r, 50), date(r), b.result(), publish = true)
  }

  /** A page the corpus gate must quarantine: a stub under 50 characters
    * (even `kind`) or a page whose first line is a cutoff (odd). */
  def shortPage(r: Rng, slot: Int, url: String): FdaRecord = {
    val lines =
      if (slot % 2 == 0) Vector(Line(sentence(r, 24), Body))
      else Line(CutoffLine, Dropped) +: Vector.fill(3)(Line(sentence(r, 80), Dropped))
    FdaRecord(url, title(r, s"stub $slot"), sentence(r, 40), date(r), lines, publish = false)
  }

  /** Same page with about 2% of its body words replaced (at least one):
    * shingle Jaccard stays near 0.9. */
  def nearCopy(r: Rng, rec: FdaRecord, url: String, tag: String): FdaRecord = {
    val nWords = rec.lines.filter(_.kind == Body).map(_.text.split(' ').length).sum
    var edits = math.max(1, nWords / 50)
    val bodyIdx = rec.lines.indices.filter(rec.lines(_).kind == Body)
    var lines = rec.lines
    while (edits > 0) {
      val li = bodyIdx(r.int(bodyIdx.size))
      val ws = lines(li).text.split(' ')
      val wi = 1 + r.int(math.max(1, ws.length - 2)) min (ws.length - 1)
      ws(wi) = "variant" + ('a' + r.int(26)).toChar
      lines = lines.updated(li, Line(ws.mkString(" "), Body))
      edits -= 1
    }
    rec.copy(url = url, title = s"${rec.title} $tag", lines = lines)
  }

  private def fdaUrl(seed: Long, tag: String): String =
    s"https://www.fda.gov/drugs/resources-information-approved-drugs/s$seed-$tag"

  /** The cold-ingest input: `n` pages, of which 5% are stubs for the
    * quarantine, 5% exact copies and 5% near copies of earlier pages
    * under new urls, and 5% carry an empty url (rag_id from title_date).
    * Returns the records and the designed duplicate pairs (rag_ids). */
  def fdaCorpus(seed: Long, n: Int): (Vector[FdaRecord], Vector[(String, String)]) = {
    val r = rng(seed, 1)
    val recs = scala.collection.mutable.ArrayBuffer.empty[FdaRecord]
    val pairs = Vector.newBuilder[(String, String)]
    for (i <- 0 until n) {
      val url = if (i % 20 == 7) "" else fdaUrl(seed, s"p$i")
      val rec = i % 20 match {
        case 3 => shortPage(r, i / 20, url)
        case 11 | 17 =>
          // same slot profile as the copy's own slot
          val src = recs(i - 10)
          val copy =
            if (i % 20 == 11) src.copy(url = url, title = src.title + s" copy $i")
            else nearCopy(r, src, url, s"near $i")
          pairs += ((src.ragId, copy.ragId))
          copy
        case _ => fdaPage(r, i, url)
      }
      recs += rec
    }
    (recs.toVector, pairs.result())
  }

  // -------------------------------------------------------------- daily

  final case class MasterRow(url: String, title: String, description: String,
      date: String, corpus: String) {
    def ragId: String = fdaRagId(url, title, date)
    def json: String = jsonObj("rag_id" -> ragId, "url" -> url, "title" -> title,
      "description" -> description, "date" -> date, "corpus" -> corpus)
  }

  /** The seeded master: `m` cleaned records of 5 to 8 prose lines. */
  def master(seed: Long, m: Int): Vector[MasterRow] = {
    val r = rng(seed, 2)
    Vector.tabulate(m) { i =>
      val corpus = Vector.fill(r.between(5, 8))(sentence(r, r.between(80, 140))).mkString("\n")
      MasterRow(fdaUrl(seed, s"m$i"), title(r, s"master $i"), sentence(r, 50), date(r), corpus)
    }
  }

  /** One tick's landing: `nNew` new pages (short line profiles, so the
    * clean kernel does little), `nNew/2` re-scrapes of known master
    * pages, two near copies of master records under new urls, one stub
    * for the quarantine, and on duplicate ticks one new page landed in
    * both landing files. */
  final case class TickInput(files: Vector[Vector[FdaRecord]], published: Set[String],
      quarantined: Set[String], dupRagId: Option[String],
      nearDupPairs: Vector[(String, String)], expectedContent: Map[String, String]) {
    def nRecords: Int = files.map(_.size).sum
  }

  def tick(seed: Long, k: Int, master: IndexedSeq[MasterRow], nNew: Int,
      duplicate: Boolean): TickInput = {
    val r = rng(seed, 1000L + k)
    // slots 0-7 only: bullet and medium pages
    val fresh = Vector.tabulate(nNew)(i => fdaPage(r, i % 8, fdaUrl(seed, s"t$k-n$i"), scale = 0.5))
    val rescrapes = Vector.fill(math.max(1, nNew / 2)) {
      val m = master(r.int(master.size))
      FdaRecord(m.url, m.title, m.description, m.date,
        m.corpus.split("\n").map(Line(_, Body)).toVector, publish = false)
    }
    val nearDups = Vector.tabulate(2) { j =>
      val m = master(r.int(master.size))
      val asRec = FdaRecord(m.url, m.title, m.description, m.date,
        m.corpus.split("\n").map(Line(_, Body)).toVector, publish = true)
      (m.ragId, nearCopy(r, asRec, fdaUrl(seed, s"t$k-d$j"), s"near $k $j"))
    }
    val stub = shortPage(r, k, fdaUrl(seed, s"t$k-s"))
    val dup = if (duplicate) Some(fdaPage(r, 3, fdaUrl(seed, s"t$k-dup"), scale = 0.5)) else None
    val all = fresh ++ rescrapes ++ nearDups.map(_._2) :+ stub
    val half = all.size / 2
    val files = Vector(all.take(half) ++ dup, all.drop(half) ++ dup)
    val pub = fresh ++ nearDups.map(_._2) ++ dup
    TickInput(files, pub.map(_.ragId).toSet, Set(stub.ragId), dup.map(_.ragId),
      nearDups.map { case (m, d) => (d.ragId, m) },
      pub.map(p => p.ragId -> p.expectedContent).toMap)
  }

  // ---------------------------------------------------------------- PDF

  final case class DimRow(pmid: String, doi: String, title: String,
      journal: String, year: String, authors: Vector[String]) {
    def json: String = jsonObj("pmid" -> pmid, "doi" -> doi, "title" -> title,
      "journal" -> journal, "year" -> year, "authors" -> authors)
  }

  /** Designed match class of a paper against the PubMed table. */
  sealed trait MatchClass
  case object DoiMatch extends MatchClass      // DOI equal after normalisation
  case object DoiConflict extends MatchClass   // exact title, different DOI: veto
  case object TitleAbove extends MatchClass    // no DOI, one letter off: verified
  case object TitleBelow extends MatchClass    // no DOI, half the words changed
  case object NoMatch extends MatchClass       // no DOI, unrelated title

  final case class Paper(file: String, title: String, text: String,
      cls: MatchClass, dim: Option[DimRow])

  private def titleWords(r: Rng, n: Int): String =
    Vector.fill(n)(r.word().capitalize).mkString(" ")

  /** Class of paper slot `i`: 3 in 10 DOI matches, 1 conflict, 2 above
    * the title gate, 2 below it, 2 without any match. */
  def classOf(i: Int): MatchClass = i % 10 match {
    case 0 | 4 | 7 => DoiMatch
    case 1 => DoiConflict
    case 2 | 8 => TitleAbove
    case 3 | 6 => TitleBelow
    case _ => NoMatch
  }

  def pdfInputs(seed: Long, nPapers: Int, nDim: Int): (Vector[DimRow], Vector[Paper]) = {
    val r = rng(seed, 3)
    val dim = Vector.tabulate(nDim) { i =>
      DimRow(s"${30000000 + i}", s"10.${1000 + r.int(9000)}/jrn.$seed.$i",
        titleWords(r, r.between(7, 10)) + s" $i", s"Journal of ${r.word().capitalize}",
        s"${r.between(2005, 2024)}",
        Vector.fill(r.between(1, 5))(s"${r.word().capitalize} ${('A' + r.int(26)).toChar}"))
    }
    require(nPapers <= nDim, "each matched paper takes its own PubMed row")
    val papers = Vector.tabulate(nPapers) { i =>
      val d = dim(i)
      val cls = classOf(i)
      val (title, doi) = cls match {
        case DoiMatch =>
          val shown = if (i % 2 == 0) d.doi.toUpperCase else s"https://doi.org/${d.doi}"
          (d.title, Some(shown))
        case DoiConflict => (d.title, Some(s"10.9999/conflict.$seed.$i"))
        case TitleAbove =>
          val ws = d.title.split(' ')
          val w = ws(1)
          ws(1) = w.dropRight(1) + (if (w.last == 'x') 'y' else 'x')
          (ws.mkString(" "), None)
        case TitleBelow =>
          val ws = d.title.split(' ')
          (ws.indices.map(j => if (j % 2 == 0) r.word().capitalize + "q" else ws(j))
            .mkString(" "), None)
        case NoMatch => (titleWords(r, 8) + s" Unmatched $i", None)
      }
      val body = Vector.fill(r.between(6, 10))(sentence(r, r.between(200, 500))).mkString("\n\n")
      val doiLine = doi.map(x => s"DOI: $x\n\n").getOrElse("")
      // bibliography DOI near "References": extract_doi's veto drops it
      val text = s"# $title\n\n${d.authors.mkString(", ")}\n\n$doiLine## Abstract\n\n$body\n\n" +
        s"References\n1. ${r.word().capitalize} A. doi:10.1016/ref.$seed.$i\n"
      Paper(f"paper_$i%05d.pdf", title, text, cls, Some(d).filter(_ => cls != NoMatch))
    }
    (dim, papers)
  }
}
