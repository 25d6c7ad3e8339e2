package lifebench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.{StringType, StructField, StructType}

import graft.expr.{functions => gf}
import graft.ops.{Chunker, CleanCorpus, Dedup, Fingerprint}
import graft.pipeline.{FdaPipeline, JsonlPublish, PdfPipeline}
import graft.sources.{Sinks, Sources}
import graft.streaming.ScheduledIngest

/** Lifecycle benchmark program: one workload, one seed, one JVM.
  *
  *   LifeBench --workload <fda_cold|daily_tick|pdf_enrich> --seed <n>
  *             --seconds <s> --trace <0|1> --work <dir> --out <result.json>
  *
  * Inputs are generated into `<work>/input` before any clock starts; the
  * set-up (session start plus the workload's initial state) is repeated
  * and its median reported; then whole rounds of operations run until
  * `seconds` of operation time have passed. Every operation's outputs are
  * checked against the generator's ground truth. */
object LifeBench {

  val RunDate = "2026-01-15"
  /** Task slots: two of the host's four cores, so the JIT compiler, GC
    * and driver threads have cores of their own and host steal on one
    * core does not stall a stage. */
  val Cores = 2
  val DupThreshold = 0.8
  val ChunkSize = 128
  val ChunkStride = 96

  val publishedSchema: StructType = StructType(
    Seq("content", "source", "url", "date", "version", "title", "description", "rag_id")
      .map(StructField(_, StringType)))
  val RagFields: Seq[String] = publishedSchema.fieldNames.toSeq

  val Layers: Seq[String] = Seq("sources", "ops.Fingerprint", "ops.CleanCorpus",
    "pipeline.FdaPipeline", "ops.Dedup", "ops.Chunker", "sources.Sinks",
    "streaming.ScheduledIngest", "pipeline.PdfPipeline", "ops.Similarity",
    "pipeline.JsonlPublish")
  val LayerStats: Seq[String] =
    Seq("wall_ms", "build_ms", "jobs", "cpu_ms", "gc_ms", "shuffle_bytes", "rows_out")
  val Extras: Seq[String] = Seq("ops.CleanCorpus.plan_evals", "ops.CleanCorpus.kernel_us_per_kb",
    "ops.Dedup.candidate_pairs", "ops.Dedup.dup_pairs", "ops.Similarity.pairs_evaluated",
    "ops.Similarity.matches", "ops.Fingerprint.delta_rows",
    "streaming.ScheduledIngest.bytes_written", "streaming.ScheduledIngest.write_amp",
    "sources.Sinks.files_written", "sources.Sinks.output_bytes",
    "sources.files_listed", "sources.input_bytes", "trace.op_ms")
  val PerLayer: Seq[String] = Layers.flatMap(l => LayerStats.map(s => s"$l.$s")) ++ Extras

  /** Outcome of one operation's output check. `knownFault` marks a
    * failure that is the designed symptom of a named program fault. */
  final case class Outcome(problems: Seq[String], knownFault: Seq[String])

  final class Checker {
    private val problems = Seq.newBuilder[String]
    private val known = Seq.newBuilder[String]
    def expect(cond: Boolean, msg: => String): Unit = if (!cond) problems += msg
    def fault(cond: Boolean, msg: => String): Unit = if (!cond) known += msg
    def result: Outcome = Outcome(problems.result(), known.result())
  }

  trait Workload {
    def roundSize: Int
    /** Set-ups per run; `setup_s` is their median. The first pays the
      * JVM's cold start, so more set-ups steady the median. */
    def setups: Int = 7
    def docsPerOp(op: Int): Int
    def generate(): Unit
    def setup(spark: SparkSession): Unit
    /** One operation, with the output check after it (not timed). */
    def run(spark: SparkSession, op: Int): Unit
    def check(spark: SparkSession, op: Int): Outcome
    /** The traced form: each layer's output materialised in its span. */
    def runLayered(spark: SparkSession, op: Int, tr: Tracer): Unit
    /** Strings fed to the clean kernel by one operation. */
    def kernelTexts(op: Int): Seq[String] = Nil
    /** CPU of driver-side threads the workload's calls start, so far. */
    def otherThreadCpuNs: Long = 0L
  }

  // ------------------------------------------------------------ helpers

  import Gen.mapper

  def rmrf(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.iterator().asScala.toSeq.reverse.foreach(Files.delete) finally s.close()
  }

  def files(p: Path): Seq[Path] = if (!Files.exists(p)) Nil else {
    val s = Files.walk(p)
    try s.iterator().asScala.filter(Files.isRegularFile(_)).toSeq finally s.close()
  }

  def dataFiles(p: Path): Seq[Path] =
    files(p).filter { f => val n = f.getFileName.toString; !n.startsWith(".") && !n.startsWith("_") }

  def dirBytes(p: Path): Long = files(p).map(Files.size).sum

  /** Every JSON line under `p`, parsed apart from Spark. */
  def jsonLines(p: Path): Seq[JsonNode] =
    dataFiles(p).flatMap(f => Files.readAllLines(f, UTF_8).asScala)
      .filter(_.nonEmpty).map(l => mapper.readTree(l))

  def text(n: JsonNode, f: String): String =
    Option(n.get(f)).filter(!_.isNull).map(_.asText).orNull

  def writeLines(p: Path, lines: Seq[String]): Unit = {
    Files.createDirectories(p.getParent)
    Files.write(p, (lines.mkString("\n") + "\n").getBytes(UTF_8))
  }

  /** Chunks (chunk_idx → text) must rebuild the token sequence of the
    * document: chunk i starts at token i·stride. */
  def chunksRebuild(content: String, chunks: Seq[(Int, String)]): Boolean = {
    val toks = content.trim.split("\\s+").toSeq
    val sorted = chunks.sortBy(_._1)
    val nChunks = math.max(1, (toks.size + ChunkStride - 1) / ChunkStride)
    sorted.map(_._1) == (0 until nChunks) && sorted.forall { case (i, t) =>
      val want = toks.slice(i * ChunkStride, i * ChunkStride + ChunkSize)
      (if (t.isEmpty) Seq("") else t.split(" ").toSeq) == want
    }
  }

  def checkRagLines(c: Checker, lines: Seq[JsonNode], what: String): Unit =
    lines.foreach { n =>
      val missing = RagFields.filter(f => n.get(f) == null || n.get(f).isNull)
      c.expect(missing.isEmpty, s"$what: line without ${missing.mkString(",")}")
    }

  /** `skip`: ids published more than once, already reported as such. */
  def checkChunks(c: Checker, chunkDir: Path, contents: Map[String, String],
      skip: Set[String] = Set.empty): Unit = {
    val byDoc = jsonLines(chunkDir).groupBy(n => text(n, "rag_id"))
    c.expect(byDoc.keySet == contents.keySet,
      s"chunks cover ${byDoc.size} docs, published ${contents.size}")
    contents.foreach { case (id, content) => if (!skip(id)) {
      val cs = byDoc.getOrElse(id, Nil).map(n => (n.get("chunk_idx").asInt, text(n, "chunk_text")))
      c.expect(chunksRebuild(content, cs), s"chunks of $id do not rebuild its tokens")
    }}
  }

  /** Token chunks of the published documents, as written to JSONL. */
  def chunks(pub: DataFrame): DataFrame =
    Chunker.chunkByTokens(pub, "content", ChunkSize, ChunkStride)
      .select("rag_id", "chunk_idx", "chunk_text")

  def unordered(p: (String, String)): (String, String) = if (p._1 <= p._2) p else p.swap

  def cleanup(spark: SparkSession): Unit = spark.catalog.clearCache()

  // -------------------------------------------------------------- fda_cold

  /** Full first ingest of `n` pages against an empty master. */
  final class FdaCold(seed: Long, work: Path, n: Int) extends Workload {
    val roundSize = 1
    def docsPerOp(op: Int): Int = n
    private val input = work.resolve("input")
    private val landing = input.resolve("landing")
    private val masterDir = work.resolve("state/master")
    private val out = work.resolve("out")
    private lazy val (records, pairs) = Gen.fdaCorpus(seed, n)
    private lazy val expected = records.filter(_.publish).map(r => r.ragId -> r.expectedContent).toMap
    private lazy val quarantined = records.filterNot(_.publish).map(_.ragId).toSet

    def generate(): Unit =
      records.grouped((n + 7) / 8).zipWithIndex.foreach { case (g, i) =>
        writeLines(landing.resolve(f"scrape-$i%02d.json"), g.map(_.json))
      }

    def setup(spark: SparkSession): Unit = {
      rmrf(masterDir)
      Sinks.writeMaster(spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], ScheduledIngest.masterSchema),
        masterDir.toString)
    }

    private def freshDf(spark: SparkSession): DataFrame =
      spark.read.schema(ScheduledIngest.freshSchema).json(landing.toString)

    def run(spark: SparkSession, op: Int): Unit = {
      rmrf(out)
      val res = FdaPipeline.run(freshDf(spark), spark.read.parquet(masterDir.toString), RunDate)
      Sinks.writeJsonl(res.published, out.resolve("published").toString)
      Sinks.writeJsonl(res.quarantined, out.resolve("quarantine").toString)
      Sinks.writeMaster(res.updatedMaster, out.resolve("master").toString)
      val pub = spark.read.schema(publishedSchema).json(out.resolve("published").toString)
      collectPairs(Dedup.minHashNearDups(pub, "rag_id", "content", DupThreshold).select("i", "j"))
      Sinks.writeJsonl(chunks(pub), out.resolve("chunks").toString)
      cleanup(spark)
    }

    private var foundPairs: Seq[(String, String)] = Nil
    private def collectPairs(df: DataFrame): Long = {
      foundPairs = df.collect().map(r => unordered((r.getString(0), r.getString(1)))).toSeq
      foundPairs.size
    }

    def check(spark: SparkSession, op: Int): Outcome = {
      val c = new Checker
      val pub = jsonLines(out.resolve("published"))
      checkRagLines(c, pub, "published")
      val ids = pub.map(text(_, "rag_id"))
      c.expect(ids.size == expected.size && ids.toSet == expected.keySet,
        s"published ${ids.size} rows / ${ids.toSet.size} ids, expected ${expected.size}")
      pub.foreach { l =>
        val id = text(l, "rag_id")
        c.expect(expected.get(id).contains(text(l, "content")), s"content of $id differs from the designed cleaning")
      }
      val q = jsonLines(out.resolve("quarantine")).map(text(_, "rag_id"))
      c.expect(q.size == quarantined.size && q.toSet == quarantined,
        s"quarantine ${q.size} rows, expected ${quarantined.size}")
      val m = spark.read.parquet(out.resolve("master").toString).select("rag_id")
        .collect().map(_.getString(0)).toSeq
      c.expect(m.size == expected.size && m.toSet == expected.keySet, s"master ${m.size} rows")
      val missing = pairs.map(unordered).filterNot(foundPairs.toSet)
      c.expect(missing.isEmpty, s"near-dup pairs missed: ${missing.size} of ${pairs.size}")
      checkChunks(c, out.resolve("chunks"), expected)
      c.result
    }

    def runLayered(spark: SparkSession, op: Int, tr: Tracer): Unit = {
      rmrf(out)
      val master = spark.read.parquet(masterDir.toString)
      val fresh = readSpan(tr)(freshDf(spark))
      val delta = tr.layer("ops.Fingerprint") {
        Fingerprint.deltaAntiJoin(fresh.withColumn("rag_id",
          Fingerprint.ragId(Fingerprint.idBase(col("url"), col("title"), col("date")))),
          master, "rag_id").persist()
      }(_.count())
      tr.add("ops.Fingerprint.delta_rows", delta.count())
      tr.layer("ops.CleanCorpus") {
        delta.withColumn("corpus", gf.clean_corpus(col("text"))).persist()
      }(_.count())
      // released, so FdaPipeline.run below cannot read them from the cache
      cleanup(spark)
      val res = tr.layer("pipeline.FdaPipeline") {
        val r = FdaPipeline.run(fresh, master, RunDate)
        FdaPipeline.Result(r.published.persist(), r.updatedMaster.persist(), r.quarantined.persist())
      } { r => r.quarantined.count(); r.updatedMaster.count(); r.published.count() }
      sink(tr, out, res.published.count()) {
        Sinks.writeJsonl(res.published, out.resolve("published").toString)
        Sinks.writeJsonl(res.quarantined, out.resolve("quarantine").toString)
        Sinks.writeMaster(res.updatedMaster, out.resolve("master").toString)
      }
      val pub = readSpan(tr)(spark.read.schema(publishedSchema).json(out.resolve("published").toString))
      tr.layer("ops.Dedup")(Dedup.minHashNearDups(pub, "rag_id", "content", DupThreshold)
        .select("i", "j"))(collectPairs)
      tr.add("ops.Dedup.dup_pairs", foundPairs.size)
      tr.add("ops.Dedup.candidate_pairs", Dedup.minHashNearDups(pub, "rag_id", "content", 0.0).count())
      val ch = tr.layer("ops.Chunker")(chunks(pub).persist())(_.count())
      sink(tr, out.resolve("chunks"), ch.count())(Sinks.writeJsonl(ch, out.resolve("chunks").toString))
      cleanup(spark)
    }

    override def kernelTexts(op: Int): Seq[String] = records.map(_.text)
  }

  /** A `sources` span: the read with its file listing, materialised. */
  def readSpan(tr: Tracer)(read: => DataFrame): DataFrame =
    tr.layer("sources") {
      val d = read
      tr.add("sources.files_listed", d.inputFiles.length)
      d.persist()
    }(_.count())

  /** A span for a sink call writing `rows` rows: the call is its own
    * action. Reports the files and bytes it left under `dir`. */
  def sink(tr: Tracer, dir: Path, rows: Long)(write: => Unit): Unit = {
    val (f0, b0) = (dataFiles(dir).size, dirBytes(dir))
    tr.layer("sources.Sinks")(())(_ => { write; rows })
    tr.add("sources.Sinks.files_written", dataFiles(dir).size - f0)
    tr.add("sources.Sinks.output_bytes", (dirBytes(dir) - b0).toDouble)
  }

  // ------------------------------------------------------------ daily_tick

  /** Scheduler steady state: a seeded master of `m` records, then ticks
    * each landing about 1% new pages. Tick 1 of every round of 3 lands
    * one new page twice (the D1 case). */
  final class DailyTick(seed: Long, work: Path, m: Int) extends Workload {
    val roundSize = 3
    // its set-up takes about 2 s warm, against 0.3 s for the others
    override val setups = 4
    private val nNew = math.max(1, m / 100)
    private val input = work.resolve("input")
    private val state = work.resolve("state")
    private val incoming = state.resolve("incoming")
    private val masterDir = state.resolve("master")
    private val publish = state.resolve("publish")
    private val quarantine = state.resolve("quarantine")
    private val ckpt = state.resolve("checkpoint")
    private val chunkRoot = state.resolve("chunks")
    private val indexDir = state.resolve("index")
    private lazy val masterRows = Gen.master(seed, m)
    private var index: Dedup.MinHashIndex = _
    private var masterCount = 0L
    private val ticks = scala.collection.mutable.Map.empty[Int, Gen.TickInput]
    private def tickInput(op: Int): Gen.TickInput =
      ticks.getOrElseUpdate(op, Gen.tick(seed, op, masterRows, nNew, duplicate = op % roundSize == 1))
    def docsPerOp(op: Int): Int = tickInput(op).nRecords

    def generate(): Unit =
      masterRows.grouped((m + 3) / 4).zipWithIndex.foreach { case (g, i) =>
        writeLines(input.resolve(s"master/part-$i.json"), g.map(_.json))
      }

    def setup(spark: SparkSession): Unit = {
      rmrf(state)
      Files.createDirectories(incoming)
      val seeded = spark.read.schema(ScheduledIngest.masterSchema).json(input.resolve("master").toString)
      Sinks.writeMaster(seeded, masterDir.toString)
      Dedup.minHashIndexSave(
        Dedup.minHashIndexBuild(spark.read.parquet(masterDir.toString), "rag_id", "corpus"),
        indexDir.toString)
      index = Dedup.minHashIndexLoad(spark, indexDir.toString)
      masterCount = m
      ticks.clear()
    }

    @volatile private var lastTick: ScheduledIngest.Tick = _
    @volatile private var tickThreadCpuNs = 0L
    override def otherThreadCpuNs: Long = tickThreadCpuNs
    private var foundPairs: Seq[(String, String)] = Nil

    private def land(op: Int, dir: Path): Unit =
      tickInput(op).files.zipWithIndex.foreach { case (f, i) =>
        val tmp = state.resolve(s"landing-$op-$i.tmp")
        writeLines(tmp, f.map(_.json))
        Files.move(tmp, dir.resolve(f"tick-$op%05d-$i.json"))
      }

    private def startTick(spark: SparkSession) = {
      lastTick = null
      ScheduledIngest.start(spark, incoming.toString, masterDir.toString, publish.toString,
        quarantine.toString, ckpt.toString, trigger = Trigger.AvailableNow(),
        runDateOf = _ => RunDate, onTick = { t =>
          // a tick runs on its query's own stream-execution thread: listing,
          // planning, the writes and the master swap, up to this report
          tickThreadCpuNs += ManagementFactory.getThreadMXBean.getCurrentThreadCpuTime
          lastTick = t
        })
    }

    private def batchDir: Path = publish.resolve(s"batch=${lastTick.batchId}")
    private def chunkDir(op: Int): Path = chunkRoot.resolve(s"tick=$op")

    private def collectPairs(df: DataFrame): Long = {
      foundPairs = df.select("batch_id", "corpus_id").collect()
        .map(r => (r.getString(0), r.getString(1))).toSeq
      foundPairs.size
    }

    def run(spark: SparkSession, op: Int): Unit = {
      land(op, incoming)
      startTick(spark).awaitTermination()
      val pub = spark.read.schema(publishedSchema).json(batchDir.toString)
      collectPairs(Dedup.minHashDedupeAgainst(index, pub, "rag_id", "content", DupThreshold))
      Sinks.writeJsonl(chunks(pub), chunkDir(op).toString)
      cleanup(spark)
    }

    def check(spark: SparkSession, op: Int): Outcome = {
      val c = new Checker
      val in = tickInput(op)
      // D1 shows only on the designed duplicate ticks; anywhere else the
      // same symptom is a wrong output
      def d1(cond: Boolean, msg: => String): Unit =
        if (in.dupRagId.nonEmpty) c.fault(cond, msg) else c.expect(cond, msg)
      c.expect(lastTick != null, s"tick $op produced no batch")
      if (lastTick == null) return c.result
      c.expect(lastTick.nFresh == in.nRecords, s"tick $op saw ${lastTick.nFresh} of ${in.nRecords} landed records")
      val pub = jsonLines(batchDir)
      checkRagLines(c, pub, s"tick $op published")
      val ids = pub.map(text(_, "rag_id"))
      c.expect(ids.toSet == in.published, s"tick $op published ids differ from the designed delta")
      // D1: FdaPipeline.run has no within-batch fingerprint dedup, so a
      // page landed twice in one tick is published and stored twice
      d1(ids.size == ids.toSet.size, s"tick $op published ${ids.size - ids.toSet.size} duplicate rag_id rows")
      pub.foreach { l =>
        val id = text(l, "rag_id")
        c.expect(in.expectedContent.get(id).contains(text(l, "content")), s"tick $op content of $id differs")
      }
      val q = jsonLines(quarantine.resolve(s"batch=${lastTick.batchId}")).map(text(_, "rag_id"))
      c.expect(q.toSet == in.quarantined && q.size == in.quarantined.size, s"tick $op quarantine differs")
      val nMaster = spark.read.parquet(masterDir.toString).count()
      d1(nMaster - masterCount == in.published.size,
        s"tick $op grew the master by ${nMaster - masterCount}, ${in.published.size} new ids")
      masterCount = nMaster
      val missing = in.nearDupPairs.filterNot(foundPairs.toSet)
      c.expect(missing.isEmpty, s"tick $op near-dup pairs missed: ${missing.size}")
      checkChunks(c, chunkDir(op), pub.map(l => text(l, "rag_id") -> text(l, "content")).toMap,
        skip = ids.diff(ids.distinct).toSet)
      c.result
    }

    def runLayered(spark: SparkSession, op: Int, tr: Tracer): Unit = {
      // Fingerprint and clean run inside the tick's foreachBatch; here
      // they are applied alone to the tick's landing, against the master
      // the tick will see, so their cost can be read apart.
      val staged = state.resolve(s"staged-$op")
      Files.createDirectories(staged)
      land(op, staged)
      val fresh = readSpan(tr)(spark.read.schema(ScheduledIngest.freshSchema).json(staged.toString))
      val delta = tr.layer("ops.Fingerprint") {
        Fingerprint.deltaAntiJoin(fresh.withColumn("rag_id",
          Fingerprint.ragId(Fingerprint.idBase(col("url"), col("title"), col("date")))),
          spark.read.parquet(masterDir.toString), "rag_id").persist()
      }(_.count())
      tr.add("ops.Fingerprint.delta_rows", delta.count())
      tr.layer("ops.CleanCorpus")(delta.withColumn("corpus", gf.clean_corpus(col("text"))).persist())(_.count())
      cleanup(spark)

      val e0 = tr.evals()
      val t0 = System.nanoTime()
      val before = Seq(publish, quarantine, ckpt).map(dirBytes).sum
      dataFiles(staged).foreach(f => Files.move(f, incoming.resolve(f.getFileName)))
      rmrf(staged)
      tr.layer("streaming.ScheduledIngest")(startTick(spark))(q => { q.awaitTermination(); lastTick.nPublished })
      val written = dirBytes(masterDir) + Seq(publish, quarantine, ckpt).map(dirBytes).sum - before
      tr.add("streaming.ScheduledIngest.bytes_written", written.toDouble)
      tr.add("streaming.ScheduledIngest.write_amp", written.toDouble / math.max(1L, dirBytes(batchDir)))
      val pub = readSpan(tr)(spark.read.schema(publishedSchema).json(batchDir.toString))
      tr.layer("ops.Dedup")(Dedup.minHashDedupeAgainst(index, pub, "rag_id", "content", DupThreshold))(collectPairs)
      tr.add("ops.Dedup.dup_pairs", foundPairs.size)
      val ch = tr.layer("ops.Chunker")(chunks(pub).persist())(_.count())
      sink(tr, chunkDir(op), ch.count())(Sinks.writeJsonl(ch, chunkDir(op).toString))
      cleanup(spark)
      tr.add("trace.op_ms", (System.nanoTime() - t0) / 1e6)
      tr.add("ops.CleanCorpus.plan_evals", tr.evals() - e0)
      tr.add("ops.Dedup.candidate_pairs",
        Dedup.minHashDedupeAgainst(index, spark.read.schema(publishedSchema).json(batchDir.toString),
          "rag_id", "content", 0.0).count())
    }

    override def kernelTexts(op: Int): Seq[String] = tickInput(op).files.flatten.map(_.text)
  }

  // ------------------------------------------------------------ pdf_enrich

  /** Paper texts read as binary files, enriched against a seeded PubMed
    * table, written as per-record JSON and combined into JSONL. */
  final class PdfEnrich(seed: Long, work: Path, nPapers: Int, nDim: Int) extends Workload {
    val roundSize = 1
    def docsPerOp(op: Int): Int = nPapers
    private val input = work.resolve("input")
    private val papersDir = input.resolve("papers")
    private val dimDir = work.resolve("state/pubmed")
    private val out = work.resolve("out")
    private lazy val (dim, papers) = Gen.pdfInputs(seed, nPapers, nDim)
    private val dimSchema = "pmid STRING, doi STRING, title STRING, journal STRING, year STRING, authors ARRAY<STRING>"

    def generate(): Unit = {
      papers.foreach { p =>
        Files.createDirectories(papersDir)
        Files.write(papersDir.resolve(p.file), p.text.getBytes(UTF_8))
      }
      writeLines(input.resolve("pubmed/pubmed.json"), dim.map(_.json))
    }

    def setup(spark: SparkSession): Unit = {
      rmrf(dimDir)
      Sinks.writeMaster(spark.read.schema(dimSchema).json(input.resolve("pubmed").toString),
        dimDir.toString)
    }

    private def keyed(df: DataFrame): DataFrame = df.withColumn("doc_key", md5(col("path")))
    private var publishedSources = 0L

    def run(spark: SparkSession, op: Int): Unit = {
      rmrf(out)
      val res = PdfPipeline.run(Sources.binaryFiles(spark, papersDir.toString),
        spark.read.parquet(dimDir.toString))
      Sinks.writePerKeyJson(keyed(res), "doc_key", out.resolve("records").toString)
      publishedSources = JsonlPublish.run(spark, Seq(out.resolve("records").toString),
        out.resolve("jsonl").toString, RunDate).collect().map(_.getLong(1)).sum
    }

    def check(spark: SparkSession, op: Int): Outcome = {
      val c = new Checker
      val recs = jsonLines(out.resolve("records"))
      val byFile = recs.groupBy(n => Paths.get(text(n, "path")).getFileName.toString)
      papers.foreach { p =>
        val rows = byFile.getOrElse(p.file, Nil)
        c.expect(rows.size == 1, s"${p.file}: ${rows.size} output rows")
        rows.headOption.foreach { r =>
          val verified = r.get("verified").asBoolean
          val link = text(r, "Link")
          val title = text(r, "Title")
          val want: (Boolean, String, String) = p.cls match {
            case Gen.DoiMatch => (true, s"https://doi.org/${p.dim.get.doi}", p.dim.get.title)
            case Gen.TitleAbove => (true, s"https://pubmed.ncbi.nlm.nih.gov/${p.dim.get.pmid}", p.dim.get.title)
            case _ => (false, "https://pubmed.ncbi.nlm.nih.gov", p.title)
          }
          c.expect((verified, link, title) == want,
            s"${p.file} (${p.cls}): got ($verified, $link, $title), want $want")
        }
      }
      c.expect(byFile.size == papers.size, s"${byFile.size} papers in output, ${papers.size} in input")
      val lines = jsonLines(out.resolve("jsonl"))
      checkRagLines(c, lines, "jsonl")
      c.expect(lines.size == papers.size, s"jsonl has ${lines.size} lines")
      c.expect(publishedSources == papers.size, s"per-source counts sum to $publishedSources")
      lines.foreach { l =>
        c.expect(text(l, "rag_id") == Gen.md5Hex(text(l, "content")), "jsonl rag_id is not md5(content)")
      }
      c.result
    }

    def runLayered(spark: SparkSession, op: Int, tr: Tracer): Unit = {
      rmrf(out)
      val bin = readSpan(tr)(Sources.binaryFiles(spark, papersDir.toString))
      val dimDf = spark.read.parquet(dimDir.toString)
      val docs = tr.layer("pipeline.PdfPipeline")(
        PdfPipeline.convertAndExtract(bin, PdfPipeline.TextBytesConverter).persist())(_.count())
      val enriched = tr.layer("ops.Similarity")(PdfPipeline.enrich(docs, dimDf).persist())(_.count())
      val titlePath = enriched.filter(!col("use_doi")).count()
      tr.add("ops.Similarity.pairs_evaluated", (titlePath * dimDf.count()).toDouble)
      tr.add("ops.Similarity.matches", enriched.filter(!col("use_doi") && col("pmid").isNotNull).count())
      val res = tr.layer("pipeline.PdfPipeline")(PdfPipeline.buildOutput(enriched).persist())(_.count())
      sink(tr, out.resolve("records"), res.count())(
        Sinks.writePerKeyJson(keyed(res), "doc_key", out.resolve("records").toString))
      tr.layer("pipeline.JsonlPublish")(JsonlPublish.run(spark,
        Seq(out.resolve("records").toString), out.resolve("jsonl").toString, RunDate)) { st =>
        publishedSources = st.collect().map(_.getLong(1)).sum
        publishedSources
      }
      cleanup(spark)
    }
  }

  // ----------------------------------------------------------------- main

  def session(work: Path): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$Cores]")
      .appName("lifebench")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def stop(spark: SparkSession): Unit = {
    spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val name = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val traced = opt("trace") == "1"
    val work = Paths.get(opt("work")).toAbsolutePath
    val w: Workload = name match {
      case "fda_cold" => new FdaCold(seed, work, 24)
      case "daily_tick" => new DailyTick(seed, work, 3000)
      case "pdf_enrich" => new PdfEnrich(seed, work, 40, 240)
      case other => sys.error(s"unknown workload $other")
    }
    val jvm0 = ManagementFactory.getRuntimeMXBean.getStartTime
    def phase(name: String): Unit =
      System.err.println(f"phase $name ${(System.currentTimeMillis() - jvm0) / 1e3}%.2f")
    phase("jvm")
    w.generate()
    phase("generated")

    val setupS = (0 until w.setups).map { _ =>
      SparkSession.getActiveSession.foreach(stop)
      val t0 = System.nanoTime()
      val spark = session(work)
      w.setup(spark)
      (System.nanoTime() - t0) / 1e9
    }
    System.err.println(setupS.map(x => f"$x%.3f").mkString("setups_s ", " ", ""))
    val spark = SparkSession.getActiveSession.get
    phase("setup")
    val tracer = if (traced) Some(new Tracer(spark)) else None
    // cpu_s: Spark task CPU (from the benchmark's own listener) plus the
    // CPU of the driver threads that plan and submit the jobs: this main
    // thread and, on daily_tick, each tick's stream-execution thread.
    // JIT compiler and GC threads are left out: the JIT alone spends more
    // CPU than the program's tasks, and its share varies from run to run.
    val tasks = tracer.map(_.totals).getOrElse {
      val t = new TaskTotals; spark.sparkContext.addSparkListener(t); t
    }
    val mainThread = ManagementFactory.getThreadMXBean
    def programCpuNs(): Long = {
      org.apache.spark.LifeBenchBus.drain(spark.sparkContext)
      tasks.cpuNs.get + mainThread.getCurrentThreadCpuTime + w.otherThreadCpuNs
    }

    val opS, cpuS, docsPerS = scala.collection.mutable.ArrayBuffer.empty[Double]
    var attempted, failed = 0
    val problems = scala.collection.mutable.ArrayBuffer.empty[String]
    // The first round(s) warm the JIT and Spark's generated-code cache:
    // checked and counted as attempted, but not timed (a daemon pays
    // this once, not per tick).
    val warmup = if (w.roundSize > 1) w.roundSize else 2
    var timed = 0.0
    var op = 0
    while (op < warmup || timed < seconds || op % w.roundSize != 0) {
      val warm = op < warmup
      tracer.foreach(_.beginOp())
      val e0 = tracer.map(_.evals()).getOrElse(0L)
      val docs = w.docsPerOp(op) // generates a tick's input before its clock starts
      val c0 = programCpuNs()
      val t0 = System.nanoTime()
      tracer match {
        case Some(tr) if w.isInstanceOf[DailyTick] => w.runLayered(spark, op, tr)
        case _ => w.run(spark, op)
      }
      val dt = (System.nanoTime() - t0) / 1e9
      val dc = (programCpuNs() - c0) / 1e9
      System.err.println(f"op $op%d wall_s $dt%.3f cpu_s $dc%.3f${if (warm) " warm-up" else ""}")
      if (!warm) {
        timed += dt
        opS += dt; cpuS += dc; docsPerS += docs / dt
      }
      attempted += 1
      val outcome = w.check(spark, op)
      if (outcome.problems.nonEmpty) problems ++= outcome.problems
      else if (outcome.knownFault.nonEmpty) failed += 1
      tracer.foreach { tr =>
        if (warm) tr.discardOp()
        else {
          if (!w.isInstanceOf[DailyTick]) {
            // the fused operation ran with the tracer's listeners
            // attached; now the layered form, checked like the fused one
            tr.add("trace.op_ms", dt * 1000)
            tr.add("ops.CleanCorpus.plan_evals", tr.evals() - e0)
            val l0 = System.nanoTime()
            w.runLayered(spark, op, tr)
            timed += (System.nanoTime() - l0) / 1e9
            val lo = w.check(spark, op)
            problems ++= lo.problems ++ lo.knownFault
          }
          val texts = w.kernelTexts(op)
          if (texts.nonEmpty) {
            val kb = texts.map(_.getBytes(UTF_8).length).sum / 1024.0
            val k0 = System.nanoTime()
            texts.foreach(CleanCorpus.clean)
            tr.add("ops.CleanCorpus.kernel_us_per_kb", (System.nanoTime() - k0) / 1e3 / kb)
          }
        }
      }
      op += 1
    }

    val metrics: Seq[(String, Double, String)] = tracer match {
      case None => Seq(
        ("setup_s", Stats.median(setupS), "s"),
        ("docs_per_s", Stats.median(docsPerS.toSeq), "docs/s"),
        ("tick_s", Stats.median(opS.toSeq), "s"),
        ("cpu_s", Stats.median(cpuS.toSeq), "s"))
      case Some(tr) => tr.summary(PerLayer).map { case (k, v) => (k, v, unitOf(k)) }
    }
    problems.take(20).foreach(p => System.err.println(s"CHECK FAILED: $p"))
    val result = Gen.jsonObj(
      "correct" -> problems.isEmpty,
      "attempted" -> attempted,
      "failed" -> failed,
      "metrics" -> metrics.map { case (k, v, u) => k -> Map("value" -> v, "unit" -> u) }.toMap)
    phase("ops")
    stop(spark)
    phase("stopped")
    Files.write(Paths.get(opt("out")), result.getBytes(UTF_8))
  }

  def unitOf(metric: String): String = metric.split('.').last match {
    case "wall_ms" | "build_ms" | "cpu_ms" | "gc_ms" | "op_ms" => "ms"
    case "shuffle_bytes" | "bytes_written" | "output_bytes" | "input_bytes" => "bytes"
    case "kernel_us_per_kb" => "us/KB"
    case "write_amp" => "ratio"
    case _ => "count"
  }
}
