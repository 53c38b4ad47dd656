package graftbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}

import graft.pipeline.{Curation, Workflow}
import graft.operators.CorpusOps
import graft.sources.FileScan
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._

/** One timed sample: what ran and its wall time. */
final case class Sample(kind: String, nanos: Long)

/** A wrong output. The operation counts as failed. */
final class CheckFailed(msg: String) extends Exception(msg)

/** A benchmark workload: inputs built from the seed, one repeatable
  * timed operation, and checks of that operation's outputs. */
abstract class Workload(val spark: SparkSession, val seed: Long, val work: Path) {
  /** Builds the inputs. Called several times so that set-up time is a
    * median; the last call's inputs are the ones used. */
  def setup(round: Int): Unit
  /** Untimed operations that let caches fill and code compile. */
  def warm(): Unit
  /** One operation. Throws on a wrong output. */
  def op(i: Int, trace: Option[Trace]): Seq[Sample]
  /** The sample kind whose wall is one whole operation. */
  def opKind: String
  /** `docs_per_s` and `p50_ms`. */
  def endToEnd(s: Seq[Sample]): Map[String, Double]
  /** The workload's own figures for the full record. */
  def details(s: Seq[Sample]): Map[String, Any]
  /** Per-layer figures only this workload produces, per operation. */
  def layers(s: Seq[Sample], t: Trace, ops: Int): Map[String, Double]

  protected val sc = spark.sparkContext

  protected def check(ok: Boolean, msg: => String): Unit =
    if (!ok) throw new CheckFailed(msg)

  protected def span[T](t: Option[Trace], name: String, req: Int)(f: => T): T =
    t.fold(f)(_.span(name, req)(f))

  protected def timed[T](f: => T): (T, Long) = {
    val t0 = System.nanoTime()
    val r = f
    (r, System.nanoTime() - t0)
  }

  protected def walls(s: Seq[Sample], kind: String): Seq[Double] =
    s.filter(_.kind == kind).map(_.nanos / 1e6)

  protected def medianOf(s: Seq[Sample], kind: String): Double = Stats.median(walls(s, kind))

  protected def fresh(name: String): Path = {
    val p = work.resolve(name)
    Workload.deleteTree(p)
    Files.createDirectories(p)
    p
  }
}

object Workload {
  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try {
      import scala.jdk.CollectionConverters._
      s.iterator().asScala.toSeq.reverse.foreach(Files.delete)
    } finally s.close()
  }

  def sha256Hex(b: Array[Byte]): String =
    java.security.MessageDigest.getInstance("SHA-256").digest(b).map(x => f"$x%02x").mkString

  def dirBytes(p: Path): Long = if (!Files.exists(p)) 0L else {
    val s = Files.walk(p)
    try {
      import scala.jdk.CollectionConverters._
      s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
    } finally s.close()
  }

  val PromptCols: Seq[String] = Docs.Prompts.map(_.name)

  /** Compares one output row's typed answers with the expected ones. */
  def answersMatch(r: Row, offset: Int, text: String): Boolean =
    Docs.expected(text).zipWithIndex.forall { case (want, i) => r.get(offset + i) == want }
}

/** The scheduled-pipeline entry point: a cold Workflow.run over a file
  * tree with an empty history, then an incremental run after 2% new
  * files arrive. */
final class EtlBatch(spark: SparkSession, seed: Long, work: Path) extends Workload(spark, seed, work) {
  val NDocs = 300
  val NNew = NDocs / 50
  val opKind = "round"

  private var src: Path = _
  private var texts: Map[String, String] = Map.empty

  def setup(round: Int): Unit = {
    val dir = fresh(s"etl-src-$round")
    val rng = new java.util.SplittableRandom(seed)
    texts = (0 until NDocs).map { i =>
      val t = Docs.text(rng)
      val p = dir.resolve(s"${i % 10}/d$i.txt")
      Files.createDirectories(p.getParent)
      Files.write(p, t.getBytes(UTF_8))
      s"d$i.txt" -> t
    }.toMap
    src = dir
    // the engine's first listing of the tree
    val listed = FileScan.scan(spark, scanConfig).count()
    check(listed == NDocs, s"set-up listed $listed files")
  }

  // maxFiles defaults to 100: it must cover the whole tree
  private def scanConfig = FileScan.ScanConfig(root = src.toString, maxFiles = 10 * NDocs)

  private def spec(hist: Path, out: Path) = Workflow.WorkflowSpec(
    scan = scanConfig,
    prompts = Docs.Prompts,
    historyPath = hist.toString,
    outputFolder = out.toString)

  /** One timed Workflow.run, sampled when traced. */
  private def runFlow(t: Option[Trace], name: String, i: Int, hist: Path, out: Path) = timed {
    def run() = Workflow.run(spark, spec(hist, out), BenchLLM.factory)
    t.fold(run())(_.sampled(name, i)(run()))
  }

  private def checkRun(name: String, s: Workflow.RunSummary, want: Workflow.RunSummary,
      calls: Long, out: Path, known: Map[String, String]): Unit = {
    check(s == want, s"$name summary $s, expected $want")
    check(calls == want.afterDedup * Docs.Prompts.size,
      s"$name made $calls LLM calls for ${want.afterDedup} fresh docs")
    val rows = spark.read.json(out.toString)
      .select((col("file_name") +: Workload.PromptCols.map(col)): _*).collect()
    check(rows.length == want.afterDedup, s"$name wrote ${rows.length} rows")
    rows.foreach { r =>
      val t = known.getOrElse(r.getString(0), throw new CheckFailed(s"$name: unknown ${r.getString(0)}"))
      check(Workload.answersMatch(r, 1, t), s"$name: wrong answers for ${r.getString(0)}: $r")
    }
  }

  /** Extra per-round figures for the traced run. */
  private val touched = scala.collection.mutable.ArrayBuffer.empty[(Double, Double)]
  private val listed = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]

  def op(i: Int, t: Option[Trace]): Seq[Sample] = {
    val dir = fresh(s"etl-run-$i")
    val hist = dir.resolve("history")
    val newDir = src.resolve("new")
    Workload.deleteTree(newDir)

    val c0 = BenchLLM.calls.get()
    val (cold, coldNs) = runFlow(t, "workflow.cold", i, hist, dir.resolve("out"))
    checkRun("cold run", cold, Workflow.RunSummary(NDocs, NDocs, NDocs, 0),
      BenchLLM.calls.get() - c0, dir.resolve("out"), texts)

    val rng = new java.util.SplittableRandom(seed * 7919 + i)
    val added = (0 until NNew).map { j =>
      val text = Docs.text(rng)
      Files.createDirectories(newDir)
      Files.write(newDir.resolve(s"n$j.txt"), text.getBytes(UTF_8))
      s"n$j.txt" -> text
    }.toMap
    val out = dir.resolve("out-new")
    val c1 = BenchLLM.calls.get()
    val (incr, incrNs) = runFlow(t, "workflow.incr", i, hist, out)
    checkRun("incremental run", incr, Workflow.RunSummary(NDocs + NNew, NNew, NNew, 0),
      BenchLLM.calls.get() - c1, out, added)
    val historyRows = spark.read.parquet(hist.toString).count()
    check(historyRows == NDocs + NNew, s"history holds $historyRows rows")

    if (t.isDefined) {
      val buckets = added.values.map(x => Workload.sha256Hex(x.getBytes(UTF_8)).take(2)).toSet
      val mb = buckets.toSeq.map(b => Workload.dirBytes(hist.resolve(s"key_prefix=x$b"))).sum / 1e6
      touched += ((buckets.size.toDouble, mb))
      listed += ((cold.listed + incr.listed, cold.afterDedup + incr.afterDedup))
    }
    Workload.deleteTree(dir)
    Seq(Sample("cold", coldNs), Sample("incr", incrNs), Sample("round", coldNs + incrNs))
  }

  def warm(): Unit = op(Main.WarmFrom, None)

  def endToEnd(s: Seq[Sample]): Map[String, Double] = Map(
    "docs_per_s" -> NDocs / (medianOf(s, "cold") / 1e3),
    "p50_ms" -> medianOf(s, "incr"))

  def details(s: Seq[Sample]): Map[String, Any] = Map(
    "docs" -> NDocs, "new_docs" -> NNew,
    "etl_cold_docs_per_s" -> NDocs / (medianOf(s, "cold") / 1e3),
    "etl_incr_s" -> medianOf(s, "incr") / 1e3,
    "rounds" -> s.count(_.kind == "round"))

  def layers(s: Seq[Sample], t: Trace, ops: Int): Map[String, Double] = {
    val per = (x: Double) => x / ops
    Map(
      "sources.files_listed" -> per(listed.map(_._1.toDouble).sum),
      "sources.files_fresh" -> per(listed.map(_._2.toDouble).sum),
      "sinks.history_buckets_touched" -> per(touched.map(_._1).sum),
      "sinks.history_mb_rewritten" -> per(touched.map(_._2).sum),
      "pipeline.llm_calls_per_field" ->
        t.llmCalls.toDouble / (listed.map(_._2).sum * Docs.Prompts.size))
  }
}

/** The corpus-curation path: Curation.run with the default config over
  * ten times the sf0.1 document count, its packed output forced. */
final class CurationX10(spark: SparkSession, seed: Long, work: Path) extends Workload(spark, seed, work) {
  val NDocs = 50000
  val opKind = "curation"

  private var docs: org.apache.spark.sql.DataFrame = _
  private var reference: Docs.Funnel = _
  private val gateWalls = scala.collection.mutable.ArrayBuffer.empty[Double]

  def setup(round: Int): Unit = {
    import spark.implicits._
    val corpus = Docs.corpus(seed, NDocs)
    val path = fresh(s"curation-$round").resolve("docs.parquet").toString
    corpus.map(d => (d.id, d.text, d.lang, d.source)).toDF("doc_id", "text", "lang", "source")
      .repartition(sc.defaultParallelism).write.parquet(path)
    docs = spark.read.parquet(path)
    docs.count()
    corpusDocs = corpus
  }
  private var corpusDocs: IndexedSeq[Docs.Doc] = IndexedSeq.empty

  def op(i: Int, t: Option[Trace]): Seq[Sample] = {
    var runNs, forceNs = 0L
    val summary = span(t, "curation.op", i) {
      val ((bins, summary), r) = timed(span(t, "pipeline.curation_run", i)(Curation.run(docs)))
      val (_, f) = timed(span(t, "pipeline.curation_force", i)(
        bins.write.format("noop").mode("overwrite").save()))
      runNs = r; forceNs = f
      summary
    }
    val want = reference
    check(summary.raw == want.raw && summary.gated == want.gated &&
      summary.boilerDropped == want.boilerDropped && summary.packedDocs == want.packedDocs &&
      summary.sampledOut == 0 && summary.bins > 0 && summary.bins <= summary.packedDocs,
      s"curation funnel $summary, expected $want")
    check(summary.gated > 0 && summary.gated < summary.raw,
      s"gate kept ${summary.gated} of ${summary.raw}")
    if (t.isDefined) {
      val (_, gateNs) = timed(docs.filter(CorpusOps.gateKeep(col("text"), CorpusOps.GateRules()))
        .write.format("noop").mode("overwrite").save())
      gateWalls += gateNs / 1e9
    }
    Seq(Sample("run", runNs), Sample("force", forceNs), Sample("curation", runNs + forceNs))
  }

  def warm(): Unit = {
    reference = Docs.funnel(corpusDocs)
    op(Main.WarmFrom, None)
  }

  def endToEnd(s: Seq[Sample]): Map[String, Double] = Map(
    "docs_per_s" -> NDocs / (medianOf(s, "curation") / 1e3),
    "p50_ms" -> medianOf(s, "curation"))

  def details(s: Seq[Sample]): Map[String, Any] = Map(
    "docs" -> NDocs,
    "curation_docs_per_s" -> NDocs / (medianOf(s, "curation") / 1e3),
    "funnel" -> Map("raw" -> reference.raw, "gated" -> reference.gated,
      "boiler_dropped" -> reference.boilerDropped, "packed_docs" -> reference.packedDocs),
    "runs" -> s.count(_.kind == "curation"))

  def layers(s: Seq[Sample], t: Trace, ops: Int): Map[String, Double] = Map(
    "operators.gate_keep_s" -> Stats.median(gateWalls.toSeq),
    "pipeline.curation_run_s" -> Stats.median(t.durations("pipeline.curation_run")),
    "pipeline.curation_force_s" -> Stats.median(t.durations("pipeline.curation_force")))
}
