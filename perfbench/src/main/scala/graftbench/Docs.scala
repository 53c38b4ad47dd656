package graftbench

import graft.pipeline.PromptSpec

/** Seeded document text in the shape of the sf0.1 `documents` table:
  * words drawn uniformly from its 30-word vocabulary, 10 to 100 words a
  * document, 20 sources, the same language mix. Also the independent
  * answers the benchmark checks the engine's outputs against. */
object Docs {

  val Vocab: IndexedSeq[String] = IndexedSeq(
    "spark", "window", "merge", "table", "column", "vector", "stream", "value",
    "data", "small", "join", "filter", "big", "group", "hash", "customer",
    "sort", "order", "slow", "line", "part", "fast", "row", "the", "agg",
    "key", "query", "a", "scan", "batch")

  /** sf0.1 language shares, in percent. */
  private val LangMix = Seq("en" -> 41, "zh" -> 15, "es" -> 15, "fr" -> 15, "de" -> 14)

  final case class Doc(id: Long, text: String, lang: String, source: String)

  def words(rng: java.util.SplittableRandom, n: Int): String =
    Iterator.fill(n)(Vocab(rng.nextInt(Vocab.size))).mkString(" ")

  def text(rng: java.util.SplittableRandom): String = words(rng, 10 + rng.nextInt(91))

  private def lang(rng: java.util.SplittableRandom): String = {
    var r = rng.nextInt(100)
    LangMix.find { case (_, p) => r -= p; r < 0 }.get._1
  }

  /** A curation corpus of `n` documents. Besides plain sf0.1-style text
    * it holds the cases the default curation stages act on: short
    * documents (the word-count gate), exact copies (exact dedup), copies
    * marked with a trailing "dup" as in sf0.1, and documents opening
    * with one of a few shared templates (the boilerplate stage). */
  def corpus(seed: Long, n: Int): IndexedSeq[Doc] = {
    val rng = new java.util.SplittableRandom(seed)
    val templates = IndexedSeq.fill(4)(words(rng, 30))
    val texts = new Array[String](n)
    var i = 0
    while (i < n) {
      val r = rng.nextInt(100)
      texts(i) =
        if (i > 0 && r < 1) texts(rng.nextInt(i))
        else if (i > 0 && r < 6) texts(rng.nextInt(i)) + " dup"
        else if (r < 8) templates(rng.nextInt(templates.size)) + " " + words(rng, 10 + rng.nextInt(30))
        else if (r < 11) words(rng, 3 + rng.nextInt(7))
        else text(rng)
      i += 1
    }
    texts.toIndexedSeq.zipWithIndex.map { case (t, id) =>
      Doc(id.toLong, t, lang(rng), s"src${id % 20}")
    }
  }

  // ---- the four typed prompts and the answers MockLLM must give ----

  val Prompts: Seq[PromptSpec] = Seq(
    PromptSpec("n_spark", "Give the count of word 'spark'", "number"),
    PromptSpec("n_the", "Give the count of word 'the'", "number"),
    PromptSpec("has_vector", "Answer yes or no: does it mention 'vector'", "boolean"),
    PromptSpec("first", "What is the first word?", "text"))

  private def occurrences(text: String, w: String): Int = {
    var n = 0
    var i = text.indexOf(w)
    while (i >= 0) { n += 1; i = text.indexOf(w, i + w.length) }
    n
  }

  /** The typed answers for one document, in [[Prompts]] order. */
  def expected(text: String): Seq[Any] = {
    val t = text.trim
    val sp = t.indexOf(' ')
    Seq(occurrences(text, "spark").toDouble, occurrences(text, "the").toDouble,
      text.contains("vector"), if (sp < 0) t else t.substring(0, sp))
  }

  // ---- reference funnel for Curation.run with the default config ----

  private val Stopwords = Set("the", "a", "of", "to", "and")

  /** CorpusOps.gateKeep under the default GateRules. */
  def passesGate(text: String): Boolean = {
    val w = text.trim.split("\\s+")
    val n = w.length
    val meanLen = text.trim.replaceAll("\\s+", "").length.toDouble / n
    n >= 10 && n <= 1000 && meanLen >= 2.0 && meanLen <= 12.0 &&
      w.count(Stopwords) >= 2 && w.count(_.exists(_.isLetter)).toDouble / n >= 0.8
  }

  private def fiveGrams(text: String): Set[String] = {
    val w = text.trim.split("\\s+")
    if (w.length >= 5) w.sliding(5).map(_.mkString(" ")).toSet else Set(text.trim)
  }

  final case class Funnel(raw: Long, gated: Long, boilerDropped: Long, packedDocs: Long)

  /** The funnel counts the default curation config must report: gated
    * docs, gated docs dropped as boilerplate (at least half their
    * distinct 5-grams shared by 3+ docs of the raw corpus), and the
    * distinct texts left for packing. */
  def funnel(docs: IndexedSeq[Doc]): Funnel = {
    val grams = docs.map(d => fiveGrams(d.text))
    val df = scala.collection.mutable.HashMap.empty[String, Int]
    grams.foreach(_.foreach(g => df.update(g, df.getOrElse(g, 0) + 1)))
    val gated = docs.indices.filter(i => passesGate(docs(i).text))
    val boiler = gated.filter { i =>
      val gs = grams(i)
      gs.count(g => df(g) >= 3).toDouble / gs.size >= 0.5
    }.toSet
    val kept = gated.filterNot(boiler)
    Funnel(docs.size, gated.size, boiler.size, kept.map(docs(_).text).distinct.size)
  }
}
