package graft.perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}

/** Seeded input generators. Every input the engine sees in a benchmark
  * run comes from here: the same seed gives byte-identical inputs, and
  * any two seeds give different ones.
  *
  * The corpus is structured markdown on purpose: H1–H3 headings,
  * multi-sentence paragraphs, bullet lists and pipe tables, so every one
  * of the five chunkers finds real boundaries to split on.
  */
object Gen {

  /** splitmix64 finaliser: derives independent sub-seeds from one seed. */
  def mix(seed: Long, tag: String, i: Long = 0L): Long = {
    var z = seed ^ (tag.hashCode.toLong * 0x9e3779b97f4a7c15L) ^ (i * 0xbf58476d1ce4e5b9L)
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  def rng(seed: Long, tag: String, i: Long = 0L): scala.util.Random =
    new scala.util.Random(mix(seed, tag, i))

  private val Consonants = "bdfgklmnprstvz"
  private val Vowels = "aeiou"

  /** A topic: a file-name slug plus the keywords its documents favour. */
  final case class Topic(slug: String, keywords: IndexedSeq[String])

  /** The language every generated text is drawn from: a Zipf-weighted
    * vocabulary of consonant–vowel pseudo-words plus topics whose
    * keywords are disjoint from each other and from the common words.
    */
  final class Lexicon(seed: Long, nWords: Int = 3000, nTopics: Int = 24,
      keywordsPerTopic: Int = 10) {
    private val words: IndexedSeq[String] = {
      val r = rng(seed, "lexicon")
      val seen = scala.collection.mutable.LinkedHashSet.empty[String]
      val total = nWords + nTopics * (keywordsPerTopic + 1)
      while (seen.size < total) {
        val syl = 2 + r.nextInt(3)
        val sb = new StringBuilder
        (0 until syl).foreach { _ =>
          sb += Consonants(r.nextInt(Consonants.length))
          sb += Vowels(r.nextInt(Vowels.length))
        }
        seen += sb.toString
      }
      seen.toIndexedSeq
    }
    val common: IndexedSeq[String] = words.take(nWords)
    val topics: IndexedSeq[Topic] = (0 until nTopics).map { t =>
      val base = nWords + t * (keywordsPerTopic + 1)
      Topic(words(base), words.slice(base + 1, base + 1 + keywordsPerTopic))
    }
    // Zipf(1.1) over the common words: cumulative weights for sampling
    private val cdf: Array[Double] = {
      val w = common.indices.map(r => 1.0 / math.pow(r + 1, 1.1)).toArray
      val c = w.scanLeft(0.0)(_ + _).tail
      c.map(_ / c.last)
    }
    def commonWord(r: scala.util.Random): String = {
      val i = java.util.Arrays.binarySearch(cdf, r.nextDouble())
      common(math.min(if (i >= 0) i else -i - 1, common.length - 1))
    }
    def word(r: scala.util.Random, t: Topic): String =
      if (r.nextDouble() < 0.25) t.keywords(r.nextInt(t.keywords.length))
      else commonWord(r)
  }

  private def sentence(r: scala.util.Random, lex: Lexicon, t: Topic): String = {
    val n = 8 + r.nextInt(9)
    val ws = (0 until n).map(_ => lex.word(r, t))
    ws.head.capitalize + ws.tail.map(" " + _).mkString + (if (r.nextInt(8) == 0) "?" else ".")
  }

  private def paragraph(r: scala.util.Random, lex: Lexicon, t: Topic): String =
    (0 until 3 + r.nextInt(5)).map(_ => sentence(r, lex, t)).mkString(" ")

  /** One markdown document about topic `t`. */
  def document(r: scala.util.Random, lex: Lexicon, t: Topic): String = {
    val sb = new StringBuilder
    sb ++= s"# ${t.slug.capitalize} ${lex.commonWord(r)} ${lex.word(r, t)}\n\n"
    sb ++= paragraph(r, lex, t) + "\n\n"
    (0 until 2 + r.nextInt(3)).foreach { _ =>
      sb ++= s"## ${lex.word(r, t).capitalize} ${lex.commonWord(r)}\n\n"
      (0 until 1 + r.nextInt(3)).foreach(_ => sb ++= paragraph(r, lex, t) + "\n\n")
      if (r.nextInt(3) == 0) {
        sb ++= s"### ${lex.word(r, t).capitalize}\n\n"
        sb ++= paragraph(r, lex, t) + "\n\n"
      }
      if (r.nextInt(2) == 0) {
        (0 until 3 + r.nextInt(4)).foreach(_ =>
          sb ++= s"- ${lex.word(r, t)}: ${r.nextInt(10000)}\n")
        sb ++= "\n"
      }
      if (r.nextInt(3) == 0) {
        val cols = 3 + r.nextInt(2)
        sb ++= (0 until cols).map(_ => lex.commonWord(r)).mkString("| ", " | ", " |\n")
        sb ++= Seq.fill(cols)("---").mkString("| ", " | ", " |\n")
        (0 until 2 + r.nextInt(6)).foreach(_ =>
          sb ++= (0 until cols).map(_ => lex.word(r, t)).mkString("| ", " | ", " |\n"))
        sb ++= "\n"
      }
    }
    sb.toString
  }

  /** A generated document: its path relative to the corpus folder. */
  final case class Doc(relPath: String, topic: Topic, text: String)

  /** `n` documents, named `<topic slug>/<topic slug>_<i>.md` so that a
    * query's expected source pattern (its topic slug) resolves to them.
    */
  def corpus(seed: Long, tag: String, lex: Lexicon, n: Int): IndexedSeq[Doc] =
    (0 until n).map { i =>
      val r = rng(seed, tag, i)
      val t = lex.topics(r.nextInt(lex.topics.length))
      Doc(s"${t.slug}/${t.slug}_$i.md", t, document(r, lex, t))
    }

  def writeCorpus(dir: Path, docs: Seq[Doc]): Unit = docs.foreach { d =>
    val p = dir.resolve(d.relPath)
    Files.createDirectories(p.getParent)
    Files.write(p, d.text.getBytes(StandardCharsets.UTF_8))
  }

  /** One evaluation query, in the reference's query-set shape. */
  final case class Query(queryId: String, text: String,
      expectedKeywords: Seq[String], expectedSourcePatterns: Seq[String])

  /** A query text about a random topic: topic keywords mixed with
    * common words, so retrieval has to rank, not just match.
    */
  def queryText(r: scala.util.Random, lex: Lexicon): (Topic, String) = {
    val t = lex.topics(r.nextInt(lex.topics.length))
    val ws = (0 until 6).map(i =>
      if (i % 2 == 0) t.keywords(r.nextInt(t.keywords.length)) else lex.commonWord(r))
    (t, ws.mkString(" "))
  }

  /** The paper experiment's query set: `n` queries with expected
    * keywords and source patterns.
    */
  def experimentQueries(seed: Long, tag: String, lex: Lexicon, n: Int): Seq[Query] =
    (0 until n).map { i =>
      val r = rng(seed, tag, i)
      val (t, text) = queryText(r, lex)
      val kws = r.shuffle(t.keywords.toList).take(3)
      Query(s"q${i + 1}", text, kws, Seq(t.slug))
    }

  /** The serving session's query stream. Each slot repeats an earlier
    * query with probability `repeat`, else draws a fresh one, so about
    * that share of the stream is work an earlier request already did.
    */
  final class QueryStream(seed: Long, lex: Lexicon, repeat: Double) {
    private val r = rng(seed, "serve-stream")
    private val issued = scala.collection.mutable.ArrayBuffer.empty[String]
    def next(): String =
      if (issued.nonEmpty && r.nextDouble() < repeat) issued(r.nextInt(issued.length))
      else { val q = queryText(r, lex)._2; issued += q; q }
    def batch(n: Int): IndexedSeq[String] = (0 until n).map(_ => next())
  }

  /** Fresh query texts, a new set for each `cycle`. */
  def freshQueries(seed: Long, tag: String, lex: Lexicon, cycle: Long, n: Int)
      : IndexedSeq[String] = {
    val r = rng(seed, tag, cycle)
    (0 until n).map(_ => queryText(r, lex)._2)
  }

  /** The `cycle`-th mutation batch: `nUpsert` new chunk texts and the
    * ids to delete, drawn without replacement from `live` (sorted, so
    * the draw depends only on the seed and the live set).
    */
  def mutationBatch(seed: Long, lex: Lexicon, cycle: Long, nUpsert: Int,
      nDelete: Int, live: scala.collection.SortedSet[Long])
      : (IndexedSeq[String], IndexedSeq[Long]) = {
    val r = rng(seed, "mutate", cycle)
    val texts = (0 until nUpsert).map { _ =>
      val t = lex.topics(r.nextInt(lex.topics.length))
      paragraph(r, lex, t)
    }
    val ids = live.toIndexedSeq
    val dels = r.shuffle(ids.indices.toList).take(math.min(nDelete, ids.length))
      .map(ids).toIndexedSeq
    (texts, dels)
  }
}
