package graft.perfbench

import scala.collection.immutable.TreeSet

import org.scalatest.funsuite.AnyFunSuite

class GenSpec extends AnyFunSuite {
  private def corpusBytes(seed: Long): Seq[(String, String)] = {
    val lex = new Gen.Lexicon(seed)
    Gen.corpus(seed, "c", lex, 20).map(d => d.relPath -> d.text)
  }

  test("the same seed gives byte-identical corpora, a different seed different ones") {
    assert(corpusBytes(7) == corpusBytes(7))
    assert(corpusBytes(7) != corpusBytes(8))
  }

  test("documents carry headings, lists, tables and multi-sentence paragraphs") {
    val lex = new Gen.Lexicon(3)
    val text = Gen.corpus(3, "c", lex, 30).map(_.text).mkString("\n")
    assert(text.contains("\n## ") && text.contains("\n### "))
    assert(text.contains("\n- ") && text.contains("\n| "))
    assert(graft.chunk.Chunkers.splitSentences(text).length > 100)
  }

  test("query sets, serving streams and mutation batches are seeded") {
    def queries(seed: Long) = Gen.experimentQueries(seed, "q", new Gen.Lexicon(seed), 15)
    assert(queries(1) == queries(1))
    assert(queries(1) != queries(2))

    def stream(seed: Long) = new Gen.QueryStream(seed, new Gen.Lexicon(seed), 0.5).batch(64)
    assert(stream(1) == stream(1))
    assert(stream(1) != stream(2))
    val s = stream(5)
    val repeats = s.length - s.distinct.length
    assert(repeats > 16 && repeats < 48, s"repeat count $repeats far from half of 64")

    val live = TreeSet.from(0L until 100L)
    def batch(seed: Long) = Gen.mutationBatch(seed, new Gen.Lexicon(seed), 3, 8, 8, live)
    assert(batch(1) == batch(1))
    assert(batch(1) != batch(2))
    val (texts, dels) = batch(1)
    assert(texts.length == 8 && dels.distinct.length == 8 && dels.forall(live.contains))
  }

  test("fresh queries differ across cycles") {
    val lex = new Gen.Lexicon(1)
    assert(Gen.freshQueries(1, "f", lex, 0, 16) != Gen.freshQueries(1, "f", lex, 1, 16))
  }
}

class StatsSpec extends AnyFunSuite {
  test("median of odd and even counts") {
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
  }

  test("nearest-rank percentiles") {
    val xs = (1 to 20).map(_.toDouble)
    assert(Stats.percentile(xs, 50) == 10.0)
    assert(Stats.percentile(xs, 90) == 18.0)
    assert(Stats.percentile(xs, 100) == 20.0)
    assert(Stats.percentile(Seq(5.0), 99) == 5.0)
  }

  test("the tail is the highest percentile with ten samples beyond it") {
    assert(Stats.tail((1 to 10).map(_.toDouble)).isEmpty)
    assert(Stats.tail((1 to 20).map(_.toDouble)) == Some((50.0, 10.0)))
    assert(Stats.tail((1 to 100).map(_.toDouble)) == Some((90.0, 90.0)))
    assert(Stats.tail((1 to 1000).map(_.toDouble)) == Some((99.0, 990.0)))
  }
}

class OracleSpec extends AnyFunSuite {
  test("brute-force top-k on a hand-computed case, ties by id") {
    val q = Array(1f, 0f)
    val items = Seq(
      5L -> Array(0.6f, 0.8f), // 0.6
      2L -> Array(1f, 0f), // 1.0
      9L -> Array(0f, 1f), // 0.0
      3L -> Array(0.6f, -0.8f), // 0.6, ties with 5 and ranks first
    )
    val top = Oracle.topK(items, q, 3)
    assert(top.map(_._1) == Seq(2L, 3L, 5L))
    assert(top.map(_._2) == Seq(1.0, 0.6f.toDouble, 0.6f.toDouble))
    assert(Oracle.topK(items, q, 10).map(_._1) == Seq(2L, 3L, 5L, 9L))
  }

  test("report comparison accepts last-bit differences and flags real ones") {
    val a = Oracle.ReportRow("fixed_size", "hash-64", 0.5, 1.0, 0.75, 0.3, 4)
    val b = Oracle.ReportRow("hybrid", "hash-64", 0.25, 0.5, 0.5, 0.2, 4)
    assert(Oracle.compareReports(Seq(a, b), Seq(a.copy(mrr = 0.75 + 1e-15), b)).isEmpty)
    assert(Oracle.compareReports(Seq(a, b), Seq(a.copy(top1 = 0.25), b)).nonEmpty)
    assert(Oracle.compareReports(Seq(b, a), Seq(a, b)).exists(_.contains("rank order")))
  }
}
