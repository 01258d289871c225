package graft.perfbench

import graft.chunk.Chunkers
import graft.embed.HashingEmbedder

/** Single-threaded driver-side recomputations the benchmark checks the
  * engine's outputs against. They run outside every timed window.
  */
object Oracle {

  /** Dot product accumulated left to right in double: the same
    * arithmetic as the engine's DotProduct and Pipeline.retrieve, so
    * equal inputs give bit-equal similarities.
    */
  def dot(a: Array[Float], b: Array[Float]): Double = {
    var s = 0.0
    var i = 0
    val n = math.min(a.length, b.length)
    while (i < n) { s += a(i).toDouble * b(i).toDouble; i += 1 }
    s
  }

  /** Exact top-k by similarity descending, then id ascending. */
  def topK[K](items: Iterable[(K, Array[Float])], q: Array[Float], k: Int)
      (implicit ord: Ordering[K]): IndexedSeq[(K, Double)] = {
    val byRank: Ordering[(K, Double)] = (a, b) => {
      val c = java.lang.Double.compare(b._2, a._2)
      if (c != 0) c else ord.compare(a._1, b._1)
    }
    // bounded max-heap on rank order: its head is the worst kept item
    val heap = scala.collection.mutable.PriorityQueue.empty[(K, Double)](byRank)
    items.foreach { case (id, v) =>
      val cand = (id, dot(v, q))
      if (heap.size < k) heap.enqueue(cand)
      else if (byRank.compare(cand, heap.head) < 0) { heap.dequeue(); heap.enqueue(cand) }
    }
    heap.toIndexedSeq.sorted(byRank)
  }

  /** One row of the experiment's ranked report. */
  final case class ReportRow(strategy: String, model: String, top1: Double,
      top3: Double, mrr: Double, avgSimilarity: Double, numQueries: Long) {
    def combined: Double = top3 + mrr
  }

  /** The paper experiment recomputed from the same documents
    * (`sourceFile -> content`, as the loader reads them) and queries:
    * chunk, embed, brute-force top-k and the Metrics formulas.
    */
  def report(docs: Seq[(String, String)], queries: Seq[Gen.Query],
      k: Int = 10): Seq[ReportRow] = {
    val models = HashingEmbedder.models
    val rows = for (strategy <- Chunkers.strategyNames) yield {
      val chunks = docs.flatMap { case (src, text) => Chunkers.all(strategy)(text, src) }
      val sources = chunks.map(_.source_file)
      val expected: Map[String, String] = queries.map { q =>
        val pats = q.expectedSourcePatterns.map(_.toLowerCase)
        val matched = sources.filter(s => pats.exists(p => s.toLowerCase.contains(p)))
        q.queryId -> (if (matched.nonEmpty) matched.min else sources.min)
      }.toMap
      val byId = chunks.map(c => c.chunk_id -> c).toMap
      models.map { m =>
        val vecs = chunks.map(c => c.chunk_id -> HashingEmbedder.embed(c.content, m))
        val perQuery = queries.map { q =>
          val hits = topK(vecs, HashingEmbedder.embed(q.text, m), k)
          val kws = q.expectedKeywords.map(_.toLowerCase)
          val exp = expected(q.queryId)
          val rel = hits.zipWithIndex.map { case ((cid, sim), i) =>
            val c = byId(cid)
            (i + 1, sim, c.source_file.contains(exp) &&
              kws.exists(kw => c.content.toLowerCase.contains(kw)))
          }
          val relRanks = rel.filter(_._3).map(_._1)
          val top5 = rel.filter(r => r._3 && r._1 <= 5).map(_._2)
          (if (relRanks.exists(_ <= 1)) 1.0 else 0.0,
            if (relRanks.exists(_ <= 3)) 1.0 else 0.0,
            if (relRanks.isEmpty) 0.0 else 1.0 / relRanks.min,
            if (top5.isEmpty) 0.0 else top5.sum / top5.length)
        }
        val n = perQuery.length.toDouble
        ReportRow(strategy, m.name, perQuery.map(_._1).sum / n,
          perQuery.map(_._2).sum / n, perQuery.map(_._3).sum / n,
          perQuery.map(_._4).sum / n, perQuery.length.toLong)
      }
    }
    rows.flatten.sortBy(r => (-r.combined, r.strategy, r.model))
  }

  /** Differences between the engine's report and the recomputation;
    * empty when they agree. Averages may differ in the last bits (the
    * engine sums in partition order), so values compare within 1e-9
    * and the order is checked up to such near-ties.
    */
  def compareReports(got: Seq[ReportRow], want: Seq[ReportRow]): Seq[String] = {
    val tol = 1e-9
    def close(a: Double, b: Double) = math.abs(a - b) <= tol
    val wantBy = want.map(r => (r.strategy, r.model) -> r).toMap
    val errs = scala.collection.mutable.ArrayBuffer.empty[String]
    if (got.length != want.length) errs += s"report has ${got.length} rows, expected ${want.length}"
    got.foreach { g =>
      wantBy.get((g.strategy, g.model)) match {
        case None => errs += s"unexpected config ${g.strategy}/${g.model}"
        case Some(w) =>
          if (!(close(g.top1, w.top1) && close(g.top3, w.top3) && close(g.mrr, w.mrr) &&
              close(g.avgSimilarity, w.avgSimilarity) && g.numQueries == w.numQueries))
            errs += s"config ${g.strategy}/${g.model}: got $g, expected $w"
      }
    }
    got.sliding(2).foreach {
      case Seq(a, b) =>
        val inOrder = a.combined > b.combined + tol || (close(a.combined, b.combined) &&
          (math.abs(a.combined - b.combined) > 0 ||
            Ordering[(String, String)].lteq((a.strategy, a.model), (b.strategy, b.model))))
        if (!inOrder) errs += s"rank order broken at ${a.strategy}/${a.model} -> ${b.strategy}/${b.model}"
      case _ => ()
    }
    errs.toSeq
  }
}
