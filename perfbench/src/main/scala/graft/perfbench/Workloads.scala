package graft.perfbench

import java.nio.file.{Files, Path}

import scala.collection.immutable.TreeMap
import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.{Row, SparkSession}

import graft.index.VectorStore

/** One timed op: the wall time of each request it made, in order, and
  * a deferred output check run after the timed window (None = passed).
  */
final class Op(val index: Int, val traced: Boolean, val parts: Seq[(String, Double)],
    val check: () => Option[String]) {
  var failure: Option[String] = None
  def ms: Double = parts.map(_._2).sum
}

object Op {
  /** Run one op; a throw becomes a failed op. */
  def attempt(i: Int, traced: Boolean)(body: => Op): Op =
    try body
    catch { case NonFatal(e) =>
      val failed = new Op(i, traced, Nil, () => None)
      failed.failure = Some(s"threw $e")
      failed
    }

  /** Time `body` in milliseconds. */
  def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val out = body
    (out, (System.nanoTime() - t0) / 1e6)
  }
}

/** State shared by the tour and the workload of one benchmark run. */
final class Run(val spark: SparkSession, val seed: Long, val work: Path, val tr: Tracer) {
  val lex = new Gen.Lexicon(seed)
  val eng = new Engine(spark, tr)
  /** Named failures of tour steps and ops: "name: reason". */
  val failures = mutable.ArrayBuffer.empty[String]
  var tourSteps = 0
  /** Recall@10 of every approximate request, by path. */
  val recalls = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
  /** Per-layer values measured by the workload rather than by spans. */
  val layer = mutable.LinkedHashMap.empty[String, Double]
  /** Facts for the run record. */
  val record = mutable.LinkedHashMap.empty[String, Any]

  def dir(parts: String*): Path = {
    val p = parts.foldLeft(work)(_.resolve(_))
    Files.createDirectories(p)
    p
  }

  /** Run one untimed tour step, recording a throw as a named failure. */
  def step(name: String)(body: => Option[String]): Unit = {
    tourSteps += 1
    try body.foreach(err => failures += s"tour/$name: $err")
    catch { case NonFatal(e) => failures += s"tour/$name: threw $e" }
  }

  def reportRows(rows: Array[Row]): Seq[Oracle.ReportRow] = rows.toSeq.map { r =>
    Oracle.ReportRow(r.getAs[String]("strategy"), r.getAs[String]("model"),
      r.getAs[Double]("top_1_accuracy"), r.getAs[Double]("top_3_accuracy"),
      r.getAs[Double]("mrr"), r.getAs[Double]("avg_similarity"), r.getAs[Long]("num_queries"))
  }

  /** Check an experiment's report against the driver-side recomputation. */
  def checkReport(folder: Path, docs: Seq[Gen.Doc], queries: Seq[Gen.Query],
      got: Seq[Oracle.ReportRow]): Option[String] = {
    // the loader names each document by its file URI
    val loaded = docs.map(d => (folder.resolve(d.relPath).toFile.toURI.toString, d.text))
    val errs = Oracle.compareReports(got, Oracle.report(loaded, queries))
    if (errs.isEmpty) None else Some(errs.take(3).mkString("; "))
  }

  /** Check one search request against the exact top-k over `live`:
    * every id live and distinct, ranks 1..n; the exact path must equal
    * the brute-force ranking (ties by equal similarity may swap). Adds
    * the request's recall@k for approximate paths.
    */
  def checkSearch(path: String, live: collection.Map[Long, Array[Float]],
      qvecs: IndexedSeq[Array[Float]], got: IndexedSeq[(Long, Int, Long)]): Option[String] = {
    val k = eng.K
    val byQuery = got.groupBy(_._1)
    val errs = qvecs.indices.flatMap { qi =>
      val rows = byQuery.getOrElse(qi.toLong, IndexedSeq.empty).sortBy(_._2)
      val ids = rows.map(_._3)
      val want = Oracle.topK(live, qvecs(qi), k)
      val structural =
        if (rows.isEmpty) Some(s"query $qi: no results")
        else if (rows.length > k) Some(s"query $qi: ${rows.length} results > k")
        else if (rows.map(_._2) != (1 to rows.length)) Some(s"query $qi: ranks ${rows.map(_._2)}")
        else if (ids.distinct.length != ids.length) Some(s"query $qi: duplicate ids")
        else ids.find(id => !live.contains(id)).map(id => s"query $qi: id $id is not live")
      structural.orElse {
        if (path == "exact") {
          val sims = ids.map(id => Oracle.dot(live(id), qvecs(qi)))
          if (ids.length != want.length || sims != want.map(_._2))
            Some(s"query $qi: exact top-$k differs from brute force")
          else None
        } else {
          val w = want.map(_._1).toSet
          recalls.synchronized {
            recalls.getOrElseUpdate(path, mutable.ArrayBuffer.empty) +=
              ids.count(w.contains).toDouble / w.size
          }
          None
        }
      }
    }
    if (errs.isEmpty) None else Some(s"$path: ${errs.take(3).mkString("; ")}")
  }
}


/** A workload: built during set-up, then driven one op at a time. */
trait Workload {
  /** Fewest successful ops a run aims for, however short its window. */
  def minOps: Int
  /** Untimed ops before the window. */
  def warmOps: Int
  /** The tour parts a traced run makes first: the layers that this
    * workload's own set-up and ops do not reach.
    */
  def tour(): Unit
  /** Build the workload's inputs and every artifact its ops read. */
  def setup(): Unit
  def op(i: Int): Op
  /** After the window: end-of-run checks and per-layer values. */
  def finish(): Unit
}

/** The untimed pass a traced run makes before its window, on small
  * inputs drawn from the run's seed. Each workload makes the parts it
  * needs, so that every layer has spans in every workload and each
  * layer's output is checked once.
  */
object Tour {
  val Probe: Seq[(String, (SparkSession, String) => org.apache.spark.sql.DataFrame)] = {
    import graft.queries._
    Seq("rag" -> Rag.defs("rag_eval"), "bm25" -> Bm25.defs("bm25_topk"),
      "text_analysis" -> TextAnalysis.defs("token_count"),
      "dedup" -> DedupQueries.defs("dedup_minhash_lsh"))
  }
  /** Vectors upserted and ids deleted by the mutation step. */
  val MutateBatch = 8

  /** The tour corpus: 24 documents, written once per run. */
  private def corpus(r: Run): (Path, Seq[Gen.Doc]) = {
    val folder = r.work.resolve("tour").resolve("corpus")
    val docs = Gen.corpus(r.seed, "tour", r.lex, 24)
    if (!Files.exists(folder)) Gen.writeCorpus(folder, docs)
    (folder, docs)
  }

  /** The paper experiment, stage by stage. */
  def experiment(r: Run): Unit = {
    val (folder, docs) = corpus(r)
    val queries = Gen.experimentQueries(r.seed, "tour-queries", r.lex, 5)
    r.step("experiment") {
      val got = r.reportRows(r.eng.stagedExperiment(folder.toString, r.eng.queryFrame(queries)))
      r.eng.release()
      r.checkReport(folder, docs, queries, got)
    }
  }

  /** The catalogue modules that read only the documents table, over
    * the tour corpus written in the fixture schema.
    */
  def catalogue(r: Run): Unit = {
    import r.spark.implicits._
    val docs = corpus(r)._2
    val tables = r.dir("tour", "tables")
    docs.zipWithIndex.map { case (d, i) =>
      (i.toLong, d.text, "en", d.topic.slug, d.text.length.toLong)
    }.toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(tables.resolve("documents.parquet").toString)
    Probe.foreach { case (module, fn) =>
      r.step(s"queries.$module") {
        r.eng.catalogueQuery(module, fn, tables.toString)
          .foreach(ms => r.layer(s"queries.$module.plan_ms") = ms)
        None
      }
    }
  }

  /** A small store: create, graph, IVF and PQ builds, one request per
    * search path, then the mutation step.
    */
  def store(r: Run): Unit = {
    val folder = corpus(r)._1
    val storePath = r.dir("tour", "store").toString
    val store = new VectorStore(r.spark, storePath)
    var live: Map[Long, Array[Float]] = Map.empty
    r.step("index.create") { live = r.eng.buildCollection(store, "tour", folder.toString); None }
    r.step("index.artifacts") { r.eng.buildArtifacts(store, "tour"); None }
    r.eng.Paths.foreach { path =>
      r.step(s"search.$path") {
        val qv = r.eng.embedQueries(Gen.freshQueries(r.seed, s"tour-$path", r.lex, 0, 4))
        r.checkSearch(path, live, qv, r.eng.search(store, "tour", path, qv))
      }
    }
    mutate(r, store, storePath, "tour", live)
  }

  /** Upsert [[MutateBatch]] new vectors and delete as many live ids on
    * a collection that serves a graph artifact; records the store's
    * figures afterwards. A driver-side model of the live ids checks
    * the delete count and the final collection.
    */
  def mutate(r: Run, store: VectorStore, storePath: String, name: String,
      initial: Map[Long, Array[Float]]): Unit = {
    import r.spark.implicits._
    var live = TreeMap.from(initial)
    val buildsBefore = VectorStore.graphBuildsOf(storePath, name)
    val (texts, dels) = Gen.mutationBatch(r.seed, r.lex, 0, MutateBatch, MutateBatch, live.keySet)
    r.step("index.upsert") { live ++= r.eng.upsert(store, name, texts, live.lastKey + 1); None }
    r.step("index.delete") {
      val n = r.eng.delete(store, name, dels)
      live --= dels
      if (n != dels.length) Some(s"deleted $n of ${dels.length} live ids") else None
    }
    r.step("index.final") {
      val ids = store.read(name).select("id").as[Long].collect().sorted.toSeq
      if (ids != live.keys.toSeq) Some(s"store holds ${ids.length} ids, model holds ${live.size}")
      else None
    }
    r.layer("index.graph_builds_during_mutations") =
      (VectorStore.graphBuildsOf(storePath, name) - buildsBefore).toDouble
    Main.recordStore(r, storePath, name, live.size)
  }
}

/** rag_experiment: one op is one full paper experiment on a freshly
  * generated corpus, run as the engine's fused `Pipeline.run`, or
  * stage by stage when the op is traced.
  */
final class RagExperiment(r: Run, nDocs: Int, nQueries: Int = 15) extends Workload {
  val minOps = 5
  val warmOps = 4
  private val queries = Gen.experimentQueries(r.seed, "rag-queries", r.lex, nQueries)
  private def corpus(i: Int) = Gen.corpus(r.seed, s"rag-op$i", r.lex, nDocs)
  private def folder(i: Int) = r.work.resolve("rag").resolve(s"op$i")

  def tour(): Unit = { Tour.catalogue(r); Tour.store(r) }

  /** Nothing to build: each op writes its own corpus. */
  def setup(): Unit = ()

  def op(i: Int): Op = {
    if (!Files.exists(folder(i))) Gen.writeCorpus(folder(i), corpus(i))
    val qdf = r.eng.queryFrame(queries)
    val (rows, ms) =
      try Op.timed {
        if (r.tr.enabled) r.eng.stagedExperiment(folder(i).toString, qdf)
        else r.eng.experiment(folder(i).toString, qdf)
      } finally r.eng.release()
    val got = r.reportRows(rows)
    new Op(i, r.tr.enabled, Seq("experiment" -> ms), () => {
      val err = r.checkReport(folder(i), corpus(i), queries, got)
      Main.deleteTree(folder(i))
      err
    })
  }

  def finish(): Unit = r.record("rag_docs_per_op") = nDocs
}

/** retrieve_serve: read-only serving over a prebuilt collection. One op
  * is a round of four 16-query requests, one per path in a seeded
  * order; the query stream repeats earlier queries about half the time.
  * A traced run mutates the collection after the window.
  */
final class RetrieveServe(r: Run, nDocs: Int, perRequest: Int = 16) extends Workload {
  val minOps = 3
  val warmOps = 3
  private val name = "serve"
  private var store: VectorStore = _
  private var storePath = ""
  private var live: Map[Long, Array[Float]] = Map.empty
  private val stream = new Gen.QueryStream(r.seed, r.lex, repeat = 0.5)
  private val seen = mutable.Set.empty[String]
  private var repeats, issued = 0

  def tour(): Unit = { Tour.experiment(r); Tour.catalogue(r) }

  def setup(): Unit = {
    val folder = r.work.resolve("serve").resolve("corpus")
    Gen.writeCorpus(folder, Gen.corpus(r.seed, "serve-corpus", r.lex, nDocs))
    storePath = r.dir("serve", "store").toString
    store = new VectorStore(r.spark, storePath)
    live = r.eng.buildCollection(store, name, folder.toString)
    r.eng.buildArtifacts(store, name)
  }

  def op(i: Int): Op = {
    val order = Gen.rng(r.seed, "serve-order", i).shuffle(r.eng.Paths)
    val done = order.map { path =>
      val texts = stream.batch(perRequest)
      texts.foreach { t => issued += 1; if (!seen.add(t)) repeats += 1 }
      val ((qv, got), ms) = Op.timed {
        val qv = r.eng.embedQueries(texts)
        (qv, r.eng.search(store, name, path, qv))
      }
      (path, ms, qv, got)
    }
    new Op(i, r.tr.enabled, done.map(d => d._1 -> d._2), () =>
      done.iterator.flatMap { case (path, _, qv, got) => r.checkSearch(path, live, qv, got) }
        .nextOption())
  }

  def finish(): Unit = {
    r.record("serve_repeat_share") = if (issued == 0) 0.0 else repeats.toDouble / issued
    r.record("serve_vectors") = live.size
    if (r.tr.enabled) Tour.mutate(r, store, storePath, name, live)
    else Main.recordStore(r, storePath, name, live.size)
  }
}
