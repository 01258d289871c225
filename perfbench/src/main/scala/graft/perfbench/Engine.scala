package graft.perfbench

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions.col

import graft.chunk.Chunkers
import graft.embed.HashingEmbedder
import graft.index.VectorStore
import graft.rag.Pipeline
import graft.sources.DocumentLoader

/** The benchmark's calls into the engine, each through a layer's public
  * functions and each wrapped in a span named after its layer. With
  * tracing on, `stage` also materialises its input behind a barrier,
  * so each stage's span holds that stage's work and nothing else; with
  * tracing off it is a no-op and the engine plans the calls lazily,
  * as a user's code would.
  */
final class Engine(spark: SparkSession, tr: Tracer) {
  import spark.implicits._

  /** The serving collection's model: fixed_size chunks × hash-128. */
  val ServeModel: HashingEmbedder.Model = HashingEmbedder.modelsByName("hash-128")
  val Paths: Seq[String] = Seq("exact", "ivf", "pq", "graph")
  val K = 10

  /** Figures of the traced stages, by span id: rows each stage
    * produced, bytes each load read, similarity pairs each retrieval
    * scored.
    */
  val spanRows = scala.collection.mutable.Map.empty[Int, Long]
  val spanBytes = scala.collection.mutable.Map.empty[Int, Long]
  val spanPairs = scala.collection.mutable.Map.empty[Int, Long]
  private var lastStage = -1

  def stage[T](name: String)(ds: => Dataset[T]): Dataset[T] =
    if (!tr.enabled) ds
    else tr.span(name) {
      val p = ds.persist()
      lastStage = tr.currentId
      spanRows(lastStage) = p.count()
      p
    }

  private def load(folder: String): Dataset[graft.model.Document] = {
    val docs = stage("sources.load")(DocumentLoader.loadDocuments(spark, folder))
    if (tr.enabled) spanBytes(lastStage) = Main.treeBytes(java.nio.file.Paths.get(folder))
    docs
  }

  /** Drop every cached frame (the stage barriers and the experiment's
    * own cache) and wait until Spark has freed their blocks, so that no
    * op inherits another's cache or its memory.
    */
  def release(): Unit = {
    spark.catalog.clearCache()
    val deadline = System.nanoTime() + 5000000000L
    while (spark.sparkContext.getRDDStorageInfo.nonEmpty && System.nanoTime() < deadline)
      Thread.sleep(10)
  }

  def queryFrame(qs: Seq[Gen.Query]): DataFrame =
    qs.map(q => (q.queryId, q.text, q.expectedKeywords, q.expectedSourcePatterns))
      .toDF("query_id", "query", "expected_keywords", "expected_source_patterns")

  /** The paper experiment as the engine runs it: one fused DAG. */
  def experiment(folder: String, queries: DataFrame): Array[Row] =
    Pipeline.run(spark, DocumentLoader.loadDocuments(spark, folder), queries).collect()

  /** The paper experiment stage by stage: load → chunk ×5 → embed ×5 →
    * retrieve → evaluate. Traced, each stage is its own span.
    */
  def stagedExperiment(folder: String, queries: DataFrame): Array[Row] = {
    val docs = load(folder)
    val chunks = tr.span("chunk") {
      Chunkers.strategyNames.map(s =>
        stage(s"chunk.$s")(Pipeline.chunkDocuments(docs, Seq(s)))).reduce(_ union _)
    }
    val chunkView = chunks.toDF().select(col("chunk_id"), col("strategy"),
      col("source_file"), col("content"))
    val embedded = stage("embed")(Pipeline.embedChunks(chunks.toDF()))
    val vectors = if (tr.enabled) spanRows(lastStage) else 0L
    val hits = stage("rag.retrieve")(Pipeline.retrieve(embedded,
      Pipeline.embedQueries(queries), K,
      payload = Some(chunkView.select(col("chunk_id"), col("source_file"), col("content")))))
    if (tr.enabled) spanPairs(lastStage) = vectors * queries.count()
    tr.span("eval")(Pipeline.evaluate(hits, queries, chunkView).collect())
  }

  /** Build a serving collection from a markdown folder: load →
    * fixed_size chunks → hash-128 vectors → create. Returns the live
    * (id, vector) pairs for the driver-side checks.
    */
  def buildCollection(store: VectorStore, name: String, folder: String)
      : Map[Long, Array[Float]] = {
    val docs = load(folder)
    val chunks = stage("chunk.fixed_size")(Pipeline.chunkDocuments(docs, Seq("fixed_size")))
    val rows = stage("embed")(Pipeline.embedChunks(chunks.toDF(), Seq(ServeModel))
      .select(col("chunk_id"), col("source_file"), col("content"), col("embedding")))
    tr.span("index.create")(store.createCollection(name, rows.toDF(), "chunk_id"))
    release()
    store.read(name).select(col("id"), col("embedding")).as[(Long, Array[Float])]
      .collect().toMap
  }

  /** The graph, IVF and PQ artifacts the approximate paths read. */
  def buildArtifacts(store: VectorStore, name: String): Unit = {
    tr.span("index.graph_build")(store.graphOf(name))
    tr.span("index.ivf_train")(store.centroidsOf(name))
    tr.span("index.pq_train")(store.codebooksOf(name))
  }

  def embedQueries(texts: Seq[String]): IndexedSeq[Array[Float]] =
    tr.span("embed.query")(texts.map(t => HashingEmbedder.embed(t, ServeModel)).toIndexedSeq)

  /** One search request: embed the texts on the driver, run one path,
    * collect (query_id, rank, id) sorted by query and rank.
    */
  def search(store: VectorStore, name: String, path: String,
      qvecs: IndexedSeq[Array[Float]]): IndexedSeq[(Long, Int, Long)] =
    tr.span(s"search.$path") {
      val qdf = qvecs.zipWithIndex.map { case (v, i) => (i.toLong, v) }.toDF("query_id", "qvec")
      val df = tr.span(s"search.$path.construct") {
        path match {
          case "exact" => store.search(name, qdf, K)
          case "ivf" => store.ivfSearch(name, qdf, K)
          case "pq" => store.searchCompressed(name, qdf, K)
          case "graph" => store.graphSearch(name, qdf, K)
        }
      }
      tr.span(s"search.$path.exec") {
        df.select(col("query_id").cast("long"), col("rank").cast("int"), col("id").cast("long"))
          .as[(Long, Int, Long)].collect().toIndexedSeq.sortBy(r => (r._1, r._2))
      }
    }

  /** Upsert new chunks; returns their (id, vector) pairs. */
  def upsert(store: VectorStore, name: String, texts: Seq[String], firstId: Long)
      : Seq[(Long, Array[Float])] =
    tr.span("index.upsert") {
      val rows = texts.zipWithIndex.map { case (t, i) =>
        (s"upsert_${firstId + i}", "generated", t, HashingEmbedder.embed(t, ServeModel), firstId + i)
      }
      store.upsertPoints(name, rows.toDF("chunk_id", "source_file", "content", "embedding", "id"))
      rows.map(r => (r._5, r._4))
    }

  def delete(store: VectorStore, name: String, ids: Seq[Long]): Long =
    tr.span("index.delete")(store.deletePoints(name, ids))

  /** One catalogue query, fully materialised by a noop write. Traced,
    * returns the planning time Spark's tracker records for its plan.
    */
  def catalogueQuery(module: String, fn: (SparkSession, String) => DataFrame,
      dir: String): Option[Double] = {
    val df = tr.span(s"queries.$module") {
      val df = tr.span(s"queries.$module.construct")(fn(spark, dir))
      tr.span(s"queries.$module.exec")(df.write.format("noop").mode("overwrite").save())
      df
    }
    // the write planned its own copy of the plan; planning the query's
    // plan again, outside the spans, reads the same cost off the tracker
    if (!tr.enabled) None
    else {
      df.queryExecution.executedPlan
      Some(df.queryExecution.tracker.phases.values.map(_.durationMs).sum.toDouble)
    }
  }
}
