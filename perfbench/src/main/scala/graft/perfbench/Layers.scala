package graft.perfbench

/** The per-layer metrics of a traced run, named `<layer>.<what>`.
  *
  * A traced run does a fixed amount of traced work: the tour, the
  * set-up and [[Main.TracedOps]] traced ops. Every figure comes from
  * that work alone, never from the untraced ops that fill the rest of
  * the window, so no figure depends on how many ops the window fitted.
  * A metric named after a span takes the spans of one phase: the
  * traced ops' if they reach it, else the set-up's, else the tour's.
  * Times and counts are medians per span of that phase; the `spark.*`
  * counts are totals over every span, and `spark.gc_ms` and
  * `spark.codegen_compiles` are medians per traced op.
  */
object Layers {
  val Modules: Seq[String] = Tour.Probe.map(_._1)

  def metrics(r: Run, m: SparkMeter, ops: Seq[Op], gcMs: Double, codegen: Double,
      liveHeapMb: Double): Seq[Main.Metric] = {
    val tr = r.tr
    def med(xs: Seq[Double]): Double = if (xs.isEmpty) Double.NaN else Stats.median(xs)
    def chosen(name: String): Seq[Span] = {
      val all = tr.spans.filter(_.name == name)
      Seq("op", "setup", "tour").iterator.map(p => all.filter(_.phase == p))
        .find(_.nonEmpty).getOrElse(Nil)
    }
    def perSpan(name: String)(f: Span => Double): Double = med(chosen(name).map(f))
    def ms(name: String): Double = perSpan(name)(_.durNs / 1e6)
    def counted(name: String)(f: m.Counts => Long): Double =
      perSpan(name)(s => f(m.sumOver(tr.subtree(s.id))).toDouble)
    def fig(by: collection.Map[Int, Long])(s: Span): Double = by.getOrElse(s.id, 0L).toDouble
    def recall(path: String): Double =
      r.recalls.get(path).fold(Double.NaN)(xs => xs.sum / xs.length)
    def opMs(traced: Boolean): Double =
      med(ops.filter(o => o.failure.isEmpty && o.traced == traced).map(_.ms))
    val e = r.eng
    val total = m.sumOver(tr.spans.map(_.id).toSet)
    val (dec, unsup) = graft.sources.DocumentLoader.pdfEncryptionAccs(r.spark)

    Seq(
      ("sources.load_ms", ms("sources.load"), "ms"),
      ("sources.docs", perSpan("sources.load")(fig(e.spanRows)), "count"),
      ("sources.bytes", perSpan("sources.load")(fig(e.spanBytes)), "bytes"),
      ("sources.pdf_decrypted", dec.value.doubleValue, "count"),
      ("sources.pdf_encrypted_unsupported", unsup.value.doubleValue, "count"),
    ) ++ graft.chunk.Chunkers.strategyNames.map(s => (s"chunk.${s}_ms", ms(s"chunk.$s"), "ms")) ++ Seq(
      ("chunk.rows", perSpan("chunk")(s => tr.subtree(s.id).toSeq.map(e.spanRows.getOrElse(_, 0L)).sum.toDouble), "count"),
      ("embed.chunks_ms", ms("embed"), "ms"),
      ("embed.vectors", perSpan("embed")(fig(e.spanRows)), "count"),
      ("embed.query_ms", ms("embed.query"), "ms"),
      ("rag.retrieve_ms", ms("rag.retrieve"), "ms"),
      ("rag.pairs_scored", perSpan("rag.retrieve")(fig(e.spanPairs)), "count"),
      ("eval.ms", ms("eval"), "ms"),
      ("index.create_ms", ms("index.create"), "ms"),
      ("index.graph_build_ms", ms("index.graph_build"), "ms"),
      ("index.ivf_train_ms", ms("index.ivf_train"), "ms"),
      ("index.pq_train_ms", ms("index.pq_train"), "ms"),
      ("index.upsert_ms", ms("index.upsert"), "ms"),
      ("index.delete_ms", ms("index.delete"), "ms"),
      ("index.upsert_jobs", counted("index.upsert")(_.jobs), "count"),
      ("index.delete_jobs", counted("index.delete")(_.jobs), "count"),
      ("index.upsert_bytes_written", counted("index.upsert")(_.bytesWritten), "bytes"),
      ("index.delete_bytes_written", counted("index.delete")(_.bytesWritten), "bytes"),
    ) ++ Seq("store_bytes" -> "bytes", "artifact_dirs" -> "count",
      "store_bytes_per_vector_byte" -> "ratio", "graph_builds" -> "count",
      "ivf_trains" -> "count", "pq_trains" -> "count", "code_encodes" -> "count",
      "graph_builds_during_mutations" -> "count").map {
      case (k, u) => (s"index.$k", r.layer.getOrElse(s"index.$k", Double.NaN), u)
    } ++ e.Paths.flatMap { p =>
      Seq((s"search.$p.request_ms", ms(s"search.$p"), "ms"),
        (s"search.$p.construct_ms", ms(s"search.$p.construct"), "ms"),
        (s"search.$p.exec_ms", ms(s"search.$p.exec"), "ms"),
        (s"search.$p.jobs", counted(s"search.$p")(_.jobs), "count")) ++
        (if (p == "exact") Nil else Seq((s"search.$p.recall_at_10", recall(p), "ratio")))
    } ++ Modules.flatMap { mod =>
      Seq((s"queries.$mod.ms", ms(s"queries.$mod"), "ms"),
        (s"queries.$mod.construct_ms", ms(s"queries.$mod.construct"), "ms"),
        (s"queries.$mod.plan_ms", r.layer.getOrElse(s"queries.$mod.plan_ms", Double.NaN), "ms"),
        (s"queries.$mod.jobs", counted(s"queries.$mod")(_.jobs), "count"))
    } ++ Seq(
      ("queries.dedup.dropped_buckets",
        graft.queries.DedupQueries.droppedBucketsAcc(r.spark).value.doubleValue, "count"),
      ("spark.jobs", total.jobs.toDouble, "count"),
      ("spark.stages", total.stages.toDouble, "count"),
      ("spark.tasks", total.tasks.toDouble, "count"),
      ("spark.task_s", total.taskNs / 1e9, "s"),
      ("spark.scheduler_delay_s", total.schedulerDelayMs / 1e3, "s"),
      ("spark.task_failures", total.taskFailures.toDouble, "count"),
      ("spark.shuffle_read_bytes", total.shuffleRead.toDouble, "bytes"),
      ("spark.shuffle_write_bytes", total.shuffleWrite.toDouble, "bytes"),
      ("spark.spill_bytes", total.spill.toDouble, "bytes"),
      ("spark.task_skew", m.taskSkew, "ratio"),
      ("spark.gc_ms", gcMs, "ms"),
      ("spark.codegen_compiles", codegen, "count"),
      ("spark.live_heap_mb", liveHeapMb, "MB"),
      ("trace.untraced_op_ms", opMs(traced = false), "ms"),
      ("trace.traced_op_ms", opMs(traced = true), "ms"),
      ("trace.overhead_frac", opMs(traced = true) / opMs(traced = false) - 1, "ratio"),
      ("trace.spans", tr.spans.length.toDouble, "count"),
    )
  }
}
