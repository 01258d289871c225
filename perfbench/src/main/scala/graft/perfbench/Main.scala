package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

import graft.index.VectorStore

/** The benchmark driver: one workload, one seed, one process.
  *
  * {{{
  * Main --workload <name> --seed <n> --seconds <s> --trace <0|1> --out <dir> [--commit <sha>]
  * }}}
  *
  * A run starts a local Spark session, sets the workload up and warms
  * it with untimed ops, then drives ops one after another (a closed
  * loop with one client) for `--seconds`. A traced run traces the
  * set-up, makes the workload's tour (an untimed pass over the layers
  * the workload does not reach) before the window, and traces
  * [[TracedOps]] of the window's ops.
  * Output checks run after the window. The last line of standard
  * output is the result object; the full run record and, when traced,
  * the spans are written under `--out`.
  */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
      out: Path, commit: String)

  /** Workload sizes: documents per generated corpus. */
  val RagDocs = 60
  val ServeDocs = 200
  /** Traced ops in a traced run; the window's other ops are untraced. */
  val TracedOps = 2

  val Workloads: Seq[String] = Seq("rag_experiment", "retrieve_serve")

  def parse(args: Array[String]): Args = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val w = need("workload")
    require(Workloads.contains(w), s"unknown workload $w (one of ${Workloads.mkString(", ")})")
    val trace = need("trace")
    require(trace == "0" || trace == "1", "--trace takes 0 or 1")
    Args(w, need("seed").toLong, need("seconds").toInt, trace == "1",
      Paths.get(need("out")).toAbsolutePath, m.getOrElse("commit", "unknown"))
  }

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.sorted(java.util.Comparator.reverseOrder[Path]()).iterator.asScala.foreach(Files.delete)
    finally s.close()
  }

  def treeBytes(p: Path): Long = if (!Files.exists(p)) 0L else {
    val s = Files.walk(p)
    try s.iterator.asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
    finally s.close()
  }

  /** Store-level figures for the per-layer record: bytes on disk,
    * artifact directories and VectorStore's build/train/encode censuses.
    */
  def recordStore(r: Run, storePath: String, name: String, liveVectors: Int): Unit = {
    val base = Paths.get(storePath)
    val bytes = treeBytes(base)
    val artifactDirs = Seq(".graph", ".pq", ".ivf", ".codes").map { a =>
      val d = base.resolve(a).resolve(name)
      if (!Files.isDirectory(d)) 0
      else { val s = Files.list(d); try s.count().toInt finally s.close() }
    }.sum
    r.layer("index.store_bytes") = bytes.toDouble
    r.layer("index.artifact_dirs") = artifactDirs.toDouble
    r.layer("index.store_bytes_per_vector_byte") =
      bytes.toDouble / (liveVectors.toLong * r.eng.ServeModel.dim * 4)
    val census = Seq(
      "graph_builds" -> VectorStore.graphBuildsOf(storePath, name),
      "ivf_trains" -> VectorStore.ivfTrainsOf(storePath, name),
      "pq_trains" -> VectorStore.cwTrainsOf(storePath, name),
      "code_encodes" -> VectorStore.codesEncodesOf(storePath, name))
    census.foreach { case (k, v) => r.layer(s"index.$k") = v.toDouble }
    r.record("census") = census.toMap + ("collection" -> name)
  }

  def session(work: Path, cpus: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", "4096")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.hadoop.hadoop.tmp.dir", work.resolve("hadoop-tmp").toString)
      // keep Spark's status history short, so the live heap measures the
      // engine's own state rather than how many ops the window fitted
      .config("spark.ui.retainedJobs", "1")
      .config("spark.ui.retainedStages", "1")
      .config("spark.sql.ui.retainedExecutions", "1")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  private def loadAvg: Double = ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage

  /** A metric line of the result: (name, value, unit). */
  type Metric = (String, Double, String)

  def main(argv: Array[String]): Unit = {
    val a = try parse(argv) catch { case NonFatal(e) =>
      System.err.println(s"perfbench: ${e.getMessage}"); sys.exit(2)
    }
    val procStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val load0 = loadAvg
    val cpus = sys.env.get("SPARK_GRAFT_CPUS").flatMap(_.toIntOption).getOrElse(4)
    val tag = s"${a.workload}-seed${a.seed}-trace${if (a.trace) 1 else 0}"
    val work = a.out.resolve("work").resolve(tag)
    deleteTree(work)
    Files.createDirectories(work)

    val spark = session(work, cpus)
    val readyS = (System.currentTimeMillis() - procStartMs) / 1000.0
    val tr = new Tracer(spark.sparkContext)
    tr.enabled = a.trace
    val meter = if (a.trace) Some(SparkMeter.register(spark)) else None
    val r = new Run(spark, a.seed, work, tr)

    val wl: Workload = a.workload match {
      case "rag_experiment" => new RagExperiment(r, RagDocs)
      case "retrieve_serve" => new RetrieveServe(r, ServeDocs)
    }
    tr.phase = "setup"
    val setupMs = try Op.timed(wl.setup())._2 catch { case NonFatal(e) =>
      System.err.println(s"perfbench: set-up of ${a.workload} failed: $e")
      e.printStackTrace()
      spark.stop(); sys.exit(1)
    }
    // untimed ops warm the workload's code paths (codegen, then the
    // JIT's hot loops) before timing; a traced run, which reports no
    // end-to-end metric, warms with one
    tr.enabled = false
    val warmOps = if (a.trace) 1 else wl.warmOps
    val (warm, warmMs) =
      Op.timed((-warmOps to -1).map(i => Op.attempt(i, traced = false)(wl.op(i))))
    val setupS = readyS + (setupMs + warmMs) / 1000
    // the live heap takes two full collections and a wait for Spark's
    // cleaner, about 3 s, so only the traced run measures it
    val heapAfterSetup = if (a.trace) SparkMeter.liveHeapMb() else Double.NaN
    // the tour is the traced run's way into the layers its workload
    // does not reach; it runs after the warm-up, which has already paid
    // for the class loading and JIT work the two share
    tr.enabled = a.trace
    tr.phase = "tour"
    val tourMs = if (a.trace) Op.timed(wl.tour())._2 else 0.0

    // the timed window: a closed loop, one op at a time; a traced run
    // alternates untraced and traced ops until it has made TracedOps
    // traced ones, so it measures its own overhead
    val ops = mutable.ArrayBuffer.empty[Op]
    val tracedTarget = if (a.trace) TracedOps else 0
    val tracedCost = mutable.ArrayBuffer.empty[(Double, Double)] // (GC ms, codegen compiles)
    val t0 = System.nanoTime()
    def elapsedS = (System.nanoTime() - t0) / 1e9
    def okUntraced = ops.count(o => o.failure.isEmpty && !o.traced)
    val need = if (a.trace) TracedOps else wl.minOps
    def more = elapsedS < 3.0 * a.seconds &&
      (elapsedS < a.seconds || okUntraced < need || tracedCost.length < tracedTarget)
    tr.phase = "op"
    var i = 0
    while (more) {
      tr.enabled = tracedCost.length < tracedTarget && i % 2 == 1
      tr.nextRequest()
      val (gc, cg) = (SparkMeter.gcMs, SparkMeter.codegenCompiles)
      ops += Op.attempt(i, tr.enabled)(wl.op(i))
      if (tr.enabled)
        tracedCost += (((SparkMeter.gcMs - gc).toDouble, (SparkMeter.codegenCompiles - cg).toDouble))
      i += 1
    }
    val windowS = elapsedS
    tr.enabled = false
    val heapAfterWindow = if (a.trace) SparkMeter.liveHeapMb() else Double.NaN

    // output checks, outside the window
    val (_, checksMs) = Op.timed {
      // each check is a single-threaded recomputation; the ops' checks
      // run side by side on the cores the finished window left idle
      val pool = java.util.concurrent.Executors.newFixedThreadPool(cpus)
      try (warm ++ ops).filter(_.failure.isEmpty)
        .map(o => o -> pool.submit(() =>
          try o.check() catch { case NonFatal(e) => Some(s"check threw $e") }))
        .foreach { case (o, f) => o.failure = f.get() }
      finally pool.shutdown()
      // a traced run's finish may add tour steps
      tr.enabled = a.trace
      tr.phase = "tour"
      tr.nextRequest()
      try wl.finish() catch { case NonFatal(e) => r.failures += s"${a.workload}/finish: threw $e" }
      tr.enabled = false
    }
    (warm ++ ops).foreach(o =>
      o.failure.foreach(f => r.failures += s"${a.workload}/op${o.index}: $f"))
    val load1 = loadAvg

    val good = ops.filter(o => o.failure.isEmpty && !o.traced)
    if (good.isEmpty) {
      System.err.println(s"perfbench: no op of ${a.workload} succeeded")
      r.failures.foreach(f => System.err.println(s"  FAILED $f"))
      spark.stop(); sys.exit(1)
    }
    val opMs = good.map(_.ms).toSeq
    val endToEnd: Seq[Metric] = Seq(
      ("setup_s", setupS, "s"),
      ("op_p50_ms", Stats.median(opMs), "ms"))

    val perLayer: Seq[Metric] = meter.fold(Seq.empty[Metric]) { m =>
      SparkMeter.drain(spark)
      def perOp(f: ((Double, Double)) => Double) =
        if (tracedCost.isEmpty) Double.NaN else Stats.median(tracedCost.map(f).toSeq)
      Layers.metrics(r, m, ops.toSeq, gcMs = perOp(_._1), codegen = perOp(_._2),
        liveHeapMb = heapAfterSetup)
    }

    val attempted = warm.length + ops.length + r.tourSteps
    val failed = r.failures.length
    val (dec, unsup) = graft.sources.DocumentLoader.pdfEncryptionAccs(spark)
    def kindStats(os: Seq[Op]) = os.flatMap(_.parts).groupMap(_._1)(_._2).map {
      case (k, xs) => k -> Map("n" -> xs.length, "p50_ms" -> Stats.median(xs),
        "tail" -> Stats.tail(xs).map { case (p, v) => Map("p" -> p, "ms" -> v) })
    }
    val record = Seq(
      "workload" -> a.workload, "seed" -> a.seed, "seconds" -> a.seconds, "trace" -> a.trace,
      "commit" -> a.commit, "nproc" -> Runtime.getRuntime.availableProcessors,
      "spark_graft_cpus" -> sys.env.get("SPARK_GRAFT_CPUS"), "local_cpus" -> cpus,
      "loadavg_1m_before" -> load0, "loadavg_1m_after" -> load1,
      "setup" -> Map("ready_s" -> readyS, "tour_ms" -> tourMs, "setup_ms" -> setupMs,
        "warm_op_ms" -> warmMs, "warm_ops_ms" -> warm.map(_.ms)),
      "window_s" -> windowS, "checks_s" -> checksMs / 1000,
      "live_heap_mb" -> Map("after_setup" -> heapAfterSetup, "after_window" -> heapAfterWindow),
      "ops" -> Map("attempted" -> ops.length, "ok_untraced" -> good.length,
        "ok_traced" -> ops.count(o => o.failure.isEmpty && o.traced),
        "ops_per_s" -> good.length / (opMs.sum / 1000),
        "op_ms" -> Map("n" -> opMs.length, "p50" -> Stats.median(opMs), "all" -> opMs,
          "tail" -> Stats.tail(opMs).map { case (p, v) => Map("p" -> p, "ms" -> v) }),
        "by_request" -> kindStats(good.toSeq)),
      "tour_steps" -> r.tourSteps,
      "failures" -> r.failures.toSeq,
      "fail_frac" -> failed.toDouble / attempted,
      "audit" -> Map(
        "dropped_buckets" -> graft.queries.DedupQueries.droppedBucketsAcc(spark).value.longValue,
        "pdf_decrypted" -> dec.value.longValue,
        "pdf_encrypted_unsupported" -> unsup.value.longValue),
      "recall_at_10" -> r.recalls.map { case (p, xs) => p -> xs.sum / xs.length }.toMap,
      "end_to_end" -> endToEnd.map(x => x._1 -> Map("value" -> x._2, "unit" -> x._3)).toMap,
      "per_layer" -> perLayer.map(x => x._1 -> Map("value" -> x._2, "unit" -> x._3)).toMap,
      "layer_self_s" -> (if (a.trace) tr.selfSecondsByLayer else Map.empty[String, Double]),
    ) ++ r.record.toSeq
    val runs = Files.createDirectories(a.out.resolve("runs"))
    Files.writeString(runs.resolve(s"$tag.json"), Json.obj(record) + "\n")
    if (a.trace) tr.writeJsonl(runs.resolve(s"$tag.spans.jsonl"))
    spark.stop()
    deleteTree(work)

    val shown = if (a.trace) perLayer else endToEnd
    r.failures.foreach(f => println(s"FAILED $f"))
    println(f"fail_frac = ${failed.toDouble / attempted}%.4f ratio ($failed of $attempted)")
    shown.foreach { case (n, v, u) => println(s"$n = $v $u") }
    println(s"record: ${runs.resolve(s"$tag.json")}")
    println(Json.obj(Seq("correct" -> (failed == 0), "attempted" -> attempted,
      "failed" -> failed, "metrics" -> Json.Raw(Json.obj(shown.map { case (n, v, u) =>
        n -> Json.Raw(Json.obj(Seq("value" -> v, "unit" -> u)))
      })))))
    System.out.flush()
    sys.exit(0)
  }
}
