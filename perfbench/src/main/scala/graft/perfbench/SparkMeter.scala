package graft.perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.Success
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** Engine-level counters for the traced run: a SparkListener for jobs,
  * stages and tasks, plus the JVM's GC beans and Spark's codegen
  * metrics. Jobs are charged to the span that submitted them (the
  * [[Tracer.SpanProp]] local property), and stages and tasks to their
  * job's span. Jobs outside every span (the untraced ops) are not
  * counted, so the counts cover the traced run's fixed work only.
  */
final class SparkMeter extends SparkListener {
  final class Counts {
    var jobs = 0L; var stages = 0L; var tasks = 0L; var taskFailures = 0L
    var taskNs = 0L; var schedulerDelayMs = 0L
    var shuffleRead = 0L; var shuffleWrite = 0L; var spill = 0L; var bytesWritten = 0L
  }
  val bySpan = mutable.Map.empty[Int, Counts]
  private val stageSpan = mutable.Map.empty[Int, Int]
  // per stage attempt: executor run times of its successful tasks
  private val stageTaskMs = mutable.Map.empty[(Int, Int), mutable.ArrayBuffer[Long]]

  private def spanCounts(span: Int): Option[Counts] =
    if (span < 0) None else Some(bySpan.getOrElseUpdate(span, new Counts))

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val span = Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.SpanProp)))
      .fold(-1)(_.toInt)
    e.stageIds.foreach(stageSpan(_) = span)
    spanCounts(span).foreach(_.jobs += 1)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    spanCounts(stageSpan.getOrElse(e.stageInfo.stageId, -1)).foreach(_.stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val span = stageSpan.getOrElse(e.stageId, -1)
    val cs = spanCounts(span)
    val m = e.taskMetrics
    val info = e.taskInfo
    cs.foreach { c =>
      c.tasks += 1
      if (e.reason != Success) c.taskFailures += 1
      if (m != null) {
        c.taskNs += m.executorRunTime * 1000000L
        c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        c.bytesWritten += m.outputMetrics.bytesWritten
        if (info != null) c.schedulerDelayMs += math.max(0L, info.duration -
          m.executorRunTime - m.executorDeserializeTime - m.resultSerializationTime -
          info.gettingResultTime)
      }
    }
    if (span >= 0 && m != null && e.reason == Success)
      stageTaskMs.getOrElseUpdate((e.stageId, e.stageAttemptId),
        mutable.ArrayBuffer.empty) += m.executorRunTime
  }

  /** Max over the spans' stages of (longest task / median task), for
    * stages with at least two tasks and a nonzero median; 1.0 when none
    * qualifies.
    */
  def taskSkew: Double = synchronized {
    val ratios = stageTaskMs.values.filter(_.length >= 2).flatMap { ts =>
      val med = Stats.median(ts.map(_.toDouble).toSeq)
      if (med > 0) Some(ts.max / med) else None
    }
    if (ratios.isEmpty) 1.0 else ratios.max
  }

  /** Sum of the counts of every span in `ids`. */
  def sumOver(ids: Set[Int]): Counts = synchronized {
    val out = new Counts
    ids.flatMap(bySpan.get).foreach { c =>
      out.jobs += c.jobs; out.stages += c.stages; out.tasks += c.tasks
      out.taskFailures += c.taskFailures; out.taskNs += c.taskNs
      out.schedulerDelayMs += c.schedulerDelayMs; out.shuffleRead += c.shuffleRead
      out.shuffleWrite += c.shuffleWrite; out.spill += c.spill
      out.bytesWritten += c.bytesWritten
    }
    out
  }
}

object SparkMeter {
  def register(spark: SparkSession): SparkMeter = {
    val m = new SparkMeter
    spark.sparkContext.addSparkListener(m)
    m
  }

  /** Wait until the listener bus has delivered every posted event. */
  def drain(spark: SparkSession): Unit =
    org.apache.spark.perfbench.ListenerDrain(spark.sparkContext)

  /** Total GC time of the JVM so far, in milliseconds. */
  def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(b => math.max(0L, b.getCollectionTime)).sum

  /** Whole-stage and expression code generation compiles so far. */
  def codegenCompiles: Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** Heap still live after a full collection, in MB. The first
    * collection queues Spark's weakly held broadcasts and shuffles for
    * its cleaner thread; the second, once the cleaner has freed their
    * blocks (measured to take up to about a second), counts what stays.
    */
  def liveHeapMb(): Double = {
    System.gc()
    Thread.sleep(1500)
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }
}
