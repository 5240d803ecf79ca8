package graftbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.atomic.AtomicLong
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.util.QueryExecutionListener

/** Cumulative Spark runtime counters; read as before/after deltas. */
final case class RuntimeSnap(jobs: Long, stages: Long, tasks: Long,
                             taskMs: Long, gcMs: Long, shuffleBytes: Long,
                             spillBytes: Long, cpuNs: Long, jitMs: Long,
                             codegen: Long) {
  def -(o: RuntimeSnap): RuntimeSnap = RuntimeSnap(jobs - o.jobs,
    stages - o.stages, tasks - o.tasks, taskMs - o.taskMs, gcMs - o.gcMs,
    shuffleBytes - o.shuffleBytes, spillBytes - o.spillBytes,
    cpuNs - o.cpuNs, jitMs - o.jitMs, codegen - o.codegen)
}

/** Everything the benchmark reads from the runtime: a SparkListener
  * for jobs, stages and task metrics, JVM CPU and JIT time, Spark's
  * generated-code compilation count, and the heap peak seen by GC. */
final class Probe(spark: SparkSession) {
  private val jobs, stages, tasks, taskMs, gcMs, shuffle, spill = new AtomicLong
  spark.sparkContext.addSparkListener(new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      stages.incrementAndGet()
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      tasks.incrementAndGet()
      val m = e.taskMetrics
      if (m != null) {
        taskMs.addAndGet(m.executorRunTime)
        gcMs.addAndGet(m.jvmGCTime)
        shuffle.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      }
    }
  })

  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private val jit = ManagementFactory.getCompilationMXBean

  def snap(): RuntimeSnap = {
    org.apache.spark.GraftBenchAccess.drainListeners(spark.sparkContext)
    RuntimeSnap(jobs.get, stages.get, tasks.get, taskMs.get, gcMs.get,
      shuffle.get, spill.get, os.getProcessCpuTime, jit.getTotalCompilationTime,
      org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount)
  }

  // peak live heap: the largest heap occupancy left after a collection.
  // (Occupancy just before a collection mostly measures how large the
  // collector chose to let the young generation grow.)
  private val heapPeak = new AtomicLong
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP).map(_.getName).toSet
  ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case em: NotificationEmitter =>
      em.addNotificationListener(new NotificationListener {
        def handleNotification(n: Notification, hb: Any): Unit =
          if (n.getType == "com.sun.management.gc.notification") {
            val info = com.sun.management.GarbageCollectionNotificationInfo
              .from(n.getUserData.asInstanceOf[CompositeData])
            val after = info.getGcInfo.getMemoryUsageAfterGc.asScala
              .collect { case (k, v) if heapPools(k) => v.getUsed }.sum
            heapPeak.accumulateAndGet(after, math.max)
          }
      }, null, null)
    case _ =>
  }
  def resetHeapPeak(): Unit = heapPeak.set(0L)
  /** Peak live heap since the reset; None when no collection ran. */
  def heapPeakBytes: Option[Long] = Some(heapPeak.get).filter(_ > 0)
  def heapUsedBytes: Long = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed

  /** Final (post-AQE) plans of the queries that ran since the last
    * `takePlans()`. */
  private val plans = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]()
  spark.listenerManager.register(new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
      plans.add(qe.executedPlan)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
  })
  def takePlans(): Seq[SparkPlan] = {
    org.apache.spark.GraftBenchAccess.drainListeners(spark.sparkContext)
    Iterator.continually(plans.poll()).takeWhile(_ != null).toVector
  }
}

/** Plan walks that descend into adaptive query stages. */
object Plans extends AdaptiveSparkPlanHelper {
  /** Shuffle exchanges that ran (reused ones are not counted twice). */
  def exchanges(p: SparkPlan): Int =
    collectWithSubqueries(p) { case e: ShuffleExchangeLike => e }.size

  /** Rows out of the joins that attach both shingle arrays: one row per
    * candidate pair entering the exact Jaccard verify. */
  def verifyCandidates(p: SparkPlan): Long =
    collectWithSubqueries(p) {
      case j: BaseJoinExec if Set("sh_a", "sh_b").subsetOf(j.output.map(_.name).toSet) =>
        j.metrics.get("numOutputRows").map(_.value).getOrElse(0L)
    }.sum
}

/** One traced call. `parent` is the index of the enclosing span or -1. */
final case class Span(name: String, startNs: Long, endNs: Long, parent: Int,
                      workload: String, iteration: Int) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** In-memory span recorder; written once when the run ends. */
final class Tracer(workload: String) {
  val spans = mutable.ArrayBuffer.empty[Span]
  private var stack = List.empty[Int]
  var iteration = 0

  def span[T](name: String)(body: => T): T = {
    val idx = spans.size
    spans += Span(name, System.nanoTime(), 0L, stack.headOption.getOrElse(-1),
      workload, iteration)
    stack = idx :: stack
    try body
    finally {
      stack = stack.tail
      spans(idx) = spans(idx).copy(endNs = System.nanoTime())
    }
  }

  def lastSeconds(name: String): Double =
    spans.findLast(_.name == name).map(_.seconds).getOrElse(0.0)

  /** Median duration of the spans named `name` (0 when none ran). */
  def median(name: String, iter: Int => Boolean = _ => true): Double =
    Stats.median(spans.filter(s => s.name == name && iter(s.iteration)).map(_.seconds).toSeq)

  def write(path: Path): Unit = {
    val lines = spans.map { s =>
      s"""{"name":"${s.name}","start_ns":${s.startNs},"end_ns":${s.endNs},""" +
        s""""parent":${s.parent},"workload":"${s.workload}","iteration":${s.iteration}}"""
    }
    Files.createDirectories(path.getParent)
    Files.write(path, (lines.mkString("\n") + "\n").getBytes("UTF-8"))
  }
}

object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  def dirBytes(dir: String): Long = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) 0L
    else {
      val st = Files.walk(p)
      try st.iterator.asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally st.close()
    }
  }

  def deleteTree(dir: String): Unit = {
    val p = Paths.get(dir)
    if (Files.exists(p)) {
      val st = Files.walk(p)
      try st.iterator.asScala.toVector.reverse.foreach(Files.delete)
      finally st.close()
    }
  }
}
