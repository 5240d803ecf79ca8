package graftbench

import java.nio.file.Paths
import java.util.Locale

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Outcome of checking one iteration's written output. `problems`
  * names the first few failed checks (printed to stderr). */
final case class CheckResult(attempted: Long, failed: Long, problems: Seq[String] = Nil) {
  def +(o: CheckResult): CheckResult =
    CheckResult(attempted + o.attempted, failed + o.failed, (problems ++ o.problems).take(8))
}

object CheckResult {
  /** `ops` operations, each failing when its entry in `bad` is non-empty. */
  def of(ops: Long, bad: Seq[String]): CheckResult = CheckResult(ops, bad.size.toLong, bad.take(8))
  /** One operation that fails when it has any problem. */
  def one(problems: Seq[String]): CheckResult =
    CheckResult(1, if (problems.isEmpty) 0 else 1, problems.take(8))
}

/** One benchmark workload. The job is the program's public API; the
  * checks and the traced variant live entirely in the benchmark. */
trait Workload {
  /** Items one iteration finishes: graphs, or input documents. */
  def items: Long
  /** Generate or land the inputs (part of `setup_s`). */
  def setup(t: Tracer): Unit
  /** Independent expectations used by `check` (not part of `setup_s`). */
  def prepareChecks(): Unit
  /** The workload's job, once, writing its results under `out`. */
  def run(out: String): Unit
  /** The same layers called one by one, each forced, one span per call. */
  def runTraced(out: String, t: Tracer): Unit
  def check(out: String): CheckResult
  /** Corrupts a real output in memory and returns the corruptions the
    * checks failed to reject (must be empty). */
  def selfTest(out: String): Seq[String]
  /** Per-layer metrics after the traced iterations. */
  def layerMetrics(t: Tracer, traced: Int => Boolean): Map[String, Double]
}

/** Benchmark process: set-up, one cold iteration, warm-up until
  * iteration times settle, then timed warm iterations. With
  * `--trace 1` the cold iteration and a few warm ones run traced and
  * the per-layer metrics are printed instead of the end-to-end ones.
  *
  * The last stdout line is the result JSON, with metric values by name;
  * the launcher adds the units from `BENCHMARK.json`. */
object Main {
  /** Warm-up ends once two iterations in a row agree within 10%, or
    * after WarmUpMax iterations or WarmUpCapS seconds, whichever comes
    * first (at least two iterations). */
  val WarmUpMax = 8
  val WarmUpCapS = 15.0
  /** Fewest timed warm iterations; the figures are their medians. */
  val MinTimed = 3

  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
                        launchNs: Long, work: String, threads: Int, spans: String)

  def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(m("workload"), m("seed").toLong, m("seconds").toInt, m("trace") == "1",
      m("launch-ns").toLong, m("work"), m("threads").toInt, m("spans"))
  }

  def session(threads: Int, work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$threads]")
      .appName("graftbench")
      .config("spark.sql.shuffle.partitions", threads.toLong)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def workload(name: String, spark: SparkSession, probe: Probe, seed: Long,
               work: String, threads: Int): Workload = name match {
    case "kg_fused" => new KgFusedWorkload(spark, probe, seed, work, threads)
    case "neardup"  => new NearDupWorkload(spark, probe, seed, work, threads)
    case other      => throw new IllegalArgumentException(s"unknown workload $other")
  }

  def main(argv: Array[String]): Unit = {
    Locale.setDefault(Locale.ROOT)
    val a = parse(argv)
    val spark = session(a.threads, a.work)
    def log(msg: String): Unit =
      System.err.println(f"[${(nowNs() - a.launchNs) / 1e9}%7.2f s] $msg")
    log("session ready")
    val probe = new Probe(spark)
    val w = workload(a.workload, spark, probe, a.seed, a.work, a.threads)
    val tracer = new Tracer(a.workload)
    w.setup(tracer)
    val setupS = (nowNs() - a.launchNs) / 1e9
    log(f"set-up done ($setupS%.2f s)")
    w.prepareChecks()
    log("expectations ready")

    var checks = CheckResult(0, 0)
    var iter = 0
    def iterDir(): String = { iter += 1; s"${a.work}/out/iter$iter" }
    def timed(body: String => Unit): (Double, RuntimeSnap, Option[Double], String) = {
      val dir = iterDir()
      val before = probe.snap()
      probe.resetHeapPeak()
      val t0 = System.nanoTime()
      body(dir)
      val wall = (System.nanoTime() - t0) / 1e9
      val d = probe.snap() - before
      (wall, d, probe.heapPeakBytes.map(_ / 1e6), dir)
    }
    def checked(dir: String): Unit = {
      val c = w.check(dir)
      c.problems.foreach(p => System.err.println(s"[check] $p"))
      checks += c
    }

    // 1) cold: first job in this JVM (traced when tracing)
    val (coldS, coldRt, _, coldDir) =
      if (a.trace) timed(d => tracer.span("iteration")(w.runTraced(d, tracer)))
      else timed(w.run)
    log(f"cold iteration $coldS%.2f s")
    checked(coldDir)
    Stats.deleteTree(coldDir)
    log("cold output checked")

    // 2) warm-up, untimed, until iteration times settle
    val warm = mutable.ArrayBuffer.empty[Double]
    val warmStart = System.nanoTime()
    def settled = warm.size >= 2 && {
      val l = warm.takeRight(2); l.max <= 1.10 * l.min
    }
    def capped = warm.size >= WarmUpMax ||
      (warm.size >= 2 && (System.nanoTime() - warmStart) / 1e9 >= WarmUpCapS)
    while (!settled && !capped) {
      val (s, _, _, d) = timed(w.run)
      warm += s
      Stats.deleteTree(d)
    }

    log(s"warm-up: ${warm.map(x => f"$x%.2f").mkString(" ")} (${if (settled) "settled" else "capped"})")

    // 3) timed warm iterations: whole iterations for --seconds, and at
    // least MinTimed of them
    final case class It(wall: Double, rt: RuntimeSnap, heapMb: Option[Double], writtenMb: Double)
    val its = mutable.ArrayBuffer.empty[It]
    val timedStart = System.nanoTime()
    var lastDir = ""
    while (its.size < MinTimed || (System.nanoTime() - timedStart) / 1e9 < a.seconds) {
      // every timed iteration starts from a fully collected heap, so its
      // peak live heap does not grow with the iterations run before it
      System.gc()
      val (s, rt, heap, d) = timed(w.run)
      its += It(s, rt, heap, Stats.dirBytes(d) / 1e6)
      if (lastDir.nonEmpty) Stats.deleteTree(lastDir)
      lastDir = d
    }
    // the cold and the last timed iteration are checked: each checked
    // iteration is one whole round of the workload's operations
    checked(lastDir)
    log(s"timed: ${its.map(x => f"${x.wall}%.2f").mkString(" ")}")
    val selfTestMisses = w.selfTest(lastDir)
    selfTestMisses.foreach(m => System.err.println(s"[selftest] corruption not rejected: $m"))

    def med(f: It => Double): Double = Stats.median(its.map(f).toSeq)
    val itemsPerS = w.items / med(_.wall)
    // median over the timed iterations that ran a collection
    val peakHeapMb = Stats.median(its.flatMap(_.heapMb).toSeq) match {
      case 0.0 => probe.heapUsedBytes / 1e6
      case v   => v
    }
    val metrics: Map[String, Double] =
      if (!a.trace) Map(
        "setup_s" -> setupS,
        "cold_s" -> coldS,
        "items_per_s" -> itemsPerS,
        "cpu_s" -> med(_.rt.cpuNs / 1e9),
        "shuffle_mb" -> med(_.rt.shuffleBytes / 1e6),
        "written_mb" -> med(_.writtenMb),
        "peak_heap_mb" -> peakHeapMb)
      else {
        // traced warm iterations; their outputs stay until the layer
        // metrics have read them
        val firstTraced = iter + 1
        val tracedDirs = (1 to 3).map { _ =>
          val dir = iterDir()
          tracer.iteration = iter
          val t0 = System.nanoTime()
          tracer.span("iteration")(w.runTraced(dir, tracer))
          val s = (System.nanoTime() - t0) / 1e9
          checked(dir)
          (dir, s)
        }
        val layers = w.layerMetrics(tracer, _ >= firstTraced)
        tracedDirs.foreach(d => Stats.deleteTree(d._1))
        val tracedItemsPerS = w.items / Stats.median(tracedDirs.map(_._2))
        tracer.write(Paths.get(a.spans))
        layers ++ Map(
          "runtime.jobs" -> med(_.rt.jobs.toDouble),
          "runtime.stages" -> med(_.rt.stages.toDouble),
          "runtime.tasks" -> med(_.rt.tasks.toDouble),
          "runtime.task_s" -> med(_.rt.taskMs / 1e3),
          "runtime.gc_s" -> med(_.rt.gcMs / 1e3),
          "runtime.spill_mb" -> med(_.rt.spillBytes / 1e6),
          "runtime.jit_s" -> coldRt.jitMs / 1e3,
          "runtime.codegen_compiles" -> coldRt.codegen.toDouble,
          "runtime.cold_iteration_s" -> coldS,
          "runtime.warm_iteration_s" -> med(_.wall),
          "trace.items_per_s" -> tracedItemsPerS,
          "trace.overhead" -> (1.0 - tracedItemsPerS / itemsPerS))
      }
    if (lastDir.nonEmpty) Stats.deleteTree(lastDir)
    spark.stop()

    val correct = checks.failed == 0 && selfTestMisses.isEmpty
    val body = metrics.toSeq.sorted.map { case (k, v) => s""""$k": ${num(v)}""" }.mkString(", ")
    println(s"""{"correct": $correct, "attempted": ${checks.attempted}, """ +
      s""""failed": ${checks.failed}, "values": {$body}}""")
  }

  def nowNs(): Long = {
    val i = java.time.Instant.now()
    i.getEpochSecond * 1000000000L + i.getNano
  }

  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString
}
