package graft.tools

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.ConcurrentLinkedQueue

import graft.SparkEntry
import graft.pipeline.{Corpus, Kg, LinkedMention}
import graft.spark.{CanonEngine, CanonResult}
import graft.util.MiniJson
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, StageInfo}
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.execution.{FormattedMode, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, AdaptiveSparkPlanHelper}
import org.apache.spark.sql.execution.exchange.{Exchange, ReusedExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.util.QueryExecutionListener

/** Per-stage profile of the timed leaves (`SparkEntry.queries` plus
  * Bench's two canonicalization headlines), each run the way
  * `graft.Bench` times it: `count()` on Bench's session shape with
  * `SPARK_GRAFT_CPUS` cores (default 32), no warm-up (trial 1 is cold).
  * One JSON line per (trial, leaf): wall time, rows, the queries run,
  * per stage the tasks, wall, task time, GC, shuffle read and write
  * (bytes and rows) and spill, and the exchanges (shuffle and
  * broadcast) in AQE's initial and final plans, and reused. `--plans` also writes `<leaf>_explain.txt` (formatted
  * explain) and `<leaf>_final.txt` (the last trial's final plan).
  *
  *   Profile <sfDir> <leaf,...|all> [trials] [--plans <dir>]
  */
object Profile extends AdaptiveSparkPlanHelper {

  /** A Bench headline: the `ok` graphs of `canon` on its 20k-repo corpus. */
  private def headline(canon: (Dataset[LinkedMention], DataFrame) => Dataset[CanonResult])
      : (SparkSession, String) => Dataset[_] = { (spark, _) =>
    import spark.implicits._
    val cfg = Corpus.Config(nRepos = 20000, baseFilesPerRepo = 6, mentionsPerFile = 8)
    val dictNames = (0 until cfg.nEntities).map(Corpus.entityName)
    val files = Corpus.generate(spark, cfg)
    val mentions = Kg.detectMentions(files, spark.sparkContext.broadcast(dictNames.toSet))
    canon(Kg.linkMentions(mentions, dictNames.toDF("name")),
      Kg.connectedComponents(dictNames.toDF("name"), Kg.detectAliases(files))).filter(_.status == "ok")
  }

  private val headlines = Seq(
    "canon_staged_20kgraphs" -> headline((l, cc) =>
      Kg.canonicalizeTriples(Kg.dedupTriples(Kg.emitTriples(l, cc)))),
    "canon_fused_20kgraphs" -> headline(Kg.canonicalizeFromMentions(_, _)))

  private val leaves: Map[String, (SparkSession, String) => Dataset[_]] = SparkEntry.queries ++ headlines

  private val Marker = "graft.profile.marker"

  /** Completed stages and the finished actions with their names. Both
    * listeners sit on Spark's shared listener queue, which delivers in
    * posting order: once `drain`'s marker job has arrived, so has every
    * event posted before it. */
  private final class Recorder(spark: SparkSession)
      extends SparkListener with QueryExecutionListener {
    private val stages = new ConcurrentLinkedQueue[StageInfo]()
    private val actions = new ConcurrentLinkedQueue[(String, QueryExecution)]()
    @volatile private var delivered = 0L
    private var posted = 0L

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = stages.add(e.stageInfo)
    override def onJobStart(e: SparkListenerJobStart): Unit =
      Option(e.properties).flatMap(p => Option(p.getProperty(Marker))).foreach(m => delivered = m.toLong)
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = actions.add(f -> qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()

    /** What arrived since the last drain: runs a job of no tasks and
      * polls, up to 30 s, until the bus has delivered its start. */
    def drain(): (Seq[StageInfo], Seq[(String, QueryExecution)]) = {
      val sc = spark.sparkContext
      posted += 1
      sc.setLocalProperty(Marker, posted.toString)
      try sc.emptyRDD[Int].count() finally sc.setLocalProperty(Marker, null)
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (delivered < posted && System.nanoTime() < deadline) Thread.sleep(5)
      if (delivered < posted) System.err.println("Profile: listener events missing after 30 s")
      def take[T](q: ConcurrentLinkedQueue[T]) = Iterator.continually(q.poll()).takeWhile(_ != null).toVector
      (take(stages), take(actions))
    }
  }

  /** The operators a stage runs, from the scopes its RDDs were made in
    * (one per physical operator), in lineage order. */
  private def operators(si: StageInfo): String =
    si.rddInfos.sortBy(_.id).flatMap(_.scope.map(_.name)).distinct.mkString(" <- ")

  /** One JSON line. The exchange counts are those of the `count()`
    * action's plan; `queries` counts every action the leaf ran (a leaf
    * may run probe queries while it builds its plan). A shuffle-map
    * stage is named by the exchange it writes, as its query's final
    * plan prints it (with its `plan_id`); any other stage by the
    * operators it runs ([[operators]]). */
  private def line(trial: Int, leaf: String, wall: Double, rows: Long,
                   stages: Seq[StageInfo], ran: Seq[(String, QueryExecution)]): String = {
    val plan = ran.collect { case ("count", qe) => qe.executedPlan }.lastOption
    val (initial, fin) = plan match {
      case Some(a: AdaptiveSparkPlanExec) => (Some(a.initialPlan), Some(a.executedPlan))
      case p => (p, p)
    }
    def count(p: Option[SparkPlan])(pf: PartialFunction[SparkPlan, Any]) =
      p.fold(-1)(collectWithSubqueries(_)(pf).size)
    def exchanges(p: Option[SparkPlan]) = count(p) { case e: Exchange => e }
    val writes = ran.flatMap(a => collectWithSubqueries(a._2.executedPlan) {
      case e: ShuffleExchangeExec => e.shuffleDependency.rdd.id -> e.simpleString(25)
    }).toMap
    def mb(bytes: Long) = bytes / 1e6
    val st = stages.sortBy(_.stageId).map { si =>
      val m = si.taskMetrics
      val stageWall = (si.completionTime.getOrElse(0L) - si.submissionTime.getOrElse(0L)) / 1e3
      f"""{"id":${si.stageId},"tasks":${si.numTasks},"wall_s":$stageWall%.3f,""" +
        f""""task_s":${m.executorRunTime / 1e3}%.3f,"gc_s":${m.jvmGCTime / 1e3}%.3f,""" +
        f""""shuffle_read_mb":${mb(m.shuffleReadMetrics.totalBytesRead)}%.3f,""" +
        f""""shuffle_write_mb":${mb(m.shuffleWriteMetrics.bytesWritten)}%.3f,""" +
        f""""spill_mb":${mb(m.memoryBytesSpilled + m.diskBytesSpilled)}%.3f,""" +
        f""""shuffle_write_rows":${m.shuffleWriteMetrics.recordsWritten},""" +
        s""""name":"${MiniJson.escape(si.rddInfos.map(_.id).collectFirst(writes).getOrElse(operators(si)))}"}"""
    }
    f"""{"trial":$trial,"leaf":"$leaf","wall_s":$wall%.3f,"rows":$rows,"queries":${ran.size},""" +
      f""""tasks":${stages.map(_.numTasks).sum},"task_s":${stages.map(_.taskMetrics.executorRunTime).sum / 1e3}%.3f,""" +
      s""""exchanges_planned":${exchanges(initial)},"exchanges_final":${exchanges(fin)},""" +
      s""""exchanges_reused":${count(fin) { case r: ReusedExchangeExec => r }},""" +
      s""""stages":${st.mkString("[", ",", "]")}}"""
  }

  /** Runs `names` for `trials` rounds (trial-major) and passes each
    * JSON line to `emit`; the listeners are removed afterwards. */
  def run(spark: SparkSession, sfDir: String, names: Seq[String], trials: Int,
          plans: Option[Path])(emit: String => Unit): Unit = {
    names.foreach(n => require(leaves.contains(n), s"unknown leaf $n"))
    plans.foreach(Files.createDirectories(_))
    def write(file: String, text: String): Unit =
      plans.foreach(dir => Files.write(dir.resolve(file), text.getBytes(UTF_8)))
    val rec = new Recorder(spark)
    spark.sparkContext.addSparkListener(rec)
    spark.listenerManager.register(rec)
    try for (trial <- 1 to trials; name <- names) {
      val leaf = leaves(name)
      if (trial == 1 && plans.nonEmpty)
        write(s"${name}_explain.txt", leaf(spark, sfDir).queryExecution.explainString(FormattedMode))
      rec.drain() // drop what the explain (or anything before) ran
      val t0 = System.nanoTime()
      val rows = leaf(spark, sfDir).count()
      val wall = (System.nanoTime() - t0) / 1e9
      val (stages, actions) = rec.drain()
      actions.collect { case ("count", qe) => qe.executedPlan }.lastOption
        .foreach(p => write(s"${name}_final.txt", p.toString))
      emit(line(trial, name, wall, rows, stages, actions))
    } finally {
      spark.listenerManager.unregister(rec)
      spark.sparkContext.removeSparkListener(rec)
    }
  }

  def main(args: Array[String]): Unit = {
    java.util.Locale.setDefault(java.util.Locale.ROOT) // locale-safe f"%.3f" JSON
    val p = args.indexOf("--plans")
    val plans = if (p < 0) None else Some(Paths.get(args(p + 1)))
    val pos = if (p < 0) args.toSeq else args.toSeq.patch(p, Nil, 2)
    val names = if (pos(1) == "all") SparkEntry.queries.keys.toSeq.sorted ++ headlines.map(_._1)
                else pos(1).split(',').map(_.trim).filter(_.nonEmpty).toSeq
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = CanonEngine.session(s"local[$cpus]", shufflePartitions = cpus.toInt)
    spark.sparkContext.setLogLevel("WARN")
    try run(spark, pos(0), names, pos.lift(2).fold(2)(_.toInt), plans)(println)
    finally spark.stop()
  }
}
