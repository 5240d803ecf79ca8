package graft.tools

import org.apache.spark.sql.SparkSession

/** Print the FINAL (post-AQE) executed plan of one SparkEntry query —
  * shows which exchanges were reused vs materialized at runtime
  * (static explain cannot).
  *
  *   QPlanFinal <sfDir> <queryName> [cores]
  */
object QPlanFinal {
  def main(args: Array[String]): Unit = {
    val sfDir = args.lift(0).getOrElse("/root/testdata/sf0.1")
    val name = args.lift(1).getOrElse("q21_ngram_jaccard")
    val cores = args.lift(2).getOrElse(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    spark.listenerManager.register(new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
                             qe: org.apache.spark.sql.execution.QueryExecution,
                             durationNs: Long): Unit =
        plans.add(qe.executedPlan.toString)
      override def onFailure(funcName: String,
                             qe: org.apache.spark.sql.execution.QueryExecution,
                             exception: Exception): Unit = ()
    })
    val df = graft.SparkEntry.queries(name)(spark, sfDir)
    // noop sink: executes THIS query's plan (count() would plan a
    // separate aggregate query); the listener captures the WRITE's
    // QueryExecution, whose executedPlan is the final adaptive plan
    df.write.format("noop").mode("overwrite").save()
    // the listener bus delivers onSuccess asynchronously: poll for the
    // captured plan instead of sleeping a fixed time
    val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
    while (plans.isEmpty && System.nanoTime() < deadline) Thread.sleep(20)
    if (plans.isEmpty) System.err.println(s"QPlanFinal: no plan captured for $name within 30 s")
    plans.forEach(println)
    spark.stop()
  }
}
