package graft.tools

import org.apache.spark.sql.SparkSession

/** Targeted per-query timing for A/B experiments: runs the named
  * SparkEntry queries for `trials` rounds against one sf dir and
  * prints one line per (trial, query). Interleave whole JVM
  * invocations A/B/A/B so host drift hits both arms equally.
  *
  *   QueryBench <sfDir> <q1,q2,...> [trials]
  */
object QueryBench {
  def main(args: Array[String]): Unit = {
    java.util.Locale.setDefault(java.util.Locale.ROOT) // locale-safe f"%.3f" JSON
    val sfDir = args.lift(0).getOrElse("/tmp/graft_sf1")
    val names = args.lift(1)
      .getOrElse("q21_ngram_jaccard,q34_ivf_auto").split(",").toSeq
    val trials = args.lift(2).map(_.toInt).getOrElse(2)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    (1 to trials).foreach { t =>
      names.foreach { n =>
        val fn = graft.SparkEntry.queries.getOrElse(n,
          sys.error(s"unknown query $n"))
        val t0 = System.nanoTime()
        val rows = fn(spark, sfDir).count()
        val secs = (System.nanoTime() - t0) / 1e9
        println(f"QB $n trial=$t $secs%.3f s rows=$rows")
      }
    }
    spark.stop()
  }
}
