package graft.tools

import java.nio.charset.StandardCharsets.UTF_8

import graft.spark.CanonEngine
import org.apache.spark.sql.functions._
import org.apache.spark.sql.DataFrame

/** sf1-equivalent corpus generator: expands the driver-provided sf0.1
  * tables by `factor` (default 10) into a larger deterministic corpus
  * for scale evidence (testdata ships only up to sf0.1 and is
  * read-only; VERDICT r2 #8 asks for 10x-row bench numbers to surface
  * skew the small sets cannot).
  *
  * Copy 0 is the identity, so the output is a strict superset of the
  * source. Copy c > 0 shifts every key domain by c x a stride above
  * its max, preserving referential integrity WITHIN a copy
  * (orders.o_custkey -> customer, lineitem -> orders/part/supplier);
  * nation/region stay single dimension tables referenced by all
  * copies (their keys are not shifted).
  *
  * Content decorrelation — the part that keeps the similarity
  * operators honest at 10x (naive replication would create
  * cross-copy duplicate clusters and quadratic pair counts):
  *  - documents: ~1/4 of tokens per copy get a copy-specific suffix
  *    (seeded by xxhash64(token, c)), which scatters the char-5-gram
  *    shingle sets across copies while preserving each copy's
  *    internal near-dup structure (near-identical texts receive
  *    near-identical saltings);
  *  - embeddings: each copy applies an ORTHOGONAL transform (rotate
  *    dimensions by c, md5-seeded sign flips) — norms and all
  *    within-copy cosines are preserved exactly, cross-copy cosines
  *    decorrelate to noise.
  */
object ScaleUp {

  private def signs(c: Int, dim: Int): Array[Float] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    Array.tabulate(dim) { i =>
      md.reset()
      val h = md.digest(s"scale:$c:$i".getBytes(UTF_8))
      if (((h(0) >> 4) & 1) == 0) 1.0f else -1.0f
    }
  }

  def main(args: Array[String]): Unit = {
    val src = args.lift(0).getOrElse("/root/testdata/sf0.1")
    val dst = args.lift(1).getOrElse("/tmp/graft_sf1")
    val factor = args.lift(2).map(_.toInt).getOrElse(10)
    val spark = CanonEngine.session(
      s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")}]", shufflePartitions = 32)
    spark.sparkContext.setLogLevel("WARN")

    // key strides: one power of ten above each domain's sf0.1 max
    val S_CUST = 1000000L; val S_ORD = 10000000L; val S_PART = 1000000L
    val S_SUPP = 100000L; val S_EV = 1000000L; val S_USER = 1000000L
    val S_DOC = 100000L; val S_VEC = 100000L

    def expand(table: String)(xf: (DataFrame, Int) => DataFrame): Unit = {
      val base = spark.read.parquet(s"$src/$table.parquet")
      val out = (0 until factor).map(c => xf(base, c)).reduce(_ unionByName _)
      out.write.mode("overwrite").parquet(s"$dst/$table.parquet")
      println(s"[scaleup] $table x$factor written")
    }
    def shifted(df: DataFrame, c: Int, keys: (String, Long)*): DataFrame =
      keys.foldLeft(df) { case (d, (k, s)) => d.withColumn(k, col(k) + lit(c * s)) }

    // dimensions: single copy, keys shared by every fact copy
    Seq("nation", "region").foreach { t =>
      spark.read.parquet(s"$src/$t.parquet")
        .write.mode("overwrite").parquet(s"$dst/$t.parquet")
    }
    expand("customer")(shifted(_, _, "c_custkey" -> S_CUST))
    expand("supplier")(shifted(_, _, "s_suppkey" -> S_SUPP))
    expand("part")(shifted(_, _, "p_partkey" -> S_PART))
    expand("orders")(shifted(_, _, "o_orderkey" -> S_ORD, "o_custkey" -> S_CUST))
    expand("lineitem")(shifted(_, _, "l_orderkey" -> S_ORD,
      "l_partkey" -> S_PART, "l_suppkey" -> S_SUPP))
    expand("events")(shifted(_, _, "event_id" -> S_EV, "user_id" -> S_USER))

    expand("documents") { (df, c) =>
      val d = df.withColumn("doc_id", col("doc_id") + lit(c * S_DOC))
      if (c == 0) d
      else d
        .withColumn("text", array_join(
          transform(split(col("text"), " "), w =>
            when(pmod(xxhash64(w, lit(c)), lit(4)) === 0,
              concat(w, lit(s"_$c"))).otherwise(w)), " "))
        .withColumn("n_chars", length(col("text")))
    }

    expand("embeddings") { (df, c) =>
      val d = df.withColumn("vec_id", col("vec_id") + lit(c * S_VEC))
      if (c == 0) d
      else {
        val sg = typedlit(signs(c, 64))
        d.withColumn("embedding",
          transform(col("embedding"), (_, i) =>
            element_at(col("embedding"), (pmod(i + lit(c), lit(64)) + 1).cast("int"))
              * element_at(sg, (i + 1).cast("int"))))
      }
    }

    println(s"[scaleup] done -> $dst")
    spark.stop()
  }
}
