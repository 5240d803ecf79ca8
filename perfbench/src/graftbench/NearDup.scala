package graftbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.util.Locale

import scala.collection.mutable

import graft.ops.Dedup
import graft.util.MiniJson
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Exact near-duplicate truth, computed apart from `Dedup`: the
  * benchmark's own 5-character shingling (shingles are the strings
  * themselves, numbered in a dictionary) and an all-pairs exact Jaccard
  * with a size filter. */
final class NearDupTruth(texts: Array[String], threshold: Double, maxDf: Int) {
  private val dict = mutable.HashMap.empty[String, Int]
  val sets: Array[Array[Int]] = texts.map { t =>
    val norm = t.toLowerCase(Locale.ROOT).replaceAll("\\s+", " ")
    val grams = if (norm.length < 5) Seq(norm) else (0 to norm.length - 5).map(i => norm.substring(i, i + 5))
    grams.map(g => dict.getOrElseUpdate(g, dict.size)).distinct.sorted.toArray
  }

  /** |x ∩ y|, or -1 once it provably stays below `need`. */
  private def common(x: Array[Int], y: Array[Int], need: Int): Int = {
    var i = 0; var j = 0; var c = 0
    while (i < x.length && j < y.length) {
      if (x(i) == y(j)) { c += 1; i += 1; j += 1 }
      else if (x(i) < y(j)) i += 1 else j += 1
      if (c + math.min(x.length - i, y.length - j) < need) return -1
    }
    c
  }

  /** Every pair (a < b) with Jaccard >= threshold, with its score. */
  lazy val truePairs: Map[(Long, Long), Double] = {
    val order = sets.indices.sortBy(i => sets(i).length).toArray
    val found = new java.util.concurrent.ConcurrentLinkedQueue[((Long, Long), Double)]()
    java.util.stream.IntStream.range(0, order.length).parallel().forEach { p =>
      val a = order(p)
      val la = sets(a).length
      var q = p + 1
      // sets are visited by size: J <= la / lb, so stop once lb > la / t
      while (q < order.length && sets(order(q)).length * threshold <= la) {
        val b = order(q)
        val lb = sets(b).length
        val need = math.ceil(threshold * (la + lb) / (1 + threshold) - 1e-9).toInt
        val c = common(sets(a), sets(b), need)
        if (c >= 0 && c.toDouble / (la + lb - c) >= threshold)
          found.add(((math.min(a, b).toLong, math.max(a, b).toLong), c.toDouble / (la + lb - c)))
        q += 1
      }
    }
    found.toArray(Array.empty[((Long, Long), Double)]).toMap
  }

  /** The true pairs `ngramJaccardPairs` is documented to emit: those
    * sharing a shingle of document frequency in [2, maxDf], plus the
    * star pairs each over-frequent shingle contributes (its smallest
    * document id paired with its next maxDf ids). */
  lazy val reachablePairs: Set[(Long, Long)] = {
    val postings = mutable.HashMap.empty[Int, mutable.ArrayBuffer[Int]]
    sets.indices.foreach(d => sets(d).foreach(s => postings.getOrElseUpdate(s, mutable.ArrayBuffer.empty) += d))
    val df = postings.map { case (s, ds) => s -> ds.size }
    val star = postings.valuesIterator.filter(_.size > maxDf).flatMap { ds =>
      val sorted = ds.sorted
      sorted.slice(1, maxDf + 1).map(d => (sorted.head.toLong, d.toLong))
    }.toSet
    truePairs.keySet.filter { case (a, b) =>
      star((a, b)) || sets(a.toInt).exists(s => df(s) >= 2 && df(s) <= maxDf && sets(b.toInt).contains(s))
    }
  }
}

/** `Dedup.minhashLshPairs` (q19), `ngramJaccardPairs` (q21) and
  * `ngramShingleStats` (q28) at threshold 0.5 over seeded documents,
  * results written. */
final class NearDupWorkload(spark: SparkSession, probe: Probe, seed: Long,
                            work: String, threads: Int) extends Workload {
  import spark.implicits._
  private val Threshold = 0.5
  private val MaxDf = 100 // ngramJaccardPairs' default
  private val NDocs = 3000
  private val NDups = 154
  private val input = s"$work/input/documents"
  val items: Long = NDocs.toLong
  private var texts = Array.empty[String]
  private var truth: NearDupTruth = _

  /** sf0.1-shaped documents: words drawn from a 30-word vocabulary, cut
    * to 44-577 characters; the last `NDups` documents copy a distinct
    * earlier one with " dup" appended. */
  private def generate(): Array[String] = {
    val vocab = ("spark window merge table column vector stream value data small join " +
      "filter big group hash customer sort order slow line part fast row the agg key " +
      "query a scan batch").split(" ")
    val rnd = new scala.util.Random(seed)
    val base = Array.fill(NDocs - NDups) {
      val len = 44 + rnd.nextInt(534)
      val sb = new StringBuilder
      while (sb.length < len) { if (sb.nonEmpty) sb += ' '; sb ++= vocab(rnd.nextInt(vocab.length)) }
      sb.result().take(len).trim
    }
    val sources = rnd.shuffle((0 until base.length).toVector).take(NDups)
    base ++ sources.map(i => base(i) + " dup")
  }

  def setup(t: Tracer): Unit = {
    texts = generate()
    texts.toSeq.zipWithIndex.map { case (s, i) => (i.toLong, s) }.toDF("doc_id", "text")
      .coalesce(1).write.parquet(input)
  }

  def prepareChecks(): Unit = {
    truth = new NearDupTruth(texts, Threshold, MaxDf)
    truth.reachablePairs
  }

  private def docs: DataFrame = spark.read.parquet(input)
  private val calls: Seq[(String, DataFrame => DataFrame)] = Seq(
    "q19" -> (d => Dedup.minhashLshPairs(d, threshold = Threshold)),
    "q21" -> (d => Dedup.ngramJaccardPairs(d, threshold = Threshold, maxDf = MaxDf)),
    "q28" -> (d => Dedup.ngramShingleStats(d, threshold = Threshold, maxDf = MaxDf)))

  def run(out: String): Unit = calls.foreach { case (q, f) => f(docs).write.parquet(s"$out/$q") }

  private val exchanges, shuffleMb = mutable.ArrayBuffer.empty[Double]
  private val candidates = mutable.HashMap.empty[String, mutable.ArrayBuffer[Double]]
  private var lastOut = ""

  def runTraced(out: String, t: Tracer): Unit = {
    lastOut = out
    probe.takePlans()
    var ex = 0
    var sh = 0.0
    calls.foreach { case (q, f) =>
      val before = probe.snap()
      t.span(s"ops.$q")(f(docs).write.parquet(s"$out/$q"))
      sh += (probe.snap() - before).shuffleBytes / 1e6
      val plans = probe.takePlans()
      ex += plans.map(Plans.exchanges).sum
      candidates.getOrElseUpdate(q, mutable.ArrayBuffer.empty) += plans.map(Plans.verifyCandidates).sum.toDouble
    }
    exchanges += ex
    shuffleMb += sh
  }

  private def pairs(dir: String): Seq[(Long, Long, Double)] =
    spark.read.parquet(dir).as[(Long, Long, Double)].collect().toSeq

  private val q28Seen = mutable.ArrayBuffer.empty[Seq[Long]]

  /** q19 and q21: every pair true with its exact score; q21 also emits
    * exactly the reachable true pairs. q28 rows are recorded for the
    * DuckDB oracle, which the launcher runs after this process. */
  def check(out: String): CheckResult = {
    q28Seen += spark.read.parquet(s"$out/q28").as[(Long, Long, Long, Long)].collect().toSeq
      .flatMap { case (a, b, c, d) => Seq(a, b, c, d) }
    writeQ28()
    checkPairs(pairs(s"$out/q19"), pairs(s"$out/q21")) + CheckResult(1, 0)
  }

  private def checkPairs(q19: Seq[(Long, Long, Double)], q21: Seq[(Long, Long, Double)]): CheckResult = {
    def exact(rows: Seq[(Long, Long, Double)], q: String): Seq[String] =
      rows.flatMap { case (a, b, j) =>
        truth.truePairs.get((a, b)) match {
          case None                                => Seq(s"$q: ($a,$b) is not a pair with Jaccard >= $Threshold")
          case Some(e) if math.abs(e - j) > 1e-12 => Seq(s"$q: ($a,$b) score $j, exact $e")
          case _                                   => Nil
        }
      } ++ (if (rows.map(r => (r._1, r._2)).distinct.size != rows.size) Seq(s"$q: duplicate pairs") else Nil)
    val got21 = q21.map(r => (r._1, r._2)).toSet
    val q21Set = (truth.reachablePairs -- got21).toSeq.take(3).map(p => s"q21: reachable true pair $p missing")
    CheckResult.one(exact(q19, "q19")) + CheckResult.one(exact(q21, "q21") ++ q21Set)
  }

  def selfTest(out: String): Seq[String] = {
    val (q19, q21) = (pairs(s"$out/q19"), pairs(s"$out/q21"))
    val dropped = checkPairs(q19, q21.drop(1)).failed > 0 || q21.isEmpty
    val rescored = checkPairs(q19.map(p => p.copy(_3 = p._3 - 0.001)), q21).failed > 0 || q19.isEmpty
    (if (dropped) Nil else Seq("one dropped q21 pair")) ++ (if (rescored) Nil else Seq("changed q19 scores"))
  }

  /** The q28 rows of every checked iteration plus the oracle SQL, for
    * the launcher's DuckDB check. */
  private def writeQ28(): Unit = {
    val sql = graft.SparkEntry.oracleSql("q28_jaccard_stats")
    val rows = q28Seen.map(_.mkString("[", ",", "]")).mkString("[", ",", "]")
    val json = s"""{"documents": "${MiniJson.escape(Paths.get(input).toAbsolutePath.toString)}", """ +
      s""""rows": $rows, "sql": "${MiniJson.escape(sql)}"}"""
    Files.write(Paths.get(work, "q28_check.json"), json.getBytes(UTF_8))
  }

  def layerMetrics(t: Tracer, traced: Int => Boolean): Map[String, Double] = {
    val nTrue = truth.truePairs.size.toDouble
    def recall(q: String) = pairs(s"$lastOut/$q").count(p => truth.truePairs.contains((p._1, p._2))) / nTrue
    Map(
      "ops.q19_s" -> t.median("ops.q19", traced),
      "ops.q21_s" -> t.median("ops.q21", traced),
      "ops.q28_s" -> t.median("ops.q28", traced),
      "ops.q21_cold_s" -> t.median("ops.q21", _ == 0),
      "ops.q19_candidates" -> Stats.median(candidates("q19").toSeq),
      "ops.q21_candidates" -> Stats.median(candidates("q21").toSeq),
      "ops.q19_recall" -> recall("q19"),
      "ops.q21_recall" -> recall("q21"),
      "ops.true_pairs" -> nTrue,
      "ops.exchanges" -> Stats.median(exchanges.toSeq),
      "ops.shuffle_mb" -> Stats.median(shuffleMb.toSeq))
  }
}
