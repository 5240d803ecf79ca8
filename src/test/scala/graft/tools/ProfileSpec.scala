package graft.tools

import graft.{SparkEntry, SparkTestBase}
import graft.util.MiniJson
import graft.util.MiniJson.{JArr, JNum, JObj}
import org.scalatest.funsuite.AnyFunSuite

/** Profile in-process on the shared session: one parseable JSON line
  * per (trial, leaf), with Bench's row count, stage metrics and the
  * final plan's exchanges. */
class ProfileSpec extends AnyFunSuite {

  private lazy val spark = SparkTestBase.spark
  private val sf = "/root/testdata/sf0.001"

  test("one JSON line per (trial, leaf) with rows, stages, tasks and final exchanges") {
    val leaves = Seq("q21_ngram_jaccard", "q27_kg_canon", "q28_jaccard_stats")
    val lines = Vector.newBuilder[String]
    Profile.run(spark, sf, leaves, trials = 2, plans = None)(lines += _)
    val objs = lines.result().map(MiniJson.parse(_).asInstanceOf[JObj])
    assert(objs.map(o => (o("trial"), o.str("leaf").get)) ==
      (1 to 2).flatMap(t => leaves.map(l => (Some(JNum(t.toDouble)), l))))
    def num(o: JObj, k: String): Double = o(k) match {
      case Some(JNum(v)) => v
      case other => fail(s"$k: $other")
    }
    val expectedRows = leaves.map(q => q -> SparkEntry.queries(q)(spark, sf).count()).toMap
    objs.foreach { o =>
      val leaf = o.str("leaf").get
      assert(num(o, "rows") == expectedRows(leaf).toDouble, leaf)
      val stages = o("stages") match { case Some(JArr(v)) => v; case other => fail(s"stages: $other") }
      assert(stages.nonEmpty, leaf)
      assert(num(o, "tasks") > 0, leaf)
      stages.foreach(s => assert(num(s.asInstanceOf[JObj], "tasks") > 0, leaf))
      // every stage is named by its exchange or its operators, never by
      // the thread pool that submitted its job
      stages.map(_.asInstanceOf[JObj].str("name").get).foreach { n =>
        assert(n.nonEmpty && !n.contains("CompletableFuture"), s"$leaf: $n")
      }
      assert(num(o, "exchanges_final") >= 1, leaf)
    }
  }
}
