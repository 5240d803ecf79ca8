package graft.spark

import graft.SparkTestBase
import graft.canon.CanonOptions
import org.scalatest.funsuite.AnyFunSuite

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

/** Distributed canonicalization: the Spark operator must produce the
  * same bytes as the in-process kernel on W3C fixtures, mixed multi-
  * graph batches must stay graph-local, and poisoned graphs must
  * yield error rows without failing the job. */
class CanonEngineSpec extends AnyFunSuite {

  private def fixture(name: String): String = {
    val url = getClass.getClassLoader.getResource(s"rdfc10/$name")
    new String(Files.readAllBytes(Paths.get(url.toURI)), UTF_8)
  }

  test("spark path matches golden bytes per graph on a mixed batch") {
    val spark = SparkTestBase.spark
    import spark.implicits._
    val names = Seq("test017", "test020", "test044", "test060")
    val docs = spark.createDataset(names.map(n => (n, fixture(s"$n-in.nq"))))
    val quads = CanonEngine.parseDocuments(docs)
    val res = CanonEngine.canonicalizePerGraph(quads).collect()
      .map(r => r.key -> r).toMap
    assert(res.size == names.size)
    names.foreach { n =>
      assert(res(n).status == "ok", s"$n status")
      assert(res(n).canonicalNQuads == fixture(s"$n-rdfc10.nq"), s"$n bytes")
    }
  }

  test("poison graph becomes an error row, healthy graphs unaffected") {
    val spark = SparkTestBase.spark
    import spark.implicits._
    val docs = spark.createDataset(Seq(
      ("poison", fixture("test074-in.nq")),
      ("ok", fixture("test020-in.nq"))))
    val res = CanonEngine.canonicalizePerGraph(
      CanonEngine.parseDocuments(docs)).collect().map(r => r.key -> r).toMap
    assert(res("poison").status == "HndqCallLimitExceeded(4000)")
    assert(res("ok").status == "ok")
    assert(res("ok").canonicalNQuads == fixture("test020-rdfc10.nq"))
  }

  test("sha-384 option flows through the distributed path") {
    val spark = SparkTestBase.spark
    import spark.implicits._
    val docs = spark.createDataset(Seq(("t75", fixture("test075-in.nq"))))
    val res = CanonEngine.canonicalizePerGraph(
      CanonEngine.parseDocuments(docs), CanonOptions.sha384).collect().head
    assert(res.canonicalNQuads == fixture("test075-rdfc10.nq"))
  }

  test("result carries metrics: quad count, bnode count, output sha") {
    val spark = SparkTestBase.spark
    import spark.implicits._
    val docs = spark.createDataset(Seq(("t20", fixture("test020-in.nq"))))
    val r = CanonEngine.canonicalizePerGraph(
      CanonEngine.parseDocuments(docs)).collect().head
    assert(r.quadCount == 4)
    assert(r.bnodeCount == 3)
    assert(r.outputSha256 == CanonEngine.sha256Hex(r.canonicalNQuads))
    assert(r.hndqCalls >= 0)
  }

  test("an empty document keeps its row: test001 through the spark path") {
    val spark = SparkTestBase.spark
    import spark.implicits._
    val docs = spark.createDataset(Seq(("t1", fixture("test001-in.nq"))))
    val res = CanonEngine.canonicalizePerGraph(CanonEngine.parseDocuments(docs)).collect()
    assert(res.length == 1, res.toSeq)
    val r = res.head
    assert(r.key == "t1" && r.status == "ok", r)
    assert(r.canonicalNQuads == fixture("test001-rdfc10.nq"))
    assert(r.canonicalNQuads == graft.canon.Rdfc10.canonicalize(Seq.empty))
    assert(r.quadCount == 0 && r.bnodeCount == 0 && r.issuedMapJson == "{}", r)
    assert(r.outputSha256 == CanonEngine.sha256Hex(""))
  }

  test("one empty document among several: every key gets its row") {
    val spark = SparkTestBase.spark
    import spark.implicits._
    val docs = spark.createDataset(Seq(
      ("a", fixture("test020-in.nq")), ("empty", ""), ("b", fixture("test044-in.nq"))))
    val res = CanonEngine.canonicalizePerGraph(CanonEngine.parseDocuments(docs))
      .collect().map(r => r.key -> r).toMap
    assert(res.keySet == Set("a", "empty", "b"))
    assert(res("empty").status == "ok" && res("empty").canonicalNQuads.isEmpty)
    assert(res("empty").outputSha256 == CanonEngine.sha256Hex(""))
    assert(res("a").canonicalNQuads == fixture("test020-rdfc10.nq"))
    assert(res("b").canonicalNQuads == fixture("test044-rdfc10.nq"))
    // the placeholder row of the empty document is not a statement
    assert(NQuadsSink.collectDocument(CanonEngine.parseDocuments(
      spark.createDataset(Seq(("empty", ""))))) == "")
  }
}
