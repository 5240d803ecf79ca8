package graft.spark

import graft.SparkTestBase
import org.scalatest.funsuite.AnyFunSuite

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

class NQuadsSinkSpec extends AnyFunSuite {

  private def fixture(name: String): String = {
    val url = getClass.getClassLoader.getResource(s"rdfc10/$name")
    new String(Files.readAllBytes(Paths.get(url.toURI)), UTF_8)
  }

  test("distributed sort reproduces canonical bytes incl. astral chars (test060)") {
    val spark = SparkTestBase.spark
    import spark.implicits._
    val docs = spark.createDataset(Seq(("g", fixture("test060-in.nq"))))
    val quads = CanonEngine.parseDocuments(docs)
    val doc = NQuadsSink.collectDocument {
      // relabel via the canonical path for byte-exact comparison
      val res = CanonEngine.canonicalizePerGraph(quads).collect().head
      CanonEngine.parseDocuments(spark.createDataset(Seq(("g", res.canonicalNQuads))))
    }
    assert(doc == fixture("test060-rdfc10.nq"))
  }

  test("canonicalStatements end-to-end equals kernel document") {
    val spark = SparkTestBase.spark
    import spark.implicits._
    val docs = spark.createDataset(Seq(("g", fixture("test044-in.nq"))))
    val quads = CanonEngine.parseDocuments(docs)
    val distributed = NQuadsSink.canonicalStatements(quads)
      .collect().map(_.getString(0)).mkString("", "\n", "\n")
    assert(distributed == fixture("test044-rdfc10.nq"))
  }

  test("canonicalStatements honours the per-node HNDQ budget (test054)") {
    // test054 makes 14 HNDQ calls in all but at most one per node: a
    // per-node budget of 1 canonicalizes it (CounterSpec), a global
    // budget of 1 does not
    val spark = SparkTestBase.spark
    import spark.implicits._
    val docs = spark.createDataset(Seq(("g", fixture("test054-in.nq"))))
    val opts = graft.canon.CanonOptions(1, "SHA-256", perNodeCounter = true)
    val distributed = NQuadsSink.canonicalStatements(CanonEngine.parseDocuments(docs), opts)
      .collect().map(_.getString(0)).mkString("", "\n", "\n")
    assert(distributed == fixture("test054-rdfc10.nq"))
  }

  test("code-point order survives the UTF-16 trap (U+FFFD vs astral)") {
    val spark = SparkTestBase.spark
    import spark.implicits._
    // "�" (BMP, high) must sort BELOW an astral char in code
    // point order, though Java String order puts surrogates first
    val q1 = "<urn:a> <urn:p> \"�\" ."
    val q2 = "<urn:a> <urn:p> \"🌃\" ." // U+1F303
    assert(q2 < q1) // Java order: astral first (surrogate < 0xFFFD)
    val docs = spark.createDataset(Seq(("g", q1 + "\n" + q2 + "\n")))
    val out = NQuadsSink.statements(CanonEngine.parseDocuments(docs))
      .collect().map(_.getString(0))
    assert(out.head == q1, out.mkString("|")) // code point order: BMP first
  }
}
