package graft.pipeline

import graft.SparkTestBase
import org.scalatest.funsuite.AnyFunSuite

/** The alias rule is one manual scan (`Kg.scanAliases`) behind both
  * alias operators; the regex it implements is kept here as the
  * reference and both operators must agree with it on hostile content. */
class AliasScanSpec extends AnyFunSuite {

  private lazy val spark = SparkTestBase.spark
  private val AliasRe = java.util.regex.Pattern.compile("// alias: (\\S+) (\\S+)")

  private def reference(s: String): Vector[(String, String)] = {
    val m = AliasRe.matcher(s)
    Iterator.continually(m).takeWhile(_.find()).map(m => (m.group(1), m.group(2))).toVector
  }

  private val contents = Seq(
    "// alias: Alpha Beta",
    "// alias: Alpha  Beta",                 // two spaces between names
    "// alias: Alpha\tBeta",                 // tab between names
    "x = 1 // alias: ",                      // prefix at the very end
    "x = 1 // alias: Alpha",                 // one name, then the end
    "// alias: // alias: a b",
    "// alias: Alpha Beta\r\n// alias: Gamma Delta\r\n",
    "// alias: Alpha\r\nBeta // alias: Gamma Delta\n",
    "// alias: Ent😀ity Beta 😀 // alias: 𝐀 𝐁",
    "// alias: a b// alias: c d",
    "// alias:  // alias: e f",
    "no alias here",
    "")

  test("scanAliases matches the regex on hostile contents") {
    contents.foreach { s =>
      val got = Vector.newBuilder[(String, String)]
      Kg.scanAliases(s)((a, b) => got += ((a, b)))
      assert(got.result() == reference(s), s)
    }
  }

  test("detectAliases and aliasEdgesByRepo agree with the regex") {
    import spark.implicits._
    val files = contents.zipWithIndex.map { case (c, i) =>
      FileRow(s"repo$i", s"f$i.scala", "c0", "scala", c, "")
    }.toDS()
    val byRepo = contents.zipWithIndex.flatMap { case (c, i) =>
      reference(c).map { case (a, b) => (s"repo$i", a, b) }
    }.toSet
    assert(byRepo.size >= 6)
    assert(Kg.detectAliases(files).collect().map(e => (e.src, e.dst)).toSet ==
      byRepo.map { case (_, a, b) => (a, b) })
    assert(Incremental.aliasEdgesByRepo(files).as[(String, String, String)].collect().toSet == byRepo)
  }
}
