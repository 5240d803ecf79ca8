package graft.tools

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import graft.SparkEntry
import graft.spark.CanonEngine

/** Regenerates the golden self-oracles (SparkEntry.GoldenOracleNames): runs each query at
  * the given sfDir (the driver verifies at sf0.01) and pins the
  * deterministic result as a DuckDB `VALUES` table, emitted as a
  * GENERATED SCALA SOURCE (graft/GoldenOracles.scala) so the SQL is
  * compiled into the classes — no classpath-resource fragility.
  * Re-run whenever the underlying operators change:
  *
  *   GoldenOracleGen /root/testdata/sf0.01 src/main/scala/graft/GoldenOracles.scala
  */
object GoldenOracleGen {

  private def lit(v: Any): String = v match {
    case null => "NULL"
    case s: String => "'" + s.replace("'", "''") + "'"
    case b: Byte => b.toString
    case other => other.toString // Long / Int — the only other types used
  }

  /** Scala string literal (JVM constant-pool-safe: rows stay separate
    * literals, concatenated at class init). */
  private def scalaStr(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case c => c.toString
    } + "\""

  def main(args: Array[String]): Unit = {
    val Array(sfDir, outPath) = args
    val spark = CanonEngine.session("local[8]", shufflePartitions = 8)
    spark.sparkContext.setLogLevel("WARN")

    val entries = SparkEntry.GoldenOracleNames.map { name =>
      val df = SparkEntry.queries(name)(spark, sfDir)
      val cols = df.schema.fieldNames
      val rows = df.collect()
      require(rows.nonEmpty, s"$name produced no rows")
      val colList = cols.map(c => "\"" + c + "\"").mkString(", ") // SQL-quoted idents
      val header = s"SELECT * FROM (VALUES\n"
      val footer = s"\n) AS t($colList)"
      // pack ~25 VALUES rows per string literal: stays far below the
      // 64 KiB constant-pool cap while keeping the file compact
      val valueLits = rows.map { r =>
        cols.indices.map(i => lit(r.get(i))).mkString("(", ", ", ")")
      }.grouped(25).map(chunk => scalaStr(chunk.mkString(",\n"))).mkString(",\n      ")
      println(s"[golden] $name: ${rows.length} rows")
      s"""    "$name" -> (${scalaStr(header)} + Seq(
         |      $valueLits
         |    ).mkString(",\\n") + ${scalaStr(footer)})""".stripMargin
    }

    val src =
      s"""package graft
         |
         |/** GENERATED by graft.tools.GoldenOracleGen at $sfDir — do not
         |  * edit by hand. Golden self-oracles for the deterministic
         |  * queries (SparkEntry.GoldenOracleNames): the operator output at sf0.01 is
         |  * pinned as a DuckDB VALUES table. Regenerate after changing
         |  * the operators (see GoldenOracleGen scaladoc).
         |  */
         |object GoldenOracles {
         |  val sql: Map[String, String] = Map(
         |${entries.mkString(",\n")}
         |  )
         |}
         |""".stripMargin
    Files.write(Paths.get(outPath), src.getBytes(UTF_8))
    println(s"[golden] wrote $outPath")
    spark.stop()
  }
}
