package graft.spark

import graft.canon.{CanonOptions, Rdfc10}
import graft.rdf.NQuadsWriter
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, Dataset}

/** Distributed canonical N-Quads document sink (reference `serialize`,
  * `src/canon.rs:1140-1147`, lifted to dataset scale).
  *
  * Canonical N-Quads requires statements sorted in Unicode CODE POINT
  * order, which is UTF-8 byte order — NOT Java/Spark string order
  * (UTF-16 code units rank U+E000..U+FFFF above supplementary chars).
  * Sorting the UTF-8-encoded BINARY of each statement restores byte
  * order: Spark compares BinaryType lexicographically by unsigned
  * byte, so the distributed range sort produces exactly the order the
  * in-process serializer produces. Exercised by the `test060` astral
  * fixture in NQuadsSinkSpec.
  */
object NQuadsSink {

  /** Statements of the (already relabeled) quads, one per row,
    * globally ordered in code point order. Write with
    * `.write.text(path)` for a sharded canonical document, or
    * `collectDocument` for the single-string form. */
  def statements(quads: Dataset[KeyedQuad]): DataFrame = {
    val spark = quads.sparkSession
    import spark.implicits._
    quads
      .flatMap(kq => if (kq.isPlaceholder) None else Some(NQuadsWriter.quadBody(kq.quad) + " ."))
      .toDF("stmt")
      .withColumn("sortKey", encode(col("stmt"), "UTF-8"))
      .orderBy("sortKey")
      .select("stmt")
  }

  /** Driver-side assembly (small outputs / tests): byte-identical to
    * `NQuadsWriter.serializeDocument`. */
  def collectDocument(quads: Dataset[KeyedQuad]): String = {
    val sb = new StringBuilder
    statements(quads).collect().foreach(r => sb.append(r.getString(0)).append('\n'))
    sb.toString
  }

  /** Per-graph canonicalization then a single globally-sorted
    * document over all graphs' relabeled quads (graph name = key as
    * an IRI would collide across graphs; callers that need one
    * document across graphs should relabel keys into the graph
    * position first — this helper keeps each graph's own term). */
  def canonicalStatements(quads: Dataset[KeyedQuad],
                          opts: CanonOptions = CanonOptions.default)
      : DataFrame = {
    val spark = quads.sparkSession
    import spark.implicits._
    statements(CanonEngine.perGraph(quads, "key")(_.key, "key") { (key, run) =>
      val res = Rdfc10.issue(run.filterNot(_.isPlaceholder).map(_.quad).toVector, opts)
      Rdfc10.relabel(res.dedupedQuads, res.issuedMap).iterator.map(q => KeyedQuad(key, q))
    })
  }
}
