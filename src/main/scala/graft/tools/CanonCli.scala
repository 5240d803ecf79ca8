package graft.tools

import graft.canon.CanonOptions
import graft.rdf.NQuadsParser
import graft.spark.CanonEngine

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

/** Command-line surface for the canonicalization engine.
  *
  * Usage:
  *   CanonCli <input.nq> [--spark] [--limit N] [--sha384] [--map]
  *
  * Reads an N-Quads document, canonicalizes it (RDFC-1.0), prints the
  * canonical N-Quads document to stdout (or the issued-identifiers
  * map JSON with --map). With --spark the dataset is routed through
  * the distributed per-graph operator (`CanonEngine.canonicalizePerGraph`
  * on a local session) instead of the in-process kernel — same bytes.
  */
object CanonCli {
  /** Canonical N-Quads are UTF-8 by definition — write raw UTF-8
    * bytes so the output is byte-exact regardless of the platform
    * console charset (an unset LANG otherwise mangles non-ASCII
    * through PrintStream's locale encoder). */
  private def emit(s: String): Unit = {
    System.out.write(s.getBytes(UTF_8))
    System.out.flush()
  }

  def main(args: Array[String]): Unit = {
    if (args.isEmpty) { System.err.println("usage: CanonCli <input.nq> [--spark] [--limit N] [--sha384] [--map]"); sys.exit(2) }
    val path = args(0)
    val flags = args.drop(1)
    val useSpark = flags.contains("--spark")
    val wantMap = flags.contains("--map")
    val limit = flags.sliding(2).collectFirst { case Array("--limit", n) => n.toInt }
      .getOrElse(CanonOptions.DefaultHndqCallLimit)
    val alg = if (flags.contains("--sha384")) "SHA-384" else "SHA-256"
    val opts = CanonOptions(limit, alg)

    val text =
      try new String(Files.readAllBytes(Paths.get(path)), UTF_8)
      catch { case e: java.io.IOException =>
        System.err.println(s"error: cannot read $path: ${e.getMessage}"); sys.exit(2)
      }

    if (useSpark) {
      val spark = CanonEngine.session(master = "local[4]", shufflePartitions = 4)
      spark.sparkContext.setLogLevel("ERROR")
      import spark.implicits._
      val docs = spark.createDataset(Seq(("doc", text)))
      val quads = CanonEngine.parseDocuments(docs)
      val res = CanonEngine.canonicalizePerGraph(quads, opts).collect().head
      if (res.status != "ok") { System.err.println(s"error: ${res.status}"); spark.stop(); sys.exit(1) }
      emit(if (wantMap) res.issuedMapJson + "\n" else res.canonicalNQuads)
      spark.stop()
    } else {
      try {
        val quads = NQuadsParser.parseDocument(text)
        if (wantMap) {
          val m = graft.canon.Rdfc10.issue(quads, opts).issuedMap
          emit(m.toSeq.sorted.map { case (k, v) => s""""$k":"$v"""" }.mkString("{", ",", "}") + "\n")
        } else emit(graft.canon.Rdfc10.canonicalize(quads, opts))
      } catch {
        case e: graft.canon.CanonException =>
          System.err.println(s"error: ${e.getMessage}"); sys.exit(1)
        case e: NQuadsParser.ParseException =>
          System.err.println(s"parse error: ${e.getMessage}"); sys.exit(1)
      }
    }
  }
}
