package graft.spark

import graft.canon.{CanonOptions, HndqCallLimitExceededException, Rdfc10}
import graft.rdf.Quad
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions.col

/** One quad tagged with the graph (partition) key it belongs to.
  * In the KG pipeline the key is the repo; for fixture I/O it is a
  * document id. A document without quads is carried as one
  * [[KeyedQuad.placeholder]] row, so its key survives the parse and
  * canonicalizes to the empty graph.
  */
final case class KeyedQuad(
    key: String,
    sKind: Byte, s: String,
    p: String,
    oKind: Byte, o: String, oDt: String, oLang: String,
    gKind: Byte, g: String
) {
  def quad: Quad = Quad(sKind, s, p, oKind, o, oDt, oLang, gKind, g)
  def isPlaceholder: Boolean = sKind == KeyedQuad.NoQuad
}

object KeyedQuad {
  /** `sKind` of a placeholder row (no RDF term kind uses it). */
  val NoQuad: Byte = -1

  def apply(key: String, q: Quad): KeyedQuad =
    KeyedQuad(key, q.sKind, q.s, q.p, q.oKind, q.o, q.oDt, q.oLang, q.gKind, q.g)

  /** The row standing for a document with no quads. */
  def placeholder(key: String): KeyedQuad =
    KeyedQuad(key, NoQuad, "", "", NoQuad, "", "", "", NoQuad, "")
}

/** Column shape of one collected triple in
  * [[CanonEngine.canonicalizeTripleRows]] (field names must match the
  * struct() the aggregate builds). */
final case class TripleCols(subjKind: Byte, subj: String, pred: String,
                            obj: String, objKind: Byte)

/** Per-graph canonicalization outcome. `status` is "ok" or an error
  * class name; a poisoned graph yields an error ROW, never a failed
  * job (mirrors the reference's negative test #test074c semantics:
  * the failure is data, reference `tests/manifest.jsonld:851-857`).
  */
final case class CanonResult(
    key: String,
    canonicalNQuads: String,
    issuedMapJson: String,
    status: String,
    hndqCalls: Int,
    quadCount: Long,
    bnodeCount: Int,
    outputSha256: String
)

/** Distributed RDFC-1.0: group quads by graph key, run the
  * single-graph kernel partition-parallel.
  *
  * Why one per-graph kernel call and not a distributed formulation:
  * HNDQ needs random access to the whole graph's mention sets and
  * threads issuer state sequentially through every step, so the graph
  * is the atomic unit of work; the parallelism axis is the number of
  * graphs. The one shuffle here (hash exchange on `key`) is
  * unavoidable and minimal: `select` down to exactly the quad columns
  * BEFORE calling this (DeserializeToObject above the exchange blocks
  * column pruning — SURVEY §4.2).
  *
  * Scale notes (100 TB): skew from mega-graphs is bounded by (a) the
  * HNDQ call budget making per-graph cost near-linear in quads for
  * non-adversarial graphs, and (b) AQE splitting oversized shuffle
  * partitions; per-graph metrics (quadCount, hndqCalls) land in the
  * output so stragglers are observable.
  */
object CanonEngine {

  private val HEXL = "0123456789abcdef".toCharArray

  /** SHA-256 instance reused per thread: the engine hashes one
    * document per graph and `getInstance` is a provider lookup +
    * allocation per call. */
  private val sha256Local = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("SHA-256")
  }

  def sha256Hex(s: String): String = {
    val md = sha256Local.get()
    md.reset()
    // stream through the kernel's encoder scratch: no byte[] copy of
    // the (possibly multi-KB) canonical document per graph
    Rdfc10.updateDigest(md, s)
    val d = md.digest()
    val out = new Array[Char](d.length * 2)
    var i = 0
    while (i < d.length) {
      out(2 * i) = HEXL((d(i) >> 4) & 0xF); out(2 * i + 1) = HEXL(d(i) & 0xF); i += 1
    }
    new String(out)
  }

  private def mapToJson(m: Map[String, String]): String =
    m.toSeq.sortBy(_._1).map { case (k, v) =>
      "\"" + escape(k) + "\":\"" + escape(v) + "\""
    }.mkString("{", ",", "}")

  /** JSON string escape; returns `s` itself (zero allocation) when
    * nothing needs escaping — the common case for bnode labels. The
    * slow path appends chars directly (the previous flatMap built a
    * String per character). */
  private def escape(s: String): String = {
    val n = s.length
    var i = 0
    var clean = true
    while (i < n && clean) {
      val c = s.charAt(i)
      clean = c != '"' && c != '\\' && c >= ' '
      i += 1
    }
    if (clean) return s
    val sb = new java.lang.StringBuilder(n + 8)
    i = 0
    while (i < n) {
      val c = s.charAt(i)
      if (c == '"') sb.append("\\\"")
      else if (c == '\\') sb.append("\\\\")
      else if (c < ' ') sb.append(f"\\u${c.toInt}%04x")
      else sb.append(c)
      i += 1
    }
    sb.toString
  }

  /** Canonicalize one graph's quads (driver-side / in-task helper).
    * `assumeDistinct` skips the set-semantics dedup for callers that
    * already guarantee it (the fused pipeline's in-kernel set). */
  def canonicalizeOne(key: String, quads: Seq[Quad],
                      opts: CanonOptions,
                      assumeDistinct: Boolean = false): CanonResult =
    try {
      val res = Rdfc10.issue(quads, opts,
        graft.canon.NoopTraceLogger, assumeDistinct)
      val doc = Rdfc10.canonicalDocument(res) // fused relabel+serialize
      CanonResult(key, doc, mapToJson(res.issuedMap), "ok", res.hndqCalls,
        res.dedupedQuads.size, res.issuedMap.size, sha256Hex(doc))
    } catch {
      case e: HndqCallLimitExceededException =>
        CanonResult(key, "", "{}", s"HndqCallLimitExceeded(${e.limit})", -1,
          quads.size, -1, "")
      case e: graft.canon.CanonException =>
        CanonResult(key, "", "{}", e.getClass.getSimpleName, -1, quads.size, -1, "")
    }

  /** The distributed operator. */
  def canonicalizePerGraph(
      quads: Dataset[KeyedQuad],
      opts: CanonOptions = CanonOptions.default
  ): Dataset[CanonResult] = {
    val spark = quads.sparkSession
    import spark.implicits._
    val limit = opts.hndqCallLimit
    val alg = opts.hashAlgorithm
    val perNode = opts.perNodeCounter
    // one hash exchange on the graph key at the session's shuffle
    // width (AQE would coalesce this small shuffle into one partition
    // and run every graph's kernel in one task), sorted by key, then
    // one streaming pass per graph
    quads
      .repartition(spark.sessionState.conf.numShufflePartitions, col("key"))
      .sortWithinPartitions("key")
      .mapPartitions { rows =>
        val o = CanonOptions(limit, alg, perNode)
        val it = rows.buffered
        new Iterator[CanonResult] {
          def hasNext: Boolean = it.hasNext
          def next(): CanonResult = {
            val key = it.head.key
            val qs = Vector.newBuilder[Quad]
            while (it.hasNext && it.head.key == key) {
              val kq = it.next()
              if (!kq.isPlaceholder) qs += kq.quad
            }
            canonicalizeOne(key, qs.result(), o)
          }
        }
      }
  }

  /** Triple-table variant of [[canonicalizePerGraph]] for the staged
    * KG pipeline: input is a DataFrame of
    * (repo, subjKind, subj, pred, obj, objKind) rows (plain literals,
    * default graph — the `Kg.emitTriples` shape). Grouping runs as a
    * RELATIONAL `groupBy(repo).agg(collect_list(struct(...)))` + typed
    * map instead of `groupByKey.flatMapGroups`: a relational aggregate
    * declares ClusteredDistribution(repo), which an upstream exchange
    * already hash-partitioned on `repo` (emitTriples) SATISFIES — so
    * the staged chain canonicalizes with zero additional shuffles,
    * where the typed groupByKey always re-exchanged the full triple
    * set. Result rows are identical to
    * `canonicalizePerGraph(keyed quads)`: the kernel is insensitive to
    * quad arrival order (pinned by the staged/fused equality tests).
    */
  def canonicalizeTripleRows(
      triples: org.apache.spark.sql.DataFrame,
      opts: CanonOptions = CanonOptions.default
  ): Dataset[CanonResult] = {
    import org.apache.spark.sql.functions.{collect_list, struct}
    val spark = triples.sparkSession
    import spark.implicits._
    val limit = opts.hndqCallLimit
    val alg = opts.hashAlgorithm
    val perNode = opts.perNodeCounter
    triples
      .groupBy(col("repo"))
      .agg(collect_list(struct(col("subjKind"), col("subj"), col("pred"),
        col("obj"), col("objKind"))).as("qs"))
      .as[(String, Seq[TripleCols])]
      .mapPartitions { it =>
        val o = CanonOptions(limit, alg, perNode)
        it.map { case (key, qs) =>
          canonicalizeOne(key, qs.map(t =>
            Quad(t.subjKind, t.subj, t.pred, t.objKind, t.obj, "", "",
              graft.rdf.TermKind.DefaultGraph, "")), o)
        }
      }
  }

  /** Fixture-shaped source: parse an N-Quads document string per key;
    * a document without quads yields one [[KeyedQuad.placeholder]].
    * (Reference parses via oxttl in its test runner, `src/lib.rs:116-119`.) */
  def parseDocuments(docs: Dataset[(String, String)]): Dataset[KeyedQuad] = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.flatMap { case (key, text) =>
      val qs = graft.rdf.NQuadsParser.parseDocument(text)
      if (qs.isEmpty) Seq(KeyedQuad.placeholder(key)) else qs.map(q => KeyedQuad(key, q))
    }
  }

  def session(master: String = "local[*]", shufflePartitions: Int = 32): SparkSession =
    SparkSession.builder()
      .master(master)
      .appName("graft-canon")
      .config("spark.sql.shuffle.partitions", shufflePartitions)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
}
