package graft.spark

import graft.canon.{CanonException, CanonOptions, HndqCallLimitExceededException, Rdfc10}
import graft.rdf.Quad
import org.apache.spark.sql.{Dataset, Encoder, SparkSession}
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

/** Distributed RDFC-1.0: bring each graph's rows together, run the
  * single-graph kernel partition-parallel.
  *
  * Why one per-graph kernel call and not a distributed formulation:
  * HNDQ needs random access to the whole graph's mention sets and
  * threads issuer state sequentially through every step, so the graph
  * is the atomic unit of work; the parallelism axis is the number of
  * graphs. Every path into the kernel (the keyed-quad, staged-triple,
  * fused-mention and statement paths) goes through [[perGraph]]: one
  * hash exchange on the key (skipped by the planner when the input is
  * already hash-partitioned on it at the same width), a sort within
  * partitions, and one callback per run of equal keys. `select` down
  * to the needed columns BEFORE calling in (DeserializeToObject above
  * the exchange blocks column pruning — SURVEY §4.2).
  *
  * Scale notes (100 TB): skew from mega-graphs is bounded only by the
  * HNDQ call budget, which keeps per-graph cost near-linear in quads
  * for non-adversarial graphs; AQE does not split the pinned-width
  * exchange, so one mega-graph stays one task. Per-graph metrics
  * (quadCount, hndqCalls) land in the output so stragglers are
  * observable.
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

  /** The issued-identifiers map as a JSON object, keys sorted — the
    * `issuedMapJson` of a [[CanonResult]] and the `rdfc10_issue` value. */
  def issuedMapJson(m: Map[String, String]): String =
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

  /** The `status` of a graph the kernel rejected, e.g.
    * `HndqCallLimitExceeded(4000)`; shared with `rdfc10_status`. */
  def statusOf(e: CanonException): String = e match {
    case h: HndqCallLimitExceededException => s"HndqCallLimitExceeded(${h.limit})"
    case _ => e.getClass.getSimpleName
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
      CanonResult(key, doc, issuedMapJson(res.issuedMap), "ok", res.hndqCalls,
        res.dedupedQuads.size, res.issuedMap.size, sha256Hex(doc))
    } catch {
      case e: CanonException =>
        CanonResult(key, "", "{}", statusOf(e), -1, quads.size, -1, "")
    }

  /** The per-graph spine: hash-partition `rows` on the string column
    * `key` at `spark.sql.shuffle.partitions` (AQE would coalesce a
    * small shuffle into one partition and run every graph in one
    * task), sort each partition by `key` then `orderBy`, and call `f`
    * once per run of rows with equal `keyOf`. `f` must read what it
    * needs of the run before it returns; the spine drains the rest. */
  def perGraph[T, R: Encoder](rows: Dataset[T], key: String, orderBy: String*)(
      keyOf: T => String)(f: (String, Iterator[T]) => IterableOnce[R]): Dataset[R] =
    rows
      .repartition(rows.sparkSession.sessionState.conf.numShufflePartitions, col(key))
      .sortWithinPartitions((key +: orderBy).map(col): _*)
      .mapPartitions { it =>
        val in = it.buffered
        Iterator.continually(in).takeWhile(_.hasNext).flatMap { _ =>
          val k = keyOf(in.head)
          val run = new Iterator[T] {
            def hasNext: Boolean = in.hasNext && keyOf(in.head) == k
            def next(): T = in.next()
          }
          val out = f(k, run)
          run.foreach(_ => ())
          out
        }
      }

  /** The distributed operator over keyed quads. */
  def canonicalizePerGraph(
      quads: Dataset[KeyedQuad],
      opts: CanonOptions = CanonOptions.default
  ): Dataset[CanonResult] = {
    val spark = quads.sparkSession
    import spark.implicits._
    perGraph(quads, "key")(_.key) { (key, run) =>
      Iterator.single(canonicalizeOne(key,
        run.filterNot(_.isPlaceholder).map(_.quad).toVector, opts))
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

  /** The local session every tool builds: AQE on, UTC, no UI. */
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
