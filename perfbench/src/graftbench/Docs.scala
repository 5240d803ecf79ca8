package graftbench

import java.nio.charset.StandardCharsets.UTF_8

import scala.collection.mutable

import graft.canon.{NoopTraceLogger, Rdfc10}
import graft.rdf.{NQuadsParser, Quad}

/** Checks every canonical N-Quads document must pass, computed by the
  * benchmark itself (its own SHA-256, code-point comparison and label
  * scan), plus a random relabel-and-shuffle used for invariance. */
object Docs {

  def sha256Hex(s: String): String =
    java.security.MessageDigest.getInstance("SHA-256").digest(s.getBytes(UTF_8))
      .map(b => f"${b & 0xff}%02x").mkString

  def lines(doc: String): Array[String] =
    if (doc.isEmpty) Array.empty else doc.stripSuffix("\n").split("\n", -1)

  /** Code-point order (UTF-16 `compareTo` differs above the BMP). */
  def codePointCompare(a: String, b: String): Int = {
    var i = 0
    var j = 0
    while (i < a.length && j < b.length) {
      val ca = a.codePointAt(i)
      val cb = b.codePointAt(j)
      if (ca != cb) return Integer.compare(ca, cb)
      i += Character.charCount(ca)
      j += Character.charCount(cb)
    }
    Integer.compare(a.length - i, b.length - j)
  }

  private val C14n = java.util.regex.Pattern.compile("_:c14n([0-9]+)")

  /** Problems with one document given the expected line and blank-node
    * counts; empty when it passes. */
  def structural(key: String, doc: String, status: String, quadCount: Long,
                 bnodeCount: Int, sha: String, expLines: Int, expBnodes: Int): Seq[String] = {
    val p = mutable.ArrayBuffer.empty[String]
    if (status != "ok") p += s"$key: status $status"
    else {
      val ls = lines(doc)
      if (!doc.endsWith("\n")) p += s"$key: document does not end with a newline"
      if (ls.length != expLines) p += s"$key: ${ls.length} lines, expected $expLines"
      if (quadCount != expLines) p += s"$key: quadCount $quadCount, expected $expLines"
      if (bnodeCount != expBnodes) p += s"$key: bnodeCount $bnodeCount, expected $expBnodes"
      if (ls.sliding(2).exists(w => w.length == 2 && codePointCompare(w(0), w(1)) >= 0))
        p += s"$key: lines not strictly increasing in code-point order"
      val labels = mutable.HashSet.empty[Int]
      val m = C14n.matcher(doc)
      while (m.find()) labels += m.group(1).toInt
      if (labels != (0 until expBnodes).toSet)
        p += s"$key: c14n labels ${labels.toSeq.sorted.take(6).mkString(",")}... are not 0..${expBnodes - 1}"
      if (sha != sha256Hex(doc)) p += s"$key: outputSha256 differs from SHA-256 of the document"
    }
    p.toSeq
  }

  /** `text` with every blank-node label replaced by a fresh random one
    * (consistently within the document) and its lines shuffled. Labels
    * are found outside IRIs and literals. */
  def relabelShuffle(text: String, rnd: scala.util.Random): String = {
    val fresh = mutable.HashMap.empty[String, String]
    val used = mutable.HashSet.empty[String]
    def newLabel(): String = {
      var l = ""
      while (l.isEmpty || used(l)) l = "r" + rnd.alphanumeric.take(6).mkString
      used += l
      l
    }
    val out = new java.lang.StringBuilder(text.length + 64)
    var i = 0
    val n = text.length
    while (i < n) {
      val c = text.charAt(i)
      if (c == '<') {
        val e = text.indexOf('>', i)
        out.append(text, i, e + 1); i = e + 1
      } else if (c == '"') {
        var j = i + 1
        while (text.charAt(j) != '"') j += (if (text.charAt(j) == '\\') 2 else 1)
        out.append(text, i, j + 1); i = j + 1
      } else if (c == '#') { // comment to end of line
        val e = text.indexOf('\n', i)
        val end = if (e < 0) n else e
        out.append(text, i, end); i = end
      } else if (c == '_' && i + 1 < n && text.charAt(i + 1) == ':') {
        var j = i + 2
        while (j < n && !Character.isWhitespace(text.charAt(j))) j += 1
        if (text.charAt(j - 1) == '.') j -= 1
        val label = text.substring(i + 2, j)
        out.append("_:").append(fresh.getOrElseUpdate(label, newLabel()))
        i = j
      } else { out.append(c); i += 1 }
    }
    val ls = out.toString.split("\n", -1).filter(_.nonEmpty)
    rnd.shuffle(ls.toSeq).mkString("", "\n", "\n")
  }

  /** RDFC-1.0 properties of a canonical document: canonicalizing it
    * again returns the same bytes, and so does canonicalizing a random
    * relabeling of it with its lines shuffled. */
  def invariance(key: String, doc: String, rnd: scala.util.Random): Seq[String] = {
    val again = Rdfc10.canonicalize(NQuadsParser.parseDocument(doc))
    val moved = Rdfc10.canonicalize(NQuadsParser.parseDocument(relabelShuffle(doc, rnd)))
    (if (again != doc) Seq(s"$key: canonicalizing the output again changes it") else Nil) ++
      (if (moved != doc) Seq(s"$key: output changes under blank-node relabeling and shuffling") else Nil)
  }

  /** One change: the byte at the middle of the document, bumped. */
  def corruptByte(doc: String): String = {
    val i = doc.length / 2
    doc.substring(0, i) + (if (doc.charAt(i) == 'a') 'b' else 'a') + doc.substring(i + 1)
  }
}

/** The canonicalization kernel called directly, single-threaded, on a
  * workload's own graphs: one span per layer over all the graphs. */
object Kernel {
  private val tmx = java.lang.management.ManagementFactory.getThreadMXBean
    .asInstanceOf[com.sun.management.ThreadMXBean]

  /** Metrics: canon.issue_s, canon.hndq_calls, canon.alloc_kb_per_graph,
    * rdf.serialize_s, rdf.doc_mb (totals over `graphs`). */
  def measure(graphs: Seq[Seq[Quad]], t: Tracer): Map[String, Double] = {
    val tid = Thread.currentThread().getId
    val a0 = tmx.getThreadAllocatedBytes(tid)
    val issued = t.span("canon.issue")(graphs.map(g =>
      Rdfc10.issue(g, graft.canon.CanonOptions.default, NoopTraceLogger)))
    val alloc = tmx.getThreadAllocatedBytes(tid) - a0
    val docs = t.span("rdf.serialize")(issued.map(Rdfc10.canonicalDocument))
    Map(
      "canon.issue_s" -> t.lastSeconds("canon.issue"),
      "canon.hndq_calls" -> issued.map(_.hndqCalls.toDouble).sum,
      "canon.alloc_kb_per_graph" -> alloc / 1024.0 / math.max(1, graphs.size),
      "rdf.serialize_s" -> t.lastSeconds("rdf.serialize"),
      "rdf.doc_mb" -> docs.map(_.getBytes(UTF_8).length.toDouble).sum / 1e6)
  }
}
