package graft.canon

import graft.rdf.{CodePointOrdering, NQuadsWriter, Quad, TermKind}

import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest
import scala.collection.mutable

/** Errors surfaced by canonicalization (reference `src/error.rs:4-22`;
  * Base16EncodingFailed / BlankNodeIdParseError cannot occur here). */
sealed abstract class CanonException(msg: String) extends RuntimeException(msg)
final class QuadsNotExistException
    extends CanonException("no quads for blank node identifier")
final class CanonicalIdentifierNotExistException
    extends CanonException("blank node has no issued canonical identifier")
final class HndqCallLimitExceededException(val limit: Int)
    extends CanonException(s"HNDQ call limit exceeded: $limit")

/** Options (reference `CanonicalizationOptions`, `src/api.rs:137-140`,
  * default call limit `src/counter.rs:4`; hash dispatch `src/lib.rs:87-102`).
  * `perNodeCounter` selects the reference's `PerNodeHndqCallCounter`
  * (`src/counter.rs:58-114`) instead of the global budget. A case
  * class, so serializable: Spark closures capture it whole. */
final case class CanonOptions(
    hndqCallLimit: Int = CanonOptions.DefaultHndqCallLimit,
    hashAlgorithm: String = "SHA-256",
    perNodeCounter: Boolean = false
) {
  def newCounter(): HndqCallCounter =
    if (perNodeCounter) new PerNodeHndqCallCounter(hndqCallLimit)
    else new SimpleHndqCallCounter(hndqCallLimit)
}
object CanonOptions {
  val DefaultHndqCallLimit = 4000
  val default: CanonOptions = CanonOptions()
  val sha384: CanonOptions = CanonOptions(hashAlgorithm = "SHA-384")
}

/** 4.5 Issue Identifier algorithm state (reference `src/canon.rs:96-170`).
  *
  * Uses an insertion-ordered map, which is what the spec's "ordered
  * map" asks for. (The reference recovers issuance order by
  * lexicographically inverting a HashMap, `src/canon.rs:434-440`,
  * which equals insertion order only while < 11 temporary ids exist
  * in one HNDQ result; no W3C fixture exercises more. We follow the
  * spec; divergence documented and pinned by a regression test.)
  */
final class IdentifierIssuer(val prefix: String) {
  private[canon] var counter: Int = 0
  private[canon] val issued = new mutable.LinkedHashMap[String, String]

  def get(existing: String): Option[String] = issued.get(existing)

  def issue(existing: String): String = issued.get(existing) match {
    case Some(id) => id
    case None =>
      val id = prefix + counter
      issued.put(existing, id)
      counter += 1
      id
  }

  /** Existing identifiers in issuance order. */
  def existingInIssuanceOrder: Iterator[String] = issued.keysIterator

  def copyOf(): IdentifierIssuer = {
    val c = new IdentifierIssuer(prefix)
    c.counter = counter
    c.issued ++= issued
    c
  }

  /** The reference's `serialize_issued_identifiers_map`
    * (`src/canon.rs:173-181`) renders `{k: v, k2: v2}`. The reference
    * iterates a Rust HashMap (arbitrary order); we emit issuance
    * order — trace-equality tests normalize the entries. */
  def serializeMap: String =
    issued.iterator.map { case (k, v) => s"$k: $v" }.mkString("{", ", ", "}")

  def toMap: Map[String, String] = issued.toMap
  def size: Int = issued.size
}

/** RDFC-1.0 canonicalization kernel (W3C spec §4.4-4.8).
  *
  * Spark-first layering: this object is pure single-graph Scala with
  * zero Spark dependencies; the distributed engine invokes it once
  * per graph from one streaming pass over key-sorted rows
  * (`graft.spark.CanonEngine.perGraph`) because
  * blank-node state is graph-local and the algorithm is inherently
  * sequential per graph (issuer state threads through every step).
  * Semantics follow the reference kernel `canonicalize_core`
  * (`/root/reference/src/canon.rs:196-480`) and its subroutines; the
  * code is a fresh implementation against the spec with the
  * reference's observable quirks preserved (noted inline).
  *
  * Pass a [[YamlTraceLogger]] to emit the spec's YAML debug trace
  * (log points ca.2…hndq.6, reference `src/logger.rs` + golden traces
  * `tests/rdfc10_supplement/testNNN.log.yml`). With the default
  * [[NoopTraceLogger]] every log site is a no-op and H1DQ stays
  * memoized; in trace mode H1DQ recomputes per call like the
  * reference so nested h1dq spans appear at the right log points.
  */
object Rdfc10 {

  /** Digest instances reused per thread (one State per graph, graphs
    * run single-threaded): `MessageDigest.getInstance` is a provider
    * lookup + allocation per call, and the bench canonicalizes tens of
    * thousands of graphs per task.
    *
    * INVARIANT (shared with encodeScratch/linePoolLocal below): a
    * thread runs AT MOST ONE canonicalization at a time, start to
    * finish — every caller drives `issue` eagerly and never interleaves
    * two graphs on one thread (no lazy result iterators, no nested
    * canonicalize call inside the kernel). Interleaving would corrupt
    * the shared digest/scratch state silently; if a future caller
    * needs it, give State its own instances instead. */
  private val digestCache = new ThreadLocal[mutable.HashMap[String, MessageDigest]] {
    override def initialValue(): mutable.HashMap[String, MessageDigest] =
      mutable.HashMap.empty
  }
  private def newDigest(alg: String) =
    digestCache.get().getOrElseUpdate(alg, MessageDigest.getInstance(alg))

  /** Reusable UTF-8 encode scratch for digest updates (thread-local:
    * the kernel is single-threaded per graph). REPLACE actions make
    * the chunked encoding byte-identical to `String.getBytes(UTF_8)`
    * — including '?' for lone surrogates — without allocating a
    * byte[] per hashed line/path (the kernel's dominant small-object
    * churn; the single-box 8->32 scaling ceiling is DRAM bandwidth,
    * BENCH/BASELINE.md §3). */
  private final class EncodeScratch {
    val encoder: java.nio.charset.CharsetEncoder = UTF_8.newEncoder()
      .onMalformedInput(java.nio.charset.CodingErrorAction.REPLACE)
      .onUnmappableCharacter(java.nio.charset.CodingErrorAction.REPLACE)
    val buf: java.nio.ByteBuffer = java.nio.ByteBuffer.allocate(8192)
    /** Persistent array-backed input buffer: `CharBuffer.wrap(s)` is
      * an allocation PER updateDigest call (~50/graph); copying the
      * chars into a reused buffer is a memcpy instead. Grown (power
      * of two) to the longest string seen by the thread. */
    var cbuf: java.nio.CharBuffer = java.nio.CharBuffer.allocate(8192)
    def charsFor(n: Int): java.nio.CharBuffer = {
      if (cbuf.capacity < n) {
        var cap = cbuf.capacity
        while (cap < n) cap <<= 1
        cbuf = java.nio.CharBuffer.allocate(cap)
      }
      cbuf.clear()
      cbuf
    }
  }
  private val encodeScratch = new ThreadLocal[EncodeScratch] {
    override def initialValue(): EncodeScratch = new EncodeScratch
  }

  /** Shared per-thread line pool for the (single-threaded-per-graph)
    * H1DQ fast path — see [[graft.rdf.LinePool]]. */
  private val linePoolLocal = new ThreadLocal[graft.rdf.LinePool] {
    override def initialValue(): graft.rdf.LinePool = new graft.rdf.LinePool
  }

  /** md.update(s as UTF-8) without materializing the byte array. */
  private[graft] def updateDigest(md: MessageDigest, s: String): Unit = {
    val sc = encodeScratch.get()
    val cb = sc.charsFor(s.length)
    s.getChars(0, s.length, cb.array(), 0)
    cb.limit(s.length)
    encodeInto(md, sc, cb)
  }

  /** [[updateDigest]] over a char-array slice (the line-pool path). */
  private[graft] def updateDigestChars(md: MessageDigest, chars: Array[Char],
                                       len: Int): Unit = {
    val sc = encodeScratch.get()
    val cb = sc.charsFor(len)
    System.arraycopy(chars, 0, cb.array(), 0, len)
    cb.limit(len)
    encodeInto(md, sc, cb)
  }

  private def encodeInto(md: MessageDigest, sc: EncodeScratch,
                         cb: java.nio.CharBuffer): Unit = {
    val enc = sc.encoder
    val buf = sc.buf
    enc.reset()
    buf.clear()
    var cr = enc.encode(cb, buf, true)
    while (cr.isOverflow) {
      buf.flip(); md.update(buf); buf.clear()
      cr = enc.encode(cb, buf, true)
    }
    cr = enc.flush(buf)
    while (cr.isOverflow) {
      buf.flip(); md.update(buf); buf.clear()
      cr = enc.flush(buf)
    }
    buf.flip(); md.update(buf); buf.clear()
  }

  private val HEXL = "0123456789abcdef".toCharArray

  private[canon] def hexOf(d: Array[Byte]): String = {
    val out = new Array[Char](d.length * 2)
    var i = 0
    while (i < d.length) {
      out(2 * i) = HEXL((d(i) >> 4) & 0xF)
      out(2 * i + 1) = HEXL(d(i) & 0xF)
      i += 1
    }
    new String(out)
  }

  /** digest → lowercase hex (reference `src/canon.rs:188-191`). */
  private[canon] def hashHex(md: MessageDigest, data: String): String = {
    md.reset()
    updateDigest(md, data)
    hexOf(md.digest())
  }

  /** Rust `{:?}` rendering of a list of strings, used by trace lines
    * (`identifier list: ["e0", "e1"]`, `- perm: [...]`). */
  private def debugList(xs: Iterable[String]): String =
    xs.iterator.map(s => "\"" + s + "\"").mkString("[", ", ", "]")

  /** 4.2 Canonicalization state. The mention list is built per bnode
    * POSITION — a quad with the same bnode as both subject and object
    * appears twice in that bnode's list, exactly like the reference's
    * three independent pushes (`src/canon.rs:44-76`); this shows up in
    * H1DQ input multiplicity and must be preserved.
    */
  /** package-private so the digest-pinned unit tests (ported from the
    * reference, `src/canon.rs:1158-1427`) can drive the internals. */
  private[canon] final class State(quads: IndexedSeq[Quad], opts: CanonOptions,
                                   log: TraceLogger = NoopTraceLogger,
                                   counter: HndqCallCounter = null) {
    val mentions = new mutable.TreeMap[String, mutable.ArrayBuffer[Quad]]()(CodePointOrdering)
    val canonicalIssuer = new IdentifierIssuer("c14n")
    private val h1dqCache = new mutable.HashMap[String, String]
    private val md = newDigest(opts.hashAlgorithm)
    private[canon] val callCounter: HndqCallCounter =
      if (counter != null) counter else opts.newCounter()
    def hndqCalls: Int = callCounter.sum

    quads.foreach { q =>
      if (q.subjectIsBNode) mentions.getOrElseUpdate(q.s, new mutable.ArrayBuffer[Quad]) += q
      if (q.objectIsBNode) mentions.getOrElseUpdate(q.o, new mutable.ArrayBuffer[Quad]) += q
      if (q.graphIsBNode) mentions.getOrElseUpdate(q.g, new mutable.ArrayBuffer[Quad]) += q
    }

    def hash(data: String): String = hashHex(md, data)

    /** 4.6 Hash First Degree Quads. Pure function of the (immutable
      * after construction) mention map, so memoized — the reference
      * recomputes it on every HRBN fallback (`src/canon.rs:635`);
      * results are identical, this is just faster. In trace mode the
      * memo is bypassed so each call emits its h1dq span like the
      * reference.
      */
    def h1dq(refId: String): String =
      if (log.isEnabled) h1dqCompute(refId)
      else h1dqCache.getOrElseUpdate(refId, h1dqCompute(refId))

    // scratch buffer shared across h1dq lines — the kernel is single-
    // threaded per graph, and per-line builders were a measurable
    // slice of the DRAM traffic that caps 32-core scaling
    private val scratch = new StringBuilder(128)

    /** One a/z-projected canonical line (3.1.1.1: reference bnode ->
      * "a", any other bnode -> "z") written into `sb` without
      * materializing a projected Quad copy. */
    private def h1dqLineInto(q: Quad, refId: String, sb: StringBuilder): Unit = {
      sb.setLength(0)
      if (q.subjectIsBNode) sb.append("_:").append(if (q.s == refId) "a" else "z")
      else NQuadsWriter.writeTerm(q.sKind, q.s, "", "", sb)
      sb.append(' ')
      sb.append('<').append(q.p).append('>')
      sb.append(' ')
      if (q.objectIsBNode) sb.append("_:").append(if (q.o == refId) "a" else "z")
      else NQuadsWriter.writeTerm(q.oKind, q.o, q.oDt, q.oLang, sb)
      if (q.gKind != TermKind.DefaultGraph) {
        sb.append(' ')
        if (q.graphIsBNode) sb.append("_:").append(if (q.g == refId) "a" else "z")
        else NQuadsWriter.writeTerm(q.gKind, q.g, "", "", sb)
      }
      sb.append(" .\n")
    }

    private def h1dqCompute(refId: String): String = {
      val quadsFor = mentions.getOrElse(refId, throw new QuadsNotExistException)
      // fast (noop-trace) path: lines live in the thread's reused
      // char pool — no String / char[] pair per line; sort runs over
      // an index array, digest streams each pooled line through the
      // encoder scratch. Trace mode (and pathological line counts)
      // keep the String path.
      if (!log.isEnabled && quadsFor.length <= graft.rdf.LinePool.MaxPooledLines) {
        val pool = Rdfc10.linePoolLocal.get()
        pool.reset()
        var i = 0
        while (i < quadsFor.length) {
          h1dqLineInto(quadsFor(i), refId, scratch)
          pool.add(scratch)
          i += 1
        }
        val order = pool.sortedIndices()
        md.reset()
        i = 0
        while (i < quadsFor.length) {
          updateDigestChars(md, pool.buf(order(i)), pool.len(order(i)))
          i += 1
        }
        hexOf(md.digest())
      } else
        log.span("h1dq", "log point: Hash First Degree Quads function (4.6.3).") {
          val lines = new Array[String](quadsFor.length)
          var i = 0
          while (i < quadsFor.length) {
            h1dqLineInto(quadsFor(i), refId, scratch)
            lines(i) = scratch.toString
            i += 1
          }
          if (log.isEnabled) {
            log.event("nquads:")
            lines.foreach(l => log.event(1, "- " + l.stripSuffix("\n")))
          }
          java.util.Arrays.sort(lines, CodePointOrdering)
          // digest per sorted line — no concatenated copy of the
          // document, no byte[] per line (encoder scratch)
          md.reset()
          i = 0
          while (i < lines.length) {
            updateDigest(md, lines(i))
            i += 1
          }
          val h = hexOf(md.digest())
          if (log.isEnabled) log.event("hash: " + h)
          h
        }
    }

    /** 4.7 Hash Related Blank Node (reference `src/canon.rs:602-654`).
      * (Hot path: every `log` interaction is behind `isEnabled` so the
      * disabled case allocates nothing — by-name args otherwise build
      * a closure per call, and this kernel is DRAM-bandwidth-bound at
      * high core counts.) */
    def hrbn(related: String, quad: Quad, issuer: IdentifierIssuer,
             position: Char): String = {
      if (log.isEnabled) {
        log.event("- position: " + position)
        log.event(1, "related: " + related)
      }
      val sb = new StringBuilder(96)
      sb.append(position)
      if (position != 'g') sb.append('<').append(quad.p).append('>')
      // step 3/4 run inside an anonymous span so a fallback h1dq's
      // trace nests one level deeper (reference src/canon.rs:627)
      def step34(): Unit =
        canonicalIssuer.get(related) match {
          case Some(id) => sb.append("_:").append(id)
          case None =>
            issuer.get(related) match {
              case Some(id) => sb.append("_:").append(id)
              case None     => sb.append(h1dq(related))
            }
        }
      if (log.isEnabled) log.span("")(step34()) else step34()
      val input = sb.toString
      if (log.isEnabled) log.event(1, "input: \"" + input + "\"")
      val h = hash(input)
      if (log.isEnabled) log.event(1, "hash: " + h)
      h
    }

    /** 4.8 Hash N-Degree Quads — the gossip path (reference
      * `src/canon.rs:686-1126`): relate neighbors via HRBN, group by
      * related hash in code point order, try every permutation of each
      * group greedily keeping the code-point-least path, prune a
      * permutation as soon as its partial path >= the chosen path
      * (branch-and-bound both before and after recursion), recurse into
      * bnodes the issuer copy has not seen. Call budget guards poison
      * inputs (`src/counter.rs`, checked on entry).
      */
    def hndq(identifier: String,
             pathIssuer: IdentifierIssuer): (String, IdentifierIssuer) = {
      // Every span/event interaction sits behind an `isEnabled` branch:
      // by-name arguments otherwise allocate a closure per call in the
      // permutation/related loops, and the disabled kernel must stay
      // allocation-lean (it is DRAM-bandwidth-bound at high core
      // counts — BENCH/BASELINE.md §3). `traced` = trace fidelity
      // mode, perf-irrelevant.
      val traced = log.isEnabled
      def body(): (String, IdentifierIssuer) = {
        if (traced) {
          log.event("identifier: " + identifier)
          log.event("issuer: " + pathIssuer.serializeMap)
        }
        callCounter.add(identifier)

        var issuer = pathIssuer.copyOf()

        // 1-3) Hn: related hash -> bnode list (duplicates per occurrence)
        val hn = new mutable.TreeMap[String, mutable.ArrayBuffer[String]]()(CodePointOrdering)
        val quadsFor = mentions.getOrElse(identifier, throw new QuadsNotExistException)
        if (traced) log.span("hndq.2", "log point: Quads for identifier (4.8.3 (2)).") {
          log.event("quads:")
          quadsFor.foreach(q => log.event(1, "- " + NQuadsWriter.quadBody(q)))
        }
        def step3(): Unit = quadsFor.foreach { q =>
          if (traced) log.event(1, "- quad: " + NQuadsWriter.quadBody(q))
          var logged = false
          def withOnce(): Unit =
            if (traced && !logged) { log.event("with:"); logged = true }
          def relate(): Unit = {
            if (q.subjectIsBNode && q.s != identifier) {
              withOnce()
              hn.getOrElseUpdate(hrbn(q.s, q, issuer, 's'), new mutable.ArrayBuffer[String]) += q.s
            }
            if (q.objectIsBNode && q.o != identifier) {
              withOnce()
              hn.getOrElseUpdate(hrbn(q.o, q, issuer, 'o'), new mutable.ArrayBuffer[String]) += q.o
            }
            if (q.graphIsBNode && q.g != identifier) {
              withOnce()
              hn.getOrElseUpdate(hrbn(q.g, q, issuer, 'g'), new mutable.ArrayBuffer[String]) += q.g
            }
          }
          if (traced) log.span("hndq.3.1",
            "log point: Hash related bnode component (4.8.3 (3.1)).", 2)(relate())
          else relate()
        }
        if (traced) log.span("hndq.3",
          "log point: Hash N-Degree Quads function (4.8.3 (3)).") {
          log.event("with:")
          step3()
          log.event("Hash to bnodes:")
          hn.foreach { case (h, bnodes) =>
            log.event(1, h + ":")
            bnodes.foreach(b => log.event(2, "- " + b))
          }
        }
        else step3()

        // 4-5) fold each related-hash group into data to hash
        val dataToHash = new StringBuilder(256)
        def step5(): Unit = hn.foreach { case (relatedHash, bnodeList) =>
          if (traced) {
            log.event(1, "- related hash: " + relatedHash)
            log.event(2, "data to hash: \"" + dataToHash + "\"")
          }
          dataToHash.append(relatedHash)
          var chosenPath = ""
          var chosenIssuer: IdentifierIssuer = null

          // 5.4) In fast mode enumerate DISTINCT permutations only:
          // duplicate bnode ids yield byte-identical paths, so
          // repeats (as itertools produces) cannot change the
          // minimum. Trace mode replays the reference's positional
          // enumeration so every `- perm:` line appears.
          val perms: Iterator[Seq[String]] =
            if (traced) bnodeList.indices.toList.permutations.map(p => p.map(bnodeList))
            else bnodeList.toList.permutations

          def permLoop(): Unit = {
            var withLogged = false
            while (perms.hasNext) {
              val p = perms.next()
              if (traced) {
                if (!withLogged) { log.event("with:"); withLogged = true }
                log.event(1, "- perm: " + debugList(p))
              }
              var issuerCopy = issuer.copyOf()
              val pathSb = new StringBuilder(64)
              val recursionList = new mutable.ArrayBuffer[String]
              var pruned = false

              // 5.4.4
              def step544(): Unit = {
                val it = p.iterator
                while (!pruned && it.hasNext) {
                  val related = it.next()
                  if (traced) log.event(1, "- related: " + related)
                  canonicalIssuer.get(related) match {
                    case Some(cid) => pathSb.append("_:").append(cid)
                    case None =>
                      if (issuerCopy.get(related).isEmpty) recursionList += related
                      pathSb.append("_:").append(issuerCopy.issue(related))
                  }
                  if (traced) log.event(2, "path: \"" + pathSb + "\"")
                  if (chosenPath.nonEmpty && pathSb.length >= chosenPath.length &&
                      CodePointOrdering.compare(pathSb.toString, chosenPath) >= 0)
                    pruned = true
                }
              }
              if (traced) log.span("hndq.5.4.4",
                "log point: Hash N-Degree Quads function (4.8.3 (5.4.4)), entering loop.", 2) {
                log.event("with:")
                step544()
              }
              else step544()

              // 5.4.5 recursion
              if (!pruned) {
                def step545(): Unit = {
                  val rit = recursionList.iterator
                  while (!pruned && rit.hasNext) {
                    val related = rit.next()
                    if (traced) log.event(1, "- related: " + related)
                    val (rHash, rIssuer) =
                      if (traced) log.span("", "", 1)(hndq(related, issuerCopy))
                      else hndq(related, issuerCopy)
                    pathSb.append("_:").append(issuerCopy.issue(related))
                    pathSb.append('<').append(rHash).append('>')
                    issuerCopy = rIssuer
                    // the golden traces pin this span at delta 0 (the
                    // reference source says indent=2, but all four
                    // goldens print it at base(5.4.5) — follow the
                    // fixtures, they are the oracle)
                    if (traced) log.span("hndq.5.4.5.4",
                      "log point: Hash N-Degree Quads function (4.8.3 (5.4.5.4)), combine result of recursion.", 0) {
                      log.event("path: \"" + pathSb + "\"")
                      log.event("issuer copy: " + issuerCopy.serializeMap)
                    }
                    if (chosenPath.nonEmpty && pathSb.length >= chosenPath.length &&
                        CodePointOrdering.compare(pathSb.toString, chosenPath) >= 0)
                      pruned = true
                  }
                }
                if (traced) log.span("hndq.5.4.5",
                  "log point: Hash N-Degree Quads function (4.8.3 (5.4.5)), before possible recursion.", 2) {
                  log.event("recursion list: " + debugList(recursionList))
                  log.event("path: \"" + chosenPath + "\"")
                  if (recursionList.nonEmpty) log.event("with:")
                  step545()
                }
                else step545()
              }

              // 5.4.6
              if (!pruned) {
                val path = pathSb.toString
                if (chosenPath.isEmpty || CodePointOrdering.compare(path, chosenPath) < 0) {
                  chosenPath = path
                  chosenIssuer = issuerCopy
                }
              }
            }
          }
          if (traced) log.span("hndq.5.4",
            "log point: Hash N-Degree Quads function (4.8.3 (5.4)), entering loop.", 2)(permLoop())
          else permLoop()

          if (traced) log.span("hndq.5.5",
            "log point: Hash N-Degree Quads function (4.8.3 (5.5). End of current loop with Hn hashes.", 2) {
            log.event("chosen path: \"" + chosenPath + "\"")
            log.event("data to hash: \"" + dataToHash + chosenPath + "\"")
          }
          dataToHash.append(chosenPath)
          if (chosenIssuer != null) issuer = chosenIssuer // 5.6
        }
        if (traced) log.span("hndq.5",
          "log point: Hash N-Degree Quads function (4.8.3 (5)), entering loop.") {
          log.event("with:")
          step5()
        }
        else step5()

        def step6(): (String, IdentifierIssuer) = {
          val h = hash(dataToHash.toString)
          if (traced) {
            log.event("hash: " + h)
            log.event("issuer: " + issuer.serializeMap)
          }
          (h, issuer)
        }
        if (traced) log.span("hndq.6",
          "log point: Leaving Hash N-Degree Quads function (4.8.3 (6)).")(step6())
        else step6()
      }
      if (traced) log.span("hndq", "log point: Hash N-Degree Quads function (4.8.3).")(body())
      else body()
    }
  }

  /** 4.4.3 Canonicalization Algorithm: input quads (set semantics
    * applied here, like oxrdf `Dataset`) → issued identifiers map in
    * issuance order. Reference: `src/canon.rs:196-480`.
    */
  def issue(inputQuads: Seq[Quad],
            opts: CanonOptions = CanonOptions.default,
            log: TraceLogger = NoopTraceLogger,
            assumeDistinct: Boolean = false): IssueResult = {
    // set semantics (oxrdf Dataset); callers that already deduplicated
    // (the fused pipeline's in-kernel `seen` set) skip the extra
    // HashSet+Vector per graph
    val quads: IndexedSeq[Quad] =
      if (assumeDistinct) inputQuads.toIndexedSeq
      else inputQuads.distinct.toIndexedSeq
    log.span("ca", "log point: Entering the canonicalization function (4.4.3).") {
      val state = new State(quads, opts, log)

      if (log.isEnabled)
        log.span("ca.2", "log point: Extract quads for each bnode (4.4.3 (2)).") {
          log.event("Bnode to quads:")
          state.mentions.foreach { case (id, qs) =>
            log.event(1, id + ":")
            qs.foreach(q => log.event(2, "- " + NQuadsWriter.quadBody(q) + " ."))
          }
        }

      // 3) H1DQ for every mentioned bnode, grouped by hash
      val hashToBNodes = new mutable.TreeMap[String, mutable.ArrayBuffer[String]]()(CodePointOrdering)
      def step3(): Unit = state.mentions.keysIterator.foreach { n =>
        val h =
          if (log.isEnabled) {
            log.event(1, "- identifier: " + n)
            log.span("", "", 1)(state.h1dq(n))
          } else state.h1dq(n)
        hashToBNodes.getOrElseUpdate(h, new mutable.ArrayBuffer[String]) += n
      }
      if (log.isEnabled)
        log.span("ca.3", "log point: Calculated first degree hashes (4.4.3 (3)).") {
          log.event("with:")
          step3()
        }
      else step3()

      // 4) unique-hash shortcut: issue canonical ids immediately
      val shared = hashToBNodes.filter { case (_, ids) => ids.length > 1 }
      def step4(): Unit = hashToBNodes.foreach { case (h, ids) =>
        if (ids.length == 1) {
          if (log.isEnabled) {
            log.event(1, "- identifier: " + ids(0))
            log.event(2, "hash: " + h)
          }
          val cid = state.canonicalIssuer.issue(ids(0))
          if (log.isEnabled) log.event(2, "canonical label: " + cid)
        }
      }
      if (log.isEnabled)
        log.span("ca.4",
          "log point: Create canonical replacements for hashes mapping to a single node (4.4.3 (4)).") {
          log.event("with:")
          step4()
        }
      else step4()

      // 5) shared hashes → HNDQ per unissued bnode
      def step5(): Unit = shared.foreach { case (h, identifierList) =>
        if (log.isEnabled) {
          log.event(1, "- hash: " + h)
          log.event(2, "identifier list: " + debugList(identifierList))
        }
        val hashPathList = new mutable.ArrayBuffer[(String, IdentifierIssuer)]
        def step52(): Unit = identifierList.foreach { n =>
          if (log.isEnabled) log.event(1, "- identifier: " + n)
          if (state.canonicalIssuer.get(n).isEmpty) {
            val temp = new IdentifierIssuer("b")
            temp.issue(n)
            hashPathList += (
              if (log.isEnabled) log.span("", "", 1)(state.hndq(n, temp))
              else state.hndq(n, temp))
          }
        }
        if (log.isEnabled)
          log.span("ca.5.2",
            "log point: Calculate hashes for identifiers with shared hashes (4.4.3 (5.2)).", 2) {
            log.event("with:")
            step52()
          }
        else step52()
        // 5.3) code point ordered by hash; stable like Rust sort()
        def step53(): Unit = {
          val sorted = hashPathList.sortBy(_._1)(CodePointOrdering)
          if (log.isEnabled &&
              sorted.iterator.sliding(2).exists(w => w.size == 2 && w.head._1 == w(1)._1))
            log.event("has duplicate hashes: true")
          if (log.isEnabled && sorted.nonEmpty) log.event("with:")
          sorted.foreach { case (rHash, resultIssuer) =>
            if (log.isEnabled) {
              log.event(1, "- result: " + rHash)
              log.event(2, "issuer: " + resultIssuer.serializeMap)
            }
            // 5.3.1) replay temporary issuance order (see IdentifierIssuer note)
            def replay(): Unit =
              resultIssuer.existingInIssuanceOrder.foreach { existing =>
                if (log.isEnabled) log.event("- existing identifier: " + existing)
                val cid = state.canonicalIssuer.issue(existing)
                if (log.isEnabled) log.event(1, "cid: " + cid)
              }
            if (log.isEnabled) log.span("ca.5.3.1", "", 2)(replay()) else replay()
          }
        }
        if (log.isEnabled)
          log.span("ca.5.3",
            "log point: Canonical identifiers for temporary identifiers (4.4.3 (5.3)).", 2)(step53())
        else step53()
      }
      if (log.isEnabled)
        log.span("ca.5",
          "log point: Calculate hashes for identifiers with shared hashes (4.4.3 (5)).") {
          log.event("with:")
          step5()
        }
      else step5()

      if (log.isEnabled)
        log.span("ca.6", "log point: Replace original with canonical labels (4.4.3 (6)).") {
          log.event("issued identifiers map: " + state.canonicalIssuer.serializeMap)
          log.event("hndq_call_counter: " + state.callCounter.traceRepr)
        }

      IssueResult(state.canonicalIssuer.toMap,
                  state.canonicalIssuer.existingInIssuanceOrder.toVector,
                  state.hndqCalls, quads)
    }
  }

  final case class IssueResult(
      issuedMap: Map[String, String],
      issuanceOrder: Vector[String],
      hndqCalls: Int,
      dedupedQuads: IndexedSeq[Quad]
  )

  /** Substitute every bnode by its issued canonical id
    * (reference `relabel`, `src/api.rs:611-619,733-810`). */
  def relabel(quads: Seq[Quad], issued: Map[String, String]): Seq[Quad] = {
    def sub(label: String): String =
      issued.getOrElse(label, throw new CanonicalIdentifierNotExistException)
    quads.map { q =>
      var r = q
      if (q.subjectIsBNode) r = r.copy(s = sub(q.s))
      if (q.objectIsBNode) r = r.copy(o = sub(q.o))
      if (q.graphIsBNode) r = r.copy(g = sub(q.g))
      r
    }
  }

  /** Flagship entry point: canonical N-Quads document
    * (reference `canonicalize_with`, `src/api.rs:183-190`:
    * issue → relabel → serialize — the relabel+serialize pair fused
    * so no relabeled Quad copies are allocated; byte-identical). */
  def canonicalize(inputQuads: Seq[Quad],
                   opts: CanonOptions = CanonOptions.default,
                   log: TraceLogger = NoopTraceLogger): String = {
    val res = issue(inputQuads, opts, log)
    canonicalDocument(res)
  }

  /** relabel + serialize of an [[issue]] result without materializing
    * the relabeled quads (same missing-id error as [[relabel]]). */
  def canonicalDocument(res: IssueResult): String =
    NQuadsWriter.serializeRelabeled(res.dedupedQuads,
      label => res.issuedMap.getOrElse(label,
        throw new CanonicalIdentifierNotExistException))

  /** Graph (triples) variant: interpret as default-graph dataset;
    * output is canonical N-Triples (reference `src/api.rs:501-512`). */
  def canonicalizeGraph(triples: Seq[Quad],
                        opts: CanonOptions = CanonOptions.default): String =
    canonicalize(triples.map(t => t.copy(gKind = TermKind.DefaultGraph, g = "")), opts)

  /** Canonicalized dataset → quads sorted in code point order of their
    * serialized form (reference `sort`, `src/api.rs:859-863`). */
  def sortQuads(quads: Seq[Quad]): Seq[Quad] =
    quads.sortBy(NQuadsWriter.quadBody(_: Quad))(CodePointOrdering)
}
