package graft.pipeline

import graft.canon.CanonOptions
import graft.rdf.{Quad, TermKind}
import graft.spark.{CanonEngine, CanonResult}
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}

import scala.collection.mutable

final case class Mention(repo: String, path: String, entity: String,
                         offset: Long, surface: String)
final case class TripleRow(repo: String, subjKind: Byte, subj: String,
                           pred: String, obj: String, objKind: Byte)
final case class LinkedMention(repo: String, path: String, entity: String,
                               offset: Long, score: Double)
final case class AliasEdge(src: String, dst: String)

/** KG-construction operators around the canonicalization kernel
  * (SURVEY §2b). All DataFrame/Dataset-first; the only custom code
  * paths are `mapPartitions` for batched regex scanning (per the
  * north rule) and the per-graph canonicalization kernel with its
  * fused path's dictionary-id lookup.
  */
object Kg {

  @inline private def isWordChar(c: Char): Boolean =
    (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z') ||
      (c >= '0' && c <= '9') || c == '_'

  /** Mention detection via a manual word-run scan (mapPartitions; the
    * dictionary is a broadcast hash set — no shuffle, no UDF-per-row
    * overhead). Semantics are EXACTLY `\b[A-Z][A-Za-z0-9]*\b` with
    * Java's default (ASCII) word classes: a maximal `\w+` run matches
    * iff it starts with [A-Z] and contains no '_' (an interior '_' or
    * lowercase start leaves no word boundary anywhere inside the run,
    * so the regex could not match a sub-run either. Pinned by the
    * planted-truth P/R=1 test and the q26 golden oracle.). The manual
    * scan drops the per-file Matcher machinery from the corpus-scan
    * hot path. */
  def detectMentions(files: Dataset[FileRow],
                     dict: Broadcast[Set[String]]): Dataset[Mention] = {
    val spark = files.sparkSession
    import spark.implicits._
    files.mapPartitions { it =>
      it.flatMap { f =>
        val s = f.content
        val n = s.length
        val out = Vector.newBuilder[Mention]
        var i = 0
        while (i < n) {
          if (isWordChar(s.charAt(i))) {
            val start = i
            var underscore = false
            while (i < n && isWordChar(s.charAt(i))) {
              if (s.charAt(i) == '_') underscore = true
              i += 1
            }
            val c0 = s.charAt(start)
            if (!underscore && c0 >= 'A' && c0 <= 'Z') {
              val tok = s.substring(start, i)
              if (dict.value.contains(tok))
                out += Mention(f.repo, f.path, tok, start.toLong, tok)
            }
          } else i += 1
        }
        out.result()
      }
    }
  }

  // java.util.regex \s for the manual alias scan below
  @inline private def isRegexWs(c: Char): Boolean =
    c == ' ' || c == '\t' || c == '\n' || c == '\u000B' || c == '\f' || c == '\r'

  /** The alias rule, written once: calls `emit` with both names of
    * every `// alias: (\S+) (\S+)` match in `s`, in order. Manual scan
    * implementing the regex exactly: indexOf finds each literal prefix,
    * the two maximal non-whitespace runs must be non-empty and
    * separated by a single literal space; on a failed group the scan
    * resumes one char later (like Matcher.find), on a match it resumes
    * at the match end. Same corpus-scan hot-path motivation as
    * detectMentions. */
  private[pipeline] def scanAliases(s: String)(emit: (String, String) => Unit): Unit = {
    val n = s.length
    var i = s.indexOf("// alias: ")
    while (i >= 0) {
      var p = i + 10
      val s1 = p
      while (p < n && !isRegexWs(s.charAt(p))) p += 1
      var resume = i + 1
      if (p > s1 && p < n && s.charAt(p) == ' ') {
        val s2 = p + 1
        p = s2
        while (p < n && !isRegexWs(s.charAt(p))) p += 1
        if (p > s2) {
          emit(s.substring(s1, s2 - 1), s.substring(s2, p))
          resume = p
        }
      }
      i = if (resume < n) s.indexOf("// alias: ", resume) else -1
    }
  }

  /** Alias facts found in content (drive entity merging), by
    * [[scanAliases]]. */
  def detectAliases(files: Dataset[FileRow]): Dataset[AliasEdge] = {
    val spark = files.sparkSession
    import spark.implicits._
    files.mapPartitions { it =>
      it.flatMap { f =>
        val out = Vector.newBuilder[AliasEdge]
        scanAliases(f.content)((a, b) => out += AliasEdge(a, b))
        out.result()
      }
    }.dropDuplicates("src", "dst")
  }

  /** Entity-link scoring: equi-join mentions against the entity
    * dictionary DataFrame — broadcast (the dictionary is tiny relative
    * to mentions at any scale) — and score the candidate. Exact
    * surface match scores 1.0; case-insensitive 0.7; links below
    * `minScore` are dropped. */
  def linkMentions(mentions: Dataset[Mention], dictDf: DataFrame,
                   minScore: Double = 0.5): Dataset[LinkedMention] = {
    val spark = mentions.sparkSession
    import spark.implicits._
    mentions
      .join(broadcast(dictDf.withColumnRenamed("name", "cand")),
        lower(col("surface")) === lower(col("cand")), "inner")
      .withColumn("score",
        when(col("surface") === col("cand"), lit(1.0)).otherwise(lit(0.7)))
      .where(col("score") >= minScore)
      .select(col("repo"), col("path"), col("cand").as("entity"),
        col("offset"), col("score"))
      .as[LinkedMention]
  }

  /** Connected components over alias edges, hybrid by size:
    *
    *  - inputs where BOTH the edge set and the vertex set are under
    *    `smallThreshold` (the common case: the alias graph is
    *    dictionary-sized, orders of magnitude smaller than the
    *    corpus) run union-find on the driver and come back as a
    *    broadcastable DataFrame — ZERO iterative Spark jobs, killing
    *    the per-iteration scheduling latency that dominates small CC.
    *    The vertex gate matters independently of the edge gate: the
    *    driver path collects ALL vertices (they are the output rows),
    *    so a caller with few edges but a huge vertex table must not
    *    be surprised by an O(|V|) driver collect. BOTH gates are
    *    probed with `limit(threshold + 1).collect()` — an
    *    early-stopping CollectLimit, never a full scan of a 100 TB
    *    table — and each probe IS the fast path's input: it decides
    *    the gate AND delivers the rows in one pass, where a
    *    count-then-collect pair would run the lineage (for edges, a
    *    full scan + alias regex at corpus scale) twice, and a count
    *    could not even early-stop on a big input. Driver memory
    *    stays bounded at threshold + 1 rows per probe either way;
    *    thresholds are clamped below Int.MaxValue (see the body).
    *  - larger sets use iterative DataFrame min-label propagation
    *    with per-iteration `localCheckpoint` lineage truncation
    *    (SURVEY §2b / §7.4-6), convergence = changed-count 0.
    *
    * Returns (entity, canonical) for EVERY vertex, canonical =
    * lexicographic min of its component.
    */
  def connectedComponents(vertices: DataFrame, edges: Dataset[AliasEdge],
                          maxIter: Int = 20,
                          smallThreshold: Long = 500000L): DataFrame = {
    val spark = vertices.sparkSession
    // Clamp the effective threshold below Int.MaxValue: limit() cannot
    // probe past 2^31-1 rows, so a larger requested threshold would
    // let a truncated sample pass the gate (and Long.MaxValue + 1
    // would overflow probeN to an EMPTY probe -> silent singleton
    // components). A >2-billion-row driver collect is absurd anyway;
    // thresholds above the clamp just mean "driver path if at all
    // representable".
    val effThreshold = math.min(smallThreshold, (Int.MaxValue - 1).toLong)
    val probeN = (effThreshold + 1).toInt
    val edgeSample = edges.limit(probeN).collect()
    // the vertex probe doubles as the fast path's vertex rows — same
    // one-pass pattern as the edge probe (a derived vertex table would
    // otherwise pay its lineage twice)
    val vSample =
      if (edgeSample.length <= effThreshold)
        vertices.select("name").limit(probeN).collect()
      else Array.empty[org.apache.spark.sql.Row] // edge gate failed; skip
    if (edgeSample.length <= effThreshold && vSample.length <= effThreshold) {
      val vs = vSample.map(_.getString(0))
      val parent = scala.collection.mutable.HashMap.empty[String, String]
      def find(x: String): String = {
        var r = x
        while (parent.getOrElse(r, r) != r) r = parent(r)
        var c = x
        while (parent.getOrElse(c, c) != c) { val n = parent(c); parent(c) = r; c = n }
        r
      }
      def union(a: String, b: String): Unit = {
        val ra = find(a); val rb = find(b)
        if (ra != rb) {
          // min label becomes the root so results match the
          // distributed min-propagation exactly
          if (ra < rb) parent(rb) = ra else parent(ra) = rb
        }
      }
      edgeSample.foreach(e => union(e.src, e.dst)) // the probe already holds ALL edges here
      val rows = vs.map(v => (v, find(v))).toSeq
      import spark.implicits._
      return rows.toDF("entity", "canonical")
    }

    // materialize the edge lineage ONCE before the self-union: the
    // two legs of sym would otherwise each re-run it (a corpus scan +
    // alias regex at real scale), on top of the probe above
    val e0 = edges.toDF().localCheckpoint()
    val sym = e0.select(col("src").as("a"), col("dst").as("b"))
      .union(e0.select(col("dst").as("a"), col("src").as("b")))
      .dropDuplicates("a", "b")
      .localCheckpoint()
    var labels = vertices.select(col("name").as("id"), col("name").as("label"))
    var iter = 0
    var converged = false
    while (iter < maxIter && !converged) {
      val candidates = sym
        .join(labels, sym("a") === labels("id"))
        .select(col("b").as("id"), col("label"))
      val propagated = labels.union(candidates)
        .groupBy("id").agg(min("label").as("label"))
      // pointer jumping: also adopt the label OF my label (labels are
      // always vertex names, so the lookup is a self-join). Chains
      // halve every iteration -> convergence in O(log diameter)
      // instead of O(diameter); a >maxIter-hop alias chain would
      // otherwise be SILENTLY left split.
      val parent = propagated
        .select(col("id").as("p_id"), col("label").as("p_label"))
      val next = propagated
        .join(parent, propagated("label") === parent("p_id"), "left")
        .select(col("id"),
          least(col("label"), coalesce(col("p_label"), col("label"))).as("label"))
        .localCheckpoint()
      val changed = next.alias("n")
        .join(labels.alias("o"), col("n.id") === col("o.id"))
        .where(col("n.label") =!= col("o.label"))
        .limit(1).count()
      labels = next
      converged = changed == 0
      iter += 1
    }
    if (!converged)
      throw new IllegalStateException(
        s"connectedComponents did not converge in $maxIter iterations " +
          s"(component diameter > ~2^$maxIter); raise maxIter")
    labels.select(col("id").as("entity"), col("label").as("canonical"))
  }

  /** The triple-emission rules, written once. `run` is one repo's
    * linked mentions sorted by (path, offset, entity); `add` receives
    * (subjKind, subj, pred, obj, objKind) for every triple in emission
    * order, duplicates included:
    *  - hasFile from the repo to a file on the file's first mention;
    *  - type, mentionedIn and label for each mention;
    *  - coOccursWith between consecutive distinct entities of a file.
    *
    * Entities become BLANK NODES (bnode label = canonical entity name,
    * content-derived — deterministic under rerun) so per-repo RDFC-1.0
    * does real work; files/repos are IRIs; labels are literals. */
  private def emitRepo[M](repo: String, run: Iterator[M])(pathOf: M => String,
      entityOf: M => String)(add: (Byte, String, String, String, Byte) => Unit): Unit = {
    var path: String = null
    var fileIri: String = null
    var prev: String = null
    run.foreach { m =>
      val p = pathOf(m)
      if (fileIri == null || p != path) { // a file's first mention
        path = p
        fileIri = s"urn:src:$repo/$p"
        add(TermKind.Iri, s"urn:repo:$repo", "urn:p:hasFile", fileIri, TermKind.Iri)
        prev = null
      }
      val ent = entityOf(m)
      add(TermKind.BNode, ent, "urn:p:type", "urn:c:Entity", TermKind.Iri)
      add(TermKind.BNode, ent, "urn:p:mentionedIn", fileIri, TermKind.Iri)
      add(TermKind.BNode, ent, "urn:p:label", ent, TermKind.Literal)
      if (prev != null && prev != ent)
        add(TermKind.BNode, prev, "urn:p:coOccursWith", ent, TermKind.BNode)
      prev = ent
    }
  }

  /** Mentions (repo, path, entity, offset, ...) resolved to their
    * canonical entity through a broadcast join of `canonMap`, as
    * (repo, path, canonical, offset); mentions of entities outside
    * `canonMap` drop. */
  def resolveMentions(mentions: DataFrame, canonMap: DataFrame): DataFrame =
    mentions.join(broadcast(canonMap.withColumnRenamed("entity", "ent_key")),
      col("entity") === col("ent_key"))
      .select(col("repo"), col("path"), col("canonical"), col("offset"))

  /** Triple emission: one [[TripleRow]] per [[emitRepo]] triple,
    * duplicates included (objKind: 0=IRI 1=bnode 2=literal), of the
    * [[resolveMentions resolved]] mentions, on the per-graph spine. Its
    * output is declared hash-partitioned on `repo`: [[dedupTriples]]
    * and [[canonicalizeTriples]] reuse the one mention exchange. */
  def emitTriples(linked: Dataset[LinkedMention], canonMap: DataFrame): DataFrame = {
    val spark = linked.sparkSession
    import spark.implicits._
    val m = resolveMentions(linked.toDF(), canonMap).as[(String, String, String, Long)]
    CanonEngine.perGraph(m, "repo", "path", "offset", "canonical")(_._1, "repo") { (repo, run) =>
      val out = Vector.newBuilder[TripleRow]
      emitRepo(repo, run)(_._2, _._3)((sk, s, p, o, ok) => out += TripleRow(repo, sk, s, p, o, ok))
      out.result()
    }.toDF()
  }

  /** Triple dedup. `dropDuplicates` hash-partitions on the FULL key
    * (all six columns) with map-side partial deduplication, so a
    * mega-repo cannot skew this shuffle — every row is its own group.
    * Behind [[emitTriples]] it adds no exchange (its `repo`
    * partitioning already clusters the full key). The skew that CAN
    * hurt is the per-repo run into the canonicalization kernel, which
    * no salting can spread — the graph must co-locate — and is instead
    * bounded by the HNDQ budget and surfaced via the per-graph
    * quadCount/hndqCalls metrics.
    */
  def dedupTriples(triples: DataFrame): DataFrame =
    triples.dropDuplicates("repo", "subjKind", "subj", "pred", "obj", "objKind")

  /** Hard bound on the entity→canonical dictionary the fused path may
    * collect/broadcast (rows). The dictionary is broadcast-sized BY
    * DESIGN (the link join already ships it whole to every executor);
    * past the bound the fused path fails fast with a pointer to the
    * staged chain instead of attempting an unbounded driver collect. */
  val MaxFusedDictRows: Int = 5000000

  /** FUSED fast path: linked mentions → canonical graphs with ONE
    * wide dependency. The mentions take the per-graph spine sorted by
    * (repo, path, offset, cid); each repo's run goes through
    * [[emitRepo]], as in [[emitTriples]], into an in-memory set, then
    * RDFC-1.0. Unlike the staged emitTriples → dedupTriples →
    * canonicalizeTriples chain, which remains for pipelines that
    * materialize the triple table, this never materializes the
    * (duplicate-heavy) triple set. Result rows equal the staged
    * chain's byte for byte. */
  def canonicalizeFromMentions(linked: Dataset[LinkedMention], canonMap: DataFrame,
                               opts: CanonOptions = CanonOptions.default,
                               maxDictRows: Int = MaxFusedDictRows)
      : Dataset[CanonResult] = {
    val spark = linked.sparkSession
    import spark.implicits._
    // The canonical-entity dictionary is broadcast-sized BY DESIGN
    // (canonMap already ships whole to every executor for the link
    // join), so the exchange carries a 4-byte dictionary id per mention
    // instead of the name, and the kernel side decodes ids through ONE
    // broadcast array: a smaller shuffle and a SHARED name instance per
    // decoded row. Ids index a dictionary sorted in CODE-POINT order,
    // the order of Spark's UTF8String comparison in the staged sort, so
    // (offset, id) ties break as the staged (offset, name) ties do even
    // for astral-plane names (a mention CAN carry several same-offset
    // candidates when two entries clear the link-score threshold).
    // The collect is gated by an early-stopping limit probe: the probe
    // IS the data when it passes, and driver memory stays bounded at
    // maxDictRows + 1 rows.
    val canonPairs = canonMap
      .select(col("entity").cast("string"), col("canonical").cast("string"))
      .as[(String, String)].limit(maxDictRows + 1).collect()
    if (canonPairs.length > maxDictRows)
      throw new IllegalStateException(
        s"canonicalizeFromMentions: canonical dictionary exceeds " +
          s"$maxDictRows rows; the fused path collects and broadcasts " +
          "it whole. Use the staged chain instead (emitTriples -> " +
          "dedupTriples -> canonicalizeTriples), which never " +
          "materializes the dictionary on the driver")
    val canonIdx: Array[String] =
      canonPairs.map(_._2).distinct.sorted(graft.rdf.CodePointOrdering)
    val idOf = canonIdx.zipWithIndex.toMap
    // a broadcast map lookup, not a broadcast hash join: with the join,
    // peak live heap on the kg_fused benchmark (1,000 repos, 4 threads)
    // was about 95 MB higher
    val bcCid = spark.sparkContext.broadcast(
      canonPairs.map { case (e, c) => e -> idOf(c) }.toMap)
    val cidOf = udf((e: String) => bcCid.value.getOrElse(e, -1))
    val m = linked.toDF()
      .select(col("repo"), col("path"), cidOf(col("entity")).as("cid"), col("offset"))
      .where(col("cid") >= 0) // mentions of entities outside canonMap drop
      .as[(String, String, Int, Long)]
    val bcIdx = spark.sparkContext.broadcast(canonIdx)
    CanonEngine.perGraph(m, "repo", "path", "offset", "cid")(_._1, "key") { (repo, run) =>
      val idx = bcIdx.value
      val seen = new mutable.HashSet[(Byte, String, String, String, Byte)]
      val quads = new mutable.ArrayBuffer[Quad]
      emitRepo(repo, run)(_._2, m => idx(m._3)) { (sk, s, p, o, ok) =>
        if (seen.add((sk, s, p, o, ok))) quads += Quad.triple(sk, s, p, ok, o)
      }
      // `seen` already enforced set semantics — skip the kernel's dedup
      Iterator.single(CanonEngine.canonicalizeOne(repo, quads.toVector, opts,
        assumeDistinct = true))
    }
  }

  /** Triples → per-repo canonical N-Quads via the RDFC-1.0 engine: the
    * [[TripleRow]]s take the per-graph spine keyed on `repo`, whose
    * exchange the planner drops when the input is already
    * hash-partitioned on `repo` at the session width — as
    * [[emitTriples]]/[[dedupTriples]] output is — so the staged chain
    * keeps its one exchange. Plain literals carry dt="" (implicit
    * xsd:string; canonical N-Quads suppresses it and Quad equality
    * uses ""). */
  def canonicalizeTriples(triples: DataFrame,
                          opts: CanonOptions = CanonOptions.default)
      : Dataset[CanonResult] = {
    val spark = triples.sparkSession
    import spark.implicits._
    val rows = triples.select("repo", "subjKind", "subj", "pred", "obj", "objKind")
      .as[TripleRow]
    CanonEngine.perGraph(rows, "repo")(_.repo, "key") { (repo, run) =>
      Iterator.single(CanonEngine.canonicalizeOne(repo,
        run.map(t => Quad.triple(t.subjKind, t.subj, t.pred, t.objKind, t.obj)).toVector, opts))
    }
  }
}
