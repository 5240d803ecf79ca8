package graftbench

import java.util.Locale
import java.util.regex.Pattern

import scala.collection.mutable

import graft.pipeline.{AliasEdge, Corpus, FileRow, Kg, KgPipeline, LinkedMention, Mention}
import graft.rdf.NQuadsParser
import graft.spark.{CanonEngine, CanonResult, KeyedQuad}
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}

/** Per-repo numbers the canonical document must have, derived by the
  * benchmark from the generated files with its own mention and alias
  * matching and its own union-find. */
final case class KgExpect(lines: Int, bnodes: Int)

object KgExpect {
  private val Word = Pattern.compile("\\b[A-Z][A-Za-z0-9]*\\b")
  private val Alias = Pattern.compile("// alias: (\\S+) (\\S+)")

  def compute(cfg: Corpus.Config): Map[String, KgExpect] = {
    val dict = (0 until cfg.nEntities).map(Corpus.entityName)
    val dictSet = dict.toSet
    val byLower = dict.groupBy(_.toLowerCase(Locale.ROOT))
    val files = for (r <- 0 until cfg.nRepos; f <- 0 until cfg.filesInRepo(r))
      yield Corpus.buildFile(cfg, r, f)._1

    // union-find; the smallest name of a component is its canonical entity
    val parent = mutable.HashMap.empty[String, String]
    def find(x: String): String = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    for (f <- files) {
      val m = Alias.matcher(f.content)
      while (m.find()) {
        val (a, b) = (find(m.group(1)), find(m.group(2)))
        if (a != b) { if (a < b) parent(b) = a else parent(a) = b }
      }
    }

    val triples = mutable.HashMap.empty[String, mutable.HashSet[(String, String, String)]]
    val ents = mutable.HashMap.empty[String, mutable.HashSet[String]]
    for (f <- files) {
      val links = mutable.ArrayBuffer.empty[(Int, String)]
      val m = Word.matcher(f.content)
      while (m.find()) {
        val tok = m.group()
        if (dictSet(tok)) byLower(tok.toLowerCase(Locale.ROOT)).foreach(c => links += ((m.start, find(c))))
      }
      if (links.nonEmpty) {
        val ts = triples.getOrElseUpdate(f.repo, mutable.HashSet.empty)
        val es = ents.getOrElseUpdate(f.repo, mutable.HashSet.empty)
        val file = s"<urn:src:${f.repo}/${f.path}>"
        ts += ((s"<urn:repo:${f.repo}>", "hasFile", file))
        var prev: String = null
        links.sortBy(identity).foreach { case (_, e) =>
          es += e
          ts += ((e, "type", "Entity")); ts += ((e, "mentionedIn", file)); ts += ((e, "label", e))
          if (prev != null && prev != e) ts += ((prev, "coOccursWith", e))
          prev = e
        }
      }
    }
    triples.map { case (repo, ts) => repo -> KgExpect(ts.size, ents(repo).size) }.toMap
  }

  /** Checks one iteration's canonical documents against `exp`; a few
    * sampled repos also go through the invariance checks. */
  def check(spark: SparkSession, dir: String, exp: Map[String, KgExpect],
            rnd: scala.util.Random): CheckResult = {
    import spark.implicits._
    val rows = spark.read.parquet(dir).as[CanonResult].collect()
    val byKey = rows.groupBy(_.key)
    val missing = exp.keySet.diff(byKey.keySet).toSeq.sorted.map(k => s"$k: no canonical document")
    val sampled = rnd.shuffle(rows.toSeq.map(_.key)).take(4).toSet
    val bad = rows.toSeq.map { r =>
      exp.get(r.key) match {
        case None => Seq(s"${r.key}: unexpected graph")
        case Some(_) if byKey(r.key).length > 1 => Seq(s"${r.key}: several documents")
        case Some(e) =>
          val p = Docs.structural(r.key, r.canonicalNQuads, r.status, r.quadCount, r.bnodeCount,
            r.outputSha256, e.lines, e.bnodes)
          if (p.isEmpty && sampled(r.key)) Docs.invariance(r.key, r.canonicalNQuads, rnd) else p
      }
    }
    CheckResult.of(math.max(rows.length, exp.size).toLong,
      bad.filter(_.nonEmpty).map(_.mkString("; ")) ++ missing)
  }

  def selfTest(spark: SparkSession, dir: String, exp: Map[String, KgExpect]): Seq[String] = {
    import spark.implicits._
    val r = spark.read.parquet(dir).as[CanonResult].collect().maxBy(_.quadCount)
    val e = exp(r.key)
    val doc = Docs.corruptByte(r.canonicalNQuads)
    val caught = Docs.structural(r.key, doc, r.status, r.quadCount, r.bnodeCount,
      r.outputSha256, e.lines, e.bnodes).nonEmpty
    if (caught) Nil else Seq(s"one changed byte in ${r.key}")
  }

  /** (repo, canonical document) of a written result's ok rows. */
  def documents(spark: SparkSession, dir: String): Seq[(String, String)] = {
    import spark.implicits._
    spark.read.parquet(dir).as[CanonResult].collect().toSeq
      .filter(_.status == "ok").map(r => (r.key, r.canonicalNQuads))
  }
}

/** The fused throughput path over a corpus landed as Parquet in set-up:
  * scan, `detectMentions`, `linkMentions`, `detectAliases`,
  * `connectedComponents` and `Kg.canonicalizeFromMentions`, results
  * written. The traced run also times the staged chain and
  * `KgPipeline.run` on the same corpus (see `layerMetrics`). */
final class KgFusedWorkload(spark: SparkSession, probe: Probe, seed: Long,
                            work: String, threads: Int) extends Workload {
  import spark.implicits._
  val cfg: Corpus.Config = Corpus.Config(nRepos = 1000, baseFilesPerRepo = 10, seed = seed)
  private val input = s"$work/input/corpus"
  private val dictNames: Seq[String] = (0 until cfg.nEntities).map(Corpus.entityName)
  private def dictDf: DataFrame = dictNames.toDF("name")
  private var expect: Map[String, KgExpect] = Map.empty
  private val rnd = new scala.util.Random(seed)
  def items: Long = expect.size.toLong

  def setup(t: Tracer): Unit =
    t.span("pipeline.generate")(Corpus.generate(spark, cfg).write.parquet(input))
  def prepareChecks(): Unit = expect = KgExpect.compute(cfg)
  def check(out: String): CheckResult = KgExpect.check(spark, out, expect, rnd)
  def selfTest(out: String): Seq[String] = KgExpect.selfTest(spark, out, expect)

  private def files = spark.read.parquet(input).as[FileRow]

  def run(out: String): Unit = {
    val dictBc = spark.sparkContext.broadcast(dictNames.toSet)
    val linked = Kg.linkMentions(Kg.detectMentions(files, dictBc), dictDf)
    val cc = Kg.connectedComponents(dictDf, Kg.detectAliases(files))
    Kg.canonicalizeFromMentions(linked, cc).write.parquet(out)
    dictBc.destroy()
  }

  /** Force `ds` into memory (the next layer reads the cached rows);
    * returns it with its row count. */
  private def forced[T](ds: Dataset[T]): (Dataset[T], Long) = {
    val p = ds.persist()
    (p, p.count())
  }

  private var lastOut = ""
  private var mentionRows = 0L
  private val fusedShuffle = mutable.ArrayBuffer.empty[Double]

  def runTraced(out: String, t: Tracer): Unit = {
    lastOut = out
    val dictBc = spark.sparkContext.broadcast(dictNames.toSet)
    val (m, nm) = t.span("pipeline.mentions")(forced(Kg.detectMentions(files, dictBc)))
    mentionRows = nm
    val (l, _) = t.span("pipeline.links")(forced(Kg.linkMentions(m, dictDf)))
    val (a, _) = t.span("pipeline.aliases")(forced(Kg.detectAliases(files)))
    val (c, _) = t.span("pipeline.cc")(forced(Kg.connectedComponents(dictDf, a)))
    val before = probe.snap()
    t.span("pipeline.fused")(Kg.canonicalizeFromMentions(l, c).write.parquet(out))
    fusedShuffle += (probe.snap() - before).shuffleBytes / 1e6
    Seq(m, l, a, c).foreach(_.unpersist())
    dictBc.destroy()
  }

  /** The staged chain on the same corpus, each stage landed as Parquet
    * the way `KgPipeline` lands it: emit -> dedup -> canonicalizeTriples. */
  private def staged(out: String, t: Tracer): Map[String, Double] = {
    def land(name: String, df: DataFrame): DataFrame = {
      t.span("pipeline.stage_write")(df.write.parquet(s"$out/$name"))
      spark.read.parquet(s"$out/$name")
    }
    val dictBc = spark.sparkContext.broadcast(dictNames.toSet)
    val mentions = land("mentions", Kg.detectMentions(files, dictBc).toDF())
    val aliases = land("aliases", Kg.detectAliases(files).toDF())
    val linked = land("links", Kg.linkMentions(mentions.as[Mention], dictDf).toDF())
    val cc = land("cc", Kg.connectedComponents(dictDf, aliases.as[AliasEdge]))
    val (e, ne) = t.span("pipeline.emit")(forced(Kg.emitTriples(linked.as[LinkedMention], cc)))
    val (d, nd) = t.span("pipeline.dedup")(forced(Kg.dedupTriples(e)))
    val triples = land("triples", d)
    val before = probe.snap()
    val (k, _) = t.span("spark.triple_rows")(forced(Kg.canonicalizeTriples(triples)))
    val shuffle = (probe.snap() - before).shuffleBytes / 1e6
    land("canon", k.toDF())
    val mb = Stats.dirBytes(out) / 1e6
    Seq(e, d, k).foreach(_.unpersist())
    dictBc.destroy()
    Map(
      "pipeline.emit_s" -> t.lastSeconds("pipeline.emit"),
      "pipeline.dedup_s" -> t.lastSeconds("pipeline.dedup"),
      "pipeline.dedup_kept" -> nd.toDouble / ne,
      "spark.triple_rows_s" -> t.lastSeconds("spark.triple_rows"),
      "spark.triple_rows_shuffle_mb" -> shuffle,
      "pipeline.stage_write_s" -> t.spans.filter(_.name == "pipeline.stage_write").map(_.seconds).sum,
      "pipeline.stage_write_mb" -> mb)
  }

  /** The workload's own graphs, parsed back from the last traced output,
    * through the parser, the kernel alone and `canonicalizePerGraph`. */
  private def graphPasses(t: Tracer): Map[String, Double] = {
    val docs = KgExpect.documents(spark, lastOut)
    val graphs = t.span("rdf.parse")(docs.map { case (k, d) => (k, NQuadsParser.parseDocument(d)) })
    val kernel = Kernel.measure(graphs.map(_._2), t)
    val keyed = spark.createDataset(graphs.flatMap { case (k, g) => g.map(KeyedQuad(k, _)) }).persist()
    keyed.count()
    val out = s"$work/out/per_graph"
    t.span("spark.per_graph")(CanonEngine.canonicalizePerGraph(keyed).write.parquet(out))
    keyed.unpersist()
    Stats.deleteTree(out)
    kernel ++ Map(
      "rdf.parse_s" -> t.lastSeconds("rdf.parse"),
      "rdf.parse_quads" -> graphs.map(_._2.size.toDouble).sum,
      "spark.per_graph_s" -> t.lastSeconds("spark.per_graph"))
  }

  def layerMetrics(t: Tracer, traced: Int => Boolean): Map[String, Double] = {
    val med = (n: String) => t.median(n, traced)
    val operator = med("pipeline.fused")
    t.iteration += 1
    val kernel = graphPasses(t)
    val stagedDir = s"$work/out/staged"
    val stagedM = staged(stagedDir, t)
    Stats.deleteTree(stagedDir)
    // the product job into a fresh directory, then a no-change rerun
    // in which every stage is skipped
    val pipeDir = s"$work/out/pipeline"
    t.span("pipeline.run")(KgPipeline.run(spark, pipeDir, cfg))
    t.span("pipeline.resume")(KgPipeline.run(spark, pipeDir, cfg))
    Stats.deleteTree(pipeDir)
    kernel ++ stagedM ++ Map(
      "pipeline.generate_s" -> t.median("pipeline.generate"),
      "pipeline.mentions_s" -> med("pipeline.mentions"),
      "pipeline.mentions_rows" -> mentionRows.toDouble,
      "pipeline.links_s" -> med("pipeline.links"),
      "pipeline.aliases_s" -> med("pipeline.aliases"),
      "pipeline.cc_s" -> med("pipeline.cc"),
      "pipeline.fused_s" -> operator,
      "pipeline.fused_shuffle_mb" -> Stats.median(fusedShuffle.toSeq),
      "pipeline.run_s" -> t.lastSeconds("pipeline.run"),
      "pipeline.resume_s" -> t.lastSeconds("pipeline.resume"),
      "spark.canon_shuffle_mb" -> Stats.median(fusedShuffle.toSeq),
      "spark.canon_overhead_s" ->
        (operator - (kernel("canon.issue_s") + kernel("rdf.serialize_s")) / threads))
  }
}
