package graft.pipeline

import graft.SparkTestBase
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files

class KgPipelineSpec extends AnyFunSuite {

  private lazy val spark = SparkTestBase.spark
  private val cfg = Corpus.Config(nRepos = 6, baseFilesPerRepo = 4, nEntities = 32)

  test("corpus generation is deterministic and skewed") {
    val a = Corpus.generate(spark, cfg).collect().sortBy(f => (f.repo, f.path))
    val b = Corpus.generate(spark, cfg).collect().sortBy(f => (f.repo, f.path))
    assert(a.toSeq == b.toSeq)
    val byRepo = a.groupBy(_.repo).view.mapValues(_.length).toMap
    assert(byRepo("repo0000") == cfg.baseFilesPerRepo * cfg.skewFactor)
    assert(byRepo.size == cfg.nRepos)
  }

  test("content sha invariant holds under Spark's independent sha2") {
    val df = Corpus.generate(spark, cfg).toDF()
    assert(df.where(sha2(col("content"), 256) =!= col("content_sha")).count() == 0)
  }

  test("mention detection matches planted ground truth exactly (P=R=1)") {
    import spark.implicits._
    val dict = spark.sparkContext.broadcast(
      (0 until cfg.nEntities).map(Corpus.entityName).toSet)
    val got = Kg.detectMentions(Corpus.generate(spark, cfg), dict)
      .collect().map(m => (m.repo, m.path, m.entity, m.offset)).toSet
    val truth = Corpus.groundTruth(spark, cfg)
      .collect().map(m => (m.repo, m.path, m.entity, m.offset)).toSet
    assert(got == truth)
  }

  test("connected components merges alias groups to min label") {
    import spark.implicits._
    val vertices = Seq("A", "B", "C", "D", "E").toDF("name")
    val edges = spark.createDataset(Seq(AliasEdge("B", "A"), AliasEdge("C", "B"),
      AliasEdge("E", "D")))
    val cc = Kg.connectedComponents(vertices, edges).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(cc == Map("A" -> "A", "B" -> "A", "C" -> "A", "D" -> "D", "E" -> "D"))
  }

  test("driver fast path evaluates the edge lineage exactly once") {
    // the edge gate probe IS the fast path's input
    // (limit(threshold+1).collect()): a count-then-collect pair would
    // run the edge lineage — at corpus scale a full scan + alias
    // regex — twice. Pin one pass via a per-partition-visit marker.
    import spark.implicits._
    val vertices = Seq("A", "B", "C").toDF("name")
    val acc = spark.sparkContext.longAccumulator("edgePartitionVisits")
    val edges = spark.createDataset(
      Seq(AliasEdge("B", "A"), AliasEdge("C", "B"))).repartition(2)
      .mapPartitions { it => acc.add(1); it }
    val nParts = edges.rdd.getNumPartitions
    val cc = Kg.connectedComponents(vertices, edges).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(cc == Map("A" -> "A", "B" -> "A", "C" -> "A"))
    assert(acc.value <= nParts,
      s"edge lineage ran ${acc.value} partition-visits over $nParts partitions — more than one pass")
  }

  test("extreme smallThreshold values neither overflow nor truncate the gate") {
    // Long.MaxValue used to overflow probeN to an EMPTY probe (every
    // vertex silently became a singleton); thresholds past
    // Int.MaxValue would let a truncated sample pass the gate. Both
    // are clamped now: the fast path still computes correct
    // components at any representable threshold.
    import spark.implicits._
    val vertices = Seq("A", "B", "C").toDF("name")
    val edges = spark.createDataset(Seq(AliasEdge("B", "A"), AliasEdge("C", "B")))
    for (t <- Seq(Long.MaxValue, Int.MaxValue.toLong + 5L)) {
      val cc = Kg.connectedComponents(vertices, edges, smallThreshold = t)
        .collect().map(r => r.getString(0) -> r.getString(1)).toMap
      assert(cc == Map("A" -> "A", "B" -> "A", "C" -> "A"), s"threshold $t")
    }
  }

  test("distributed CC converges on a chain longer than maxIter hops") {
    // 60-hop alias chain through the DISTRIBUTED path (smallThreshold
    // 0): plain min-label propagation needs 59 iterations and was
    // silently returning split components at maxIter=20; pointer
    // jumping converges in O(log n) and non-convergence now throws.
    import spark.implicits._
    val names = (0 until 60).map(i => f"n$i%03d")
    val vertices = names.toDF("name")
    val edges = spark.createDataset(
      (1 until 60).map(i => AliasEdge(f"n$i%03d", f"n${i - 1}%03d")))
    val cc = Kg.connectedComponents(vertices, edges, maxIter = 20, smallThreshold = 0)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(cc.values.toSet == Set("n000"), s"split components: ${cc.values.toSet}")
    // driver union-find path agrees
    val small = Kg.connectedComponents(vertices, edges).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(small == cc)
  }

  test("large-vertex/small-edge input takes the distributed path (vertex gate)") {
    // 2 edges but vertices > smallThreshold: the driver fast path
    // would collect EVERY vertex, so the vertex gate must route this
    // to distributed propagation — and the result must still label
    // every vertex (isolated ones map to themselves).
    import spark.implicits._
    val names = (0 until 40).map(i => f"v$i%03d")
    val vertices = names.toDF("name")
    val edges = spark.createDataset(
      Seq(AliasEdge("v001", "v000"), AliasEdge("v003", "v002")))
    val cc = Kg.connectedComponents(vertices, edges, maxIter = 20, smallThreshold = 10)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(cc.size == 40)
    assert(cc("v001") == "v000" && cc("v000") == "v000")
    assert(cc("v003") == "v002")
    names.drop(4).foreach(n => assert(cc(n) == n, s"isolated $n relabeled"))
    // and it agrees with the driver path at a permissive threshold
    val drv = Kg.connectedComponents(vertices, edges).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(drv == cc)
  }

  test("end-to-end pipeline: P/R = 1, all graphs ok, resume skips stages") {
    val work = Files.createTempDirectory("kgtest").toString
    val r1 = KgPipeline.run(spark, work, cfg)
    assert(r1.precision == 1.0 && r1.recall == 1.0)
    assert(r1.okGraphs == cfg.nRepos && r1.totalGraphs == cfg.nRepos)
    assert(r1.stages.forall(!_.skipped))
    // resume: everything cached
    val r2 = KgPipeline.run(spark, work, cfg)
    assert(r2.stages.forall(_.skipped))
    assert(r2.okGraphs == r1.okGraphs)
  }

  test("P/R counts keep intersect's set and count()'s row semantics") {
    import spark.implicits._
    def rows(r: (String, String, String, Long)*) =
      r.toDF("repo", "path", "canonical", "offset")
    val both = ("r1", "a.c", "Foo", 5L)
    // `both` twice on the got side, one row on each side only
    val got = rows(both, both, ("r1", "a.c", "Bar", 2L))
    val truth = rows(both, ("r2", "c.c", "Baz", 4L))
    assert(KgPipeline.matchCounts(got, truth) == ((1L, 3L, 2L)))
    assert(got.intersect(truth).count() == 1L && got.count() == 3L && truth.count() == 2L)
    assert(KgPipeline.matchCounts(got.limit(0), truth) == ((0L, 0L, 2L)))
  }

  test("fused canonicalization equals the staged path byte-for-byte") {
    import spark.implicits._
    val dictNames = (0 until cfg.nEntities).map(Corpus.entityName)
    val dict = spark.sparkContext.broadcast(dictNames.toSet)
    val files = Corpus.generate(spark, cfg)
    val mentions = Kg.detectMentions(files, dict)
    val linked = Kg.linkMentions(mentions, dictNames.toDF("name"))
    val cc = Kg.connectedComponents(dictNames.toDF("name"), Kg.detectAliases(files))
    val staged = Kg.canonicalizeTriples(
      Kg.dedupTriples(Kg.emitTriples(linked, cc)))
      .collect().map(r => r.key -> r.outputSha256).toMap
    val fused = Kg.canonicalizeFromMentions(linked, cc)
      .collect().map(r => r.key -> r.outputSha256).toMap
    assert(fused == staged)

    // the fused path's dictionary collect is explicitly bounded: past
    // the cap it must fail fast with a pointer to the staged chain,
    // never attempt an unbounded driver collect
    val err = intercept[IllegalStateException] {
      Kg.canonicalizeFromMentions(linked, cc, maxDictRows = 1).collect()
    }
    assert(err.getMessage.contains("staged chain"), err.getMessage)
  }

  test("fused tie ordering matches staged for astral-plane entity names") {
    // two entities linked at the SAME offset (possible whenever two
    // dictionary entries clear the link-score threshold for one
    // token), with names that straddle the UTF-16/code-point order
    // boundary: U+FFFD sorts BEFORE U+10000 in code-point (and
    // UTF8String, i.e. staged sort_array) order but AFTER it in Java
    // string order. The dictionary-id tie-break must follow the
    // code-point order or the coOccursWith chain diverges between
    // the fused and staged paths.
    import spark.implicits._
    val eBmp = "e\uFFFD"
    val eAstral = "e" + new String(Character.toChars(0x10000))
    assert(eBmp.compareTo(eAstral) > 0, "Java order: astral first")
    assert(graft.rdf.CodePointOrdering.compare(eBmp, eAstral) < 0,
      "code-point order: BMP first")
    val linked = spark.createDataset(Seq(
      LinkedMention("r1", "f.c", eBmp, 5L, 1.0),
      LinkedMention("r1", "f.c", eAstral, 5L, 1.0),
      LinkedMention("r1", "f.c", eBmp, 9L, 1.0)))
    val canonMap = Seq((eBmp, eBmp), (eAstral, eAstral))
      .toDF("entity", "canonical")
    val staged = Kg.canonicalizeTriples(
      Kg.dedupTriples(Kg.emitTriples(linked, canonMap)))
      .collect().map(r => r.key -> r.canonicalNQuads).toMap
    val fused = Kg.canonicalizeFromMentions(linked, canonMap)
      .collect().map(r => r.key -> r.canonicalNQuads).toMap
    assert(fused == staged)
  }

  test("the triple-emission rules: literal rows for two files, a tie and a repeat") {
    import spark.implicits._
    // r1/a.c: Baz and Foo tie at offset 5 (the canonical name breaks
    // it), FooAlias resolves to Foo so Foo repeats back to back (no
    // self coOccursWith), Ghost is outside canonMap and drops; r1/b.c
    // starts a new file, so its first mention links to nothing before
    val linked = spark.createDataset(Seq(
      LinkedMention("r1", "a.c", "Foo", 5L, 1.0),
      LinkedMention("r1", "b.c", "Bar", 1L, 1.0),
      LinkedMention("r1", "a.c", "FooAlias", 9L, 1.0),
      LinkedMention("r1", "a.c", "Ghost", 7L, 1.0),
      LinkedMention("r1", "a.c", "Bar", 2L, 1.0),
      LinkedMention("r2", "c.c", "Baz", 4L, 1.0),
      LinkedMention("r1", "a.c", "Baz", 5L, 1.0)))
    val canonMap = Seq("Bar" -> "Bar", "Baz" -> "Baz", "Foo" -> "Foo", "FooAlias" -> "Foo")
      .toDF("entity", "canonical")
    val emitted = Kg.emitTriples(linked, canonMap)
    // duplicates included: 4 + 4 + 4 + 3 triples for a.c, 1 + 3 for
    // b.c, 4 for r2
    assert(emitted.count() == 23)
    val (a, b, c) = ("urn:src:r1/a.c", "urn:src:r1/b.c", "urn:src:r2/c.c")
    def ent(e: String, p: String, o: String, ok: Int) = (1, e, s"urn:p:$p", o, ok)
    val expected = Set(
      "r1" -> (0, "urn:repo:r1", "urn:p:hasFile", a, 0),
      "r1" -> (0, "urn:repo:r1", "urn:p:hasFile", b, 0),
      "r1" -> ent("Bar", "type", "urn:c:Entity", 0),
      "r1" -> ent("Bar", "mentionedIn", a, 0),
      "r1" -> ent("Bar", "mentionedIn", b, 0),
      "r1" -> ent("Bar", "label", "Bar", 2),
      "r1" -> ent("Bar", "coOccursWith", "Baz", 1),
      "r1" -> ent("Baz", "type", "urn:c:Entity", 0),
      "r1" -> ent("Baz", "mentionedIn", a, 0),
      "r1" -> ent("Baz", "label", "Baz", 2),
      "r1" -> ent("Baz", "coOccursWith", "Foo", 1),
      "r1" -> ent("Foo", "type", "urn:c:Entity", 0),
      "r1" -> ent("Foo", "mentionedIn", a, 0),
      "r1" -> ent("Foo", "label", "Foo", 2),
      "r2" -> (0, "urn:repo:r2", "urn:p:hasFile", c, 0),
      "r2" -> ent("Baz", "type", "urn:c:Entity", 0),
      "r2" -> ent("Baz", "mentionedIn", c, 0),
      "r2" -> ent("Baz", "label", "Baz", 2))
    val got = Kg.dedupTriples(emitted).as[TripleRow].collect()
      .map(t => t.repo -> (t.subjKind.toInt, t.subj, t.pred, t.obj, t.objKind.toInt))
    assert(got.length == expected.size && got.toSet == expected)
  }

  test("emitTriples rows sit in the hash partition of their repo") {
    import spark.implicits._
    val cfg8 = Corpus.Config(nRepos = 8, baseFilesPerRepo = 6)
    val dictNames = (0 until cfg8.nEntities).map(Corpus.entityName)
    val files = Corpus.generate(spark, cfg8)
    val linked = Kg.linkMentions(
      Kg.detectMentions(files, spark.sparkContext.broadcast(dictNames.toSet)),
      dictNames.toDF("name"))
    val cc = Kg.connectedComponents(dictNames.toDF("name"), Kg.detectAliases(files))
    val width = spark.sessionState.conf.numShufflePartitions
    val placed = Kg.emitTriples(linked, cc).select(col("repo"),
      (spark_partition_id() === pmod(hash(col("repo")), lit(width))).as("home"))
      .groupBy("home").agg(count(lit(1)).as("n"), countDistinct("repo").as("repos"))
      .as[(Boolean, Long, Long)].collect()
    assert(placed.map(r => r._1 -> r._3).toSeq == Seq(true -> 8L), placed.toSeq)
  }

  test("canonical output is deterministic across independent work dirs") {
    val w1 = Files.createTempDirectory("kgd1").toString
    val w2 = Files.createTempDirectory("kgd2").toString
    KgPipeline.run(spark, w1, cfg)
    KgPipeline.run(spark, w2, cfg)
    def shas(w: String) = spark.read.parquet(s"$w/canon")
      .select("key", "outputSha256").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(shas(w1) == shas(w2))
  }
}
