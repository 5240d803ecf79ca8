package graft

import org.apache.spark.sql.execution.SparkPlan
import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan assertions: the plans we ship are the plans we
  * designed — filters reach the parquet scan, small dims broadcast,
  * column pruning survives, and per-graph canonicalization costs
  * exactly one hash exchange on the graph key. */
class PlanSpec extends AnyFunSuite {

  private lazy val spark = SparkTestBase.spark
  private val sf = "/root/testdata/sf0.001"

  private def planOf(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  /** The near-dup shingle kernel is the MapPartitions whose stage reads
    * the text (a query stage is a leaf, so this stops at the exchange). */
  private def readsText(p: SparkPlan): Boolean =
    p.output.exists(_.name == "text") || p.children.exists(readsText)

  test("q01: filter is pushed to the parquet scan and columns pruned") {
    val p = planOf(SparkEntry.queries("q01_filter_project")(spark, sf))
    assert(p.contains("PushedFilters: [IsNotNull(l_quantity), GreaterThan(l_quantity,45.0)]"), p)
    // projection needs only 3 columns; scan schema must not include others
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(readSchema.contains("l_orderkey") && readSchema.contains("l_quantity"))
    assert(!readSchema.contains("l_extendedprice"), readSchema)
  }

  test("q03: dimension join is a broadcast hash join") {
    val p = planOf(SparkEntry.queries("q03_join_segment")(spark, sf))
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("q04: star join broadcasts all three small dims") {
    val p = planOf(SparkEntry.queries("q04_star_join")(spark, sf))
    assert(p.split("BroadcastHashJoin").length >= 4, p) // 3+ broadcast joins
  }

  test("q39: date-part aggregation prunes the scan to exactly two columns") {
    val p = planOf(SparkEntry.queries("q39_date_parts")(spark, sf))
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(readSchema.contains("o_orderdate") && readSchema.contains("o_totalprice"),
      readSchema)
    assert(!readSchema.contains("o_custkey") && !readSchema.contains("o_orderpriority"),
      readSchema)
  }

  test("q38: the props null/empty filter is pushed to the parquet scan") {
    val p = planOf(SparkEntry.queries("q38_json_extract")(spark, sf))
    assert(p.contains("PushedFilters: [IsNotNull(props)"), p)
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(!readSchema.contains("user_id"), readSchema) // pruned
  }

  test("canonicalization costs exactly one exchange, keyed on the graph") {
    import spark.implicits._
    val docs = spark.createDataset(Seq(("g1", "_:a <urn:p> _:b .")))
    val quads = graft.spark.CanonEngine.parseDocuments(docs)
    val plan = planOf(graft.spark.CanonEngine.canonicalizePerGraph(quads).toDF())
    val exchanges = plan.linesIterator.count(_.contains("Exchange hashpartitioning"))
    assert(exchanges == 1, plan)
    // the per-graph kernel streams the key-sorted partition
    assert(plan.contains("MapPartitions graft.spark.CanonEngine"), plan)
  }

  test("the staged KG chain plans exactly one hash exchange") {
    // the mention exchange on repo into emitTriples' per-graph spine
    // serves the dedup and the spine of canonicalizeTriples (q27 is
    // that chain)
    val q27 = SparkEntry.queries("q27_kg_canon")(spark, sf).queryExecution.executedPlan
    val plan = q27.toString
    val exchanges = plan.linesIterator.count(_.contains("Exchange hashpartitioning"))
    assert(exchanges == 1, plan)
    assert(plan.contains("MapPartitions graft.spark.CanonEngine"), plan)
    // the triples come from the per-graph emitter, not a relational
    // window/explode copy of its rules
    object Walk extends org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    val relational = Walk.collect(q27) {
      case n if n.nodeName.contains("Window") || n.nodeName.contains("Generate") => n.nodeName
    }
    assert(relational.isEmpty, plan)
  }

  test("a typed filter over the per-graph spine runs on its objects") {
    // the spine's declared partitioning must not keep the optimizer
    // from dropping the serialize/deserialize pair around the filter
    import spark.implicits._
    val docs = spark.createDataset(Seq(("g1", "_:a <urn:p> _:b .")))
    val ok = graft.spark.CanonEngine.canonicalizePerGraph(
      graft.spark.CanonEngine.parseDocuments(docs)).filter(_.status == "ok")
    val plan = planOf(ok.toDF())
    assert(!plan.contains("newInstance(class graft.spark.CanonResult)"), plan)
    assert(ok.count() == 1)
  }

  test("the fused KG path plans one hash exchange at the session width, no MapGroups") {
    import graft.pipeline.{Corpus, Kg}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    import spark.implicits._
    object Walk extends AdaptiveSparkPlanHelper
    val cfg = Corpus.Config(nRepos = 8, baseFilesPerRepo = 6)
    val dictNames = (0 until cfg.nEntities).map(Corpus.entityName)
    val files = Corpus.generate(spark, cfg)
    val linked = Kg.linkMentions(
      Kg.detectMentions(files, spark.sparkContext.broadcast(dictNames.toSet)),
      dictNames.toDF("name"))
    val cc = Kg.connectedComponents(dictNames.toDF("name"), Kg.detectAliases(files))
    val p = Kg.canonicalizeFromMentions(linked, cc).toDF().queryExecution.executedPlan
    val widths = Walk.collect(p) {
      case e: ShuffleExchangeExec => e.outputPartitioning match {
        case h: HashPartitioning => h.numPartitions
        case other => fail(s"unexpected exchange $other: $p")
      }
    }
    assert(widths == Seq(spark.sessionState.conf.numShufflePartitions), p)
    assert(p.toString.contains("MapPartitions graft.spark.CanonEngine"), p)
    assert(!p.toString.contains("MapGroups"), p)
  }

  test("near-dup calls run the shingle kernel once; q21 candidates need no window") {
    import org.apache.spark.sql.execution.MapPartitionsExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    object Walk extends AdaptiveSparkPlanHelper
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    Seq(
      "q19" -> graft.ops.Dedup.minhashLshPairs(docs, threshold = 0.5),
      "q21 prefix" -> graft.ops.Dedup.ngramJaccardPairs(docs, threshold = 0.5, prefixMinDocs = 0),
      "q21 full" -> graft.ops.Dedup.ngramJaccardPairs(docs, threshold = 0.5,
        prefixMinDocs = Int.MaxValue)
    ).foreach { case (name, df) =>
      df.collect() // AQE settles the final plan (and stage reuse) on execution
      val p = df.queryExecution.executedPlan
      assert(p.toString.contains("isFinalPlan=true"), p)
      val kernels = Walk.collectWithSubqueries(p) {
        case m: MapPartitionsExec if readsText(m) => m
      }
      assert(kernels.size == 1, s"$name runs the shingle kernel ${kernels.size} times: $p")
      if (name.startsWith("q21")) {
        val windows = Walk.collectWithSubqueries(p) {
          case w if w.nodeName.contains("Window") => w
        }
        assert(windows.isEmpty, s"$name: $p")
        assert(!p.toString.contains("collect_list"), s"$name: $p")
      }
    }
  }

  test("near-dup shingle kernel and candidate dedup run at the session width; q21 writes one file") {
    import org.apache.spark.sql.catalyst.expressions.Attribute
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    import org.apache.spark.sql.execution.MapPartitionsExec
    import org.apache.spark.sql.execution.adaptive._
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    object Walk extends AdaptiveSparkPlanHelper
    // every shuffle of a final plan, pre-order, with the partition count
    // its consumer reads it at: AQE's read node when it re-sized the
    // shuffle, else the exchange's own width
    def reads(p: SparkPlan, readAs: Option[Int] = None): Seq[(ShuffleExchangeExec, Int)] =
      p match {
        case a: AdaptiveSparkPlanExec => reads(a.executedPlan)
        case r: AQEShuffleReadExec => reads(r.child, Some(r.partitionSpecs.size))
        case s: QueryStageExec => reads(s.plan, readAs)
        case e: ShuffleExchangeExec =>
          (e, readAs.getOrElse(e.numPartitions)) +: e.children.flatMap(reads(_))
        case other => other.children.flatMap(reads(_))
      }
    def hashedOn(e: ShuffleExchangeExec): Seq[String] = e.outputPartitioning match {
      case h: HashPartitioning => h.expressions.collect { case a: Attribute => a.name }
      case _ => Nil
    }
    val width = spark.sessionState.conf.numShufflePartitions
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    assert(docs.inputFiles.length == 1)
    def q21(minDocs: Int) =
      graft.ops.Dedup.ngramJaccardPairs(docs, threshold = 0.5, prefixMinDocs = minDocs)
    Seq(
      "q19" -> graft.ops.Dedup.minhashLshPairs(docs, threshold = 0.5),
      "q21 prefix" -> q21(0),
      "q21 full" -> q21(Int.MaxValue),
      "q28" -> graft.ops.Dedup.ngramShingleStats(docs, threshold = 0.5)
    ).foreach { case (name, df) =>
      df.collect()
      val p = df.queryExecution.executedPlan
      assert(p.toString.contains("isFinalPlan=true"), p)
      val kernel = Walk.collectWithSubqueries(p) {
        case m: MapPartitionsExec if readsText(m) => m
      }.head
      val textRead = reads(kernel).headOption
      assert(textRead.exists { case (e, w) => hashedOn(e) == Seq("id") && w == width },
        s"$name: the shingle kernel reads $textRead: $p")
      if (!name.startsWith("q28")) {
        val dedup = reads(p).filter { case (e, _) => hashedOn(e) == Seq("id_a", "id_b") }
        assert(dedup.nonEmpty && dedup.forall(_._2 == width),
          s"$name: candidate dedup read at ${dedup.map(_._2)} partitions: $p")
      }
    }
    val out = java.nio.file.Files.createTempDirectory("q21-out").resolve("pairs").toString
    val written = q21(Int.MaxValue)
    written.write.parquet(out)
    val parts = new java.io.File(out).listFiles().filter(_.getName.startsWith("part-"))
    assert(parts.length == 1, parts.map(_.getName).toSeq)
    assert(spark.read.parquet(out).count() == written.count())
  }

  test("q28 and the q21 prefix plan rank on the id side when the df table ships") {
    import org.apache.spark.sql.catalyst.expressions.Attribute
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    import org.apache.spark.sql.execution.MapPartitionsExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    object Walk extends AdaptiveSparkPlanHelper
    // (hashed-on columns, runs after the shingle kernel) per shuffle
    def exchanges(p: SparkPlan): Seq[(Seq[String], Boolean)] = Walk.collectWithSubqueries(p) {
      case e: ShuffleExchangeExec =>
        val on = e.outputPartitioning match {
          case h: HashPartitioning => h.expressions.collect { case a: Attribute => a.name }
          case _ => Nil
        }
        on -> Walk.collect(e.child) { case m: MapPartitionsExec if readsText(m) => m }.nonEmpty
    }
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    def finalPlan(df: org.apache.spark.sql.DataFrame): SparkPlan = {
      df.collect()
      df.queryExecution.executedPlan
    }
    def q28() = finalPlan(graft.ops.Dedup.ngramShingleStats(docs, threshold = 0.5))
    val p28 = q28()
    val ex28 = exchanges(p28)
    assert(!ex28.exists(_._1 == Seq("shingle")), s"q28 shuffles postings: $p28")
    assert(!ex28.exists { case (on, after) => on == Seq("id") && after }, s"q28 re-exchanges on id: $p28")
    // the probe is a query of its own; the stats query runs the kernel
    // once (the kernel: no other MapPartitions between it and the text)
    val kernels = Walk.collectWithSubqueries(p28) {
      case m: MapPartitionsExec if readsText(m) && !m.child.exists(_.isInstanceOf[MapPartitionsExec]) => m
    }
    assert(kernels.size == 1, p28)
    val prefix = finalPlan(graft.ops.Dedup.ngramJaccardPairs(docs, threshold = 0.5, prefixMinDocs = 0))
    val bySh = exchanges(prefix).filter(_._1 == Seq("shingle"))
    assert(bySh.size == 1, s"prefix plan: $prefix")
    // the candidate groups: the one shingle exchange sorted for the kernel
    assert(prefix.toString.contains("Sort [shingle"), prefix)
    // broadcasts disabled: today's postings and rank exchanges
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val restore = spark.conf.get(key)
    val off = try { spark.conf.set(key, "-1"); exchanges(q28()) } finally spark.conf.set(key, restore)
    assert(off.exists(_._1 == Seq("shingle")), off)
    assert(off.exists { case (on, after) => on == Seq("id") && after }, off)
  }

  test("the q21 full plan ships posting lists on the shingle, and sorts them by shingle only") {
    import org.apache.spark.sql.catalyst.expressions.Attribute
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    import org.apache.spark.sql.execution.SortExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.types.ArrayType
    object Walk extends AdaptiveSparkPlanHelper
    def names(es: Seq[org.apache.spark.sql.catalyst.expressions.Expression]): Seq[String] =
      es.collect { case a: Attribute => a.name }
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val df = graft.ops.Dedup.ngramJaccardPairs(docs, threshold = 0.5, prefixMinDocs = Int.MaxValue)
    df.collect()
    val p = df.queryExecution.executedPlan
    val bySh = Walk.collectWithSubqueries(p) {
      case e: ShuffleExchangeExec if (e.outputPartitioning match {
        case h: HashPartitioning => names(h.expressions) == Seq("shingle")
        case _ => false
      }) => e
    }
    assert(bySh.size == 1, p)
    assert(bySh.head.output.exists(_.dataType.isInstanceOf[ArrayType]), bySh.head.output)
    val sorts = Walk.collectWithSubqueries(p) { case s: SortExec => names(s.sortOrder.map(_.child)) }
    assert(sorts.contains(Seq("shingle")), p)
    assert(!sorts.contains(Seq("shingle", "id")), p)
  }

  test("whole-stage codegen covers the scan-side of aggregation queries") {
    val df = SparkEntry.queries("q02_agg_pricing")(spark, sf)
    df.collect() // AQE finalizes (and codegen-compiles) only on execution
    val p = planOf(df)
    assert(p.contains("isFinalPlan=true"), p)
    assert(p.contains("*(1)"), p) // '*' = WholeStageCodegen span
    // partial (map-side) aggregation must be present before the exchange
    assert(p.contains("partial_sum"), p)
  }

  test("ANN candidate dedup shuffles scalars only — never vectors") {
    // the distinct on (id_a, id_b) consumes the cell-local cosine rows
    // (id_a, id_b, cos): its shuffle must carry NO array column —
    // vectors travel once per band into their buckets and are never
    // re-attached to candidate pairs (the pre-r6 join-back shape)
    import org.apache.spark.sql.catalyst.plans.logical.Aggregate
    import org.apache.spark.sql.types.ArrayType
    val df = graft.ops.Similarity.annTopK(
      spark.read.parquet(s"$sf/embeddings.parquet"), k = 3)
    val dedups = df.queryExecution.optimizedPlan.collect {
      case a: Aggregate
          if a.groupingExpressions.size == 2 &&
            Set("id_a", "id_b").subsetOf(a.output.map(_.name).toSet) => a
    }
    assert(dedups.nonEmpty, "candidate dedup aggregate not found")
    dedups.foreach { a =>
      val arrayCols = a.child.output.filter(_.dataType.isInstanceOf[ArrayType])
      assert(arrayCols.isEmpty,
        s"candidate dedup shuffle carries array columns: $arrayCols")
      assert(!a.output.exists(o => o.name == "v_a" || o.name == "v_b"), a.output)
    }
  }

  test("prefix-filtered jaccard join never plans a cartesian product") {
    // the candidate stage must stay bucket-local (shared prefix
    // shingle) at every threshold — a regression to an all-pairs or
    // broadcast-nested-loop shape would explode at scale. Checked on
    // BOTH plans of the adaptive switch (prefix forced with 0, full
    // index forced with MaxValue).
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    Seq(0, Int.MaxValue).foreach { minDocs =>
      val df = graft.ops.Dedup.ngramJaccardPairs(
        docs, threshold = 0.5, prefixMinDocs = minDocs)
      val p = planOf(df)
      assert(!p.contains("CartesianProduct"), s"minDocs=$minDocs: $p")
      assert(!p.contains("BroadcastNestedLoopJoin"), s"minDocs=$minDocs: $p")
    }
  }

  test("metadata-only multimodal projection does not read the payload column") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("mm").toString
    graft.ops.Multimodal.syntheticMedia(spark, 10).write
      .mode("overwrite").parquet(dir)
    val p = planOf(graft.ops.Multimodal.metadataOnly(spark.read.parquet(dir)))
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(!readSchema.contains("payload"), readSchema)
  }
}
