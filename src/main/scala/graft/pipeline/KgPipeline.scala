package graft.pipeline

import graft.util.MiniJson
import graft.util.MiniJson.{JBool, JNum, JObj}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths, StandardCopyOption}

/** End-to-end KG-construction pipeline (the BASELINE.json north star):
  * corpus scan → sha256 invariant → mention detection → entity-link
  * scoring → connected-components merge → triple emission → dedup →
  * per-repo RDFC-1.0 canonicalization → partitioned materialize with
  * per-partition metrics.
  *
  * Checkpoint/resume: each stage lands in `workDir/<stage>` (Parquet,
  * atomic via Spark's _SUCCESS commit) and is recorded in a JSON
  * snapshot manifest `workDir/_snapshot.json` (written tmp+rename).
  * A rerun skips every stage whose manifest entry and _SUCCESS marker
  * both exist — emulating Iceberg snapshot semantics (no Iceberg jar
  * in this offline sandbox; schema and behavior documented in
  * BENCH/BASELINE.md).
  *
  * Scale design notes (100 TB):
  *  - corpus scan is a plain columnar scan: filters/pruning reach
  *    parquet; stages select only needed columns before wide ops.
  *  - dictionary joins are broadcast; the only big shuffle is the
  *    exchange of the linked mentions on repo into the per-graph spine
  *    (CanonEngine.perGraph; unavoidable: graph-local state) that runs
  *    Kg.emitTriples. The spine declares its output hash-partitioned
  *    on repo, so the triple dedup and the per-repo canonicalization
  *    reuse that exchange instead of shuffling the larger triple set.
  *  - CC runs on the tiny alias-edge set, localCheckpoint per
  *    iteration truncates lineage.
  *  - all stage outputs are Parquet → resume cost is O(changed
  *    stages), not O(pipeline).
  */
object KgPipeline {

  final case class StageResult(name: String, rows: Long, skipped: Boolean)

  final class Runner(spark: SparkSession, workDir: String, cfg: Corpus.Config) {
    import spark.implicits._

    private val manifestPath = Paths.get(workDir, "_snapshot.json")
    private var manifest: Map[String, Long] = loadManifest()
    private val results = Vector.newBuilder[StageResult]

    private def loadManifest(): Map[String, Long] =
      if (Files.exists(manifestPath)) {
        MiniJson.parse(new String(Files.readAllBytes(manifestPath), UTF_8)) match {
          case o: JObj => o.v.collect { case (k, JNum(n)) => k -> n.toLong }.toMap
          case _       => Map.empty
        }
      } else Map.empty

    private def saveManifest(): Unit = {
      Files.createDirectories(Paths.get(workDir))
      val json = manifest.toSeq.sorted
        .map { case (k, v) => s""""${MiniJson.escape(k)}":$v""" }
        .mkString("{", ",", "}")
      val tmp = Paths.get(workDir, "_snapshot.json.tmp")
      Files.write(tmp, json.getBytes(UTF_8))
      Files.move(tmp, manifestPath, StandardCopyOption.ATOMIC_MOVE,
        StandardCopyOption.REPLACE_EXISTING)
    }

    private def stageDir(name: String) = s"$workDir/$name"

    private def complete(name: String): Boolean =
      manifest.contains(name) &&
        Files.exists(Paths.get(stageDir(name), "_SUCCESS"))

    /** Run `write` (materializing into the stage dir) unless the
      * stage is already complete; returns the stage's DataFrame
      * (reloaded from Parquet either way, so downstream lineage starts
      * at a scan). */
    def stageWith(name: String)(write: String => Unit): DataFrame = {
      if (!complete(name)) {
        write(stageDir(name))
        val rows = spark.read.parquet(stageDir(name)).count()
        manifest += name -> rows
        saveManifest()
        results += StageResult(name, rows, skipped = false)
      } else {
        results += StageResult(name, manifest(name), skipped = true)
      }
      spark.read.parquet(stageDir(name))
    }

    def stage(name: String)(build: => DataFrame): DataFrame =
      stageWith(name)(dir => build.write.mode(SaveMode.Overwrite).parquet(dir))

    def run(): PipelineReport = {
      val dictNames = (0 until cfg.nEntities).map(Corpus.entityName)
      val dictBc = spark.sparkContext.broadcast(dictNames.toSet)
      val dictDf = dictNames.toDF("name")

      // corpus materializes in the PRUNABLE repo-bucket layout by
      // default (round-5 proved it via IncrementalBench only): an
      // incremental consumer of this corpus gets static partition
      // pruning for free, and the layout's nBuckets is persisted +
      // validated by Incremental.runBucketed
      val corpus = stageWith("corpus")(dir =>
        Incremental.writeBucketed(Corpus.generate(spark, cfg), dir))

      // per-row content sha256 invariant: generator hash (JVM
      // MessageDigest) vs Spark's independent sha2 codegen expression
      val violations = corpus
        .where(sha2(col("content"), 256) =!= col("content_sha"))
        .limit(1).count()
      require(violations == 0, s"content sha256 invariant violated")

      val files = corpus.drop(Incremental.RepoBucketCol).as[FileRow]
      val mentions = stage("mentions")(Kg.detectMentions(files, dictBc).toDF())
      val aliases = stage("aliases")(Kg.detectAliases(files).toDF())
      val linked = stage("links")(
        Kg.linkMentions(mentions.as[Mention], dictDf).toDF())
      val canonMap = stage("cc")(
        Kg.connectedComponents(dictDf, aliases.as[AliasEdge]))
      val triples = stage("triples")(
        Kg.dedupTriples(Kg.emitTriples(linked.as[LinkedMention], canonMap)))
      val canon = stage("canon")(
        Kg.canonicalizeTriples(triples).toDF())

      // materialize: partition by repo bucket, with per-partition
      // triple-count + hash-stability metrics
      if (!complete("graph")) {
        triples.withColumn("repoBucket", pmod(xxhash64(col("repo")), lit(16)))
          .write.mode(SaveMode.Overwrite).partitionBy("repoBucket")
          .parquet(stageDir("graph"))
        manifest += "graph" -> manifest("triples")
        saveManifest()
        results += StageResult("graph", manifest("triples"), skipped = false)
      } else results += StageResult("graph", manifest("graph"), skipped = true)

      val partMetrics = stage("metrics")(
        spark.read.parquet(stageDir("graph"))
          .groupBy("repoBucket")
          .agg(count(lit(1)).as("triple_count"),
            // order-insensitive content hash: sum of per-row hashes
            sum(crc32(concat_ws("", col("repo"), col("subj"),
              col("pred"), col("obj")))).as("content_hash"))
      )

      // triple P/R vs the reference (planted) extraction, computed on
      // entity mention sets resolved through the same canonical map
      val (tp, nGot, nTruth) = matchCounts(
        Kg.resolveMentions(spark.read.parquet(stageDir("links")), canonMap),
        Kg.resolveMentions(Corpus.groundTruth(spark, cfg).toDF(), canonMap))
      val precision = if (nGot == 0) 0.0 else tp.toDouble / nGot
      val recall = if (nTruth == 0) 0.0 else tp.toDouble / nTruth

      val graphs = canon.agg(count(when(col("status") === "ok", 1)), count(lit(1))).head()
      PipelineReport(results.result(), precision, recall, graphs.getLong(0),
        graphs.getLong(1), manifest)
    }
  }

  /** (true positives, got rows, truth rows) of two mention sets in one
    * action: one group per distinct (repo, path, canonical, offset)
    * with a row count per side. A group with rows on both sides is a
    * true positive (`intersect`'s set semantics); the sums keep
    * `count()`'s row semantics. */
  private[pipeline] def matchCounts(got: DataFrame, truth: DataFrame): (Long, Long, Long) = {
    val key = Seq("repo", "path", "canonical", "offset").map(col)
    def side(df: DataFrame, g: Int) = df.select(key :+ lit(g).as("g") :+ lit(1 - g).as("t"): _*)
    val r = side(got, 1).union(side(truth, 0))
      .groupBy(key: _*).agg(sum("g").as("g"), sum("t").as("t"))
      .agg(count(when(col("g") > 0 && col("t") > 0, 1)),
        coalesce(sum("g"), lit(0L)), coalesce(sum("t"), lit(0L)))
      .head()
    (r.getLong(0), r.getLong(1), r.getLong(2))
  }

  final case class PipelineReport(
      stages: Vector[StageResult],
      precision: Double,
      recall: Double,
      okGraphs: Long,
      totalGraphs: Long,
      manifest: Map[String, Long]
  )

  def run(spark: SparkSession, workDir: String,
          cfg: Corpus.Config = Corpus.Config()): PipelineReport =
    new Runner(spark, workDir, cfg).run()
}
