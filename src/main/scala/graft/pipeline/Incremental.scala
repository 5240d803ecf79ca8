package graft.pipeline

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}

/** Incremental per-repo recanonicalization — the operational story at
  * 100 TB: a daily snapshot changes a sliver of repositories, so the
  * expensive stages (mention scan, link join, RDFC-1.0 kernel) must
  * run on exactly that sliver, never the corpus.
  *
  * Change detection:
  *  - per-repo input fingerprint = order-insensitive xor of
  *    xxhash64(path, content_sha) over the repo's files — one cheap
  *    columnar aggregation over the scan, no content reads beyond
  *    the already-materialized sha column;
  *  - a GLOBAL connected-components fingerprint guards correctness:
  *    alias edges from ANY repo can merge entities and thereby change
  *    blank-node labels inside UNCHANGED repos, so if the canonical
  *    entity map differs at all from the previous run the increment
  *    degrades (soundly) to a full recompute. In practice the
  *    dictionary-sized map is stable across snapshots.
  *
  * State is CONTENT-ADDRESSED: the per-repo state rows carry only
  * `outputSha256` (plus small metrics); the canonical N-Quads
  * documents live once in a separate `(outputSha256, canonicalNQuads)`
  * doc store keyed by their own sha. An increment therefore writes
  * large strings only for freshly produced documents — carrying an
  * unchanged repo forward moves a fixed-width row, never its
  * multi-KB canonical text (the round-2 design rewrote every reused
  * document's string through each state union). [[Increment.resolve]]
  * joins the text back on demand; `IncrementalSpec` pins
  * incremental == from-scratch byte equality through that join.
  *
  * Unchanged repos carry their previous state rows forward untouched;
  * deleted repos drop out (state inner-joins the current snapshot's
  * repo set). The doc store is append-only garbage: orphaned documents
  * can be vacuumed by an occasional anti-join against state — never on
  * the increment's critical path.
  */
object Incremental {

  /** (repo, fingerprint) for the current snapshot. bit_xor is the
    * order-insensitive, overflow-free combiner (ANSI mode rejects a
    * wrapping sum); paths are unique per repo, so xor cannot cancel. */
  def fingerprints(files: Dataset[FileRow]): DataFrame =
    files.toDF().groupBy("repo")
      .agg(expr("bit_xor(xxhash64(path, content_sha))").as("fingerprint"))

  /** Partition column for the bucketed corpus layout. */
  val RepoBucketCol = "repo_bucket"

  /** Deterministic repo → bucket assignment (hash, not identity: at
    * 10^9 repos a per-repo partition would melt the metastore; a few
    * hundred buckets keep partition counts sane while still letting
    * an increment skip ~(1 - changedBuckets/nBuckets) of the bytes). */
  def repoBucket(nBuckets: Int): Column =
    pmod(xxhash64(col("repo")), lit(nBuckets.toLong)).cast("int")

  /** Name of the tiny layout-metadata file persisted next to a
    * bucketed corpus: holds the nBuckets the layout was WRITTEN with,
    * so a later [[runBucketed]] cannot silently prune with a different
    * bucket function (a mismatch would drop changed repos' files from
    * the static partition filter — silent state data loss). */
  private val BucketsMetaFile = "_graft_nbuckets"

  private def bucketsMetaPath(path: String) =
    new org.apache.hadoop.fs.Path(path, BucketsMetaFile)

  /** The persisted nBuckets of a [[writeBucketed]] layout, if any. */
  def readLayoutBuckets(spark: SparkSession, path: String): Option[Int] =
    try {
      val p = bucketsMetaPath(path)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (!fs.exists(p)) None
      else {
        val in = fs.open(p)
        try Some(scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim.toInt)
        finally in.close()
      }
    } catch { case scala.util.control.NonFatal(_) => None }

  /** Write the corpus partitioned by repo bucket — the layout that
    * turns [[run]]'s deployment note into reality: the changed-repo
    * filter becomes a PARTITION filter, so unchanged buckets are never
    * read from storage (see [[prunedChangedFiles]]). One task per
    * bucket keeps one file per partition directory. The bucket count
    * is persisted alongside the data ([[BucketsMetaFile]]) and
    * validated by [[runBucketed]]. */
  def writeBucketed(files: Dataset[FileRow], path: String,
                    nBuckets: Int = 64): Unit = {
    files.toDF()
      .withColumn(RepoBucketCol, repoBucket(nBuckets))
      .repartition(col(RepoBucketCol))
      .write.partitionBy(RepoBucketCol).mode("overwrite").parquet(path)
    val p = bucketsMetaPath(path)
    val fs = p.getFileSystem(
      files.sparkSession.sparkContext.hadoopConfiguration)
    val out = fs.create(p, true)
    try out.write(nBuckets.toString.getBytes(
      java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }

  /** The bucketed corpus back as FileRow (bucket column dropped; it is
    * derivable from repo and only exists for partition pruning). */
  def readBucketed(spark: SparkSession, path: String): Dataset[FileRow] = {
    import spark.implicits._
    spark.read.parquet(path).drop(RepoBucketCol).as[FileRow]
  }

  /** Changed-repo file read with GUARANTEED partition pruning: the
    * distinct changed buckets (at most nBuckets small ints — one tiny
    * job over the changed-repo list) become a STATIC `isin` filter on
    * the partition column, which Spark turns into PartitionFilters on
    * the scan — unchanged buckets are never listed, opened, or
    * fetched. Static beats dynamic partition pruning here: DPP is a
    * planner heuristic that can decline; an explicit partition-column
    * predicate cannot. The row-level changed-repo semi-join still runs
    * within the surviving buckets. Asserted plan-level in
    * IncrementalSpec. */
  def prunedChangedFiles(bucketed: DataFrame, changedRepos: DataFrame,
                         nBuckets: Int): Dataset[FileRow] = {
    val spark = bucketed.sparkSession
    import spark.implicits._
    val buckets = changedRepos
      .select(repoBucket(nBuckets).as("b")).distinct()
      .as[Int].collect().sorted
    bucketed
      .where(col(RepoBucketCol).isin(buckets.map(Int.box): _*))
      .join(broadcast(changedRepos.select("repo")), Seq("repo"), "left_semi")
      .drop(RepoBucketCol)
      .as[FileRow]
  }

  /** Order-insensitive fingerprint of the canonical entity map. */
  def canonMapFingerprint(canonMap: DataFrame): Long = {
    val r = canonMap.agg(expr("bit_xor(xxhash64(entity, canonical))")).head()
    if (r.isNullAt(0)) 0L else r.getLong(0)
  }

  private val StateCols =
    Seq("repo", "fingerprint", "status", "quadCount", "bnodeCount", "outputSha256")

  /** Result of one incremental run. `fresh` rows were recomputed,
    * `reused` rows carried forward — both WITHOUT document bodies;
    * `state` is the full new snapshot state (the table to persist for
    * the next increment). `newDocs` holds the (outputSha256,
    * canonicalNQuads) pairs produced by THIS increment — append them
    * to the content-addressed doc store via [[appendDocs]].
    * `aliases` is the repo-attributed alias edge set for THIS
    * snapshot — persist it alongside `state` and pass it back as
    * `prevAliases` so the next increment's alias scan is O(changed)
    * instead of a full corpus content scan (see [[run]]). */
  final case class Increment(ccFingerprint: Long, fresh: DataFrame,
                             reused: DataFrame, newDocs: DataFrame,
                             aliases: DataFrame) {
    def state: DataFrame = fresh.unionByName(reused)
  }

  /** (repo, src, dst) alias edges — the repo-attributed variant of
    * `Kg.detectAliases`, so edges of unchanged repos can be carried
    * forward by fingerprint instead of re-scanned: alias facts are a
    * pure function of repo content, and an unchanged fingerprint
    * means unchanged content. */
  def aliasEdgesByRepo(files: Dataset[FileRow]): DataFrame = {
    val spark = files.sparkSession
    import spark.implicits._
    files.mapPartitions { it =>
      it.flatMap { f =>
        val out = Vector.newBuilder[(String, String, String)]
        Kg.scanAliases(f.content)((a, b) => out += ((f.repo, a, b)))
        out.result()
      }
    }.toDF("repo", "src", "dst").dropDuplicates("repo", "src", "dst")
  }

  /** Content-addressed append: only shas the store has not seen are
    * written (idempotent under replay). The delta is anti-joined
    * against the store's sha COLUMN — the store's document bodies are
    * never shuffled or rewritten, so an increment's append cost is
    * O(delta bodies + store keys), not O(store) (the previous
    * union+dropDuplicates re-deduped the whole store, bodies and all,
    * on every increment). */
  def appendDocs(store: DataFrame, newDocs: DataFrame): DataFrame = {
    val unseen = newDocs.dropDuplicates("outputSha256")
      .join(store.select("outputSha256"), Seq("outputSha256"), "left_anti")
    store.unionByName(unseen)
  }

  /** Orphan GC for the append-only doc store: keep exactly the
    * documents some live state row still references (left-semi on the
    * sha — one key-only shuffle, bodies move only into the surviving
    * output). Runs OFF the increment's critical path, occasionally —
    * orphans are only ever garbage, never a correctness issue, because
    * [[resolve]] joins BY sha and unreferenced shas can't be joined. */
  def vacuum(store: DataFrame, state: DataFrame): DataFrame =
    store.join(state.select("outputSha256").distinct(),
      Seq("outputSha256"), "left_semi")

  /** Join document bodies back onto state rows (broadcast-free: both
    * sides shuffle on the sha — at scale the doc store is as large as
    * the corpus output). Only ok-status rows have a document. */
  def resolve(state: DataFrame, docStore: DataFrame): DataFrame =
    state.join(docStore, Seq("outputSha256"), "left")
      .select((StateCols :+ "canonicalNQuads").map(col): _*)

  /** Canonicalize the snapshot incrementally against `prev` =
    * (previous ccFingerprint, previous state) from the last run; pass
    * None for the bootstrap (everything fresh).
    *
    * `prevAliases` (the previous run's [[Increment.aliases]]) makes
    * the alias scan itself incremental: without it every increment
    * pays one full-corpus CONTENT scan just to rebuild the global
    * entity map for the soundness guard — measured at 20k synthetic
    * repos that scan canceled the entire kernel saving
    * (IncrementalBench: increment 4.4 s vs bootstrap 3.8 s). With it,
    * only changed repos' content is scanned; unchanged repos' edges
    * carry forward BY FINGERPRINT (alias facts are a pure function of
    * content, and an unchanged fingerprint means unchanged content),
    * deleted repos' edges drop out, and the resulting global entity
    * map is identical to a full rescan — so the ccFingerprint guard
    * retains exactly its old semantics. */
  def run(files: Dataset[FileRow], dictNames: Seq[String],
          prev: Option[(Long, DataFrame)],
          opts: graft.canon.CanonOptions = graft.canon.CanonOptions.default,
          prevAliases: Option[DataFrame] = None,
          changedFilesReader: Option[DataFrame => Dataset[FileRow]] = None): Increment = {
    val spark = files.sparkSession
    import spark.implicits._
    // changed-repo content reads go through the bucket-pruned reader
    // when the corpus layout supports it, else a row-level semi-join
    // (which scans but drops unchanged repos' rows — the deployment
    // note below)
    def filesOf(changedRepos: DataFrame): Dataset[FileRow] =
      changedFilesReader match {
        case Some(reader) => reader(changedRepos)
        case None => files.toDF()
          .join(broadcast(changedRepos), Seq("repo"), "left_semi").as[FileRow]
      }
    val dictBc = spark.sparkContext.broadcast(dictNames.toSet)
    val dictDf = dictNames.toDF("name")

    // per-repo fingerprints: one row per repo, consumed by FOUR
    // downstream paths (changed detection, the alias carry joins, the
    // reused semi-join, and — on bootstrap — the fresh join). Without
    // materialization each consumer re-runs the corpus-wide groupBy;
    // localCheckpoint computes it once (eager, tiny table).
    val fps = fingerprints(files).localCheckpoint()

    // fingerprint-changed repos (independent of the entity map)
    val changedByFp: DataFrame = prev match {
      case Some((_, prevState)) =>
        fps.join(
            prevState.select(col("repo"), col("fingerprint").as("prev_fp")),
            Seq("repo"), "left")
          .where(col("prev_fp").isNull || col("prev_fp") =!= col("fingerprint"))
          .select("repo", "fingerprint")
      case None => fps
    }

    // alias edges: dictionary-scale, consumed by the CC probes/collect
    // (several jobs) and returned as carried state — materialized once
    // so the content scan (or the carry joins) never re-executes
    // CHANGED-repo lists are broadcast-hinted wherever they gate a
    // corpus-side semi-join: the changed sliver is orders of magnitude
    // smaller than the content rows it filters, but the planner cannot
    // see that through a localCheckpoint boundary and falls back to a
    // sort-merge join that shuffles the whole content column —
    // measured at 2000 padded repos (~550 MB content) as a 22 s
    // increment vs 3.5 s with the hint. The FULL repo list (fps) is
    // deliberately NOT hinted: one row per repo is unbounded at the
    // 100 TB posture (10^9+ repos would blow the driver and Spark's
    // hard broadcast limits), and the joins it gates are
    // narrow-row-to-narrow-row (alias edges / state rows vs repo
    // names) where a shuffled join is the correct plan at scale.
    // on the carry path the alias scan and the mention scan below both
    // read exactly the fingerprint-changed repos' content: materialize
    // that sliver ONCE (eager localCheckpoint, O(changed) rows) so the
    // storage read — pruned or not — happens a single time
    var sharedChangedFiles: Option[Dataset[FileRow]] = None
    val aliases: DataFrame = ((prev, prevAliases) match {
      case (Some(_), Some(prevA)) =>
        val changedRepos = changedByFp.select("repo")
        val changedContent = filesOf(changedRepos).localCheckpoint()
        sharedChangedFiles = Some(changedContent)
        prevA
          .join(broadcast(changedRepos), Seq("repo"), "left_anti") // stale edges of changed repos
          .join(fps.select("repo"), Seq("repo"), "left_semi") // deleted repos drop
          .unionByName(aliasEdgesByRepo(changedContent))
      case _ => aliasEdgesByRepo(files)
    }).localCheckpoint()
    val cc = Kg.connectedComponents(dictDf,
      aliases.select("src", "dst").dropDuplicates("src", "dst").as[AliasEdge])
    val ccFp = canonMapFingerprint(cc)

    val changed: DataFrame = prev match {
      case Some((prevCcFp, _)) if prevCcFp == ccFp => changedByFp
      case _ =>
        // no previous state, or the entity map moved: full recompute
        fps
    }

    // the expensive stages see ONLY the changed repos' files; when
    // EVERYTHING is fresh (bootstrap / entity-map move: `changed` is
    // the fps reference itself) the semi-join is a no-op — skip it
    // rather than broadcast the full repo list for nothing.
    // Without a bucketed layout this filter prunes ROWS after the
    // scan; [[runBucketed]] supplies a changedFilesReader that prunes
    // PARTITIONS, so unchanged buckets are never read at all.
    // when the entity map held steady, `changed` IS changedByFp — the
    // sliver already materialized for the alias scan; reuse it
    val changedFiles =
      if (changed eq fps) files
      else sharedChangedFiles.getOrElse(filesOf(changed.select("repo")))
    val linked = Kg.linkMentions(Kg.detectMentions(changedFiles, dictBc), dictDf)
    val freshFull = Kg.canonicalizeFromMentions(linked, cc, opts).toDF()
      .withColumnRenamed("key", "repo")
      .join(changed, Seq("repo"))
      .localCheckpoint() // computed once; consumed by fresh AND newDocs
    val fresh = freshFull.select(StateCols.map(col): _*)
    val newDocs = freshFull
      .where(col("status") === "ok")
      .select("outputSha256", "canonicalNQuads")
      .dropDuplicates("outputSha256")

    val reused: DataFrame = prev match {
      case Some((prevCcFp, prevState)) if prevCcFp == ccFp =>
        prevState
          .join(broadcast(changed.select("repo")), Seq("repo"), "left_anti")
          // full repo list: NOT broadcast (unbounded at scale — see
          // the aliases note); narrow state rows vs narrow names
          .join(fps.select("repo"), Seq("repo"), "left_semi") // drop deleted repos
          .select(StateCols.map(col): _*)
      case _ =>
        spark.emptyDataFrame.limit(0)
          .select(lit("").as("repo"), lit(0L).as("fingerprint"),
            lit("").as("status"), lit(0L).as("quadCount"),
            lit(0).as("bnodeCount"), lit("").as("outputSha256"))
    }

    Increment(ccFp, fresh, reused, newDocs, aliases)
  }

  /** [[run]] over a corpus written with [[writeBucketed]]: identical
    * semantics and output (pinned by IncrementalSpec), but every
    * changed-repo CONTENT read carries a static partition filter on
    * the bucket column, so an increment's input bytes scale with the
    * changed sliver's buckets instead of the corpus. The one remaining
    * corpus-wide pass (per-repo fingerprints) is columnar — it reads
    * (repo, path, content_sha), never content, and parquet column
    * pruning keeps it cheap. The alias scan reads content only for
    * the changed sliver once carried edges exist (`prevAliases`); the
    * FIRST increment has no carry and necessarily scans all content
    * once to discover alias edges. */
  def runBucketed(spark: SparkSession, corpusPath: String,
                  dictNames: Seq[String],
                  prev: Option[(Long, DataFrame)],
                  opts: graft.canon.CanonOptions = graft.canon.CanonOptions.default,
                  prevAliases: Option[DataFrame] = None,
                  nBuckets: Int = 64): Increment = {
    // the layout's OWN bucket count wins; a caller-supplied count that
    // disagrees with it is a hard error, not a silent wrong partition
    // filter (changed repos' files would be dropped from the pruned
    // read — silent state data loss)
    val effBuckets = readLayoutBuckets(spark, corpusPath) match {
      case Some(persisted) =>
        require(nBuckets == persisted,
          s"runBucketed: nBuckets=$nBuckets does not match the bucketed " +
            s"layout at $corpusPath (written with nBuckets=$persisted); " +
            "a mismatched bucket function would silently drop changed " +
            "repos from the static partition filter")
        persisted
      case None => nBuckets // pre-metadata layout: trust the caller
    }
    val bucketed = spark.read.parquet(corpusPath)
    run(readBucketed(spark, corpusPath), dictNames, prev, opts, prevAliases,
      changedFilesReader = Some(prunedChangedFiles(bucketed, _, effBuckets)))
  }
}
