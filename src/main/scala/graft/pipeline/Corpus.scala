package graft.pipeline

import org.apache.spark.sql.{Dataset, Encoder, SparkSession}

/** One row of the Iceberg-shaped source-code corpus
  * (BASELINE.json input_hint): `(repo, path, commit, lang, content)`
  * plus the generator-recorded `content_sha` used for the per-row
  * sha256 invariant (checked later with Spark's independent
  * `sha2(content, 256)` implementation).
  */
final case class FileRow(
    repo: String,
    path: String,
    commit: String,
    lang: String,
    content: String,
    content_sha: String
)

/** Ground-truth mention planted by the generator (the "reference
  * extraction" oracle for triple P/R). */
final case class PlantedMention(
    repo: String,
    path: String,
    entity: String,
    offset: Long,
    surface: String
)

/** Deterministic synthetic source-code corpus generator.
  *
  * Everything is content-derived from (seed, repoIdx, fileIdx) — no
  * `monotonically_increasing_id`, no RNG shared across rows — so any
  * rerun/resume/partition-count produces byte-identical rows (SURVEY
  * §7.4-5). Repo sizes are skewed (repo 0 is a mega-repo with
  * `skewFactor`× the base file count) to exercise the pipeline's skew
  * handling.
  *
  * Generation is distributed: `spark.range(totalFiles)` + a map from
  * the global index to (repo, fileIdx) via a precomputed cumulative
  * offset table (tiny, broadcast by closure capture).
  */
object Corpus {

  /** Entity dictionary: deterministic CamelCase names. These are the
    * only CamelCase tokens the generator ever emits, so the planted
    * mention list is exactly the set of dictionary-token occurrences.
    */
  private val Syllables = Vector(
    "Data", "Stream", "Graph", "Node", "Index", "Shard", "Query", "Plan",
    "Merge", "Batch", "Cache", "Store", "Link", "Hash", "Scan", "Sort")

  def entityName(k: Int): String = {
    val a = Syllables(k % 16)
    val b = Syllables((k / 16) % 16)
    val suffix = if (k >= 256) (k / 256).toString else ""
    a + b + suffix
  }

  final case class Config(
      nRepos: Int = 20,
      baseFilesPerRepo: Int = 10,
      skewFactor: Int = 8, // repo 0 has skewFactor * base files
      nEntities: Int = 128,
      mentionsPerFile: Int = 6,
      seed: Long = 42L,
      // deterministic filler appended AFTER all mentions/aliases (so
      // offsets and planted facts are untouched): models real file
      // bodies, whose bytes dominate scan cost at production scale.
      // 0 (the default) reproduces the historical corpus byte-exactly.
      contentPadChars: Int = 0
  ) {
    def filesInRepo(r: Int): Int =
      if (r == 0) baseFilesPerRepo * skewFactor
      else baseFilesPerRepo + (mix64(seed ^ r.toLong) % baseFilesPerRepo).toInt.abs
    lazy val repoOffsets: Array[Long] = {
      val o = new Array[Long](nRepos + 1)
      var i = 0
      while (i < nRepos) { o(i + 1) = o(i) + filesInRepo(i); i += 1 }
      o
    }
    def totalFiles: Long = repoOffsets(nRepos)
  }

  private val Langs = Vector("scala", "rust", "py", "go")

  /** splitmix64 — deterministic per-row hash chain. */
  def mix64(x0: Long): Long = {
    var x = x0 + 0x9E3779B97F4A7C15L
    x = (x ^ (x >>> 30)) * 0xBF58476D1CE4E5B9L
    x = (x ^ (x >>> 27)) * 0x94D049BB133111EBL
    x ^ (x >>> 31)
  }

  def sha256Hex(s: String): String = graft.spark.CanonEngine.sha256Hex(s)

  /** Build one file + its planted mentions. Pure function of
    * (cfg, repoIdx, fileIdx). */
  def buildFile(cfg: Config, repoIdx: Int, fileIdx: Int): (FileRow, Seq[PlantedMention]) = {
    val repo = f"repo$repoIdx%04d"
    val path = f"src/m${fileIdx / 16}%02d/f$fileIdx%05d.${Langs((repoIdx + fileIdx) % 4)}"
    val h0 = mix64(cfg.seed ^ mix64(repoIdx.toLong << 32 | fileIdx.toLong))
    val commit = f"${mix64(h0)}%016x${mix64(h0 + 1)}%016x".take(40)
    val lang = Langs((repoIdx + fileIdx) % 4)

    val sb = new StringBuilder(512)
    val mentions = Vector.newBuilder[PlantedMention]
    def plant(k: Int, surfaceSep: String): Unit = {
      val name = entityName(k)
      sb.append(surfaceSep)
      mentions += PlantedMention(repo, path, name, sb.length.toLong, name)
      sb.append(name)
    }

    sb.append(s"// module $path of $repo\n")
    sb.append(s"package p$repoIdx\n")
    var i = 0
    var h = h0
    while (i < cfg.mentionsPerFile) {
      h = mix64(h)
      val k = ((h % cfg.nEntities).toInt + cfg.nEntities) % cfg.nEntities
      (i % 3: @annotation.switch) match {
        case 0 => plant(k, "import kb."); sb.append('\n')
        case 1 => plant(k, s"val v$i = new "); sb.append("()\n")
        case 2 => plant(k, "fn use(x: "); sb.append(") { x.run() }\n")
      }
      i += 1
    }
    // plant an alias fact in ~1/4 of files (drives connected components)
    h = mix64(h)
    if ((h & 3) == 0 && cfg.nEntities >= 8) {
      val g = (((h >>> 2) % (cfg.nEntities / 4)).toInt + cfg.nEntities / 4) % (cfg.nEntities / 4)
      sb.append("// alias: ")
      mentions += PlantedMention(repo, path, entityName(4 * g), sb.length.toLong, entityName(4 * g))
      sb.append(entityName(4 * g))
      sb.append(' ')
      mentions += PlantedMention(repo, path, entityName(4 * g + 1), sb.length.toLong, entityName(4 * g + 1))
      sb.append(entityName(4 * g + 1))
      sb.append('\n')
    }
    if (cfg.contentPadChars > 0) {
      // hex-word filler: never matches the dictionary, the alias
      // pattern, or any mention surface
      val target = sb.length + cfg.contentPadChars
      var p = 0L
      while (sb.length < target) {
        sb.append(java.lang.Long.toHexString(mix64(h0 ^ (0x70AD000000000000L + p))))
        sb.append(' ')
        p += 1
      }
      sb.append('\n')
    }
    sb.append("// end\n")
    val content = sb.toString
    (FileRow(repo, path, commit, lang, content, sha256Hex(content)), mentions.result())
  }

  /** `pick` of every corpus file, built from its global index, one
    * generation task per core of the session (a file depends only on
    * its index, not on the width). */
  private def built[A: Encoder](spark: SparkSession, cfg: Config)(
      pick: ((FileRow, Seq[PlantedMention])) => IterableOnce[A]): Dataset[A] = {
    val offsets = cfg.repoOffsets
    spark.range(0, cfg.totalFiles, 1, spark.sparkContext.defaultParallelism).flatMap { gi =>
      val r = repoOf(offsets, gi)
      pick(buildFile(cfg, r, (gi - offsets(r)).toInt))
    }
  }

  /** Distributed corpus. */
  def generate(spark: SparkSession, cfg: Config): Dataset[FileRow] = {
    import spark.implicits._
    built(spark, cfg)(f => Iterator.single(f._1))
  }

  /** Ground-truth mentions (same derivation — the oracle side). */
  def groundTruth(spark: SparkSession, cfg: Config): Dataset[PlantedMention] = {
    import spark.implicits._
    built(spark, cfg)(_._2)
  }

  private def repoOf(offsets: Array[Long], gi: Long): Int = {
    var lo = 0
    var hi = offsets.length - 1
    while (lo + 1 < hi) {
      val mid = (lo + hi) >>> 1
      if (offsets(mid) <= gi) lo = mid else hi = mid
    }
    lo
  }
}
