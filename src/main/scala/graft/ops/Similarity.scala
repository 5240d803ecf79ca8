package graft.ops

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame}

/** Similarity search over an embedding column (`array<float>`),
  * matching the `embeddings(vec_id, embedding, label)` table.
  *
  * Two paths:
  *  - brute-force cosine top-k: exact baseline. O(n²) pairs — use on
  *    bounded inputs or broadcastable query sets.
  *  - LSH-bucketed ANN (random-hyperplane signatures): the scale
  *    path — candidates share a signature band bucket, so pair work
  *    is #buckets × bucket² instead of n², hot buckets degrade to
  *    star candidates past `maxBucket`.
  *
  * Determinism/portability: cosine is computed as
  * dot(a,b) / (‖a‖·‖b‖) with strictly sequential double summation
  * over the RAW float vectors (no intermediate float rounding), and
  * hyperplane signs come from md5 — both bit-reproducible in DuckDB
  * SQL, which is how SparkEntry's q22/q23 oracles verify these
  * operators end to end.
  */
object Similarity {

  /** dot(a, b) via zip_with + aggregate — native Column form (used
    * where a one-off expression is clearer than a kernel). */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0d), (acc, v) => acc + v)

  def norm(a: Column): Column =
    sqrt(aggregate(transform(a, x => x * x), lit(0.0d), (acc, v) => acc + v))

  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  private def dotF(a: Array[Float], b: Array[Float]): Double = {
    var s = 0.0
    var i = 0
    val n = math.min(a.length, b.length)
    while (i < n) { s += a(i).toDouble * b(i); i += 1 }
    s
  }

  private val dotUdf = udf((a: Array[Float], b: Array[Float]) => dotF(a, b))

  /** (id, raw vector, L2 norm) via one typed pass — the norm is kept
    * as a double so cosine needs no unit-normalized (float-rounded)
    * copy of the vector. A zero vector gets norm 1.0 so its cosine is
    * exactly 0.0 (dot is 0) instead of NaN — NaN sorts ABOVE every
    * real in Spark, which would rank the zero vector as everyone's
    * top neighbor and pass every >= threshold filter. The SQL oracles
    * carry the same guard. */
  private[ops] def withNorms(vecs: DataFrame, idCol: String, vecCol: String): DataFrame = {
    val spark = vecs.sparkSession
    import spark.implicits._
    // diamond-consumed (banding/centroid assignment + both cosine
    // verify sides + the centroid sample); recomputation measured
    // faster than caching (q34 8x, q21 1.4x slower with a persisted
    // copy at sf1)
    vecs.select(col(idCol).cast("long").as("id"), col(vecCol).as("v"))
      .as[(Long, Array[Float])]
      .mapPartitions(_.map { case (id, v) =>
        val n = math.sqrt(dotF(v, v))
        (id, v, if (n == 0.0) 1.0 else n)
      }).toDF("id", "v", "nrm")
  }

  private def rankTopK(pairs: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy("id_a").orderBy(col("cos").desc, col("id_b"))
    pairs.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select("id_a", "id_b", "cos", "rank")
  }

  /** Exact top-k cosine neighbors for every vector (self-join without
    * self-pairs) — the correctness baseline for ANN. */
  def bruteForceTopK(vecs: DataFrame, k: Int = 5,
                     idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val u = withNorms(vecs, idCol, vecCol)
    val a = u.select(col("id").as("id_a"), col("v").as("v_a"), col("nrm").as("nrm_a"))
    val b = u.select(col("id").as("id_b"), col("v").as("v_b"), col("nrm").as("nrm_b"))
    val pairs = a.crossJoin(b).where(col("id_a") =!= col("id_b"))
      .withColumn("cos", dotUdf(col("v_a"), col("v_b")) / (col("nrm_a") * col("nrm_b")))
    rankTopK(pairs, k)
  }

  /** Deterministic hyperplane matrix: planes(b)(i) = +1 when the first
    * md5 hex digit of "rhp:<seed>:<b>:<i>" is even, else -1 — portable
    * to SQL verbatim. Built once per JVM per (seed, nBits, dim); the
    * previous design re-derived every sign per VECTOR. */
  private val planeCache =
    new java.util.concurrent.ConcurrentHashMap[(Long, Int, Int), Array[Array[Double]]]

  private def planes(seed: Long, nBits: Int, dim: Int): Array[Array[Double]] =
    planeCache.computeIfAbsent((seed, nBits, dim), _ =>
      Array.tabulate(nBits, dim) { (b, i) =>
        val d = LshUtil.md5Local.get(); d.reset()
        val h = d.digest(s"rhp:$seed:$b:$i".getBytes(UTF_8))
        if (((h(0) >> 4) & 1) == 0) 1.0 else -1.0
      })

  /** nBits-bit random-hyperplane signature — cosine-preserving LSH.
    * Sign-invariant to positive per-vector scaling, so it runs on the
    * raw (un-normalized) vector. */
  def rhpSig(v: Array[Float], nBits: Int, seed: Long): Long = {
    val pl = planes(seed, nBits, v.length)
    var sig = 0L
    var b = 0
    while (b < nBits) {
      val p = pl(b)
      var s = 0.0
      var i = 0
      while (i < v.length) { s += v(i) * p(i); i += 1 }
      if (s >= 0) sig |= (1L << b)
      b += 1
    }
    sig
  }

  /** Same-bucket pair cosines computed CELL-LOCALLY: the banded rows
    * carry (id, v, nrm) into ONE hash exchange on (band, bucket) with
    * a secondary sort on id, and a single streaming pass per bucket
    * emits (id_a, id_b, cos) — all pairs for buckets <= maxBucket,
    * hub↔member star pairs past it (hub = min id = the sorted group's
    * first row; task memory stays bounded at maxBucket + 1 buffered
    * rows regardless of bucket size). Compared to the previous
    * id-pairs-then-join-vectors shape, the candidate set is never
    * joined back to the vector table at all — at sf1 scale the two
    * sort-merge joins re-attaching vectors to ~50M candidate rows
    * dominated q30/q35; moving each vector once per band into its
    * bucket is strictly less data motion. A pair that shares several
    * buckets computes the SAME cosine each time (dotF over the same
    * vectors is bit-deterministic), so the dropDuplicates after is
    * byte-equivalent to the old dedup-before-join order. Output:
    * distinct (id_a < id_b, cos). */
  private def bucketCosPairs(banded: org.apache.spark.sql.Dataset[(Long, Int, Long, Array[Float], Double)],
                             maxBucket: Int): DataFrame = {
    val spark = banded.sparkSession
    import spark.implicits._
    LshUtil.sortedGroups(banded.toDF("id", "band", "bucket", "v", "nrm"), "band", "bucket")
      .as[(Long, Int, Long, Array[Float], Double)]
      .mapPartitions(LshUtil.groupPairs(_, maxBucket, Int.MaxValue)(
          (x, y) => x._2 == y._2 && x._3 == y._3)
        .map { case (a, b) => (a._1, b._1, dotF(a._4, b._4) / (a._5 * b._5)) })
      .toDF("id_a", "id_b", "cos")
      .dropDuplicates("id_a", "id_b")
  }

  /** Distinct same-bucket pair cosines from random-hyperplane band
    * signatures (see [[bucketCosPairs]] for the execution shape). */
  private def rhpCosPairs(u: DataFrame, bands: Int, bitsPerBand: Int,
                          seed: Long, maxBucket: Int): DataFrame = {
    val spark = u.sparkSession
    import spark.implicits._
    val nBits = bands * bitsPerBand
    require(nBits <= 63, "bands * bitsPerBand must be <= 63")
    val banded = u.select(col("id"), col("v"), col("nrm"))
      .as[(Long, Array[Float], Double)]
      .mapPartitions(_.flatMap { case (id, v, nrm) =>
        val sig = rhpSig(v, nBits, seed)
        (0 until bands).iterator.map { b =>
          (id, b, (sig >>> (b * bitsPerBand)) & ((1L << bitsPerBand) - 1), v, nrm)
        }
      })
    bucketCosPairs(banded, maxBucket)
  }

  /** Mirror of an undirected (id_a < id_b, cos) pair table for per-id
    * ranking — the cosine is symmetric (dotF's summation order does
    * not depend on argument order), so the mirrored rows carry the
    * identical double. */
  private def mirrored(undirected: DataFrame): DataFrame =
    undirected.union(undirected.select(
      col("id_b").as("id_a"), col("id_a").as("id_b"), col("cos")))

  /** ANN top-k: signature bands as buckets (multi-probe), exact
    * cosine ranking inside buckets. `bitsPerBand` controls the
    * bucket-size / recall trade-off (8 bits → 256 buckets per band).
    * Recall < 1 by construction; compare against bruteForceTopK.
    *
    * Scale shape: the banding rows and the candidate-pair dedup carry
    * ONLY ids — float vectors are re-joined by id after the pair set
    * is distinct, so the bucket join never shuffles two vectors per
    * candidate pair. Buckets past `maxBucket` degrade to star pairs. */
  def annTopK(vecs: DataFrame, k: Int = 5, bands: Int = 3,
              bitsPerBand: Int = 8, seed: Long = 42L,
              idCol: String = "vec_id", vecCol: String = "embedding",
              maxBucket: Int = 2000): DataFrame = {
    val u = withNorms(vecs, idCol, vecCol)
    rankTopK(mirrored(rhpCosPairs(u, bands, bitsPerBand, seed, maxBucket)), k)
  }

  /** BOUNDED centroid selection for [[ivfTopK]]: the `nCentroids`
    * vectors whose md5("ivf:<seed>:<id>") sorts lowest — a uniform
    * deterministic sample of FIXED size. Spark plans the
    * `orderBy(...).limit(K)` as TakeOrderedAndProject (per-partition
    * top-K, driver merges K rows), so driver memory is O(nCentroids)
    * REGARDLESS of input row count — unlike the previous stride
    * quantizer, whose centroid set grew as n/stride (an O(n) driver
    * collect at 100 TB). [[refineCentroids]] layers k-means on top of
    * this sample without touching the plan. Exposed for the
    * boundedness test in OpsSpec. */
  private[ops] def selectCentroids(u: DataFrame, nCentroids: Int,
                                   seed: Long): Array[(Long, Array[Float], Double)] = {
    val spark = u.sparkSession
    import spark.implicits._
    u.withColumn("ck", md5(concat(lit(s"ivf:$seed:"), col("id").cast("string"))))
      .orderBy(col("ck"), col("id"))
      .limit(nCentroids)
      .select("id", "v", "nrm")
      .as[(Long, Array[Float], Double)]
      .collect().sortBy(_._1)
  }

  /** Fixed-point scale for the distributed Lloyd partial sums: each
    * float coordinate contributes round(v · 2^24) as a Long, so the
    * per-centroid reduction is pure Long addition — ASSOCIATIVE AND
    * COMMUTATIVE, hence bit-deterministic under any partitioning,
    * parallelism, or reduction order (double summation is not; the
    * driver-side loop this replaces had to sum id-ascending to stay
    * deterministic). Precision: ~6e-8 absolute per coordinate — far
    * below float ULP at embedding magnitudes. Overflow headroom:
    * 2^18 sample rows · |v| ≤ 2^20 · 2^24 = 2^62. */
  private val LloydFixedPoint = 1L << 24

  /** One Lloyd assignment pass over `rows` into SPARSE fixed-point
    * partial sums keyed by centroid index — the single arithmetic
    * kernel shared VERBATIM by the driver-local and distributed paths
    * of [[refineCentroids]], so the two paths produce bit-identical
    * sums (Long addition is order-independent; the per-row float math
    * is this one code path). State is bounded by the number of rows
    * seen, never K · dim dense. */
  private def lloydPartials(rows: Iterator[(Long, Array[Float], Double)],
                            cs: Array[Array[Float]], cn: Array[Double],
                            dims: Int): java.util.HashMap[Integer, (Array[Long], Array[Long])] = {
    val acc = new java.util.HashMap[Integer, (Array[Long], Array[Long])]()
    rows.foreach { case (_, v, nrm) =>
      var bestI = 0
      var bestCos = Double.NegativeInfinity
      var i = 0
      while (i < cs.length) {
        val c = dotF(v, cs(i)) / (nrm * cn(i))
        if (c > bestCos) { bestCos = c; bestI = i }
        i += 1
      }
      var cell = acc.get(bestI)
      if (cell == null) {
        cell = (new Array[Long](1), new Array[Long](dims))
        acc.put(bestI, cell)
      }
      cell._1(0) += 1L
      var d = 0
      val nd = math.min(dims, v.length) // ragged input: dotF min-guards, so must the sum
      while (d < nd) {
        val x = v(d)
        // magnitude/finiteness precondition of the fixed-point sums
        // (headroom math: 2^18 rows x 2^20 magnitude x 2^24 scale =
        // 2^62): a NaN/Inf or out-of-range coordinate would otherwise
        // become 0 / Long.MaxValue via rint(..).toLong and produce
        // silently garbage centroids — fail loudly instead.
        require(java.lang.Float.isFinite(x) && math.abs(x) <= (1 << 20).toFloat,
          s"refineCentroids: non-finite or |v| > 2^20 coordinate $x " +
            "(fixed-point Lloyd precondition)")
        cell._2(d) += math.rint(x.toDouble * LloydFixedPoint).toLong
        d += 1
      }
    }
    acc
  }

  /** Per-iteration flop budget below which [[refineCentroids]] runs
    * its assignment driver-local instead of as a Spark job: tiny
    * problems should not pay `iters` × (broadcast + job launch +
    * shuffle) in fixed overhead (~10 jobs for the default 5
    * iterations — measured as most of q35's cost at bench scale).
    * 2e8 ≈ 0.2 s of single-core work per iteration; above it the
    * distributed path takes over (at the 100k-centroid cap the
    * product is ~3e12/iter — the round-4 driver-hours regime). Both
    * paths share [[lloydPartials]] and fixed-point reduction, so the
    * choice NEVER changes the result bits (pinned in OpsSpec). */
  private val LocalLloydFlopBudget = 200000000L

  /** Lloyd-refined IVF centroids: start from the md5-ordered member
    * sample of [[selectCentroids]] and run `iters` k-means iterations
    * over a BOUNDED deterministic sample (the first
    * `nCentroids * sampleFactor` vectors in the SAME md5 order, capped
    * at `maxSample` = 262k rows). The assignment step is HYBRID by
    * problem size, with bit-identical results either way:
    *  - above [[LocalLloydFlopBudget]] (sample · K · dim per
    *    iteration) it is DISTRIBUTED — each iteration broadcasts the
    *    K centroids and runs one Spark pass over the sample:
    *    argmax-cosine per row (lowest-index tie-break, the same
    *    (cos desc, cid asc) rule the cell-assignment kernel uses)
    *    into per-partition per-centroid sparse partial sums, reduced
    *    by centroid id — so driver work per iteration is O(K · dim)
    *    (collect K reduced rows, divide), not O(sample · K · dim) as
    *    in the round-4 single-threaded loop (hours at the
    *    100k-centroid cap while the cluster idled). Partial-sum state
    *    per task is bounded by the partition's row count, never
    *    K · dim dense.
    *  - below the budget (< ~0.2 s of arithmetic) the same kernel
    *    ([[lloydPartials]]) runs driver-local over a one-time collect
    *    of the bounded sample, skipping `iters` × (broadcast + job
    *    launch + shuffle) of fixed overhead that would dominate small
    *    refinements.
    *
    * Bit-determinism without an ordered sum: contributions are
    * accumulated in fixed-point Longs (see [[LloydFixedPoint]]), which
    * reduce identically under ANY partitioning — pinned by the OpsSpec
    * repartition-invariance test. Only the K seed rows and the K
    * reduced sums ever reach the driver. An empty cell keeps its seed
    * vector. Mean centroids track cluster centers instead of arbitrary
    * members, which measurably improves recall at equal K/nprobe on
    * clustered data (pinned in OpsSpec). */
  private[ops] def refineCentroids(u: DataFrame, nCentroids: Int, seed: Long,
                                   iters: Int, sampleFactor: Int = 50,
                                   maxSample: Int = 1 << 18,
                                   localFlopBudget: Long = LocalLloydFlopBudget): Array[(Long, Array[Float], Double)] = {
    if (iters <= 0) return selectCentroids(u, nCentroids, seed)
    val spark = u.sparkSession
    import spark.implicits._
    val sampleN = math.max(nCentroids.toLong,
      math.min(nCentroids.toLong * sampleFactor, maxSample.toLong)).toInt
    // the bounded sample, materialized ONCE (localCheckpoint) and kept
    // distributed; limit() collapses to one partition, so spread it
    // back over the cluster before the per-iteration passes
    val parallelism = spark.sparkContext.defaultParallelism
    val sampleDs = u
      .withColumn("ck", md5(concat(lit(s"ivf:$seed:"), col("id").cast("string"))))
      .orderBy(col("ck"), col("id"))
      .limit(sampleN)
      .repartition(parallelism)
      .select("id", "v", "nrm", "ck")
      .localCheckpoint()
    // K seed members = the sample's first K rows in the SAME md5
    // order — one K-row collect, not a sample-sized one
    val init = sampleDs.orderBy(col("ck"), col("id"))
      .limit(nCentroids)
      .select("id", "v", "nrm")
      .as[(Long, Array[Float], Double)]
      .collect().sortBy(_._1)
    if (init.isEmpty) return Array.empty
    val kk = init.length
    val dims = init.head._2.length
    val sample = sampleDs.select("id", "v", "nrm").as[(Long, Array[Float], Double)]
    // HYBRID: below the per-iteration flop budget the assignment runs
    // driver-local over a one-time collect of the (bounded, <= 262k
    // row) sample — same memory footprint the seed superset already
    // had, none of the `iters` x (broadcast + job + shuffle) fixed
    // overhead. Above it, the distributed path. Identical bits either
    // way: one shared kernel, order-independent Long reduction.
    val flopsPerIter = sampleN.toLong * kk.toLong * dims.toLong
    val localSample: Array[(Long, Array[Float], Double)] =
      if (flopsPerIter <= localFlopBudget) sample.collect() else null
    var cents: Array[Array[Float]] = init.map(_._2)
    var it = 0
    while (it < iters) {
      val cnorms = cents.map { c =>
        val n = math.sqrt(dotF(c, c)); if (n == 0.0) 1.0 else n
      }
      val reduced: Array[(Int, Long, Array[Long])] =
        if (localSample != null) {
          import scala.jdk.CollectionConverters._
          lloydPartials(localSample.iterator, cents, cnorms, dims)
            .entrySet().iterator().asScala
            .map(e => (e.getKey.intValue(), e.getValue._1(0), e.getValue._2))
            .toArray
        } else {
          val bc = spark.sparkContext.broadcast((cents, cnorms))
          // one distributed assignment pass: per-partition sparse
          // partial sums, merged with a SHUFFLE-FREE treeReduce —
          // the previous groupByKey(<= K keys).reduceGroups paid a
          // full shuffle exchange per iteration for a reduction whose
          // merged state is at most K sparse entries. Long addition is
          // associative and commutative, so the tree merge order
          // cannot change a bit of the result (same guarantee the
          // per-centroid reduce relied on); the driver receives ONE
          // merged map of <= K entries — O(K · dim) bytes, as before.
          try {
            val merged = sample.rdd.mapPartitions { rows =>
              val (cs, cn) = bc.value
              Iterator.single(lloydPartials(rows, cs, cn, dims))
            }.treeReduce({ (a, b) =>
              val (small, big) = if (a.size <= b.size) (a, b) else (b, a)
              val it = small.entrySet().iterator()
              while (it.hasNext) {
                val e = it.next()
                val cell = big.get(e.getKey)
                if (cell == null) big.put(e.getKey, e.getValue)
                else {
                  cell._1(0) += e.getValue._1(0)
                  val s = cell._2
                  val o = e.getValue._2
                  var d = 0
                  while (d < s.length) { s(d) += o(d); d += 1 }
                }
              }
              big
            }, depth = 2)
            import scala.jdk.CollectionConverters._
            merged.entrySet().iterator().asScala
              .map(e => (e.getKey.intValue(), e.getValue._1(0), e.getValue._2))
              .toArray
          } finally bc.destroy()
        }
      val byCid = reduced.map(r => r._1 -> r).toMap
      cents = Array.tabulate(kk) { i =>
        byCid.get(i) match {
          case Some((_, count, sums)) =>
            Array.tabulate(dims)(d =>
              (sums(d).toDouble / LloydFixedPoint / count).toFloat)
          case None => cents(i) // empty cell keeps its seed
        }
      }
      it += 1
    }
    cents.zipWithIndex.map { case (c, i) =>
      val n = math.sqrt(dotF(c, c))
      (i.toLong, c, if (n == 0.0) 1.0 else n)
    }
  }

  /** IVF ANN top-k — the second scale path next to [[annTopK]]'s LSH:
    * a small deterministic centroid set of AT MOST `nCentroids`
    * vectors (md5-ordered sample — see [[selectCentroids]]; k-means-
    * refined when `refineIters` > 0 — see [[refineCentroids]]) is
    * broadcast, each vector joins its `nprobe` nearest cells,
    * candidates share a cell. Cells bound candidate work to
    * ~(n/#cells)·nprobe² per vector instead of n, the assignment
    * kernel is one broadcast mapPartitions pass (no shuffle), and the
    * candidate shuffle carries ids only. Hot cells degrade to star
    * pairs past `maxBucket`. */
  def ivfTopK(vecs: DataFrame, k: Int = 5, nprobe: Int = 2,
              nCentroids: Int = 100, seed: Long = 42L, idCol: String = "vec_id",
              vecCol: String = "embedding", maxBucket: Int = 2000,
              refineIters: Int = 0): DataFrame = {
    val spark = vecs.sparkSession
    import spark.implicits._
    require(nCentroids >= 1, "nCentroids must be >= 1")
    val u = withNorms(vecs, idCol, vecCol)
    val cents =
      if (refineIters > 0) refineCentroids(u, nCentroids, seed, refineIters)
      else selectCentroids(u, nCentroids, seed)
    require(cents.nonEmpty, "no centroids (empty input)")
    val bc = spark.sparkContext.broadcast(cents)
    val assigned = u.as[(Long, Array[Float], Double)]
      .mapPartitions { it =>
        val cs = bc.value
        it.flatMap { case (id, v, nrm) =>
          // nprobe nearest cells by (cos desc, centroid id asc) —
          // exact doubles, so the SQL oracle reproduces the ranking
          cs.map { case (cid, cv, cn) => (cid, dotF(v, cv) / (nrm * cn)) }
            .sortBy { case (cid, cos) => (-cos, cid) }
            .take(nprobe)
            .iterator.map { case (cid, _) => (id, 0, cid, v, nrm) }
        }
      }
    rankTopK(mirrored(bucketCosPairs(assigned, maxBucket)), k)
  }

  /** SUBLINEAR centroid law for [[ivfTopKAuto]]:
    * K = ceil(sqrt(n · cellFactor)), capped at `maxCentroids`.
    *
    * Why sqrt and not n/cellFactor: IVF pays two costs — the
    * assignment pass is O(n·K) dot products against the broadcast
    * centroids, and the per-cell verify is O(n · cellSize · nprobe²)
    * with cellSize = n/K. A LINEAR K (the round-3 law, K = n/25) keeps
    * cells constant but makes the centroid set itself O(n): an O(n)
    * driver collect, an O(n)-byte broadcast to every executor, and an
    * O(n²/25) assignment pass — the same failure mode as the round-2
    * stride quantizer, one level up. K = sqrt(n·cellFactor) balances
    * the two costs at ~n^1.5 each, and the cap bounds the driver/
    * broadcast footprint absolutely (at the cap the law degrades
    * gracefully to fixed-K with growing cells, never to a growing
    * driver). Exposed for the sublinearity test in OpsSpec. */
  private[ops] def autoCentroidCount(n: Long, cellFactor: Int,
                                     maxCentroids: Int): Int = {
    val k = math.ceil(math.sqrt(n.toDouble * cellFactor)).toLong
    math.max(1L, math.min(k, maxCentroids.toLong)).toInt
  }

  /** IVF ANN with the centroid count derived from the corpus size by
    * the sublinear law of [[autoCentroidCount]] — the 100 TB
    * configuration of [[ivfTopK]]: one count() job derives n, the
    * centroid sample stays the bounded TakeOrderedAndProject of
    * [[selectCentroids]], and BOTH the centroid footprint (driver +
    * broadcast, O(min(sqrt(n·f), maxCentroids))) and the per-vector
    * work scale sublinearly in n. */
  def ivfTopKAuto(vecs: DataFrame, k: Int = 5, nprobe: Int = 2,
                  targetCellSize: Int = 25, seed: Long = 42L,
                  idCol: String = "vec_id", vecCol: String = "embedding",
                  maxBucket: Int = 2000, maxCentroids: Int = 100000,
                  refineIters: Int = 0): DataFrame = {
    require(targetCellSize >= 1, "targetCellSize must be >= 1")
    require(maxCentroids >= 1, "maxCentroids must be >= 1")
    val n = vecs.count()
    val nc = autoCentroidCount(n, targetCellSize, maxCentroids)
    ivfTopK(vecs, k, nprobe, nc, seed, idCol, vecCol, maxBucket, refineIters)
  }

  /** Embedding-cosine NEAR-DUP: all pairs with cosine >= threshold,
    * LSH-bucketed candidates (more bands than annTopK — near-dup
    * thresholds sit at tiny angles where per-band hit probability is
    * high, so 6 bands push recall to ~1) verified with the exact
    * cosine. The dedup-family member over embeddings; id_a < id_b. */
  def nearDupPairs(vecs: DataFrame, threshold: Double = 0.9,
                   bands: Int = 6, bitsPerBand: Int = 8, seed: Long = 42L,
                   idCol: String = "vec_id", vecCol: String = "embedding",
                   maxBucket: Int = 2000): DataFrame = {
    val u = withNorms(vecs, idCol, vecCol)
    rhpCosPairs(u, bands, bitsPerBand, seed, maxBucket)
      .where(col("cos") >= threshold)
      .select("id_a", "id_b", "cos")
  }
}
