package graft.ops

import java.util.Locale

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame, Dataset}

/** Deduplication operators for training-data pipelines.
  *
  * Scale shape: every variant is a shuffle-on-key + per-bucket local
  * work — never a global cross join. Candidate generation (LSH bands /
  * simhash chunks / shared rare shingles) bounds pair enumeration to
  * same-bucket pairs; exact verification runs only on candidates.
  * Candidates come from ONE streaming kernel over key-sorted rows
  * ([[LshUtil.groupPairs]]) with one pass per key group. LSH band
  * buckets (q19), simhash chunks (q20) and the prefix plan's shingle
  * postings (q21) take one hash exchange on the key, sorted by
  * (key, id). q21's full plan takes one exchange of posting LISTS on
  * the shingle, each task's lists cut to the maxDf + 1 smallest ids
  * that the kernel can read ([[postingLists]]), and joins each
  * shingle's lists into the same rows ([[mergedPostings]]).
  * Hot groups (boilerplate / identical-content corpora) are guarded:
  * groups larger than the cap degrade from all-pairs to STAR
  * candidates (the group's min id ↔ its members) — O(n) instead of
  * O(n²) while preserving duplicate-cluster connectivity.
  *
  * Signature computation (shingles, minhash, simhash) runs as typed
  * per-partition JVM kernels: these are tight per-row loops where
  * interpreted higher-order Column functions cost 50-100x; the
  * relational parts — banding, bucket joins, verification — stay
  * DataFrame so Catalyst plans the shuffles.
  *
  * Every heavy near-dup stage runs at the session's shuffle width,
  * whatever the input's split count: the shingle kernel reads its text
  * rows through a hash exchange on id (one small Parquet file is one
  * scan split, which would run the kernel as one task), and the
  * candidate dedup and exact verify read an explicit exchange on
  * (id_a, id_b) (left to AQE, they coalesced into one task). AQE
  * resizes neither exchange; a closing REBALANCE lets it still write a
  * small result as one file. Each candidate task drops the repeated
  * pairs it still holds before that exchange ([[LshUtil.RepeatFilter]]).
  *
  * Postings move only where a plan needs them grouped by shingle, and
  * the full q21 plan moves them as lists. The
  * per-shingle df that q28 and q21's prefix plan rank by is counted
  * with a map-side partial aggregate over the kernel's tasks, collected
  * by a bounded probe and broadcast ([[collectDf]]), and each doc's
  * shingles are ranked where its row already is ([[rankedById]]).
  * A df table past the session's broadcast threshold falls back to a
  * postings exchange on the shingle and a rank exchange on id.
  *
  * Hashing is MD5-based and PORTABLE: `md5(x)` exists verbatim in
  * DuckDB, so every similarity value this module emits can be
  * recomputed independently by the SQL oracle (SparkEntry.oracleSql)
  * — and MD5 is collision-free at any realistic corpus size, unlike
  * the 31-polynomial rolling hash it replaced.
  */
object Dedup {

  /** Exact dedup: hash-groupBy on normalized content, keep the
    * smallest id as survivor. One shuffle on the content hash. */
  def exact(docs: DataFrame, idCol: String = "doc_id",
            textCol: String = "text"): DataFrame = {
    val norm = lower(regexp_replace(col(textCol), lit("\\s+"), lit(" ")))
    docs.withColumn("content_key", sha2(norm, 256))
      .groupBy("content_key")
      .agg(min(col(idCol)).as("survivor_id"),
        count(lit(1)).as("dup_count"))
  }

  private def mix64(x0: Long): Long = graft.pipeline.Corpus.mix64(x0)

  /** First 8 bytes of MD5(s), big-endian (see [[LshUtil.md5Long]]). */
  def md5Long(s: String): Long = LshUtil.md5Long(s)

  private val WsRe = java.util.regex.Pattern.compile("\\s+")

  /** Distinct k-gram shingle hashes of the normalized text (lowercased
    * in the root locale, whatever the JVM's default, as DuckDB's
    * `lower`; whitespace runs made one space), sorted. Shingle id =
    * md5Long of the k-char window. Primitive kernel (round 6): hashes
    * go into a long[] sorted + deduped in place, and each window is
    * digested via [[LshUtil.md5LongRange]] — the previous
    * TreeSet[java.lang.Long] + substring + getBytes path allocated
    * ~120 B per window (boxed node + String + byte[]), millions of
    * times per task across the three consumers of the shingle table.
    * Output is bit-identical (sorted distinct longs). */
  def shingleHashes(text: String, k: Int = 5): Array[Long] = {
    val norm = WsRe.matcher(text.toLowerCase(Locale.ROOT)).replaceAll(" ")
    if (norm.length < k) return Array(md5Long(norm))
    val n = norm.length - k + 1
    val arr = new Array[Long](n)
    var i = 0
    while (i < n) { arr(i) = LshUtil.md5LongRange(norm, i, k); i += 1 }
    java.util.Arrays.sort(arr)
    var w = 0
    var r = 1
    while (r < n) {
      if (arr(r) != arr(w)) { w += 1; arr(w) = arr(r) }
      r += 1
    }
    if (w + 1 == n) arr else java.util.Arrays.copyOf(arr, w + 1)
  }

  /** (id, sh): each doc's sorted distinct shingle hashes from the typed
    * kernel. The kernel reads the narrow (id, text) rows hash-exchanged
    * on id at the session's shuffle width, so it runs as that many
    * tasks even when the input is a single scan split. */
  private def shingled(docs: DataFrame, idCol: String, textCol: String,
                       k: Int): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col(idCol).cast("long").as("id"), col(textCol).as("text"))
      .repartition(spark.sessionState.conf.numShufflePartitions, col("id"))
      .as[(Long, String)]
      .mapPartitions(_.map { case (id, text) => (id, shingleHashes(text, k)) })
      .toDF("id", "sh")
  }

  /** [[shingled]] hash-partitioned on id at the session's shuffle
    * width; the text shuffle before the kernel is a fraction of this
    * shingle-array shuffle. Every consumer of one call that needs both
    * sides of a pair reads this exchange: the postings and banding
    * flatMaps, the id-side ranks of the prefix plan, and both
    * exact-verify join sides (which join on the aliased id and inherit
    * this partitioning through the alias). All of them read the table
    * whole (a typed flatMap deserializes both columns; an explode would
    * instead get an inferred `size(sh) > 0` filter pushed below the
    * exchange), so the exchange subtrees stay identical, AQE reuses the
    * stage, and the kernel runs once per query. */
  private def byId(sh: DataFrame): DataFrame =
    sh.repartition(sh.sparkSession.sessionState.conf.numShufflePartitions, col("id"))

  /** Inverted postings (shingle, id), one row per posting: a typed
    * flatMap over [[shingled]] rows. The df probe of [[collectDf]] and
    * the fallback of [[postingsWithDf]] read them; the full q21 plan
    * ships [[postingLists]] instead. */
  private def postings(sh: DataFrame): DataFrame = {
    val spark = sh.sparkSession
    import spark.implicits._
    sh.as[(Long, Array[Long])]
      .flatMap { case (id, s) => s.iterator.map(x => (x, id)) }
      .toDF("shingle", "id")
  }

  /** Postings a full-plan task reads before it ships them as lists:
    * 2^18, 2 MB of shingles. */
  private val PostingListBudget = 1 << 18

  /** A task's postings as (shingle, ids) lists, the rows of the full
    * q21 plan's shingle exchange: ids ascending, repeats kept, each
    * list cut to its first `keep` ids. The task reads docs until they
    * hold `budget` postings, ships one list per shingle of them
    * ([[shingleLists]]) and starts over, so it holds one flush of docs
    * (`budget` postings and the rest of the last doc read) however
    * large its partition; a shingle of several flushes leaves the task
    * as several lists, which [[mergedPostings]] joins. */
  private[ops] def postingLists(docs: Iterator[(Long, Array[Long])], keep: Int,
                                budget: Int = PostingListBudget)
      : Iterator[(Long, Array[Long])] =
    new Iterator[Iterator[(Long, Array[Long])]] {
      def hasNext: Boolean = docs.hasNext
      def next(): Iterator[(Long, Array[Long])] = {
        val flush = new scala.collection.mutable.ArrayBuffer[(Long, Array[Long])]
        var held = 0
        while (held < budget && docs.hasNext) {
          val d = docs.next()
          flush += d
          held += d._2.length
        }
        shingleLists(flush.toArray, keep)
      }
    }.flatten

  /** One (shingle, ids) list per distinct shingle of `docs`, shingles
    * ascending, ids ascending with repeats kept, cut to the first
    * `keep`: a heap merge of the docs' sorted shingle arrays on
    * (shingle, id), which allocates nothing per posting. */
  private def shingleLists(docs: Array[(Long, Array[Long])], keep: Int)
      : Iterator[(Long, Array[Long])] = {
    val at = new Array[Int](docs.length) // each doc's next shingle
    def sh(d: Int): Long = docs(d)._2(at(d))
    def before(x: Int, y: Int): Boolean =
      sh(x) < sh(y) || (sh(x) == sh(y) && docs(x)._1 < docs(y)._1)
    val heap = docs.indices.filter(docs(_)._2.nonEmpty).toArray
    var live = heap.length
    def siftDown(from: Int): Unit = {
      var i = from
      var c = 2 * i + 1
      while (c < live) {
        if (c + 1 < live && before(heap(c + 1), heap(c))) c += 1
        if (before(heap(c), heap(i))) {
          val t = heap(i); heap(i) = heap(c); heap(c) = t
          i = c
          c = 2 * i + 1
        } else c = live
      }
    }
    (live / 2 - 1 to 0 by -1).foreach(siftDown)
    val ids = new scala.collection.mutable.ArrayBuilder.ofLong
    new Iterator[(Long, Array[Long])] {
      def hasNext: Boolean = live > 0
      def next(): (Long, Array[Long]) = {
        val s = sh(heap(0))
        ids.clear()
        var taken = 0
        while (live > 0 && sh(heap(0)) == s) {
          val d = heap(0)
          if (taken < keep) { ids += docs(d)._1; taken += 1 }
          at(d) += 1
          if (at(d) == docs(d)._2.length) { live -= 1; heap(0) = heap(live) }
          siftDown(0)
        }
        (s, ids.result())
      }
    }
  }

  /** The (shingle, id) postings of [[postingLists]] rows sorted by
    * shingle, as the full q21 plan's candidate kernel reads them: each
    * shingle's lists joined, ids ascending, cut to the first `keep`.
    * Every list holds the smallest ids of its part of the shingle's
    * postings, so these are the first `keep` rows of the shingle's
    * group in [[LshUtil.sortedGroups]] order. */
  private[ops] def mergedPostings(lists: Iterator[(Long, Array[Long])], keep: Int)
      : Iterator[(Long, Long)] = {
    val it = lists.buffered
    val ids = new scala.collection.mutable.ArrayBuilder.ofLong
    new Iterator[Iterator[(Long, Long)]] {
      def hasNext: Boolean = it.hasNext
      def next(): Iterator[(Long, Long)] = {
        val s = it.head._1
        ids.clear()
        while (it.hasNext && it.head._1 == s) ids ++= it.next()._2
        val all = ids.result()
        java.util.Arrays.sort(all)
        all.iterator.take(keep).map(s -> _)
      }
    }.flatten
  }

  /** The postings hash-partitioned on the shingle, and their FULL
    * per-shingle document-frequency table: the fallback of
    * [[collectDf]]. The df count is a typed groupByKey, which
    * deserializes whole postings rows: Catalyst then prunes no column
    * below the exchange, and the df table and the postings share ONE
    * postings shuffle. */
  private def postingsWithDf(sh: DataFrame): (DataFrame, DataFrame) = {
    val spark = sh.sparkSession
    import spark.implicits._
    val bySh = postings(sh).repartition(
      spark.sessionState.conf.numShufflePartitions, col("shingle"))
    (bySh, bySh.as[(Long, Long)].groupByKey(_._1).count().toDF("shingle", "df"))
  }

  /** The FULL per-shingle document frequency as two arrays, shingles
    * ascending (signed, for binary search) and their dfs alongside. */
  private[ops] final case class DfTable(shingles: Array[Long], dfs: Array[Long])

  /** Broadcast bytes per [[DfTable]] entry: a shingle and its df. */
  private val DfEntryBytes = 16L

  /** The df table of the kernel output `sh`, collected when it fits the
    * session's `spark.sql.autoBroadcastJoinThreshold` at
    * [[DfEntryBytes]] per entry (655,360 shingles at the 10 MB
    * default). The count is a map-side partial aggregate over the
    * kernel's tasks, so at most (distinct shingles x width) rows cross
    * its exchange, and the fetch is a bounded `limit(bound + 1)` probe.
    * None, the probe skipped, when broadcasts are disabled (a negative
    * threshold); None after the probe when the table exceeds the bound
    * (a real-text vocabulary grows with the corpus), and the caller
    * keeps the postings exchange of [[postingsWithDf]]. The probe is a
    * query of its own and runs the shingle kernel once more. */
  private def collectDf(sh: DataFrame): Option[DfTable] = {
    val spark = sh.sparkSession
    import spark.implicits._
    val threshold = spark.sessionState.conf.autoBroadcastJoinThreshold
    if (threshold < 0) None
    else {
      val bound = math.min(threshold / DfEntryBytes, Int.MaxValue - 1L).toInt
      val rows = postings(sh).groupBy("shingle").count().as[(Long, Long)]
        .limit(bound + 1).collect()
      if (rows.length > bound) None
      else {
        val sorted = rows.sortBy(_._1)
        Some(DfTable(sorted.map(_._1), sorted.map(_._2)))
      }
    }
  }

  /** Exact Jaccard on two sorted long arrays (merge intersect). */
  def jaccardSorted(a: Array[Long], b: Array[Long]): Double = {
    var i = 0; var j = 0; var common = 0
    while (i < a.length && j < b.length) {
      if (a(i) == b(j)) { common += 1; i += 1; j += 1 }
      else if (a(i) < b(j)) i += 1
      else j += 1
    }
    common.toDouble / (a.length + b.length - common)
  }

  /** [[jaccardSorted]] with a threshold early-exit: returns the EXACT
    * jaccard for any pair that completes the merge, and -1.0 as soon
    * as the remaining elements provably cannot reach `threshold`
    * (common + min(remaining) below a conservative floor of the
    * required intersection size). A pair at or above the threshold can
    * never take the exit, so the verify filter emits the identical
    * (pair, jaccard) set — but the dissimilar majority of candidates
    * stops after a fraction of the merge (the verify stage was the
    * single largest slice of q21 at sf1: ~7k merge steps per pair,
    * most pairs nowhere near the threshold). */
  def jaccardSortedMin(a: Array[Long], b: Array[Long], threshold: Double): Double = {
    val la = a.length
    val lb = b.length
    // c / (la + lb - c) >= t  <=>  c >= t * (la + lb) / (1 + t);
    // floor() errs conservative (may scan slightly longer, never exits
    // on a pair that could still qualify)
    val need = math.floor(threshold * (la + lb) / (1.0 + threshold)).toInt
    var i = 0; var j = 0; var common = 0
    while (i < la && j < lb) {
      if (a(i) == b(j)) { common += 1; i += 1; j += 1 }
      else if (a(i) < b(j)) i += 1
      else j += 1
      val remA = la - i
      val remB = lb - j
      if (common + (if (remA < remB) remA else remB) < need) return -1.0
    }
    common.toDouble / (la + lb - common)
  }

  /** Slots of each candidate task's [[LshUtil.RepeatFilter]]: 1 MB of
    * table, exact over 49,152 distinct pairs at a time. */
  private val CandidateFilterSlots = 1 << 16

  /** (id_a, id_b) of every pair [[LshUtil.groupPairs]] yields over
    * rows in [[LshUtil.sortedGroups]] order (or [[mergedPostings]]
    * order, the same rows cut past cap + 1): groups of 2..cap rows give
    * their `admit`-ted pairs, larger groups the hub-star of `starSpan`
    * members. A pair shared by several groups of one task leaves the
    * task once while the task's [[LshUtil.RepeatFilter]] holds it;
    * repeats across tasks and those the filter let through are left to
    * the verify's dedup. A repeated doc id never pairs with itself. */
  private def candidatePairs[R](rows: Dataset[R], cap: Int, starSpan: Int, id: R => Long)(
      sameKey: (R, R) => Boolean,
      admit: (R, R) => Boolean = (_: R, _: R) => true): DataFrame = {
    val spark = rows.sparkSession
    import spark.implicits._
    rows.mapPartitions { it =>
      val seen = new LshUtil.RepeatFilter(CandidateFilterSlots)
      LshUtil.groupPairs(it, cap, starSpan)(sameKey, admit).collect {
        case (a, b) if id(a) < id(b) && seen.firstSeen(id(a), id(b)) => (id(a), id(b))
      }
    }.toDF("id_a", "id_b")
  }

  /** Prefix length |s| - ceil(t*|s|) + 1 of a set of size `n`
    * (All-Pairs / PPJoin / SSJoin): under any global shingle order,
    * two sets with Jaccard >= t share an element inside BOTH prefixes
    * of this length. */
  private def prefixLen(n: Column, threshold: Double): Column =
    n - ceil(lit(threshold) * n) + 1

  /** Every posting with its shingle's FULL document frequency `df` and
    * its 1-based rank `rn` in its doc under the global order (df asc,
    * shingle asc unsigned — the md5-hex string order the DuckDB oracle
    * uses), i.e. rarest first. A doc's prefix (rn <= [[prefixLen]]) is
    * then a DOWN-SET of that order restricted to its shingles: if any
    * shared shingle of a pair is in both prefixes (guaranteed for
    * Jaccard >= t), then in particular the pair's RAREST shared shingle
    * is — the fact the plan-equivalence proof in [[ngramJaccardPairs]]
    * rests on. `n` is the doc's shingle count. Input is
    * [[postingsWithDf]]; the rank is one id exchange plus a sorted
    * streaming pass that buffers one doc's postings at a time. This is
    * the fallback of [[rankedById]], which gives the same rows in the
    * same order per doc. */
  private def rankedPostings(bySh: DataFrame, dfc: DataFrame): DataFrame = {
    val spark = bySh.sparkSession
    import spark.implicits._
    bySh.join(dfc, "shingle")
      .repartition(spark.sessionState.conf.numShufflePartitions, col("id"))
      .sortWithinPartitions(col("id"), col("df"), col("shingle").bitwiseXOR(lit(Long.MinValue)))
      .select("shingle", "id", "df")
      .as[(Long, Long, Long)]
      .mapPartitions { rows =>
        val it = rows.buffered
        new Iterator[Iterator[(Long, Long, Int, Long, Int)]] {
          def hasNext: Boolean = it.hasNext
          def next(): Iterator[(Long, Long, Int, Long, Int)] = {
            val id = it.head._2
            val doc = new scala.collection.mutable.ArrayBuffer[(Long, Long, Long)]
            while (it.hasNext && it.head._2 == id) doc += it.next()
            val n = doc.length
            doc.iterator.zipWithIndex.map { case ((s, _, df), i) => (s, id, n, df, i + 1) }
          }
        }.flatten
      }.toDF("shingle", "id", "n", "df", "rn")
  }

  /** The [[rankedPostings]] rows from the collected df table
    * ([[collectDf]]): one typed flatMap over the (id, sh) rows, ranking
    * each doc where its row already is ([[rankDoc]]), with no sort,
    * join or exchange. */
  private def rankedById(sh: DataFrame, table: DfTable): DataFrame = {
    val spark = sh.sparkSession
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(table)
    sh.as[(Long, Array[Long])]
      .flatMap { case (id, s) => rankDoc(id, s, bc.value) }
      .toDF("shingle", "id", "n", "df", "rn")
  }

  /** The ranked postings (shingle, id, n, df, rn) of one doc, rn = 1..n,
    * from its sorted distinct shingles `sh` and the df table. `sh`
    * rotated to start at its first non-negative value is in unsigned
    * order, so one primitive sort of (df << 32 | unsigned position)
    * gives the (df asc, shingle unsigned asc) order with no comparator
    * (dfs stay below 2^31). A shingle missing from the table means the
    * input changed between the df probe and this query. */
  private[ops] def rankDoc(id: Long, sh: Array[Long], t: DfTable)
      : Iterator[(Long, Long, Int, Long, Int)] = {
    val n = sh.length
    var first = 0
    while (first < n && sh(first) < 0) first += 1
    def unsigned(u: Int): Long = sh((first + u) % n)
    val keys = new Array[Long](n)
    var u = 0
    while (u < n) {
      val at = java.util.Arrays.binarySearch(t.shingles, unsigned(u))
      if (at < 0) throw new IllegalStateException(
        s"doc $id: shingle ${unsigned(u)} is not in the df table; the input changed after the df probe")
      keys(u) = (t.dfs(at) << 32) | u
      u += 1
    }
    java.util.Arrays.sort(keys)
    Iterator.tabulate(n)(r => (unsigned((keys(r) & 0xFFFFFFFFL).toInt), id, n, keys(r) >>> 32, r + 1))
  }

  /** Bytes-per-document divisor for the size-based plan gate below:
    * deliberately BELOW the measured density (the sf0.1 documents
    * table measures ~119 compressed bytes/doc), so the derived doc
    * count OVERestimates and errs toward the prefix plan — the plan
    * that stays subquadratic at scale. Erring the other way (a
    * too-large divisor undercounting docs, full plan past the
    * threshold) re-opens the superlinear regime the sf1 bench
    * measured at 88 s vs 16 s; erring this way merely costs the
    * ~1.5 s prefix constant. */
  private val EstBytesPerDoc = 64L

  /** Estimated document count WITHOUT running a count() job: caller
    * hint if given, else Catalyst's row-count statistic when known
    * (LocalRelation, CBO), else plan sizeInBytes / [[EstBytesPerDoc]].
    * An unknown size propagates as Long.MaxValue → prefix plan. Since
    * the two plans emit the IDENTICAL pair set (see
    * [[ngramJaccardPairs]]), a misestimate is a pure performance
    * trade, never a correctness one. */
  private def estimatedDocs(docs: DataFrame, hint: Long): Long =
    if (hint >= 0L) hint
    else {
      val stats = docs.queryExecution.optimizedPlan.stats
      stats.rowCount.map(_.min(BigInt(Long.MaxValue)).toLong).getOrElse {
        val sz = stats.sizeInBytes
        if (sz >= BigInt(Long.MaxValue)) Long.MaxValue
        else math.max(1L, sz.toLong / EstBytesPerDoc)
      }
    }

  /** n-gram Jaccard near-dup via a PREFIX-FILTERED inverted shingle
    * index: candidates = pairs sharing a prefix shingle whose FULL
    * document frequency lies in [2, maxDf], verified with EXACT
    * Jaccard over the full shingle sets. Prefix filtering is lossless
    * (see [[rankedPostings]]); the only recall cut is the maxDf cap,
    * and shingles past it no longer vanish silently (a duplicate
    * cluster larger than maxDf shares ONLY over-df shingles): each
    * over-df shingle contributes STAR candidates from its min id to
    * the next maxDf ids of its FULL posting list — bounded recall
    * recovery; the remaining bound is quantified by
    * [[ngramShingleStats]].
    *
    * Both plans run the postings through the one candidate kernel
    * ([[LshUtil.groupPairs]] with cap = starSpan = maxDf) after a
    * single shingle exchange: a posting group IS the shingle's df, so
    * groups of 2..maxDf give the rare pairs and larger groups the star,
    * and the full plan needs no df table. The prefix plan's exchange
    * carries its rows sorted by (shingle, id). The full plan's carries
    * (shingle, ids) lists, one per shingle per task flush
    * ([[postingLists]]), each cut to its smallest maxDf + 1 ids, which
    * the candidate task sorts by shingle and joins ([[mergedPostings]]).
    * The cut is exact: the kernel reads all of a group of at most
    * maxDf rows, and of a larger one only its first maxDf + 1 rows (the
    * hub and the next maxDf ids); the smallest maxDf + 1 ids of a
    * union lie among the smallest maxDf + 1 of each part, and a group
    * cut at maxDf + 1 rows is still past the cap.
    *
    * ADAPTIVE plan choice: the prefix plan's df table costs a probe
    * query that runs the shingle kernel a second time ([[collectDf]];
    * past its bound, two extra postings shuffles instead), which only
    * pays off once the pair stage would otherwise dominate — the sf1
    * bench measured full-index 88 s vs prefix 16 s at 50k docs, while
    * at 5k docs prefix is pure overhead. Below `prefixMinDocs` (decided
    * from plan statistics — see [[estimatedDocs]]; pass `numDocsHint` when the
    * caller knows the cardinality; no count() job either way) the FULL
    * inverted index is used instead. The prefix plan feeds the kernel
    * the prefix rows of in-cap shingles plus the whole posting list of
    * every over-df shingle, and checks each rare pair with the PPJoin
    * positional filter inside the kernel.
    *
    * The EMITTED SET is identical on either plan (pinned by two
    * OpsSpec properties, including one whose maxDf actually binds):
    *  - both plans split rare/over-df shingles on the full per-shingle
    *    df (the posting-group size), so a shingle is never "rare" on
    *    one plan and "over" on the other;
    *  - the over-df star is built from the FULL posting list on both
    *    plans — identical input, identical star pairs;
    *  - for the rare path, the prefix plan's candidates are a subset
    *    of the full plan's, but no TRUE pair is lost: a pair with
    *    Jaccard >= t sharing any rare shingle also has its RAREST
    *    shared shingle rare (df-ascending order), and that shingle is
    *    in both prefixes (prefix-filter lemma + prefixes are
    *    down-sets of the order — see [[rankedPostings]]), so the
    *    prefix plan emits the pair through it; every extra full-plan
    *    candidate below threshold dies in the exact verify.
    *
    * `prefixMinDocs = 0` forces the prefix plan; `Int.MaxValue`
    * forces the full index. Returns (id_a, id_b, jaccard),
    * id_a < id_b. */
  def ngramJaccardPairs(docs: DataFrame, threshold: Double = 0.8,
                        idCol: String = "doc_id", textCol: String = "text",
                        k: Int = 5, maxDf: Int = 100,
                        prefixMinDocs: Int = 20000,
                        numDocsHint: Long = -1L): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val kernel = shingled(docs, idCol, textCol, k)
    val sh = byId(kernel)
    val usePrefix = prefixMinDocs == 0 ||
      (prefixMinDocs != Int.MaxValue &&
        estimatedDocs(docs, numDocsHint) >= prefixMinDocs)
    val cand =
      if (usePrefix) {
        val ranks = collectDf(kernel) match {
          case Some(t) => rankedById(sh, t)
          case None =>
            val (bySh, dfc) = postingsWithDf(sh)
            rankedPostings(bySh, dfc)
        }
        val rows = ranks
          .where((col("df").between(2, maxDf) && col("rn") <= prefixLen(col("n"), threshold)) ||
            col("df") > maxDf)
          .select("shingle", "id", "rn", "n")
        // PPJoin POSITIONAL filter (lossless) on each rare pair: it
        // survives iff 1 + min(n_a - rn_a, n_b - rn_b) >=
        // floor(t*(n_a+n_b)/(1+t)), where rn is the shingle's 1-based
        // position in the doc's (df asc, shingle unsigned asc) order
        // and n the doc's shingle count. For a TRUE pair (jaccard >=
        // t) every shared shingle sorts at or after the pair's RAREST
        // shared shingle s in both docs, so at s the bound counts all
        // shared elements — 1 + min(...) >= overlap >= the floor()
        // requirement (same conservative floor as jaccardSortedMin) —
        // and s is in-cap and in both prefixes whenever the rare path
        // emits the pair at all, so the pair is generated AT s and
        // passes there. Pruned pairs provably fail the exact verify.
        candidatePairs(LshUtil.sortedGroups(rows, "shingle").as[(Long, Long, Int, Int)],
            maxDf, maxDf, (r: (Long, Long, Int, Int)) => r._2)(
          _._1 == _._1,
          (a, b) => 1 + math.min(a._4 - a._3, b._4 - b._3) >=
            math.floor(threshold * (a._4 + b._4) / (1.0 + threshold)))
      } else {
        // the kernel reads at most maxDf + 1 rows of a group
        val keep = math.min(maxDf.toLong + 1, Int.MaxValue).toInt
        val lists = sh.as[(Long, Array[Long])]
          .mapPartitions(postingLists(_, keep))
          .toDF("shingle", "ids")
          .repartition(spark.sessionState.conf.numShufflePartitions, col("shingle"))
          .sortWithinPartitions("shingle")
          .as[(Long, Array[Long])]
        candidatePairs(lists.mapPartitions(mergedPostings(_, keep)), maxDf, maxDf,
            (r: (Long, Long)) => r._2)(_._1 == _._1)
      }
    verifyJaccard(cand, sh, threshold)
  }

  /** Recall instrumentation for [[ngramJaccardPairs]] (one row),
    * using the SAME full-df cap semantics as the pair join (and both
    * of its physical plans, which emit identical sets): distinct
    * prefix shingles, shingles over the FULL-df cap — the exact key
    * set the over-df star degrades (+ their total full posting mass =
    * candidate entries the star does not fully expand), and documents
    * with ZERO in-range prefix postings. Such
    * a doc's true pairs are reachable only through the over-df star
    * — if a true pair shared a rare (full-df <= maxDf) shingle, the
    * pair's rarest shared shingle would be rare and sit in both
    * prefixes (see [[ngramJaccardPairs]]), indexing the doc. That is
    * the documented recall bound, tied to ground truth by the OpsSpec
    * star-recall property. `threshold` must match the pair join being
    * instrumented.
    *
    * With the df table collected ([[collectDf]], a probe query that
    * runs the shingle kernel once more) the over-df stats come from it
    * and the ranks from the kernel's own tasks, so the query reads the
    * kernel output once and shuffles only its aggregates. Past the
    * table's bound the df table and the ranked postings both come from
    * one shingle exchange after the id exchange. */
  def ngramShingleStats(docs: DataFrame, threshold: Double = 0.8,
                        idCol: String = "doc_id",
                        textCol: String = "text", k: Int = 5,
                        maxDf: Int = 100): DataFrame = {
    val kernel = shingled(docs, idCol, textCol, k)
    val inPrefix = col("rn") <= prefixLen(col("n"), threshold)
    // n_docs_unindexed is (all docs) − (docs with an in-cap prefix
    // posting), and every doc has >= 1 shingle, so its rank-1 postings
    // count the docs
    def postAgg(ranks: DataFrame) = ranks.agg(
      count_distinct(when(inPrefix, col("shingle"))).as("n_shingles"),
      count_distinct(when(inPrefix && col("df").between(2, maxDf), col("id")))
        .as("n_docs_indexed"),
      count(when(col("rn") === 1, 1)).as("n_docs"))
    // over-df stats come from the GLOBAL df table — the same key set
    // the pair join's star path degrades, prefix-present or not
    val stats = collectDf(kernel) match {
      case Some(t) =>
        val over = t.dfs.filter(_ > maxDf)
        // as sum() gives over an empty table
        def total(v: Long) = if (t.dfs.isEmpty) lit(null).cast("long") else lit(v)
        postAgg(rankedById(kernel, t)).select(col("*"),
          total(over.length.toLong).as("n_overdf"), total(over.sum).as("overdf_mass"))
      case None =>
        val (bySh, dfc) = postingsWithDf(byId(kernel))
        postAgg(rankedPostings(bySh, dfc)).crossJoin(dfc.agg(
          sum(when(col("df") > maxDf, 1L).otherwise(0L)).as("n_overdf"),
          sum(when(col("df") > maxDf, col("df")).otherwise(0L)).as("overdf_mass")))
    }
    stats.select(col("n_shingles"), col("n_overdf"), col("overdf_mass"),
      (col("n_docs") - col("n_docs_indexed")).as("n_docs_unindexed"))
  }

  /** Exact-Jaccard verify of candidate (id_a, id_b) rows, repeats
    * included. The candidates take an explicit hash exchange on
    * (id_a, id_b) at the session's width, which AQE does not coalesce,
    * so the dedup (partial and final aggregate, both after the
    * exchange), the joins that attach both shingle arrays and the
    * Jaccard merge run as that many tasks. The result ends in a
    * REBALANCE, which AQE sizes: a small result is still written as
    * one file. */
  private def verifyJaccard(cand: DataFrame, sh: DataFrame,
                            threshold: Double): DataFrame = {
    val a = sh.select(col("id").as("id_a"), col("sh").as("sh_a"))
    val b = sh.select(col("id").as("id_b"), col("sh").as("sh_b"))
    // threshold-aware merge: exact value for every emitted pair,
    // early-exit (-1.0, filtered) for provably-below candidates
    val jUdf = udf((x: Array[Long], y: Array[Long]) =>
      jaccardSortedMin(x, y, threshold))
    cand.repartition(cand.sparkSession.sessionState.conf.numShufflePartitions,
        col("id_a"), col("id_b"))
      .dropDuplicates("id_a", "id_b")
      .join(a, "id_a").join(b, "id_b")
      .withColumn("jaccard", jUdf(col("sh_a"), col("sh_b")))
      .where(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")
      .hint("rebalance")
  }

  /** MinHash signature from sorted shingle hashes: m pseudo-
    * permutations via seeded splitmix re-hash; sig(i) = min over
    * shingles of mix64(s ^ seed_i). (Not oracle-replicated — the LSH
    * stage only generates candidates; emitted pairs are defined by the
    * exact-Jaccard verify, which IS replicated in SQL.) */
  def minhashSig(sh: Array[Long], m: Int): Array[Long] = {
    val sig = Array.fill(m)(Long.MaxValue)
    var i = 0
    while (i < sh.length) {
      var b = 0
      while (b < m) {
        val h = mix64(sh(i) ^ (b.toLong * 0x9E3779B97F4A7C15L))
        if (h < sig(b)) sig(b) = h
        b += 1
      }
      i += 1
    }
    sig
  }

  /** MinHash + LSH banding: `m` minhashes in `bands` bands; docs
    * sharing any band bucket are candidates (buckets past `maxBucket`
    * degrade to hub-star pairs with every member); candidates verified
    * with exact Jaccard on the full shingle sets. One sorted exchange
    * on (band, bucket) feeds the candidate kernel — no O(n²). */
  def minhashLshPairs(docs: DataFrame, threshold: Double = 0.8,
                      idCol: String = "doc_id", textCol: String = "text",
                      k: Int = 5, m: Int = 32, bands: Int = 8,
                      maxBucket: Int = 2000): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val rows = m / bands
    val sh = byId(shingled(docs, idCol, textCol, k))
    val banded = sh.as[(Long, Array[Long])]
      .flatMap { case (id, s) =>
        val sig = minhashSig(s, m)
        (0 until bands).iterator.map { b =>
          var h = b.toLong
          var r = 0
          while (r < rows) { h = mix64(h ^ sig(b * rows + r)); r += 1 }
          (id, b, h)
        }
      }.toDF("id", "band", "bucket")
    val cand = candidatePairs(
      LshUtil.sortedGroups(banded, "band", "bucket").as[(Long, Int, Long)],
      maxBucket, Int.MaxValue, (r: (Long, Int, Long)) => r._1)(
      (x, y) => x._2 == y._2 && x._3 == y._3)
    verifyJaccard(cand, sh, threshold)
  }

  /** 64-bit SimHash over the whitespace tokens of the text lowercased
    * in the root locale (typed kernel). Bit b of
    * token hash = bit (3 - b%4) of hex digit b/4 of md5(token) —
    * exactly reproducible in SQL from `md5(tok)`. Sim bit b is set
    * when a majority of tokens have it set. */
  def simhash64(text: String): Long = {
    val counts = new Array[Int](64)
    val toks = text.toLowerCase(Locale.ROOT).split(" +")
    var t = 0
    while (t < toks.length) {
      val w = md5Long(toks(t)) // bit b (hex order) = bit 63-b of w
      var b = 0
      while (b < 64) { if (((w >>> (63 - b)) & 1L) == 1L) counts(b) += 1; b += 1 }
      t += 1
    }
    val n = toks.length
    var sim = 0L
    var b = 0
    while (b < 64) { if (counts(b) * 2 > n) sim |= (1L << b); b += 1 }
    sim
  }

  /** SimHash near-dup with a pigeonhole guarantee: the 64-bit
    * simhash is split into maxHamming+1 chunks, so any pair within
    * `maxHamming` shares at least one identical chunk — the emitted
    * set is exactly {pairs : hamming <= maxHamming} AS LONG AS no
    * chunk bucket exceeds `maxBucket` (hot buckets degrade to star
    * pairs, trading non-hub pair recall for bounded work; raise
    * maxBucket when exactness matters more than skew safety).
    * One sorted exchange on (chunk index, value), the true hamming per
    * same-bucket pair, then an id-pair dedup. */
  def simhashPairs(docs: DataFrame, maxHamming: Int = 3,
                   idCol: String = "doc_id", textCol: String = "text",
                   maxBucket: Int = 2000): DataFrame = {
    require(maxHamming >= 0 && maxHamming < 64, "maxHamming in [0, 63]")
    val spark = docs.sparkSession
    import spark.implicits._
    val nChunks = maxHamming + 1
    val base = 64 / nChunks
    val rem = 64 % nChunks
    // first `rem` chunks are one bit wider; offsets cover all 64 bits
    val widths = (0 until nChunks).map(c => if (c < rem) base + 1 else base)
    val offsets = widths.scanLeft(0)(_ + _).init
    // chunk rows CARRY the 8-byte simhash into their buckets, and the
    // hamming is computed cell-locally by the candidate kernel (all
    // pairs for buckets <= maxBucket, hub-star past it, task memory
    // bounded at maxBucket + 1 rows). The previous id-pairs shape
    // joined the sim table back onto the candidate set twice; for an
    // 8-byte payload, carrying it beats two join shuffles at any
    // scale. Duplicate pairs across chunks carry the identical
    // hamming, so keeping any one row is exact.
    val chunked = docs
      .select(col(idCol).cast("long").as("id"), col(textCol).as("text"))
      .as[(Long, String)]
      .mapPartitions(_.flatMap { case (id, t) =>
        val sim = simhash64(t)
        (0 until nChunks).iterator.map { c =>
          // width 64 (maxHamming = 0, one chunk): (1L << 64) is a
          // mod-64 JVM shift = 1, so the mask formula would be 0 and
          // every doc would share bucket 0 — the full-word mask is -1L
          val mask = if (widths(c) == 64) -1L else (1L << widths(c)) - 1L
          (id, c, (sim >>> offsets(c)) & mask, sim)
        }
      })
    LshUtil.sortedGroups(chunked.toDF("id", "chunk", "val", "sim"), "chunk", "val")
      .as[(Long, Int, Long, Long)]
      .mapPartitions(LshUtil.groupPairs(_, maxBucket, Int.MaxValue)(
          (x, y) => x._2 == y._2 && x._3 == y._3)
        .map { case (a, b) => (a._1, b._1, java.lang.Long.bitCount(a._4 ^ b._4)) })
      .toDF("id_a", "id_b", "hamming")
      .dropDuplicates("id_a", "id_b")
      .where(col("hamming") <= maxHamming)
      .select("id_a", "id_b", "hamming")
  }
}
