package graft.ops

import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Shared LSH plumbing for the dedup/similarity families (one
  * implementation of the hot-bucket guard — a fix here fixes every
  * bucketed operator). */
object LshUtil {

  val md5Local: ThreadLocal[MessageDigest] = new ThreadLocal[MessageDigest] {
    override def initialValue(): MessageDigest = MessageDigest.getInstance("MD5")
  }

  /** First 8 bytes of MD5(s), big-endian — the same 64 bits DuckDB's
    * `substr(md5(s), 1, 16)` hex-encodes, so set cardinalities and
    * per-bit tests computed here are reproducible in plain SQL. */
  def md5Long(s: String): Long = md5LongRange(s, 0, s.length)

  /** Reusable per-thread scratch for [[md5LongRange]]: encode buffer,
    * digest instance, digest output — the shingle kernel calls this
    * once per k-char window (millions of times per task), and a
    * substring + getBytes + digest-array per call was the dominant
    * allocation churn of the q19/q21/q28 signature stage. */
  private final class Md5Scratch {
    val md: MessageDigest = MessageDigest.getInstance("MD5")
    var buf: Array[Byte] = new Array[Byte](256)
    val out: Array[Byte] = new Array[Byte](16)
  }
  private val md5Scratch = new ThreadLocal[Md5Scratch] {
    override def initialValue(): Md5Scratch = new Md5Scratch
  }

  /** First 8 md5 bytes (big-endian) of the UTF-8 encoding of
    * s[off, off+len) — byte-identical to
    * `md5Long(s.substring(off, off + len))`, including the '?' (0x3F)
    * replacement `String.getBytes(UTF_8)` emits for unpaired
    * surrogates (a surrogate pair split at the window edge encodes as
    * '?' exactly like the substring copy would), without allocating
    * the substring, its byte[], or the digest output. */
  def md5LongRange(s: String, off: Int, len: Int): Long = {
    val sc = md5Scratch.get()
    if (sc.buf.length < len * 4) sc.buf = new Array[Byte](len * 4)
    val b = sc.buf
    var n = 0
    var i = off
    val end = off + len
    while (i < end) {
      val c = s.charAt(i)
      if (c < 0x80) { b(n) = c.toByte; n += 1 }
      else if (c < 0x800) {
        b(n) = (0xC0 | (c >> 6)).toByte
        b(n + 1) = (0x80 | (c & 0x3F)).toByte
        n += 2
      } else if (Character.isHighSurrogate(c)) {
        if (i + 1 < end && Character.isLowSurrogate(s.charAt(i + 1))) {
          val cp = Character.toCodePoint(c, s.charAt(i + 1))
          b(n) = (0xF0 | (cp >> 18)).toByte
          b(n + 1) = (0x80 | ((cp >> 12) & 0x3F)).toByte
          b(n + 2) = (0x80 | ((cp >> 6) & 0x3F)).toByte
          b(n + 3) = (0x80 | (cp & 0x3F)).toByte
          n += 4
          i += 1
        } else { b(n) = '?'.toByte; n += 1 }
      } else if (Character.isLowSurrogate(c)) { b(n) = '?'.toByte; n += 1 }
      else {
        b(n) = (0xE0 | (c >> 12)).toByte
        b(n + 1) = (0x80 | ((c >> 6) & 0x3F)).toByte
        b(n + 2) = (0x80 | (c & 0x3F)).toByte
        n += 3
      }
      i += 1
    }
    val md = sc.md
    md.reset()
    md.update(b, 0, n)
    md.digest(sc.out, 0, 16)
    val o = sc.out
    ((o(0) & 0xFFL) << 56) | ((o(1) & 0xFFL) << 48) |
      ((o(2) & 0xFFL) << 40) | ((o(3) & 0xFFL) << 32) |
      ((o(4) & 0xFFL) << 24) | ((o(5) & 0xFFL) << 16) |
      ((o(6) & 0xFFL) << 8) | (o(7) & 0xFFL)
  }

  /** Rows hash-partitioned on `keys` and sorted by (keys…, id) within
    * each partition: the input shape of [[groupPairs]]. The width is
    * the session's `spark.sql.shuffle.partitions`, not AQE's
    * small-input floor, so a small candidate stage still runs at full
    * parallelism. */
  def sortedGroups(rows: DataFrame, keys: String*): DataFrame =
    rows.repartition(rows.sparkSession.sessionState.conf.numShufflePartitions,
        keys.map(col): _*)
      .sortWithinPartitions((keys :+ "id").map(col): _*)

  /** The streaming candidate kernel of every bucketed operator, over
    * rows in [[sortedGroups]] order (each key group contiguous, ids
    * ascending within a group; a repeated doc id gives equal rows side
    * by side, whose pairs with each other the caller drops):
    *  - a group of at most `cap` rows yields each of its pairs that
    *    `admit` accepts, earlier row first, so id_a <= id_b;
    *  - a larger group is a hot bucket and yields hub-star pairs only:
    *    its first row (the min id) with each of the next `starSpan`
    *    rows, the rest of the group skipped. Star pairs bypass `admit`.
    * A task buffers at most cap + 1 rows however large a group is, and
    * the pair work per hot group is O(group) instead of O(group²),
    * while the hub keeps a duplicate cluster connected. */
  def groupPairs[R](rows: Iterator[R], cap: Int, starSpan: Int)(
      sameKey: (R, R) => Boolean,
      admit: (R, R) => Boolean = (_: R, _: R) => true): Iterator[(R, R)] = {
    val it = rows.buffered
    new Iterator[(R, R)] {
      private val buf = new scala.collection.mutable.ArrayBuffer[R]
      private var star = false
      private var i = 0 // all-pairs cursor: (buf(i), buf(j))
      private var j = 1
      private var left = 0 // star pairs still to emit in this group
      private var pending: (R, R) = null

      private def advance(): (R, R) = {
        while (true) {
          if (star) {
            if (left > 0 && j < buf.length) { left -= 1; j += 1; return (buf(0), buf(j - 1)) }
            if (left > 0 && it.hasNext && sameKey(buf(0), it.head)) { left -= 1; return (buf(0), it.next()) }
            while (it.hasNext && sameKey(buf(0), it.head)) it.next()
            star = false
            buf.clear()
          } else if (i < buf.length - 1) {
            if (j < buf.length) {
              j += 1
              if (admit(buf(i), buf(j - 1))) return (buf(i), buf(j - 1))
            } else { i += 1; j = i + 1 }
          } else if (!it.hasNext) return null
          else {
            buf.clear()
            buf += it.next()
            while (buf.length <= cap && it.hasNext && sameKey(buf(0), it.head)) buf += it.next()
            star = buf.length > cap
            i = 0; j = 1; left = starSpan
          }
        }
        null
      }

      def hasNext: Boolean = { if (pending == null) pending = advance(); pending != null }
      def next(): (R, R) = {
        if (!hasNext) throw new NoSuchElementException("no more candidate pairs")
        val p = pending
        pending = null
        p
      }
    }
  }

  /** A task's filter of repeated (a, b) pairs, a != b, of fixed size:
    * an open-addressing table of `slots` pairs (a power of two; (0, 0)
    * marks a free slot) that starts over once three quarters full. A repeat is
    * caught while its first copy is still in the table, so the filter
    * is partial and an exact dedup must follow. The table is allocated
    * on the first pair. */
  final class RepeatFilter(slots: Int) {
    require(Integer.bitCount(slots) == 1, s"slots must be a power of two: $slots")
    private lazy val as = new Array[Long](slots)
    private lazy val bs = new Array[Long](slots)
    private var size = 0

    /** False when (a, b) is in the table; else adds it. */
    def firstSeen(a: Long, b: Long): Boolean = {
      val home = (graft.pipeline.Corpus.mix64(a * 0x9E3779B97F4A7C15L + b) & (slots - 1)).toInt
      var i = home
      while (as(i) != 0L || bs(i) != 0L) {
        if (as(i) == a && bs(i) == b) return false
        i = (i + 1) & (slots - 1)
      }
      if (size >= slots / 4 * 3) {
        java.util.Arrays.fill(as, 0L)
        java.util.Arrays.fill(bs, 0L)
        size = 0
        i = home
      }
      as(i) = a
      bs(i) = b
      size += 1
      true
    }
  }
}
