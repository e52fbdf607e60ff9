package graft.functions

import java.math.BigInteger
import java.security.MessageDigest

import org.apache.spark.sql.{Column, Encoder, Encoders}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions.udf

/** Approximate-counting sketches, ported faithfully from the reference's
  * driver-side Python implementations and re-expressed as distributed,
  * mergeable Spark `Aggregator`s (SURVEY.md §2.4 A1/A2).
  *
  * The reference holds a single mutable Count-Min table on the driver
  * (cms_stream.py:24,69) and computes Flajolet–Martin on a collected list
  * (flajolent_stream.py:75-78) — both single-node cliffs. Here each sketch is
  * an associative, commutative aggregation buffer: partial sketches build
  * map-side per partition and merge pairwise, so the same code runs on one
  * core or a thousand executors (100-TB posture, SURVEY.md §7.4#5).
  *
  * Hashing matches the reference bit-for-bit so estimates are reproducible
  * against it:
  *  - CMS row hash: `int(md5(str(item)+str(i)).hexdigest(), 16) % width`
  *    (cms_stream.py:26-35).
  *  - FM: `v = int(md5(s).hexdigest(), 16)`; `r(v)` = number of trailing '0'
  *    characters of Python's `bin(v)` — i.e. trailing zero bits, except
  *    `bin(0) == "0b0"` counts as 1 (flajolent_stream.py:19-21); estimate
  *    `2^max(r)` (flajolent_stream.py:23-28).
  */
object Sketches {

  /** Reference CMS dimensions (cms_stream.py:69): ε≈e/1000, δ≈e^-10. */
  val CmsWidth = 1000
  val CmsDepth = 10

  /** Keywords tracked by the CMS metrics query — the analog of the reference's
    * fixed list ['sports','politics','tech','music','news'] (cms_stream.py:110),
    * chosen from the testdata documents vocabulary. */
  val TrackedKeywords: Seq[String] = Seq("dup", "hash", "join", "scan", "stream")

  private def md5Int(s: String): BigInteger =
    new BigInteger(1, MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8")))

  /** CMS row hash `i` of `item` — reference cms_stream.py:26-35. */
  def cmsHash(item: String, i: Int, width: Int = CmsWidth): Int =
    md5Int(item + i.toString).mod(BigInteger.valueOf(width)).intValue()

  /** FM trailing-zero count — reference flajolent_stream.py:19-21 semantics
    * (trailing '0' chars of `bin(v)`; v=0 → 1). */
  def fmTrailingZeros(s: String): Int = {
    val v = md5Int(s)
    if (v.signum == 0) 1 else v.getLowestSetBit
  }

  /** Point query against a serialized CMS table: min over depth rows
    * (cms_stream.py:42-47). */
  def cmsEstimate(sketch: Array[Long], item: String,
                  width: Int = CmsWidth, depth: Int = CmsDepth): Long = {
    var min = Long.MaxValue
    var i = 0
    while (i < depth) {
      val c = sketch(i * width + cmsHash(item, i, width))
      if (c < min) min = c
      i += 1
    }
    if (min == Long.MaxValue) 0L else min
  }

  /** Count-Min Sketch as a mergeable Aggregator over a token column.
    * Buffer = row-major `long[depth*width]` (80 KB at reference dims) —
    * partials combine map-side; merge is element-wise add (associative +
    * commutative, so Catalyst's partial/final split is safe). */
  class CmsAggregator(width: Int = CmsWidth, depth: Int = CmsDepth)
      extends Aggregator[String, Array[Long], Array[Long]] {
    def zero: Array[Long] = new Array[Long](width * depth)
    def reduce(buf: Array[Long], item: String): Array[Long] = {
      var i = 0
      while (i < depth) { buf(i * width + cmsHash(item, i, width)) += 1L; i += 1 }
      buf
    }
    def merge(a: Array[Long], b: Array[Long]): Array[Long] = {
      var i = 0
      while (i < a.length) { a(i) += b(i); i += 1 }
      a
    }
    def finish(buf: Array[Long]): Array[Long] = buf
    def bufferEncoder: Encoder[Array[Long]] = ExpressionEncoder[Array[Long]]()
    def outputEncoder: Encoder[Array[Long]] = ExpressionEncoder[Array[Long]]()
  }

  /** Flajolet–Martin distinct-count estimate as a mergeable Aggregator.
    * Buffer = max trailing-zero rank seen; merge = max; finish = 2^max.
    * Zero input rows → 2^0 = 1 (the reference never hits this: empty batches
    * are short-circuited, flajolent_stream.py:65-67). Null items (the text
    * of a malformed line) are skipped, as SQL aggregates skip nulls. */
  class FmAggregator extends Aggregator[String, Int, Long] {
    def zero: Int = 0
    def reduce(b: Int, s: String): Int =
      if (s == null) b else math.max(b, fmTrailingZeros(s))
    def merge(a: Int, b: Int): Int = math.max(a, b)
    // clamp: rank ≥ 63 (p ≈ 2⁻⁶⁴ per distinct value) would make the Java
    // shift wrap (1L << 64 == 1); cap the estimate instead of wrapping
    def finish(b: Int): Long = 1L << math.min(b, 62)
    def bufferEncoder: Encoder[Int] = Encoders.scalaInt
    def outputEncoder: Encoder[Long] = Encoders.scalaLong
  }

  // ----- HyperLogLog (register-array distinct sketch) -----

  /** HLL precision: p=12 → m=4096 registers (±1.6% standard error), the
    * classic production operating point (Flajolet et al. 2007, public). */
  val HllP = 12
  val HllM = 1 << HllP

  /** Register index + rank of one item, from the low 64 bits of its 128-bit
    * md5 (the same low-half convention the FM oracle pins): index = top
    * [[HllP]] bits, rank = trailing-zero count of the remaining 52-bit field
    * plus one (all-zero field → 53). Trailing zeros — FM's bit geometry —
    * rather than the paper's leading zeros: over iid uniform bits the rank
    * distribution is identical, and it reuses the `bin()`/`rtrim` SQL
    * formulation the q_distinct_fm oracle already proves out. */
  def hllIndexRank(s: String): (Int, Int) = {
    val h = md5Int(s).longValue() // low 64 bits, unsigned bit pattern
    val idx = (h >>> (64 - HllP)).toInt
    val w = h & ((1L << (64 - HllP)) - 1)
    val rank = if (w == 0L) 64 - HllP + 1
               else java.lang.Long.numberOfTrailingZeros(w) + 1
    (idx, rank)
  }

  /** Raw HLL state for [[HllAggregator.finish]]: the estimate plus the
    * zero-register count (the linear-counting input — surfacing it makes the
    * small-range branch auditable in query output). */
  case class HllResult(estimate: Double, nZeroRegisters: Long)

  /** HyperLogLog distinct-count sketch as a mergeable Aggregator: buffer =
    * 4096-int register array (16 KB), reduce = register max, merge =
    * element-wise max (associative + commutative + idempotent — safe under
    * partial aggregation AND double-counting-proof, the property FM/CMS
    * lack). Estimator: harmonic mean of register estimates with the
    * standard small-range linear-counting fallback (E ≤ 2.5m with empty
    * registers → m·ln(m/V)).
    *
    * Fully deterministic — md5 bits, integer register state, and a
    * fixed-shape float expression — so unlike Spark's built-in
    * `approx_count_distinct` it carries an exact DuckDB oracle: Σ 2^(−M_j)
    * is accumulated as the INTEGER Σ 2^(53−M_j) (BigInteger here, HUGEINT
    * in SQL — doubles would lose associativity past 2^53) and converted to
    * double exactly once, in the same expression order on both engines. */
  class HllAggregator extends Aggregator[String, Array[Int], HllResult] {
    def zero: Array[Int] = new Array[Int](HllM)
    def reduce(regs: Array[Int], item: String): Array[Int] = {
      val (idx, rank) = hllIndexRank(item)
      if (rank > regs(idx)) regs(idx) = rank
      regs
    }
    def merge(a: Array[Int], b: Array[Int]): Array[Int] = {
      var i = 0
      while (i < a.length) { if (b(i) > a(i)) a(i) = b(i); i += 1 }
      a
    }
    def finish(regs: Array[Int]): HllResult = {
      var zeros = 0L
      var sum = BigInteger.ZERO
      var i = 0
      while (i < regs.length) {
        if (regs(i) == 0) zeros += 1
        sum = sum.add(BigInteger.ONE.shiftLeft(53 - regs(i)))
        i += 1
      }
      // identical literal/operator order to the DuckDB oracle expression —
      // left-associative, one integer→double conversion
      val raw = 0.7213 / (1.0 + 1.079 / 4096.0) * 4096.0 * 4096.0 *
        9007199254740992.0 / sum.doubleValue()
      val est = if (raw <= 10240.0 && zeros > 0) 4096.0 * math.log(4096.0 / zeros)
                else raw
      HllResult(est, zeros)
    }
    def bufferEncoder: Encoder[Array[Int]] = ExpressionEncoder[Array[Int]]()
    def outputEncoder: Encoder[HllResult] = Encoders.product[HllResult]
  }

  /** `cms_estimate(sketch, keyword)` as a column fn (tiny post-agg surface —
    * a UDF here is off the hot path; the heavy work is the aggregation). */
  val cmsEstimateUdf =
    udf((sketch: Array[Long], item: String) => cmsEstimate(sketch, item))

  // ----- Bloom filter (membership sketch) -----

  /** Bloom parameters: m bits, k hash functions. Defaults sized for ~10^5
    * members at ~1% FPR (m ≈ 9.6 n, k ≈ 7). */
  val BloomBits = 1 << 20
  val BloomHashes = 7

  /** Bit positions of an item: k hashes derived from one 128-bit md5 via
    * the Kirsch–Mitzenmacher construction h_i = h1 + i·h2 (public
    * technique), mod m. null hashes as the string "null" (same contract as
    * the CMS hash, which concatenates the item into a string). */
  def bloomPositions(item: String, m: Int = BloomBits,
                     k: Int = BloomHashes): Array[Int] = {
    // m must match the aggregator's long-packed width or probe positions
    // land outside (or probe a different effective m than) the built sketch
    require(m > 0 && m % 64 == 0, s"bloom width m=$m must be a positive multiple of 64")
    val s = if (item == null) "null" else item
    val d = MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
    val bb = java.nio.ByteBuffer.wrap(d)
    val h1 = bb.getLong; val h2 = bb.getLong
    Array.tabulate(k) { i =>
      val h = h1 + i * h2
      (((h % m) + m) % m).toInt
    }
  }

  /** Membership probe. m is derived from the sketch itself (bits.length·64)
    * so probes agree with whatever width built the sketch; k must match the
    * building aggregator's k. */
  def bloomContains(bits: Array[Long], item: String,
                    k: Int = BloomHashes): Boolean =
    bloomPositions(item, bits.length * 64, k)
      .forall(p => (bits(p >> 6) & (1L << (p & 63))) != 0)

  /** Bloom filter as a mergeable Aggregator over a string column: buffer =
    * packed bit array (m/64 longs, 128 KB at defaults); merge = bitwise OR
    * (associative + commutative → safe under partial aggregation). The
    * membership sketch next to CMS (counts) and FM/HLL (distincts): at
    * scale it prunes joins — build on the small side, pre-filter the big
    * side before the shuffle. */
  class BloomAggregator(m: Int = BloomBits, k: Int = BloomHashes)
      extends Aggregator[String, Array[Long], Array[Long]] {
    require(m > 0 && m % 64 == 0, s"bloom width m=$m must be a positive multiple of 64")
    def zero: Array[Long] = new Array[Long](m / 64)
    def reduce(buf: Array[Long], item: String): Array[Long] = {
      val ps = bloomPositions(item, m, k) // null-safe (hashes as "null")
      var i = 0
      while (i < ps.length) { buf(ps(i) >> 6) |= (1L << (ps(i) & 63)); i += 1 }
      buf
    }
    def merge(a: Array[Long], b: Array[Long]): Array[Long] = {
      var i = 0
      while (i < a.length) { a(i) |= b(i); i += 1 }
      a
    }
    def finish(buf: Array[Long]): Array[Long] = buf
    def bufferEncoder: Encoder[Array[Long]] = ExpressionEncoder[Array[Long]]()
    def outputEncoder: Encoder[Array[Long]] = ExpressionEncoder[Array[Long]]()
  }

  // ----- Misra–Gries heavy hitters (frequency sketch, top-k) -----

  /** Misra–Gries summary as a mergeable Aggregator (Misra & Gries 1982;
    * mergeability per Agarwal et al., PODS 2012 — public techniques): at
    * most k−1 counters; any item with true frequency > n/k is guaranteed a
    * surviving counter, and every counter underestimates by ≤ n/k. The
    * sketch finds heavy hitters WITHOUT a pre-declared keyword list —
    * the reference's CMS can only answer for its fixed five (cms_stream
    * .py:110). Scale pattern: MG candidates (tiny map) → exact-count only
    * the candidates → deterministic verified top-k. */
  class MisraGriesAggregator(k: Int = MgCounters)
      extends Aggregator[String, Map[String, Long], Map[String, Long]] {
    require(k > 1, s"need k > 1 counters, got $k")
    def zero: Map[String, Long] = Map.empty
    def reduce(m: Map[String, Long], item: String): Map[String, Long] = {
      val s = if (item == null) "null" else item
      m.get(s) match {
        case Some(c) => m.updated(s, c + 1)
        case None if m.size < k - 1 => m.updated(s, 1L)
        case None => // decrement-all step (drop zeros)
          m.flatMap { case (w, c) => if (c > 1) Some(w -> (c - 1)) else None }
      }
    }
    def merge(a: Map[String, Long], b: Map[String, Long]): Map[String, Long] = {
      val sum = b.foldLeft(a) { case (m, (w, c)) =>
        m.updated(w, m.getOrElse(w, 0L) + c)
      }
      if (sum.size <= k - 1) sum
      else { // keep the k-1 largest after subtracting the k-th value
        val kth = sum.values.toSeq.sortBy(-_).apply(k - 1)
        sum.flatMap { case (w, c) =>
          if (c - kth > 0) Some(w -> (c - kth)) else None
        }
      }
    }
    def finish(m: Map[String, Long]): Map[String, Long] = m
    def bufferEncoder: Encoder[Map[String, Long]] =
      ExpressionEncoder[Map[String, Long]]()
    def outputEncoder: Encoder[Map[String, Long]] =
      ExpressionEncoder[Map[String, Long]]()
  }

  /** Default counter budget: any word with freq > n/[[MgCounters]] is
    * guaranteed a surviving counter. 1024 keeps the summary tiny (one
    * ≤1023-entry map shuffles once) while making the top-10 guarantee hold
    * far beyond the test corpora: Zipfian text has its rank-10 word at
    * ~n/30 ≫ n/1024, and even the deliberately flat scaled tiers (sf1's
    * ~310-word suffixed vocabulary, each word ≈ n/310) stay lossless.
    * The lossy small-k regime is pinned separately in SketchSpec. */
  val MgCounters = 1024

  // ----- KMV / theta sketch (distinct counting WITH set operations) -----

  /** KMV sketch size: k=64 minima → ~12.5% relative standard error on
    * cardinalities, and exact answers below 64 distinct values. */
  val KmvK = 64

  /** The 60-bit KMV rank of an item: the TOP 60 bits of its md5, i.e. the
    * first 15 hex chars parsed base-16 — a formulation DuckDB replays
    * verbatim as `('0x' || substr(md5(s), 1, 15))::UBIGINT`, so the
    * sketch contents (not just the estimate) oracle exactly. */
  def kmvHash(s: String): Long =
    java.lang.Long.parseLong(
      String.format("%032x", md5Int(s)).substring(0, 15), 16)

  /** K-minimum-values distinct sketch (Bar-Yossef et al. 2002; the theta
    * sketch of Dasgupta et al. 2016 with fixed θ = k-th minimum): the
    * buffer is the k smallest DISTINCT hash values seen, kept sorted.
    * Unlike FM/HLL this sketch supports SET OPERATIONS — union is a
    * sorted merge, and intersections estimate via the inclusion rule
    * |{h ∈ A∩B : h < θ_union}| / θ_union — which is what pairwise
    * audience-overlap queries need at 100 TB where exact pairwise
    * distinct joins are quadratic in segment count. Mergeable: merge =
    * sorted distinct union trimmed to k, associative and commutative, so
    * partial aggregation buffers combine in any order. */
  class KmvAggregator(k: Int = KmvK)
      extends Aggregator[String, Array[Long], Array[Long]] {
    def zero: Array[Long] = Array.empty
    def reduce(b: Array[Long], s: String): Array[Long] = {
      val h = kmvHash(s)
      val idx = java.util.Arrays.binarySearch(b, h)
      if (idx >= 0) b // already present
      else {
        val ins = -idx - 1
        if (ins >= k) b // beyond the k-th minimum — cannot enter
        else {
          val n = math.min(b.length + 1, k)
          val out = new Array[Long](n)
          System.arraycopy(b, 0, out, 0, ins)
          out(ins) = h
          System.arraycopy(b, ins, out, ins + 1, n - ins - 1)
          out
        }
      }
    }
    def merge(a: Array[Long], b: Array[Long]): Array[Long] = {
      val out = new Array[Long](math.min(a.length + b.length, k))
      var (i, j, o) = (0, 0, 0)
      while (o < out.length && (i < a.length || j < b.length)) {
        val take =
          if (i >= a.length) { val v = b(j); j += 1; v }
          else if (j >= b.length) { val v = a(i); i += 1; v }
          else if (a(i) < b(j)) { val v = a(i); i += 1; v }
          else if (a(i) > b(j)) { val v = b(j); j += 1; v }
          else { val v = a(i); i += 1; j += 1; v }
        if (o == 0 || out(o - 1) != take) { out(o) = take; o += 1 }
      }
      if (o == out.length) out else java.util.Arrays.copyOf(out, o)
    }
    def finish(b: Array[Long]): Array[Long] = b
    def bufferEncoder: Encoder[Array[Long]] = ExpressionEncoder[Array[Long]]()
    def outputEncoder: Encoder[Array[Long]] = ExpressionEncoder[Array[Long]]()
  }

  /** Untyped (DataFrame) registrations: `cms($"tok")`, `fm($"text")`. */
  val cms = org.apache.spark.sql.functions.udaf(new CmsAggregator(), Encoders.STRING)
  val fm = org.apache.spark.sql.functions.udaf(new FmAggregator(), Encoders.STRING)
  val hll = org.apache.spark.sql.functions.udaf(new HllAggregator(), Encoders.STRING)
  val bloom = org.apache.spark.sql.functions.udaf(new BloomAggregator(), Encoders.STRING)
  val mg = org.apache.spark.sql.functions.udaf(new MisraGriesAggregator(), Encoders.STRING)
  val kmv = org.apache.spark.sql.functions.udaf(new KmvAggregator(), Encoders.STRING)
}
