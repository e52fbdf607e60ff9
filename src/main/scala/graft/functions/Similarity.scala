package graft.functions

import org.apache.spark.sql.{Column, Encoder, Encoders}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._

/** Similarity / near-duplicate primitives for the training-data-pipeline
  * surface (north-star ops, BASELINE.json): word-shingle Jaccard, MinHash
  * signatures + LSH banding, SimHash fingerprints, and embedding cosine.
  *
  * Scale posture: everything is expressed so the heavy path is a hash
  * shuffle on a key (shingle, band bucket, LSH bucket) — never an all-pairs
  * cross join. The O(n²) variants exist only as small-side oracles/baselines.
  */
object Similarity {

  /** Number of MinHash hash functions (signature length). */
  val NumHashes = 128
  /** LSH banding: Bands×RowsPerBand == NumHashes; s-curve threshold
    * (1/b)^(1/r) ≈ 0.42, so J ≥ 0.8 pairs are caught with
    * p = 1-(1-0.8^4)^32 ≈ 1 - 5e-8. */
  val Bands = 32
  val RowsPerBand = 4
  /** Near-dup Jaccard threshold (typical LLM-corpus dedup setting). */
  val JaccardThreshold = 0.8

  /** Distinct word n-gram shingles of one document (n=3): whitespace
    * tokens, consecutive n-grams joined with " ", first-occurrence order.
    * Plain Scala — called once per document (see [[shingles]]). */
  def shinglesOf(text: String, n: Int): Array[String] = {
    if (text == null) return Array.empty
    val toks = text.split("\\s+").filter(_.nonEmpty)
    if (toks.length < n) return Array.empty
    val seen = new java.util.LinkedHashSet[String]()
    var i = 0
    while (i <= toks.length - n) {
      val sb = new java.lang.StringBuilder(toks(i))
      var j = 1
      while (j < n) { sb.append(' ').append(toks(i + j)); j += 1 }
      seen.add(sb.toString)
      i += 1
    }
    seen.toArray(Array.empty[String])
  }

  private val shinglesUdf = udf((text: String) => shinglesOf(text, 3))

  /** Distinct word 3-gram shingles of a document. Docs shorter than 3
    * tokens yield no shingles.
    *
    * Implemented as a scalar UDF rather than the equivalent
    * `transform`/`slice`/`array_distinct` HOF chain: higher-order-function
    * lambdas evaluate interpreted per element (~1 ms/doc measured at sf0.1
    * — 6 s just to shingle 5 000 docs), while one JVM call per document is
    * ~µs. Semantics are pinned equal to the HOF chain in SimilaritySpec. */
  def shingles(text: Column): Column = shinglesUdf(text)

  /** murmur3 fmix64 finalizer — public-domain avalanche mix used to derive
    * the k MinHash functions from one 64-bit base hash per shingle. */
  def fmix64(h0: Long): Long = {
    var h = h0
    h ^= h >>> 33; h *= 0xff51afd7ed558ccdL
    h ^= h >>> 33; h *= 0xc4ceb9fe1a85ec53L
    h ^= h >>> 33; h
  }

  /** Per-function seeds (fixed, deterministic). */
  val HashSeeds: Array[Long] = {
    val rnd = new scala.util.Random(42)
    Array.fill(NumHashes)(rnd.nextLong())
  }

  /** MinHash signature aggregator: IN = base 64-bit shingle hash
    * (xxhash64 column), BUF/OUT = k element-wise minima of derived hashes.
    * Associative + commutative merge → safe under partial aggregation. */
  class MinHashAggregator(k: Int = NumHashes)
      extends Aggregator[Long, Array[Long], Array[Long]] {
    def zero: Array[Long] = Array.fill(k)(Long.MaxValue)
    def reduce(buf: Array[Long], h: Long): Array[Long] = {
      var i = 0
      while (i < k) {
        val hi = fmix64(h ^ HashSeeds(i))
        if (hi < buf(i)) buf(i) = hi
        i += 1
      }
      buf
    }
    def merge(a: Array[Long], b: Array[Long]): Array[Long] = {
      var i = 0
      while (i < a.length) { if (b(i) < a(i)) a(i) = b(i); i += 1 }
      a
    }
    def finish(buf: Array[Long]): Array[Long] = buf
    def bufferEncoder: Encoder[Array[Long]] = ExpressionEncoder[Array[Long]]()
    def outputEncoder: Encoder[Array[Long]] = ExpressionEncoder[Array[Long]]()
  }

  /** SimHash aggregator over per-token 64-bit hashes: buffer = 64 signed bit
    * counters (+1 for set bit, -1 for clear); finish = sign bits packed into
    * a Long (counter > 0 → bit set; tie → clear, deterministic). */
  class SimHashAggregator extends Aggregator[Long, Array[Int], Long] {
    def zero: Array[Int] = new Array[Int](64)
    def reduce(buf: Array[Int], h: Long): Array[Int] = {
      var j = 0
      while (j < 64) {
        buf(j) += (if (((h >>> j) & 1L) == 1L) 1 else -1)
        j += 1
      }
      buf
    }
    def merge(a: Array[Int], b: Array[Int]): Array[Int] = {
      var j = 0
      while (j < 64) { a(j) += b(j); j += 1 }
      a
    }
    def finish(buf: Array[Int]): Long = {
      var bits = 0L
      var j = 0
      while (j < 64) { if (buf(j) > 0) bits |= (1L << j); j += 1 }
      bits
    }
    def bufferEncoder: Encoder[Array[Int]] = ExpressionEncoder[Array[Int]]()
    def outputEncoder: Encoder[Long] = Encoders.scalaLong
  }

  val minhash = udaf(new MinHashAggregator(), Encoders.scalaLong)
  val simhash = udaf(new SimHashAggregator(), Encoders.scalaLong)

  /** xxHash64 (seed 42) of a string's UTF-8 bytes — bit-identical to Spark's
    * `xxhash64` column function on StringType, so [[minhashSigOf]] produces
    * exactly the signatures of the explode → xxhash64 → [[MinHashAggregator]]
    * formulation (equality pinned in SimilaritySpec). */
  def baseHash(s: String): Long = {
    val b = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    org.apache.spark.sql.catalyst.expressions.XXH64.hashUnsafeBytes(
      b, org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET, b.length, 42L)
  }

  /** One-pass MinHash signature of a whole shingle set: one JVM call per
    * document computes all [[NumHashes]] minima. Replaces the
    * explode → per-row aggregation path (VERDICT r1 #4) — same mins, but
    * the exploded-shingle shuffle and per-row aggregation buffers vanish;
    * signature building becomes a map-only stage. */
  def minhashSigOf(sh: Seq[String]): Array[Long] = {
    val sig = Array.fill(NumHashes)(Long.MaxValue)
    val it = sh.iterator
    while (it.hasNext) {
      val h = baseHash(it.next())
      var j = 0
      while (j < NumHashes) {
        val hj = fmix64(h ^ HashSeeds(j))
        if (hj < sig(j)) sig(j) = hj
        j += 1
      }
    }
    sig
  }
  private val minhashSigUdf = udf((sh: Seq[String]) => minhashSigOf(sh))
  def minhashSig(sh: Column): Column = minhashSigUdf(sh)

  /** Explode a MinHash signature into (band, band_hash) rows for LSH
    * bucketing: murmur3 of each r-slice of the signature. */
  def lshBands(sig: Column, bands: Int = Bands, r: Int = RowsPerBand): Column =
    transform(sequence(lit(0), lit(bands - 1)),
      b => struct(b.as("band"), hash(slice(sig, b * r + lit(1), lit(r))).as("band_hash")))

  /** First band index whose r-slices of the two signatures are equal, or
    * -1 if none collide. The streaming LSH index uses this to emit each
    * candidate pair from exactly ONE band bucket without cross-bucket
    * coordination: every bucket holds both full signatures, so every
    * bucket computes the same first-collision index locally. */
  def firstCollidingBand(a: Array[Long], b: Array[Long],
                         bands: Int = Bands, r: Int = RowsPerBand): Int = {
    var band = 0
    while (band < bands) {
      var i = band * r
      val end = i + r
      while (i < end && a(i) == b(i)) i += 1
      if (i == end) return band
      band += 1
    }
    -1
  }

  /** Exact Jaccard of two SORTED distinct long arrays (hashed shingle
    * sets) via a single merge pass — the streaming twin of the batch
    * verification's intersection-size expression. */
  def jaccardOfSorted(a: Array[Long], b: Array[Long]): Double = {
    if (a.isEmpty && b.isEmpty) return 0.0
    var i = 0; var j = 0; var common = 0
    while (i < a.length && j < b.length) {
      if (a(i) == b(j)) { common += 1; i += 1; j += 1 }
      else if (a(i) < b(j)) i += 1
      else j += 1
    }
    common.toDouble / (a.length + b.length - common)
  }

  // ----- embedding cosine -----

  /** Sequential-fold dot product of two double arrays (same accumulation
    * order as DuckDB's list_dot_product, so oracles agree to the ulp).
    * Backed by a native codegen expression — the HOF formulation
    * (`aggregate(zip_with(...))`) evaluates its lambda interpreted, which
    * is the difference between ~ns and ~µs per vector at kNN scale. */
  def dot(a: Column, b: Column): Column = graft.expressions.ArrayOps.dotProduct(a, b)

  def l2norm(a: Column): Column = sqrt(dot(a, a))

  /** Cosine of `a` and `b` from their precomputed norms `na` and `nb`
    * (norms are computed once per row, never per pair). A zero norm makes
    * the cosine null, under ANSI mode too, so an all-zero embedding ranks
    * as a null cosine instead of failing the query. */
  def cosine(a: Column, b: Column, na: Column, nb: Column): Column =
    dot(a, b) / nullif(na * nb, lit(0.0))

  /** [[dot]]'s fold over driver-side values: left to right over the
    * shorter array, null elements skipped — DotProductDouble's loop, so a
    * value computed here equals the column's to the bit. */
  def dotOf(a: Array[java.lang.Double], b: Array[java.lang.Double]): Double = {
    val n = math.min(a.length, b.length)
    var sum = 0.0
    var i = 0
    while (i < n) {
      val x = a(i)
      val y = b(i)
      if (x != null && y != null) sum += x * y
      i += 1
    }
    sum
  }

  /** Number of random hyperplanes for the sign-LSH ANN index. Few planes →
    * coarse buckets; 4 gives 16 buckets (tuned for the testdata's ~random
    * embeddings — production corpora with real cluster structure use 8-16). */
  val NumPlanes = 4
  val EmbeddingDim = 64

  /** Fixed random hyperplanes (deterministic seed — no runtime RNG). */
  val Planes: Array[Array[Double]] = {
    val rnd = new scala.util.Random(2024)
    Array.fill(NumPlanes)(Array.fill(EmbeddingDim)(rnd.nextGaussian()))
  }

  /** Sign-LSH bucket id of an array<double> embedding: bit j = sign of the
    * dot product with plane j. Pure Column expr (codegen'd). */
  def lshBucket(v: Column): Column =
    Planes.zipWithIndex.map { case (plane, j) =>
      // typedlit → one ArrayType Literal node (array(lit,...) would build a
      // 64-wide expression tree per plane and bloat codegen compile time)
      when(dot(v, typedlit(plane.toSeq)) >= 0, lit(1 << j)).otherwise(lit(0))
    }.reduce(_ + _)

  /** Johnson–Lindenstrauss target dimension for [[randProject]]. */
  val ProjDim = 16

  /** ±1 sign projection matrix (Achlioptas 2003, "Database-friendly random
    * projections" — public method), [[ProjDim]] rows × [[EmbeddingDim]]
    * cols, fixed seed. Doubles so both engines inline the identical
    * literal; signs avoid the Gaussian's platform-dependent tail math. */
  val ProjSigns: Array[Array[Double]] = {
    val rnd = new scala.util.Random(4099)
    Array.fill(ProjDim)(Array.fill(EmbeddingDim)(
      if (rnd.nextBoolean()) 1.0 else -1.0))
  }

  /** Scale 1/√[[ProjDim]] making the sign projection norm-preserving in
    * expectation (E‖Sx/√k‖² = ‖x‖²). */
  val ProjScale: Double = 1.0 / math.sqrt(ProjDim.toDouble)

  /** The [[ProjDim]]-dimensional JL sign projection of an array<double>
    * embedding, each coordinate rounded to the 6-dp grid (the engine-wide
    * float parity doctrine). Pure Column exprs — one codegen'd sequential
    * dot product per output coordinate, no shuffle, no UDF. */
  def randProject(v: Column): Column =
    // + 0.0 folds IEEE negative zero to +0.0: Spark's BigDecimal round
    // already produces +0.0 for tiny negatives, DuckDB's round keeps
    // -0.0, and value comparators that hash the sign bit would diverge
    array(ProjSigns.map { row =>
      round(dot(v, typedlit(row.toSeq)) * lit(ProjScale), 6) + lit(0.0)
    }.toIndexedSeq: _*)

  /** Bounded top-k neighbor aggregate: per group, the k (cos, vb) pairs
    * ordered by (cos desc, vb asc) as a flat [cos₀, vb₀, cos₁, vb₁, …]
    * array (vb ≤ 2⁵³ is exact in a double). A MERGEABLE bounded buffer in
    * the sketch-Aggregator family — the point is that partial aggregation
    * prunes each map partition to k rows per key BEFORE the shuffle, where
    * a rank-filter window must first shuffle (and locally sort) the FULL
    * candidate mass: at the 5M-vector tier that is the difference between
    * a 25M-row exchange and a ~20G-row / half-terabyte spill (measured
    * r12 — the window formulation overflowed local scratch). The kept set
    * is the global top-k under any merge order, so results are identical
    * to the row_number() formulation, ties and all. A null cos (a zero-norm
    * vector) is skipped, as SQL aggregates skip nulls: it is no neighbor. */
  class TopKNeighborsAggregator(k: Int)
      extends Aggregator[(Long, java.lang.Double), Array[Double], Array[Double]] {
    def zero: Array[Double] = Array.emptyDoubleArray
    private def better(c1: Double, v1: Double, c2: Double, v2: Double) =
      c1 > c2 || (c1 == c2 && v1 < v2)
    private def insert(b: Array[Double], c: Double, v: Double): Array[Double] = {
      val n = b.length / 2
      if (n == k && !better(c, v, b(2 * k - 2), b(2 * k - 1))) b
      else {
        var i = 0
        while (i < n && better(b(2 * i), b(2 * i + 1), c, v)) i += 1
        val m = math.min(n + 1, k)
        val out = new Array[Double](2 * m)
        System.arraycopy(b, 0, out, 0, 2 * i)
        out(2 * i) = c
        out(2 * i + 1) = v
        val rest = math.min(n - i, m - i - 1)
        if (rest > 0) System.arraycopy(b, 2 * i, out, 2 * i + 2, 2 * rest)
        out
      }
    }
    def reduce(b: Array[Double], in: (Long, java.lang.Double)): Array[Double] =
      if (in._2 == null) b else insert(b, in._2, in._1.toDouble)
    def merge(x: Array[Double], y: Array[Double]): Array[Double] = {
      var b = x
      var i = 0
      while (i < y.length / 2) { b = insert(b, y(2 * i), y(2 * i + 1)); i += 1 }
      b
    }
    def finish(b: Array[Double]): Array[Double] = b
    def bufferEncoder: Encoder[Array[Double]] = ExpressionEncoder[Array[Double]]()
    def outputEncoder: Encoder[Array[Double]] = ExpressionEncoder[Array[Double]]()
  }
}
