package graft.queries

import graft.functions.{Sketches, Text}
import graft.sources.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Sketch-based approximate analytics (reference cms_stream.py /
  * flajolent_stream.py), fully distributed: sketches build as partial
  * aggregation buffers on executors and merge associatively — no driver
  * state, no collect (contrast cms_stream.py:94, flajolent_stream.py:75).
  */
object SketchQueries {

  /** Count-Min keyword frequencies over the documents token stream — the
    * reference's cms_estimates metrics query (cms_stream.py:109-127) with
    * the tracked-keyword list adapted to the testdata vocabulary.
    *
    * Plan shape: scan → split/explode (distributed tokenize) → single-group
    * ObjectHashAggregate (partial sketches per partition, 80 KB each, merged
    * once) → 1-row sketch cross-joined to the 5-keyword dim → point queries.
    * At reference dims (w=1000, d=10) estimates are exact unless a keyword
    * collides with others in all 10 rows (prob ≈ (vocab/1000)^10) — so the
    * oracle uses exact counts; any future mismatch means a genuine collision.
    */
  def keywordCms(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val toks = Tables.documents(spark, dir)
      .select(explode(Text.tokenize($"text")).as("tok"))
    val sketch = toks.agg(Sketches.cms($"tok").as("sketch"))
    val keywords = Sketches.TrackedKeywords.toDF("keyword")
    sketch.crossJoin(keywords)
      .select($"keyword",
        Sketches.cmsEstimateUdf($"sketch", $"keyword").as("est_count"))
      .orderBy($"keyword")
  }

  /** Flajolet–Martin distinct-document estimate (flajolent_stream.py:96-101)
    * next to the exact count — one row, both numbers. The estimate is fully
    * deterministic (md5 trailing-zero rank, 2^max), so it carries a real
    * DuckDB oracle (VERDICT r2 #3): trailing zeros of the 128-bit md5 via
    * `bin()`/`rtrim` over the low/high 64-bit halves. */
  def distinctFm(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, dir)
      .agg(Sketches.fm($"text").as("fm_estimate"),
        countDistinct($"text").as("exact_distinct"))
  }

  /** HyperLogLog distinct estimate — the engine's production-grade
    * replacement for FM (±1.6% at p=12 vs FM's one-register 2^r coarseness,
    * same mergeable-buffer shape). The engine's own deterministic HLL
    * (Sketches.HllAggregator, md5-derived bits) rather than Spark's
    * `approx_count_distinct`, so the full register pipeline — index/rank
    * extraction, register max-merge, harmonic-mean estimator with the
    * linear-counting branch — carries an exact DuckDB oracle; the built-in's
    * xxhash64-based HLL++ is sketch-equivalent but not SQL-reproducible.
    * Exact count rides along as the error yardstick. */
  def distinctHll(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, dir)
      .agg(Sketches.hll($"text").as("h"), countDistinct($"text").as("exact_distinct"))
      .select(round($"h.estimate", 6).as("hll_estimate"),
        $"h.nZeroRegisters".as("n_zero_registers"), $"exact_distinct")
  }

  /** Bloom-filter membership join: build a Bloom sketch over purchaser ids
    * (mergeable bitwise-OR aggregation), probe every signup user against
    * it — the scale pattern for pre-shuffle join pruning (build on the
    * small side, filter the big side before it moves). At these
    * cardinalities (m=2^20 bits, ~10^2 members) the deterministic md5-based
    * positions yield zero false positives, so the probe count equals the
    * exact semi-join count and the oracle is exact — a future mismatch
    * means a genuine (deterministic) collision. */
  def bloomJoin(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ev = Tables.events(spark, dir)
    val purchasers = ev.filter($"event_type" === "purchase")
      .select($"user_id".cast("string").as("uid")).distinct()
    val signups = ev.filter($"event_type" === "signup")
      .select($"user_id".cast("string").as("uid")).distinct()
    // the sketch is one aggregate scalar (128 KB): collect it once and ship
    // it as a broadcast closed over by the probe UDF — probing via a column
    // would re-deserialize the bit array from Catalyst format per row
    val bits = Bounded.rows(purchasers.agg(Sketches.bloom($"uid").as("bits")), 1,
      "bloom sketch").head.getSeq[Long](0).toArray
    val bcast = spark.sparkContext.broadcast(bits)
    val containsUdf = udf((uid: String) => Sketches.bloomContains(bcast.value, uid))
    val probed = signups
      .select(containsUdf($"uid").as("maybe"))
      .agg(count(lit(1)).as("n_signup"),
        // count(when) not sum(when): stays 0, not NULL, on an empty input
        count(when($"maybe", 1)).as("n_bloom_maybe"))
    probed.crossJoin(
      signups.join(purchasers, "uid").agg(count(lit(1)).as("n_exact_both")))
  }

  /** Per-user-bucket CMS, demonstrating sketch-per-group at scale: one CMS
    * per event_type over the events user_id stream (grouped sketches merge
    * within each hash-agg group). Output is the estimate per (event_type,
    * tracked user decile); exact oracle — same no-collision argument. */
  def eventTypeUserCms(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ev = Tables.events(spark, dir)
      .select($"event_type", ($"user_id" % 10).cast("string").as("decile"))
    val sketches = ev.groupBy($"event_type")
      .agg(Sketches.cms($"decile").as("sketch"))
    val deciles = (0 until 10).map(_.toString).toDF("decile")
    sketches.crossJoin(deciles)
      .select($"event_type", $"decile".cast("bigint").as("decile"),
        Sketches.cmsEstimateUdf($"sketch", $"decile").as("est_count"))
      .orderBy($"event_type", $"decile")
  }

  /** Heavy hitters WITHOUT a pre-declared keyword list: Misra–Gries
    * candidates (one tiny mergeable map — any word with freq > n/32 is
    * guaranteed in it) → exact-count ONLY the candidates → top-10. The
    * scale pattern: the first pass shuffles one ≤31-entry map, the second
    * counts a filtered token stream — never a full-vocabulary aggregation.
    * The test corpora's vocabularies (31 words at sf0.01, ~310 at the
    * suffix-scaled sf1 tier) fit the [[Sketches.MgCounters]] budget, so the
    * candidate set is lossless and the exact top-10 oracle applies; the
    * lossy regime (k smaller than vocabulary) is pinned in SketchSpec
    * against the MG guarantees. */
  def heavyHitters(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val toks = Tables.documents(spark, dir)
      .select(explode(Text.tokenize($"text")).as("word"))
    // one pass builds the sketch AND the total N the support floor needs
    val candidates = toks
      .agg(Sketches.mg($"word").as("summary"), count(lit(1)).as("tot"))
      .select($"tot", explode($"summary"))
      .select($"key".as("word"), $"tot")
    // keep only words ABOVE the Misra–Gries support floor N/(k+1): every
    // such word provably survives the sketch (the MG guarantee) no matter
    // how partials merged, so membership is deterministic and the exact
    // DuckDB oracle applies at every tier. Below the floor candidate
    // survival is merge-order-dependent — the 100× ScaleUp tier's
    // suffix-uniform vocabulary (freq ≈ N/5000 < N/1025 for every word)
    // surfaced exactly that; a uniform corpus correctly has NO certifiable
    // heavy hitter. Integer arithmetic (n·(k+1) > N) — no float boundary.
    toks.join(broadcast(candidates), "word")
      .groupBy($"word").agg(count(lit(1)).as("n"), max($"tot").as("tot"))
      .filter($"n" * (Sketches.MgCounters + 1) > $"tot")
      .select($"word", $"n")
      .orderBy($"n".desc, $"word")
      .limit(10)
  }

  /** Exclusive upper bound of the 60-bit KMV hash space (2^60). */
  private val KmvMax = 1L << 60

  /** q_kmv_overlap — pairwise audience overlap between event types via the
    * KMV/theta sketch ([[Sketches.KmvAggregator]]): per type, one
    * mergeable k=64-minima sketch of the user set; per type pair, the
    * union/intersection estimates by the theta inclusion rule with
    * θ = least(θ_a, θ_b, k-th minimum of the merged sketch) and a
    * not-yet-full sketch contributing θ = 2^60 (it IS its exact set).
    * Exact twins ride along for calibration (cheap here; at 100 TB the
    * sketch column is the point — S segments cost S sketches, not S²
    * distinct joins, and sketches merge across any partitioning). The
    * DuckDB oracle replays the SKETCH CONTENTS (k smallest distinct
    * 60-bit md5 prefixes) and every estimate, not just the answer. */
  def kmvOverlap(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val k = Sketches.KmvK
    // the (type, user) distinct frame collapses to |types|·|users| rows —
    // tiny relative to the event stream — and feeds FOUR subtrees (sketch
    // a/b sides + exact-intersection x/y sides); checkpoint so the corpus
    // distinct runs once, not four times
    val d = Tables.events(spark, dir)
      .select($"event_type", $"user_id".cast("string").as("u"))
      .distinct()
      .localCheckpoint()
    val sk = d.groupBy($"event_type")
      .agg(Sketches.kmv($"u").as("ks"), count(lit(1)).as("exact_n"))
      .localCheckpoint()
    def theta(ks: org.apache.spark.sql.Column) =
      when(size(ks) < k, lit(KmvMax)).otherwise(element_at(ks, k))
    val pairs = sk.as("a").join(sk.as("b"), $"a.event_type" < $"b.event_type")
      .select($"a.event_type".as("type_a"), $"b.event_type".as("type_b"),
        $"a.ks".as("ka"), $"b.ks".as("kb"),
        $"a.exact_n".as("na"), $"b.exact_n".as("nb"))
      .withColumn("combined", array_sort(array_union($"ka", $"kb")))
      .withColumn("theta",
        least(theta($"ka"), theta($"kb"), theta($"combined")))
      .withColumn("nv", size(filter($"combined", h => h < $"theta")))
      .withColumn("ni", size(filter(array_intersect($"ka", $"kb"), h => h < $"theta")))
      .withColumn("kmv_union",
        when($"theta" === KmvMax, $"nv".cast("double"))
          .otherwise(round($"nv".cast("double") * lit(KmvMax.toDouble)
            / $"theta".cast("double"), 3)))
      .withColumn("kmv_inter",
        when($"theta" === KmvMax, $"ni".cast("double"))
          .otherwise(round($"ni".cast("double") * lit(KmvMax.toDouble)
            / $"theta".cast("double"), 3)))
    val exact = d.as("x").join(d.as("y"),
        $"x.u" === $"y.u" && $"x.event_type" < $"y.event_type")
      .groupBy($"x.event_type".as("type_a"), $"y.event_type".as("type_b"))
      .agg(count(lit(1)).as("ei"))
    pairs.join(exact, Seq("type_a", "type_b"), "left")
      .select($"type_a", $"type_b", $"kmv_union", $"kmv_inter",
        ($"na" + $"nb" - coalesce($"ei", lit(0L))).as("exact_union"),
        coalesce($"ei", lit(0L)).as("exact_inter"))
      .orderBy($"type_a", $"type_b")
  }
}
