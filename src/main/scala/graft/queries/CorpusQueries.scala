package graft.queries

import graft.functions.Text
import graft.sources.Tables
import org.apache.spark.sql.GraftSqlBridge
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus-curation operators (round 4): substring-level duplicate
  * detection, within-document repetition profiling, LM-based quality
  * scoring, distribution-aware quality filtering, skip-gram extraction,
  * and embedding quantization — the second ring of the training-data
  * pipeline beyond PipelineQueries' splitting/scrubbing/rule-filter core.
  *
  * Scale posture is uniform: per-row scalar expressions plus partial+final
  * hash aggregates; the only corpus-sized shuffles are the ones the
  * semantics force (the global n-gram count of [[dupNgrams]] — the same
  * lower bound a suffix-array formulation pays as a sort), and every
  * reduction joins back through a vocabulary-sized side that AQE
  * broadcasts when it fits and shuffle-joins when it doesn't.
  */
object CorpusQueries {

  /** Token width of the duplicated-substring probe in [[dupNgrams]]:
    * 8-token grams — long enough that natural re-use is rare, short enough
    * that near-verbatim boilerplate is caught (Lee et al. 2022 use 50 BPE
    * tokens at web scale; the testdata documents are ~40 words). */
  val DupGramK = 8

  /** Flagging threshold: a doc with ≥ 20% duplicated gram positions is
    * mostly boilerplate/copy and a substring-dedup pass would rewrite it. */
  val DupFracThreshold = 0.2

  /** Minimum repeated-substring length (tokens) for [[suffixSpans]] —
    * matches [[DupGramK]] so the two span detectors probe the same
    * granularity and differ only in what they can SEE above it. */
  val SuffixMinL = 8

  /** LCP evaluation cap for [[suffixSpans]]: adjacent suffixes are
    * compared over their first `SuffixCapW` tokens only, so a single
    * reported match is ≤ W tokens — but spans still grow PAST W, because
    * every position inside a long duplicated run is itself a suffix start
    * whose (capped) match extends the island. The cap bounds the suffix
    * payload (W tokens/row instead of whole-document tails) — the knob
    * that keeps the sort shuffle linear in corpus tokens at 100 TB. */
  val SuffixCapW = 30

  /** Straggler budget for [[suffixSpans]]'s prefix-hash partitioning: a
    * first-L-token prefix group larger than this many suffix rows (~400 MB
    * of W-token sort payload) is too big for one task's in-partition sort,
    * so it is routed through the range-partitioned path with boundary
    * stitching instead (ADVICE r12). Boilerplate spans duplicated millions
    * of times — exactly this operator's target corpus — are the case that
    * trips it; a uniform corpus never does. */
  val SuffixHotGroupRows: Long = 1L << 21

  /** Variable-length exact-substring spans via suffix-array adjacency —
    * the construction Lee et al. 2022 §4 actually use (sorted suffixes;
    * a substring repeated anywhere in the corpus makes its occurrences
    * lexicographic NEIGHBORS), where [[dupSpans]] approximates with
    * fixed-[[DupGramK]]-gram coverage. What this adds over the gram
    * detector: the exact repeated-prefix length per position (a 27-token
    * verbatim quote reports 27, not "some ≥8-gram fired here"), reported
    * as `n_positions` mass per span, and no gram-vocabulary aggregate —
    * repeats of ANY length ≥ [[SuffixMinL]] surface from one sort.
    *
    * Shape: every token position with ≥ L tokens remaining emits its
    * W-capped suffix; ONE range-partitioned sort puts repeated
    * substrings adjacent, and a single mapPartitions pass compares each
    * row with its successor (partition-boundary pairs via a broadcast of
    * every partition's first row — numPartitions tiny rows, the standard
    * distributed adjacent-difference recipe; no zipWithIndex, no
    * self-join, no second scan of the sorted data). Positions whose LCP
    * ≥ L are duplicated-text cover, which per-doc gaps-and-islands
    * coalesce into maximal spans. The sort IS the suffix-array
    * construction cost — O(corpus tokens) rows of ≤ W tokens, one range
    * shuffle, exactly what the published method pays.
    * Output: top-50 spans by (span_tokens desc, doc_id, span_start),
    * positions 1-based token indexes. */
  def suffixSpans(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    suffixSpanFrames(spark, dir)
      .orderBy($"span_tokens".desc, $"doc_id", $"span_start")
      .limit(50)
  }

  /** Every maximal suffix-adjacency duplicated span of every document —
    * the unlimited frame behind [[suffixSpans]] (detector face) and
    * [[suffixScrub]] (rewrite face): `(doc_id, span_start, span_end,
    * span_tokens, n_positions)`, 1-based token indexes, spans per doc
    * pairwise disjoint and non-adjacent by construction.
    * [[SessionMemo]]-cached: the span set is an artifact of the corpus
    * (the fitted-quantizer doctrine), and without the memo each consumer
    * face pays the corpus-sized suffix sort again for a bit-identical
    * frame (61 s + 52 s at the sf10 bench); the checkpointed result is
    * span-sized — tiny. */
  private def suffixSpanFrames(spark: SparkSession, dir: String): DataFrame =
    SessionMemo.cached(spark,
      "suffixspans:" + SessionMemo.tableTag(dir, "documents")) {
      suffixSpanFramesUncached(spark, dir)
    }

  /** Token-level LCP adjacency pass shared by [[suffixSpanFramesUncached]]'s
    * cold (hash-grouped) and hot (range-stitched) routes. LCP is read
    * straight off the NUL-joined keys: common char prefix, count the
    * separators inside it, plus one when BOTH sides sit on a token boundary
    * (end-of-string or NUL) at the divergence point — equivalent to
    * counting matching leading tokens, without re-splitting. (Both at NUL
    * is impossible at a divergence: equal chars would have extended the
    * prefix.) Emits BOTH endpoints of every adjacent pair with lcp >= minL. */
  private def adjacencyCover(it: Iterator[(Long, Int, String)], minL: Int)
      : Iterator[(Long, Int, Int)] = {
    val Sep = '\u0000'
    def lcpOf(a: String, b: String): Int = {
      val n = math.min(a.length, b.length)
      var i = 0
      while (i < n && a.charAt(i) == b.charAt(i)) i += 1
      var toks = 0
      var j = 0
      while (j < i) { if (a.charAt(j) == Sep) toks += 1; j += 1 }
      val aBound = i == a.length || a.charAt(i) == Sep
      val bBound = i == b.length || b.charAt(i) == Sep
      if (i > 0 && aBound && bBound) toks + 1 else toks
    }
    it.sliding(2).withPartial(false).flatMap {
      case Seq(a, b) =>
        val l = lcpOf(a._3, b._3)
        if (l >= minL) Iterator((a._1, a._2, l), (b._1, b._2, l))
        else Iterator.empty
      case _ => Iterator.empty
    }
  }

  private[graft] def suffixSpanFramesUncached(spark: SparkSession, dir: String,
      hotBudget: Long = SuffixHotGroupRows): DataFrame = {
    import spark.implicits._
    val L = SuffixMinL
    val W = SuffixCapW
    // The NUL-joined sort/LCP keys below assume tokens are control-free,
    // and whitespace splitting does NOT guarantee that (U+0000 is not
    // regex \s, so it would survive tokenization inside a token). Enforce
    // rather than assume: a NUL-bearing document fails loudly here instead
    // of silently corrupting prefix grouping, sort order and LCP counts.
    // One codegen'd contains() scan per document — noise next to tokenize.
    val docs = Tables.documents(spark, dir)
      .withColumn("text",
        when($"text".contains("\u0000"),
          raise_error(concat(lit("suffixSpans: U+0000 inside doc_id="),
            $"doc_id".cast("string"),
            lit(" — NUL-joined suffix keys require control-free tokens"))))
          .otherwise($"text"))
    val sufs = docs
      .select($"doc_id", Text.tokenize($"text").as("toks"))
      .filter(size($"toks") >= L)
      .select($"doc_id",
        explode(sequence(lit(1), size($"toks") - L + 1)).as("pos"),
        $"toks")
      .select($"doc_id", $"pos", slice($"toks", $"pos", lit(L)).as("pre"),
        slice($"toks", $"pos", lit(W)).as("suf"))
    // The suffix "sort" is a HASH shuffle on the first-L-token prefix plus
    // a sort WITHIN partitions — not a global range sort (r12). Two rows
    // with LCP >= L share their first L tokens EXACTLY, so (a) every
    // qualifying pair lands in one hash group, (b) within a group the
    // restriction of the global lexicographic order is the group order,
    // and (c) any row lexicographically between two same-prefix rows
    // shares the prefix too — group-adjacency IS global adjacency for
    // every pair that can reach lcp >= L, and cross-group/cross-partition
    // neighbors can never qualify. The emitted cover set is therefore
    // bit-identical to the global-sort formulation (the oracle keeps its
    // global lead() window), while the engine sheds the sampling pass,
    // the partition-boundary broadcast, the persisted sorted blocks and
    // the second pass — at the 5M-doc tier the global sort's sampling +
    // persist + reduce spill tripled transient disk and overflowed local
    // scratch (two r12 attempts died on No-space-left).
    //
    // The within-partition sort key is the suffix joined on NUL, not the
    // array<string> itself: array ordering drops the comparator out of
    // codegen into an interpreted per-element BaseOrdering (r12 profile:
    // every 5M-doc-tier sort task pinned in BaseOrdering.compare), while
    // a single string key compares as one memcmp. NUL sits strictly below
    // every token byte (tokens are whitespace-split, hence non-empty and
    // control-free) so the joined order is EXACTLY the element-wise
    // lexicographic order the DuckDB oracle's list comparison uses —
    // including the shorter-array-is-prefix rule.
    val keyed = sufs
      .select($"doc_id", $"pos", array_join($"pre", "\u0000").as("pre"),
        array_join($"suf", "\u0000").as("sufkey"))
    // Skew routing (ADVICE r12): hash-grouping on `pre` puts ALL suffix
    // positions sharing a hot first-L-token prefix into one partition with
    // no way to split it — a boilerplate span duplicated millions of times
    // (exactly the corpus this operator targets) becomes a single straggler
    // sort task. A cheap pre-pass counts rows per prefix on a slim
    // (pre, n) projection (partial aggregation absorbs the hot keys
    // map-side); groups over [[SuffixHotGroupRows]] are routed through a
    // range-partitioned sort on the fully-distinct (sufkey, doc_id, pos)
    // key — which CAN split an equal-prefix run across tasks — with the
    // standard first-row-broadcast boundary stitch. The split is closed
    // under qualifying pairs: lcp >= L forces identical first-L prefixes,
    // so both endpoints land on the same side of the hot/cold cut, and
    // pairs straddling the cut can never qualify. The hot-prefix frame is
    // at most totalRows / budget entries (0 on uniform corpora) — always
    // broadcastable.
    // The count pre-pass and (when skew exists) each route re-derive
    // `keyed` from the documents scan rather than persisting it: the
    // exploded frame is ~W× the corpus token mass, so ANY corpus-sized
    // persist here is the exact disk blowup the r12 redesign removed. Only
    // the prefix-sized hot list is checkpointed (at most totalRows/budget
    // entries — 0 on uniform corpora — so it always broadcasts).
    val hotPre = keyed.groupBy($"pre").agg(count(lit(1)).as("n"))
      .filter($"n" > hotBudget)
      .select($"pre", lit(true).as("hot"))
      .localCheckpoint()
    val minL = L
    val cover = (if (hotPre.isEmpty) {
      // No over-budget prefix: keep the r12 single-exchange plan verbatim.
      keyed
        .repartition($"pre")
        .sortWithinPartitions($"sufkey", $"doc_id", $"pos")
        .select($"doc_id", $"pos", $"sufkey")
        .as[(Long, Int, String)].rdd
        .mapPartitions(adjacencyCover(_, minL))
    } else {
      val flagged = keyed.join(broadcast(hotPre), Seq("pre"), "left_outer")
      // Cold route: in-partition adjacency only — a prefix group never
      // spans partitions (hash partitioning) and a pair straddling two
      // groups cannot reach lcp >= L, so no boundary stitching.
      val coldCover = flagged.filter($"hot".isNull)
        .repartition($"pre")
        .sortWithinPartitions($"sufkey", $"doc_id", $"pos")
        .select($"doc_id", $"pos", $"sufkey")
        .as[(Long, Int, String)].rdd
        .mapPartitions(adjacencyCover(_, minL))
      // Hot route: range-sorted on the distinct triple so equal-prefix
      // runs split across tasks; a prefix group stays contiguous in the
      // global range order, so group adjacency survives partition
      // boundaries — stitch by handing each partition the first row of
      // the next non-empty partition (numPartitions tiny rows via
      // collect, the standard distributed adjacent-difference recipe).
      // Boundary pairs are emitted by the left partition; the appended
      // row's own in-partition pairs re-emit it, and the downstream
      // groupBy(doc_id, pos).max(lcp) absorbs the duplicate.
      val hotSorted = flagged.filter($"hot" === true)
        .repartitionByRange($"sufkey", $"doc_id", $"pos")
        .sortWithinPartitions($"sufkey", $"doc_id", $"pos")
        .select($"doc_id", $"pos", $"sufkey")
        .as[(Long, Int, String)].rdd
      val firsts = hotSorted
        .mapPartitionsWithIndex { (i, it) =>
          if (it.hasNext) Iterator((i, it.next())) else Iterator.empty
        }
        .collect().sortBy(_._1)
      val firstsBc = spark.sparkContext.broadcast(firsts)
      val hotCover = hotSorted.mapPartitionsWithIndex { (i, it) =>
        val nextFirst = firstsBc.value.find(_._1 > i).map(_._2)
        adjacencyCover(it ++ nextFirst.iterator, minL)
      }
      coldCover.union(hotCover)
    }).toDF("doc_id", "pos", "lcp")
    val cov = cover.groupBy($"doc_id", $"pos").agg(max($"lcp").as("lcp"))
    // variable-length gaps-and-islands: a new span starts where pos jumps
    // past the running max covered end + 1 (merge overlap AND touching)
    val byPos = Window.partitionBy($"doc_id").orderBy($"pos")
    val prevEnd = byPos.rowsBetween(Window.unboundedPreceding, -1)
    val out = cov
      .withColumn("prev_end", max($"pos" + $"lcp" - 1).over(prevEnd))
      .withColumn("newspan",
        when($"prev_end".isNull || $"pos" > $"prev_end" + 1, 1).otherwise(0))
      .withColumn("span_id", sum($"newspan").over(byPos))
      .groupBy($"doc_id", $"span_id")
      .agg(min($"pos").cast("long").as("span_start"),
        max($"pos" + $"lcp" - 1).cast("long").as("span_end"),
        count(lit(1)).as("n_positions"))
      .withColumn("span_tokens", $"span_end" - $"span_start" + 1)
      .select($"doc_id", $"span_start", $"span_end", $"span_tokens",
        $"n_positions")
      // eager: the span-sized result materializes here; the suffix pass
      // holds NO persisted state to release beyond the prefix-sized hot
      // list — one shuffle in, one tiny checkpointed frame out
      .localCheckpoint()
    // the hot list fed the (already materialized) cover; release it
    GraftSqlBridge.dropCheckpoint(hotPre)
    out
  }

  /** The rewrite half of suffix-adjacency exact-substring dedup — cuts
    * every maximal [[suffixSpanFrames]] span out of its document (the Lee
    * et al. 2022 §4 mutation, [[spanScrub]]'s shape applied to the
    * VARIABLE-LENGTH span set): per document, token count, removed/kept
    * counts, kept fraction, and the md5 fingerprint of the scrubbed text.
    * Because suffix spans are exact maximal repeats, the scrub removes
    * precisely the verbatim-duplicated material — no ±(K−1) fringe from
    * gram granularity. Map-side HOF filter against the per-doc span
    * array; one row per doc. */
  def suffixScrub(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docSpans = suffixSpanFrames(spark, dir)
      .groupBy($"doc_id")
      .agg(collect_list(struct($"span_start", $"span_end")).as("spans"),
        sum($"span_tokens").as("n_rm"))
    Tables.documents(spark, dir)
      .select($"doc_id", Text.tokenize($"text").as("t"))
      .join(docSpans, Seq("doc_id"), "left")
      .withColumn("spans", coalesce($"spans",
        expr("array()").cast("array<struct<span_start:bigint,span_end:bigint>>")))
      .withColumn("kept", filter($"t", (tok, i) =>
        !exists($"spans", s =>
          i + 1 >= s("span_start") && i + 1 <= s("span_end"))))
      .select($"doc_id",
        size($"t").cast("long").as("n_tokens"),
        coalesce($"n_rm", lit(0L)).as("n_removed"),
        size($"kept").cast("long").as("n_kept"),
        when(size($"t") > 0,
          round(size($"kept").cast("double") / size($"t").cast("double"), 6))
          .as("kept_frac"),
        md5(concat_ws(" ", $"kept")).as("cleaned_fp"))
      .orderBy($"doc_id")
  }

  /** Exact substring-level duplicate detection (Lee et al. 2022,
    * "Deduplicating Training Data Makes Language Models Better" — public
    * method): a [[DupGramK]]-token gram occurring at more than one position
    * in the corpus marks every one of its positions as duplicated text; the
    * per-document duplicated-position fraction is the "how much of this doc
    * exists elsewhere" signal that document-level dedup (minhash etc.)
    * cannot see.
    *
    * Scale shape: posexploded grams → one global gram-count aggregate (the
    * corpus-sized shuffle this operator is DEFINED by — a suffix array pays
    * the same as a sort), then only grams with count > 1 join back.
    * Duplicated grams are a small fraction of gram vocabulary on natural
    * corpora, so the join-back side collapses and AQE broadcast-picks it;
    * nothing driver-side. */
  def dupNgrams(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, dir)
    val grams = docs.select($"doc_id",
      explode(Text.ngrams($"text", DupGramK)).as("g"))
    val dupGrams = grams.groupBy($"g").agg(count(lit(1)).as("c"))
      .filter($"c" > 1).select($"g")
    val dupPerDoc = grams.join(dupGrams, "g")
      .groupBy($"doc_id").agg(count(lit(1)).as("n_dup"))
    docs.select($"doc_id",
        greatest(Text.tokenCount($"text") - (DupGramK - 1), lit(0))
          .cast("long").as("n_grams"))
      .join(dupPerDoc, Seq("doc_id"), "left")
      .withColumn("n_dup_grams", coalesce($"n_dup", lit(0L)))
      .withColumn("dup_frac",
        round(when($"n_grams" > 0,
          $"n_dup_grams".cast("double") / $"n_grams".cast("double"))
          .otherwise(lit(0.0)), 6))
      .withColumn("flagged", $"dup_frac" >= DupFracThreshold)
      .select($"doc_id", $"n_grams", $"n_dup_grams", $"dup_frac", $"flagged")
      .orderBy($"doc_id")
  }

  /** Within-document repetition profile — the Gopher repetition rules this
    * engine didn't already cover in gopherQuality (Rae et al. 2021 §A1.1):
    * duplicate-token fraction, duplicate-bigram fraction, and top-bigram
    * concentration (count of the single most frequent bigram over all
    * bigram positions). `keep` applies the paper's spirit thresholds on the
    * ROUNDED values so the gate can never straddle an ulp.
    *
    * Scale shape: token stats are per-row scalars; bigram stats are a
    * two-level hash aggregate (doc×bigram then doc) — keys never leave
    * their doc_id shard after the first shuffle. */
  def repProfile(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, dir)
    val toks = Text.tokenize($"text")
    val scalars = docs.select($"doc_id",
      size(toks).cast("long").as("n_tokens"),
      size(array_distinct(toks)).cast("long").as("n_distinct_tokens"))
    val per = docs.select($"doc_id", explode(Text.ngrams($"text", 2)).as("bg"))
      .groupBy($"doc_id", $"bg").agg(count(lit(1)).as("c"))
    val bgAgg = per.groupBy($"doc_id").agg(
      max($"c").as("mx"), sum($"c").as("tot"), count(lit(1)).as("dst"))
    scalars.join(bgAgg, Seq("doc_id"), "left")
      .withColumn("dup_token_frac",
        round(when($"n_tokens" > 0,
          lit(1.0) - $"n_distinct_tokens".cast("double") / $"n_tokens".cast("double"))
          .otherwise(lit(0.0)), 6))
      .withColumn("top_bigram_frac",
        round(when($"tot".isNotNull && $"tot" > 0,
          $"mx".cast("double") / $"tot".cast("double")).otherwise(lit(0.0)), 6))
      .withColumn("dup_bigram_frac",
        round(when($"tot".isNotNull && $"tot" > 0,
          lit(1.0) - $"dst".cast("double") / $"tot".cast("double"))
          .otherwise(lit(0.0)), 6))
      .withColumn("keep",
        $"dup_token_frac" < 0.6 && $"top_bigram_frac" < 0.2 &&
          $"dup_bigram_frac" < 0.4)
      .select($"doc_id", $"n_tokens", $"dup_token_frac", $"top_bigram_frac",
        $"dup_bigram_frac", $"keep")
      .orderBy($"doc_id")
  }

  /** Unigram-LM surprisal scoring — the cheapest useful "perplexity filter"
    * (CCNet, Wenzek et al. 2020, scores with a KenLM; the unigram variant
    * keeps the exact same pipeline shape with an in-corpus model): fit
    * p(w) = c(w)/N on the corpus itself, score each document by its mean
    * token surprisal ln(N/c(w)) and the equivalent perplexity. Low = boring
    * boilerplate, high = atypical/noisy — both tails are filter candidates.
    *
    * Scale shape: one unigram count aggregate joined back over the token
    * stream (unhinted — AQE broadcasts the vocabulary while it fits an
    * executor and falls back to a hash shuffle join when it doesn't), one
    * per-doc mean. The "model" never exists off-executor; documents with
    * no tokens surface NULL scores rather than vanishing.
    *
    * Determinism (sf100 lesson, r6): ppl exponentiates the 6-dp-ROUNDED
    * mean — exp of the raw avg amplifies fold-order noise by the ppl
    * magnitude (~3×10⁴ here), which crossed a 6-dp rounding boundary once
    * in 5M docs — and rounds to 2 dp, a grid the input quantization
    * (±ppl·5e-7) dominates, so the ≤1-ulp difference between JVM Math.exp
    * and libm exp on the identical grid point cannot flip a digit
    * (residual boundary probability ~1e-9 per distinct value). */
  def unigramSurprisal(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, dir)
    val toks = docs.select($"doc_id", explode(Text.tokenize($"text")).as("w"))
    val uni = toks.groupBy($"w").agg(count(lit(1)).as("c"))
    val n1 = toks.agg(count(lit(1)).as("n1"))
    // no broadcast hint on the unigram table (VERDICT r4 #2): the
    // vocabulary of a web-scale corpus exceeds broadcast limits, and the
    // explicit hint would override AQE's size-based fallback to a shuffle
    // join. The 1-row N frame stays hinted (always broadcastable).
    val scored = toks.join(uni, "w").crossJoin(broadcast(n1))
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_tokens"),
        avg(log($"n1".cast("double") / $"c".cast("double"))).as("nll"))
    docs.select($"doc_id")
      .join(scored, Seq("doc_id"), "left")
      .select($"doc_id", $"n_tokens",
        round($"nll", 6).as("mean_nll"),
        round(exp(round($"nll", 6)), 2).as("ppl"))
      .orderBy($"doc_id")
  }

  /** Per-stratum quantile gate — distribution-aware quality filtering: a
    * fixed threshold over a heterogeneous corpus clips good strata and
    * passes bad ones, so production filters cut per-source (keep each
    * source's top 75% by quality). Reports the per-source exact p25
    * threshold and the kept volume.
    *
    * Scale shape (VERDICT r4 #3, hardened r6 per VERDICT r5 #7): the p25
    * threshold is computed from EXACT RANK STATISTICS with one shared lerp
    * formulation spelled out identically in both engines — no builtin
    * percentile is trusted. Counts aggregate per (source, quality) — the
    * quality score is 6-dp rounded, so this frame is bounded by the value
    * grid (≤ ~1e6 slim rows per source at ANY corpus size), and the
    * cumulative-count window runs over that bounded frame, never over raw
    * documents. The two bracketing order statistics fall out as
    * conditional mins; pos = (n−1)/4 is EXACT in double (×2⁻²), so
    * lo/hi/frac and the lerp qlo + (qhi−qlo)·frac are bit-identical across
    * engines BEFORE the 6-dp round — the interpolation-boundary risk the
    * old dueling-builtin form documented is gone, not just unobserved.
    * The gate compares quality (already on the 6-dp grid) to the rounded
    * threshold, so every keep/cut decision is engine-identical. */
  def quantileFilter(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // r15 (guide §2.3/§2.4): ONE corpus pass. The former shape scanned
    // (and re-scored) the corpus three times — per-(source, quality) grid,
    // per-source totals, and the kept-count filter join. Everything after
    // the grid aggregate is value-grid-bounded: n_total rides the same
    // source-keyed exchange as the cumulative window, and n_kept is the
    // sum of grid counts at quality ≥ p25 (exact longs — identical to
    // counting the matching docs).
    val byVal = Tables.documents(spark, dir)
      .select($"doc_id", $"source", Text.qualityScore($"text").as("quality"))
      .groupBy($"source", $"quality")
      .agg(count(lit(1)).as("c"))
    val bySrc = Window.partitionBy($"source")
    val g = byVal
      .withColumn("cum", sum($"c").over(bySrc.orderBy($"quality")))
      .withColumn("n_total", sum($"c").over(bySrc))
      .withColumn("pos", ($"n_total" - 1).cast("double") * lit(0.25))
      .withColumn("lo", floor($"pos"))
      .withColumn("hi", ceil($"pos"))
      .withColumn("frac", $"pos" - floor($"pos"))
    val thresholds = g
      .groupBy($"source", $"n_total", $"frac")
      .agg(min(when($"cum" >= $"lo" + 1, $"quality")).as("qlo"),
        min(when($"cum" >= $"hi" + 1, $"quality")).as("qhi"))
      .select($"source", $"n_total",
        round($"qlo" + ($"qhi" - $"qlo") * $"frac", 6).as("p25"))
    g.select($"source", $"quality", $"c")
      .join(thresholds.hint("broadcast"), "source")
      .filter($"quality" >= $"p25")
      .groupBy($"source", $"p25", $"n_total")
      .agg(sum($"c").as("n_kept"))
      .withColumn("kept_frac",
        round($"n_kept".cast("double") / $"n_total".cast("double"), 6))
      .select($"source", $"p25", $"n_total", $"n_kept", $"kept_frac")
      .orderBy($"source")
  }

  /** Skip-gram context window for [[skipgramPairs]] (word2vec's default-ish
    * small window; Mikolov et al. 2013, public). */
  val SkipgramWindow = 2

  /** Skip-gram (center, context) pair extraction — the co-occurrence stream
    * word2vec-style embedding trainers consume: every ordered pair of
    * tokens at distance 1..[[SkipgramWindow]] within a document. Top-20 by
    * count (ties → pair text) as the registered profile; the unaggregated
    * stream is the actual training feed.
    *
    * Scale shape: pairs are generated PER ROW by zipping the token array
    * against itself shifted d places — array slice + zip + explode, no
    * positions self-join (a join on doc_id is per-doc quadratic in the
    * worst case and shuffles the token stream twice). The only shuffle is
    * the final pair-count aggregate, bounded by pair vocabulary. */
  def skipgramPairs(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    coocCounts(spark, dir)
      .orderBy($"n".desc, $"center", $"context")
      .limit(20)
  }

  /** The full symmetric windowed co-occurrence counts (center, context, n)
    * behind [[skipgramPairs]] (top-20 face) and [[ppmiSvd]] (the
    * factorization input) — every ordered token pair at distance
    * 1..[[SkipgramWindow]], both directions, so cooc(w,c) = cooc(c,w) and
    * the PPMI matrix below is symmetric by construction. Pairs generate
    * PER ROW (slice + zip + explode — no positions self-join); the only
    * shuffle is the pair-count aggregate, bounded by pair vocabulary. */
  private def coocCounts(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // r16 (guide §2.3): ONE corpus scan + tokenize pass. The former
    // union-of-shifted-slices plan held 2·SkipgramWindow independent
    // branches (each shift distance × each direction), and union branches
    // share nothing — the documents table was scanned and re-tokenized 4
    // times per materialization (plan-verified: 4 parquet scans). Both
    // distances and both directions now emit from a single per-row token
    // array through one explode; the pair multiset is identical, so every
    // downstream count is bit-identical. The only shuffle remains the
    // pair-count aggregate, bounded by pair vocabulary.
    val pairCols = (1 to SkipgramWindow).flatMap { d =>
      val a = slice($"t", lit(1), greatest(size($"t") - d, lit(0)))
      val b = slice($"t", lit(d + 1), greatest(size($"t") - d, lit(0)))
      Seq(zip_with(a, b, (x, y) => struct(x.as("center"), y.as("context"))),
        zip_with(a, b, (x, y) => struct(y.as("center"), x.as("context"))))
    }
    Tables.documents(spark, dir)
      .select(Text.tokenize($"text").as("t"))
      .select(explode(flatten(array(pairCols: _*))).as("p"))
      .select($"p.center", $"p.context")
      // tokens are never null, so this keeps every pair; stated here, it
      // is the filter a join on the counts would infer below the
      // aggregate, and a consumer that both joins the counts and reads
      // them unjoined (glovePairGrid) then plans one shared scan
      .filter($"center".isNotNull && $"context".isNotNull)
      .groupBy($"center", $"context").agg(count(lit(1)).as("n"))
  }

  /** Components extracted by [[ppmiSvd]]. */
  val SvdComps = 2
  /** Power-iteration steps per component in [[ppmiSvd]] — enough to
    * separate the reported directions while keeping the unrolled DuckDB
    * oracle finite; the operator is iteration-generic. */
  val SvdIters = 4

  /** The PPMI matrix on its own: (w, c, g DECIMAL(18,6)) — the corpus-
    * sized half of [[ppmiSvd]], exposed UNCHECKPOINTED so the sf100
    * partial oracle can verify an md5-sampled row subset without the
    * full oracle's ~800M-row positional self-join (VERDICT r13 #5);
    * [[ppmiSvd]] checkpoints it for the iteration loop. */
  def ppmiMatrix(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val cooc = coocCounts(spark, dir)
    ppmiOf(spark, cooc, cooc.groupBy($"center").agg(sum($"n").as("nw")))
  }

  /** PPMI from shared (cooc, rowm) frames — [[ppmiSvd]] passes the same
    * objects it derives `words` from, so Spark reuses the pair-count
    * shuffle across both materializations. */
  private def ppmiOf(spark: SparkSession, cooc: DataFrame, rowm: DataFrame)
      : DataFrame = {
    import spark.implicits._
    val tot = cooc.agg(sum($"n").as("nn"))
    cooc.join(rowm, "center")
      .join(rowm.select($"center".as("context"), $"nw".as("nc")), "context")
      .crossJoin(broadcast(tot))
      .select($"center".as("w"), $"context".as("c"),
        // g lands on the 6-dp grid as a DECIMAL: every later product is
        // then EXACT decimal arithmetic rounded decimal-to-decimal —
        // HALF_UP in both engines. A double product of two grid values
        // sits ON .5 cliffs (worst in iteration 1, where seeds have one
        // decimal), and Spark rounds the decimal repr while DuckDB rounds
        // the binary double: measured at sf1 as a 4.5e-3 lambda drift.
        round(log(($"n".cast("double") * $"nn".cast("double")) /
          ($"nw".cast("double") * $"nc".cast("double"))), 6)
          .cast("decimal(18,6)").as("g"))
      .filter($"g" > 0.0)
  }

  /** Count-based word embeddings: truncated eigendecomposition of the
    * PPMI co-occurrence matrix (Levy & Goldberg 2014, "Neural Word
    * Embedding as Implicit Matrix Factorization" — SGNS's closed-form
    * counterpart; Deerwester et al. 1990 for the LSA lineage). PPMI(w,c) =
    * max(0, ln(n·N / (n_w·n_c))) over the [[SkipgramWindow]] symmetric
    * co-occurrence counts; the matrix is symmetric, so its SVD is the
    * eigendecomposition, computed as [[SvdComps]] deflated power
    * iterations: y = M·x − Σ_j λ_j·v_j·(v_jᵀx) — the deflation never
    * materializes a dense matrix, each matvec is ONE join linear in
    * nnz(PPMI) and each deflation term is a vocab-sized frame times a
    * broadcast scalar.
    *
    * Determinism doctrine (the [[embedPca]] rules, corpus-sized): every
    * matvec / inner-product / norm term quantizes to the 6-dp grid and
    * sums in DECIMAL; each normalize is a per-row double divide + round;
    * seeds are the md5-prefix positive grid (the NMF h₀ init), so a
    * symmetric corpus cannot start orthogonal to the Perron direction.
    * An empty PPMI matrix (no pair above independence) yields zero
    * loadings and λ = 0 through the n² > 0 guard, never NaN.
    *
    * Scale shape: corpus-sized work is the per-row pair explode feeding
    * one pair-vocabulary-bounded count aggregate; every iteration frame is
    * vocab-sized, superseded checkpoints dropped eagerly. Emits
    * (comp, word, loading, lambda), the embedding column a retrieval
    * stack consumes as word vectors. */
  def ppmiSvd(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // r15: the pair-count frame is checkpointed ONCE and m/words derive
    // from it — previously the `words` checkpoint job re-ran the whole
    // corpus pair pipeline a second time (ReuseExchange only dedupes
    // within one execution, not across two checkpoint jobs). One corpus
    // pass instead of two at every tier; the nnz-sized block set is
    // dropped as soon as its two consumers have materialized.
    val cooc = coocCounts(spark, dir).localCheckpoint()
    val rowm = cooc.groupBy($"center").agg(sum($"n").as("nw"))
    val m = ppmiOf(spark, cooc, rowm).localCheckpoint()
    val words = rowm.select($"center".as("w")).localCheckpoint()
    GraftSqlBridge.dropCheckpoint(cooc)
    def seed: DataFrame = words.select($"w",
      ((conv(substring(md5($"w"), 1, 8), 16, 10).cast("long") % 10 + 1)
        .cast("double") / lit(10.0)).cast("decimal(18,6)").as("xv"))
    var comps = Vector.empty[DataFrame] // (w, vv DECIMAL(18,6), lam DOUBLE)
    for (_ <- 1 to SvdComps) {
      var x = seed
      var last: DataFrame = null
      for (_ <- 1 to SvdIters) {
        val mv = m.join(x.select($"w".as("c"), $"xv"), "c")
          .select($"w",
            round($"g" * $"xv", 6).cast("decimal(28,6)").as("t"))
          .groupBy($"w").agg(sum($"t").as("yraw"))
        var y = words.join(mv, Seq("w"), "left")
          .select($"w",
            coalesce($"yraw", lit(0).cast("decimal(28,6)")).as("yv"))
        for (vj <- comps) {
          val sF = vj.join(x, "w")
            .select(round($"vv" * $"xv", 6).cast("decimal(28,6)").as("p"))
            .agg(sum($"p").as("s"))
          // two-step exact-decimal product: lam·vv first (quantized), then
          // times the broadcast scalar — a triple decimal product would
          // overflow precision 38 and fall into engine-specific loss rules
          y = y.join(vj.select($"w", $"vv", $"lam"), "w")
            .crossJoin(broadcast(sF))
            .select($"w",
              ($"yv" - round(round($"lam" * $"vv", 6).cast("decimal(18,6)") *
                $"s".cast("decimal(18,6)"), 6).cast("decimal(28,6)")).as("yv"))
        }
        val n2 = y.select(
            round($"yv".cast("decimal(18,6)") * $"yv".cast("decimal(18,6)"), 6)
              .cast("decimal(38,6)").as("q"))
          .agg(sum($"q").as("n2"))
        val prev = last
        last = y.crossJoin(broadcast(n2))
          .select($"w",
            when($"n2".cast("double") > 0.0,
              round($"yv".cast("double") / sqrt($"n2".cast("double")), 6))
              .otherwise(lit(0.0)).cast("decimal(18,6)").as("xv"),
            $"n2")
          .localCheckpoint()
        if (prev != null) GraftSqlBridge.dropCheckpoint(prev)
        x = last.select($"w", $"xv")
      }
      comps = comps :+ last
        .select($"w", $"xv".as("vv"),
          round(sqrt($"n2".cast("double")), 6).cast("decimal(18,6)").as("lam"))
        .localCheckpoint()
      GraftSqlBridge.dropCheckpoint(last)
    }
    // the result below depends only on the eager comps checkpoints — the
    // nnz(PPMI)-sized m and the vocab frame are dead weight past this
    // point, and leaving them pinned for the rest of the session is the
    // cold-pass-inflation class VERDICT r12 #5 diagnosed (ADVICE r13)
    GraftSqlBridge.dropCheckpoint(m)
    GraftSqlBridge.dropCheckpoint(words)
    comps.zipWithIndex.map { case (vj, i) =>
      vj.select(lit(i + 1).cast("long").as("comp"), $"w".as("word"),
        $"vv".cast("double").as("loading"), $"lam".cast("double").as("lambda"))
    }.reduce(_ unionByName _).orderBy($"comp", $"word")
  }

  /** Embedding dimension for [[gloveEmbed]]. Small so the unrolled DuckDB
    * oracle stays finite; the operator is dimension-generic. */
  val GloveDim = 4
  /** Full-batch AdaGrad rounds for [[gloveEmbed]]. */
  val GloveIters = 3
  /** Vocabulary cap: top-N words by co-occurrence mass (ties → word asc).
    * GloVe's own published setup caps the vocabulary; here it also bounds
    * every iteration frame at vocab² pairs regardless of tier. */
  val GloveVocab = 400
  /** Weighting cutoff f(x) = min((x/xmax)^0.75, 1) — Pennington et al.
    * 2014 eq. 9 (their xmax=100 suits web-scale counts; 20 matches the
    * synthetic corpus's pair-count range so the weight actually varies). */
  val GloveXmax = 20.0
  /** AdaGrad learning rate (the paper's initial rate is 0.05). */
  val GloveLr = 0.05

  /** The capped vocabulary (top-[[GloveVocab]] by co-occurrence mass,
    * ties → word asc) and the in-vocab pair frame `(i, j, fx, lx)` with
    * f(x) and ln x already on the 6-dp grid — the CORPUS-SIZED half of
    * [[gloveEmbed]], exposed UNCHECKPOINTED so the sf100 partial oracle
    * can verify an md5-sampled row subset without replaying the training
    * rounds (the [[ppmiMatrix]] pattern); [[gloveEmbed]] collects it for
    * the driver rounds. */
  def glovePairGrid(spark: SparkSession, dir: String)
      : (DataFrame, DataFrame) = {
    import spark.implicits._
    val cooc = coocCounts(spark, dir)
    val vocab = cooc.groupBy($"center").agg(sum($"n").as("nw"))
      .orderBy($"nw".desc, $"center")
      .limit(GloveVocab)
      .select($"center".as("w"))
    val pairs = cooc
      .join(vocab.select($"w".as("center")).hint("broadcast"), "center")
      .join(vocab.select($"w".as("context")).hint("broadcast"), "context")
      .select($"center".as("i"), $"context".as("j"),
        round(when($"n" >= GloveXmax, lit(1.0))
          .otherwise(pow($"n".cast("double") / lit(GloveXmax), lit(0.75))), 6)
          .cast("decimal(18,6)").as("fx"),
        round(log($"n".cast("double")), 6).cast("decimal(18,6)").as("lx"))
    (vocab, pairs)
  }

  /** GloVe-style weighted co-occurrence factorization (Pennington,
    * Socher & Manning 2014, "GloVe: Global Vectors for Word
    * Representation" — VERDICT r14 #7 stretch): minimize
    * Σ f(x_ij)·(wᵢ·cⱼ + bᵢ + b̃ⱼ − ln x_ij)² over the observed skip-gram
    * co-occurrence counts, trained as [[GloveIters]] FULL-BATCH AdaGrad
    * rounds — the paper's optimizer made deterministic by batching: no
    * sample order, no shard race, identical on any partitioning. AdaGrad
    * is also the stability story: each coordinate's step is
    * lr·g/√(Σg²) ≤ lr, so a frequent word's large accumulated gradient
    * cannot blow up the iterate the way raw full-batch GD would.
    *
    * Determinism doctrine (the [[ppmiSvd]] rules): f(x) and ln x land on
    * the 6-dp grid ONCE in the pair grid; every grid×grid product rounds
    * decimal-to-decimal (HALF_UP both engines);
    * gradient sums fold in DECIMAL (fold-order exact); the one double
    * operation per update is the AdaGrad quotient lr·g/√G — quantized
    * straight back to the grid, the same double-divide-then-round shape
    * as [[ppmiSvd]]'s normalize. Seeds are the md5-prefix grid with
    * per-side salts (":w"/":c"), so the two factor matrices cannot start
    * identical. Biases start at 0; accumulators at 1 (no ε juggling).
    *
    * Scale shape: the corpus-sized work is exactly the [[coocCounts]]
    * pair aggregate every count-based embedding pays; the top-[[GloveVocab]]
    * cut is a distributed sort-limit (TakeOrderedAndProject — never a
    * single-partition window). Everything after the cut is bounded at any
    * tier — at most [[GloveVocab]]² pairs and 2·[[GloveVocab]]·
    * ([[GloveDim]]+1) parameters — so the pair grid and the md5 seeds are
    * collected once and the [[GloveIters]] rounds run on the driver in
    * exact decimals ([[AdaGrad]]), with no job per round. Output: (word,
    * dim, vec = w+c) for the whole capped vocabulary — GloVe's published
    * practice of summing the two factor matrices. */
  def gloveEmbed(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val (vocab, pairs) = glovePairGrid(spark, dir)
    def seed(salt: String): Column =
      ((conv(substring(md5(concat($"w", lit(salt), $"k".cast("string"))), 1, 8),
        16, 10).cast("long") % 10 + 1).cast("double") / lit(20.0))
        .cast("decimal(18,6)")
    val seeds = vocab.crossJoin(broadcast(spark.range(1, GloveDim + 1).toDF("k")))
      .select($"w", $"k", seed(":w"), seed(":c"))
      .collect()
    val words = seeds.map(_.getString(0)).distinct
    val ix = words.zipWithIndex.toMap
    // factors at word·GloveDim + (k − 1); biases at word
    val w = new AdaGrad(words.length * GloveDim)
    val c = new AdaGrad(words.length * GloveDim)
    val bw = new AdaGrad(words.length)
    val bc = new AdaGrad(words.length)
    for (r <- seeds) {
      val e = ix(r.getString(0)) * GloveDim + r.getLong(1).toInt - 1
      w.x(e) = r.getDecimal(2)
      c.x(e) = r.getDecimal(3)
    }
    val grid = pairs.collect().map(r =>
      (ix(r.getString(0)), ix(r.getString(1)), r.getDecimal(2), r.getDecimal(3)))
    for (_ <- 1 to GloveIters) {
      val (gw, gc) = (w.zeros, c.zeros)
      val (gbw, gbc) = (bw.zeros, bc.zeros)
      for ((i, j, fx, lx) <- grid) {
        val (wi, cj) = (i * GloveDim, j * GloveDim)
        var dt = java.math.BigDecimal.ZERO
        for (k <- 0 until GloveDim)
          dt = dt.add(SparkRound.onGrid(w.x(wi + k).multiply(c.x(cj + k))))
        // weighted residual f(x)·(wᵢ·cⱼ + bᵢ + b̃ⱼ − ln x) on the grid
        val fe = SparkRound.onGrid(fx.multiply(dt.add(bw.x(i)).add(bc.x(j)).subtract(lx)))
        for (k <- 0 until GloveDim) {
          gw(wi + k) = gw(wi + k).add(SparkRound.onGrid(fe.multiply(c.x(cj + k))))
          gc(cj + k) = gc(cj + k).add(SparkRound.onGrid(fe.multiply(w.x(wi + k))))
        }
        gbw(i) = gbw(i).add(fe)
        gbc(j) = gbc(j).add(fe)
      }
      w.step(gw); c.step(gc); bw.step(gbw); bc.step(gbc)
    }
    // already in (word, dim) order
    val rows = for (word <- words.sorted(Bounded.StringOrder).toSeq; k <- 0 until GloveDim) yield {
      val e = ix(word) * GloveDim + k
      Row(word, k + 1L, w.x(e).add(c.x(e)).doubleValue)
    }
    Bounded.localFrame(spark, "word string, dim bigint, vec double", rows)
  }

  /** One AdaGrad-trained parameter block of [[gloveEmbed]] on the 6-dp
    * grid, values from 0 and accumulators from 1. A step adds the grid
    * square g·g to the accumulator G and subtracts lr·g/√G — the one
    * double operation, rounded as Spark's `round(double, 6)` rounds the
    * double's shortest decimal form. */
  private final class AdaGrad(n: Int) {
    val x: Array[java.math.BigDecimal] = Array.fill(n)(java.math.BigDecimal.ZERO)
    private val g2 = Array.fill(n)(java.math.BigDecimal.ONE)
    def zeros: Array[java.math.BigDecimal] = Array.fill(n)(java.math.BigDecimal.ZERO)
    def step(g: Array[java.math.BigDecimal]): Unit =
      for (e <- 0 until n) {
        g2(e) = g2(e).add(SparkRound.onGrid(g(e).multiply(g(e))))
        val q = GloveLr * g(e).doubleValue / math.sqrt(g2(e).doubleValue)
        x(e) = x(e).subtract(SparkRound.round(q, 6))
      }
  }

  /** CCNet-style head/middle/tail perplexity bucketing (Wenzek et al.
    * 2020, public method): score every document with the in-corpus
    * unigram LM ([[unigramSurprisal]] semantics), then split EACH LANGUAGE
    * into perplexity tertiles — "head" (most fluent third), "middle",
    * "tail". CCNet trains on head+middle and drops or down-weights tail;
    * the registered profile reports per-(lang, bucket) volume so the mix
    * decision is visible. Per-language cuts matter: a single global
    * threshold would mostly encode language identity, not quality.
    *
    * Determinism (hardened r6, the sf100 lesson): ppl exponentiates the
    * 6-dp-ROUNDED mean surprisal — exp of a raw avg amplifies fold-order
    * noise by the ppl magnitude — and lands on a 0.01 grid the input
    * quantization dominates, so the ≤1-ulp JVM-vs-libm exp difference
    * cannot flip a digit. The tertile cuts use the same shared exact-rank
    * lerp as [[quantileFilter]] (no builtin percentile on either side;
    * pos = (n−1)·(1/3) uses the identical compile-time double in both
    * engines), and avg_ppl sums the grid values in DECIMAL — fold-order
    * exact at any parallelism. Docs with zero tokens cannot be scored and
    * are excluded (CCNet semantics).
    *
    * Scale shape: the unigram join is unhinted (AQE decides); the cut
    * statistics ride a cumulative window over the per-(lang, ppl-grid)
    * DISTINCT frame (bounded by the 0.01 value grid, never by corpus
    * rows), joined back as #langs rows (broadcast). */
  def ccnetBuckets(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // r15 (guide §2.3/§2.4): ONE pass over the per-doc score stream. The
    // former shape re-ran the toks⋈unigram scoring pipeline three times
    // (ppl grid, per-lang totals, bucket join). Everything after the
    // (lang, ppl-grid) aggregate is value-grid-bounded: the grid carries
    // doc count AND token sum per cell, per-lang totals ride the same
    // lang-keyed exchange as the cumulative window, and the final
    // per-bucket sums fold grid cells — spp = Σ ppl·c is exact DECIMAL
    // (ppl sits on the 0.01 grid), bit-identical to summing per-doc.
    val docs = Tables.documents(spark, dir)
    val toks = docs.select($"doc_id", $"lang",
      explode(Text.tokenize($"text")).as("w"))
    val uni = toks.groupBy($"w").agg(count(lit(1)).as("c"))
    // corpus token total from the vocab-sized unigram frame, not a second
    // corpus scan
    val n1 = uni.agg(sum($"c").as("n1"))
    val scored = toks.join(uni, "w").crossJoin(broadcast(n1))
      .groupBy($"doc_id", $"lang")
      .agg(count(lit(1)).as("n_tokens"),
        round(exp(round(avg(log($"n1".cast("double") / $"c".cast("double"))), 6)), 2)
          .as("ppl"))
    val byLang = Window.partitionBy($"lang")
    val g = scored.groupBy($"lang", $"ppl")
      .agg(count(lit(1)).as("c"), sum($"n_tokens").as("tok"))
      .withColumn("cum", sum($"c").over(byLang.orderBy($"ppl")))
      .withColumn("nd", sum($"c").over(byLang))
      .withColumn("pos33", ($"nd" - 1).cast("double") * lit(1.0 / 3.0))
      .withColumn("pos67", ($"nd" - 1).cast("double") * lit(2.0 / 3.0))
    val cuts = g
      .groupBy($"lang", $"pos33", $"pos67")
      .agg(
        min(when($"cum" >= floor($"pos33") + 1, $"ppl")).as("qlo33"),
        min(when($"cum" >= ceil($"pos33") + 1, $"ppl")).as("qhi33"),
        min(when($"cum" >= floor($"pos67") + 1, $"ppl")).as("qlo67"),
        min(when($"cum" >= ceil($"pos67") + 1, $"ppl")).as("qhi67"))
      .select($"lang",
        round($"qlo33" + ($"qhi33" - $"qlo33") * ($"pos33" - floor($"pos33")), 6)
          .as("p33"),
        round($"qlo67" + ($"qhi67" - $"qlo67") * ($"pos67" - floor($"pos67")), 6)
          .as("p67"))
    g.select($"lang", $"ppl", $"c", $"tok")
      .join(cuts.hint("broadcast"), "lang")
      .withColumn("bucket",
        when($"ppl" <= $"p33", lit("head"))
          .when($"ppl" <= $"p67", lit("middle"))
          .otherwise(lit("tail")))
      .groupBy($"lang", $"bucket")
      .agg(sum($"c").as("n_docs"),
        sum($"ppl".cast("decimal(18,2)") * $"c").as("spp"),
        sum($"tok").as("n_tokens"))
      // exact integer half-up mean — the q_bigram_lm midpoint class
      .withColumn("sppm", ($"spp" * lit(1000000)).cast("decimal(38,0)"))
      .select($"lang", $"bucket", $"n_docs",
        (expr("(2*sppm + n_docs) div (2*n_docs)").cast("double") / 1e6).as("avg_ppl"),
        $"n_tokens")
      .orderBy($"lang", $"bucket")
  }

  /** Hashed-feature space size for [[dsirWeights]] — DSIR's classic 10k is
    * for char n-grams; 1024 suits word unigrams on this corpus. The POINT
    * of hashing is that the feature table is ≤ this many rows at ANY
    * corpus size, so its broadcast is provably bounded (contrast the
    * vocabulary joins, which must stay unhinted). */
  val DsirBuckets = 1024
  /** DSIR target distribution: documents labeled this language. */
  val DsirTargetLang = "en"

  /** DSIR importance weights (Xie et al. 2023, "Data Selection for
    * Language Models via Importance Resampling" — public method): model
    * target and raw corpora as bags of HASHED features (md5-bucketed word
    * unigrams, [[DsirBuckets]] buckets, add-1 smoothing), and weight every
    * document by its log importance ratio
    * `Σ_f count_f(d) · ln(p_target(f)/p_raw(f))` — the score DSIR
    * resamples by to tilt a raw crawl toward a target distribution (here:
    * the [[DsirTargetLang]] slice). Per-token mean rides along so length
    * doesn't dominate selection.
    *
    * Scale shape: two fixed-width (≤ [[DsirBuckets]] rows) feature-count
    * aggregates, their log-ratio broadcast back over the token stream
    * (bounded by construction), one per-doc sum. Unscorable empty docs
    * surface NULLs. */
  def dsirWeights(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, dir)
    val toks = docs.select($"doc_id", $"lang",
        explode(Text.tokenize($"text")).as("w"))
      .withColumn("f",
        pmod(conv(substring(md5($"w"), 1, 8), 16, 10).cast("long"),
          lit(DsirBuckets)))
    // r15 (guide §2.3): target and raw feature counts in ONE corpus
    // aggregate (conditional count instead of a filtered second scan +
    // left join), and the corpus totals derived from the ≤DsirBuckets-row
    // feature table instead of two more corpus scans — one token pass
    // builds the whole feature model. Counts are exact longs throughout.
    val counted = toks.groupBy($"f").agg(
      count(lit(1)).as("cr"),
      count(when($"lang" === DsirTargetLang, 1)).as("ct"))
    val tots = counted.agg(sum($"ct").as("nt"), sum($"cr").as("nr"))
    val feat = counted
      .crossJoin(broadcast(tots))
      .select($"f",
        (log(($"ct" + 1).cast("double") / ($"nt" + DsirBuckets).cast("double")) -
          log(($"cr" + 1).cast("double") / ($"nr" + DsirBuckets).cast("double")))
          .as("logratio"))
    val scored = toks.join(broadcast(feat), "f")
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_tokens"), sum($"logratio").as("s"))
    docs.select($"doc_id")
      .join(scored, Seq("doc_id"), "left")
      .select($"doc_id", $"n_tokens",
        round($"s", 6).as("dsir_logw"),
        round($"s" / $"n_tokens", 6).as("dsir_per_token"))
      .orderBy($"doc_id")
  }

  /** Symmetric int8 range for [[embedQuant]]. */
  val QuantLevels = 127.0

  /** Per-vector symmetric int8 quantization profile — the storage/serving
    * compression step of an embedding pipeline (4× smaller than float32):
    * scale = max|v|/127, q_i = ⌊v_i/scale + 0.5⌋, and the reconstruction
    * error that quantization costs. Saturation count rides along (q = ±127
    * marks the max-magnitude dimension(s)).
    *
    * Explicit ⌊x+0.5⌋ rather than round(): Spark rounds doubles half-even
    * via BigDecimal while engines differ on .5 ties, so the floor form is
    * the only formulation that is bit-identical everywhere. RMSE is scaled
    * to ppm (raw MSE of unit-norm-ish vectors rounds to 0 at 6 dp).
    *
    * Scale shape (ADVICE r4): scale = array_max(|v|)/127 is computed
    * ARRAY-SIDE per row before posexplode — the old window-max over the
    * exploded (rows×dims) stream was a full shuffle+sort of 64× the data.
    * What remains is posexplode → partial+final hash aggregate on vec_id:
    * the partial agg collapses each vector map-side (a vector's dims never
    * split across input partitions), so the shuffle carries one row per
    * vector. */
  def embedQuant(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.embeddings(spark, dir)
      .select($"vec_id", $"embedding".cast("array<double>").as("v"))
      .withColumn("scale",
        array_max(transform($"v", x => abs(x))) / QuantLevels)
      .select($"vec_id", $"scale", posexplode($"v").as(Seq("pos", "x")))
      .withColumn("q",
        when($"scale" === 0.0, lit(0.0)).otherwise(floor($"x" / $"scale" + 0.5)))
      .withColumn("err", $"x" - $"q" * $"scale")
      .groupBy($"vec_id")
      .agg(round(first($"scale"), 6).as("scale"),
        count(when(abs($"q") === QuantLevels, 1)).as("n_sat"),
        round(sqrt(avg($"err" * $"err")) * 1e6, 6).as("rmse_ppm"))
      .orderBy($"vec_id")
  }

  /** Probe width of [[embedNorm]]'s verification projection: the
    * standardized vectors of vec_id < 100 are emitted row-per-dimension so
    * the result stays a fixed 100·d rows at every scale factor (the
    * corpus-sized part of the operator — the per-dimension moment
    * aggregate — is still computed over ALL vectors at every tier). */
  val NormProbeVecs = 100

  /** Per-dimension standardization (z-scoring) of the embedding column —
    * the whitening prelude of every embedding-quality / outlier-detection
    * pipeline (and of PCA, whose input is exactly the centered matrix).
    *
    * Scale shape: posexplode → groupBy(dim) partial+final aggregate — the
    * partial agg collapses each input partition to d=|dims| rows map-side,
    * so the shuffle carries (numPartitions × d) rows no matter the corpus
    * size; the d-row moment table then broadcasts back as two ordered
    * arrays and standardization is a map-only array transform.
    *
    * Cross-engine determinism: mean and stddev_pop are rounded to 6 dp
    * FIRST (the kmeansCentroids convention — fold-order noise on a moment
    * is ~1e-15, nine orders below the grid), so both engines standardize
    * with bit-identical (m, s) and `round(z, 6)` sees bit-identical input;
    * the per-value boundary hazard of rounding 64·n independent floats is
    * confined to the 2·d moment values instead. */
  def embedNorm(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val e = Tables.embeddings(spark, dir)
      .select($"vec_id", $"embedding".cast("array<double>").as("v"))
    val stats = e.select(posexplode($"v").as(Seq("dim", "x")))
      .groupBy($"dim")
      .agg(round(avg($"x"), 6).as("m"), round(stddev_pop($"x"), 6).as("s"))
    e.filter($"vec_id" < NormProbeVecs)
      .select($"vec_id", posexplode($"v").as(Seq("dim", "x")))
      .join(broadcast(stats), "dim")
      .select($"vec_id", $"dim",
        round(when($"s" === 0.0, lit(0.0)).otherwise(($"x" - $"m") / $"s"), 6)
          .as("z"))
      .orderBy($"vec_id", $"dim")
  }

  /** Dimensionality the Gram operator is registered against (the testdata
    * embedding width; [[graft.functions.Linalg.gramFx]] is d-generic). */
  val GramDims = 64

  /** Corpus Gram matrix X'X (upper triangle) over the embedding column —
    * the one-pass sufficient statistic for PCA / whitening / ridge
    * regression over embeddings: d·(d+1)/2 numbers summarize the whole
    * corpus, after which eigendecomposition is a driver-side O(d³) on a
    * 64×64 matrix.
    *
    * Computed by [[graft.functions.Linalg.gramFx]], a mergeable Aggregator
    * with a fixed 2080-long buffer — map-side each partition folds to ONE
    * buffer, so the shuffle is (numPartitions × buffer), never the n×d²
    * exploded stream. Accumulation is fixed-point (components quantized to
    * round(x·10⁵) longs) so the sum is exact integer arithmetic:
    * bit-identical under any fold order, any partitioning, and in the
    * DuckDB oracle — a float Gram cannot promise any of that. `g` rescales
    * to the float view (dividing by 10¹⁰) for human eyes; `g_fx` is the
    * exact artifact. */
  def embedGram(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    gramUpperFx(spark, dir)
      .select($"i", $"j", $"g_fx",
        round($"g_fx" / (graft.functions.Linalg.GramFxScale *
          graft.functions.Linalg.GramFxScale), 6).as("g"))
      .orderBy($"i", $"j")
  }

  /** Exact fixed-point Gram upper triangle (i, j, g_fx) — the distributed
    * sufficient statistic shared by [[embedGram]] (the human view) and
    * [[embedPca]] (the power iteration). See [[embedGram]] for the
    * exactness argument. */
  private def gramUpperFx(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val d = GramDims
    val q = Tables.embeddings(spark, dir)
      .select(transform($"embedding".cast("array<double>"),
        x => floor(x * graft.functions.Linalg.GramFxScale + 0.5).cast("long")).as("qv"))
    val gram = q.agg(graft.functions.Linalg.gramFx($"qv", d).as("g"))
      .select(posexplode($"g").as(Seq("k", "g_fx")))
    // linear upper-triangle index k -> (i, j): a d²-row mapping frame
    // built once and broadcast (closed-form decode needs a float sqrt —
    // exactness at the boundaries is not worth saving a 2080-row join)
    val pairs = spark.range(d).toDF("i")
      .crossJoin(spark.range(d).toDF("j")).filter($"j" >= $"i")
      .withColumn("k",
        ($"i" * (2 * d + 1) - $"i" * $"i") / 2 + ($"j" - $"i"))
    gram.join(broadcast(pairs), "k").select($"i", $"j", $"g_fx")
  }

  /** Power-iteration steps of [[embedPca]]. Three suffice to separate the
    * top eigenvector direction for reporting purposes while keeping the
    * unrolled DuckDB oracle finite; the operator is iteration-generic. */
  val PcaIters = 3

  /** Top principal direction of the embedding corpus by power iteration
    * on the EXACT fixed-point Gram matrix (the classic two-stage PCA at
    * scale: one distributed pass reduces n×d rows to a d×d sufficient
    * statistic, after which each iteration is O(d²) — the shape every
    * embedding-whitening / "all-but-the-top" (Mu & Viswanath 2018)
    * pipeline uses). Emits the unit loading per dimension after
    * [[PcaIters]] iterations from the exact uniform start (1/√64 = 0.125),
    * plus the dominant-eigenvalue estimate ‖G·v‖ from the final step.
    * An all-zero Gram matrix (no embedding, or only zero vectors) yields
    * zero loadings and λ = 0 through the n² > 0 guard of [[ppmiSvd]].
    *
    * Determinism doctrine: matrix entries enter as exact fixed-point longs
    * rescaled by one double divide; every Σ (matvec terms, squared norms)
    * quantizes its terms to the 6-dp grid and sums in DECIMAL — exact
    * under any fold order — and each normalize is a per-row double
    * divide + round. The oracle replays all iterations as unrolled CTEs
    * on the identical grid.
    *
    * Scale shape: the corpus-sized work is [[gramUpperFx]]'s mergeable
    * fixed-buffer aggregate (shuffle = #partitions × 2080 longs), whose
    * 2080 rows are collected once; the [[PcaIters]] rounds run on the
    * driver over the mirrored [[GramDims]]² entries in
    * `java.math.BigDecimal` ([[SparkRound]]), with no job per round. */
  def embedPca(spark: SparkSession, dir: String): DataFrame = {
    val fx2 = graft.functions.Linalg.GramFxScale * graft.functions.Linalg.GramFxScale
    // mirror to the full symmetric matrix, rescaled to the double view
    val full = gramUpperFx(spark, dir).collect().flatMap { r =>
      val (i, j, g) = (r.getLong(0).toInt, r.getLong(1).toInt, r.getLong(2) / fx2)
      if (i == j) Seq((i, j, g)) else Seq((i, j, g), (j, i, g))
    }
    var v = Array.fill(GramDims)(new java.math.BigDecimal("0.125"))
    var n2 = java.math.BigDecimal.ZERO
    for (_ <- 1 to PcaIters) {
      val u = Array.fill(GramDims)(java.math.BigDecimal.ZERO)
      for ((i, j, g) <- full)
        u(i) = u(i).add(SparkRound.round(g * v(j).doubleValue, 6))
      n2 = u.map(ui => SparkRound.round(ui.doubleValue * ui.doubleValue, 6))
        .foldLeft(java.math.BigDecimal.ZERO)(_ add _)
      val norm = math.sqrt(n2.doubleValue)
      v = u.map(ui =>
        if (n2.doubleValue > 0.0) SparkRound.round(ui.doubleValue / norm, 6)
        else java.math.BigDecimal.ZERO)
    }
    val lambda = SparkRound.round(math.sqrt(n2.doubleValue), 6).doubleValue
    // already in dim order
    Bounded.localFrame(spark, "dim bigint, loading double, lambda double",
      v.indices.map(j => Row(j.toLong, v(j).doubleValue, lambda)))
  }

  /** Per-source lexical diversity profile: type-token ratio and distinct-
    * bigram ratio — the standard cheap detectors for templated, boilerplate
    * or model-generated sub-corpora (low distinct-ngram ratios ≈ high
    * Self-BLEU). Emits per source: token count, distinct tokens, TTR,
    * bigram count, distinct bigrams, bigram diversity (all ratios 6 dp).
    *
    * Scale shape: gram construction is MAP-ONLY — tokens and bigrams are
    * both array-side transforms exploded in the scan stage (a bigram never
    * crosses a document, so there is nothing to join or sort) — followed by
    * two two-level aggregates (groupBy(source, gram) partial+final, then
    * groupBy(source)); distinct counting never collects a set into one
    * buffer, so a source with a billion distinct tokens costs a shuffle,
    * not an OOM. Output is #sources rows. */
  def ngramDiversity(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, dir)
      .select($"source", Text.tokenize($"text").as("t"))
    val toks = docs.select($"source", explode($"t").as("w"))
    // sequence() descends when start > stop, so short docs must be
    // filtered out BEFORE building the index range
    val bi = docs.filter(size($"t") >= 2)
      .select($"source", explode(transform(
        sequence(lit(1), size($"t") - 1),
        i => concat_ws(" ", element_at($"t", i), element_at($"t", i + 1))))
        .as("g"))
    def profile(df: DataFrame, gram: String) = df
      .groupBy($"source", col(gram))
      .agg(count(lit(1)).as("c"))
      .groupBy($"source")
      .agg(sum($"c").as(s"n_$gram"), count(lit(1)).as(s"distinct_$gram"))
    profile(toks.select($"source", $"w"), "w")
      .join(profile(bi, "g"), "source")
      .select($"source", $"n_w".as("n_tokens"),
        $"distinct_w".as("n_types"),
        round($"distinct_w".cast("double") / $"n_w", 6).as("ttr"),
        $"n_g".as("n_bigrams"), $"distinct_g".as("distinct_bigrams"),
        round($"distinct_g".cast("double") / $"n_g", 6).as("bigram_diversity"))
      .orderBy($"source")
  }

  /** Per-source Shannon entropy of the unigram distribution — the
    * information-density profile (low entropy ≈ templated/repetitive
    * sub-corpus; the numeric complement of [[ngramDiversity]]'s ratios).
    * H = ln(n) − Σ c·ln(c)/n over per-word counts c; also emits vocab and
    * H/ln(vocab) (normalized to [0,1], 1 = uniform).
    *
    * Determinism: the corpus-sized reduction Σ c·ln(c) quantizes each term
    * to the 6-dp grid and sums in DECIMAL — exact integer arithmetic under
    * any fold order (the sf10 lesson: a raw double sum flips its 6th
    * decimal once the total crosses ~1e8). The final H combines two
    * fold-order-independent scalars in double, identically per engine.
    * Scale shape: groupBy(source, w) partial+final, then one #sources-row
    * aggregate. */
  def sourceEntropy(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, dir)
      .select($"source", explode(Text.tokenize($"text")).as("w"))
      .groupBy($"source", $"w").agg(count(lit(1)).as("c"))
      .groupBy($"source")
      .agg(sum($"c").as("n_tokens"), count(lit(1)).as("vocab"),
        sum(round($"c" * log($"c"), 6).cast("decimal(28,6)")).as("clogc"))
      .select($"source", $"n_tokens", $"vocab",
        round(log($"n_tokens") -
          $"clogc".cast("double") / $"n_tokens", 6).as("entropy"),
        // vocab = 1 makes the normalizer ln(1) = 0; Spark's non-ANSI
        // divide would yield NULL while DuckDB yields NaN — emit NULL
        // explicitly in BOTH engines so the degenerate case agrees.
        when($"vocab" >= 2,
          round((log($"n_tokens") - $"clogc".cast("double") / $"n_tokens") /
            log($"vocab".cast("double")), 6)).as("norm_entropy"))
      .orderBy($"source")
  }

  /** Pairwise Kullback–Leibler divergence matrix between per-source unigram
    * distributions — the mixture-design diagnostic next to
    * [[sourceEntropy]]/[[dsirWeights]]: KL(s‖t) answers "how surprised is a
    * model of t by text from s", the asymmetric distance data-mixing work
    * (Xie et al. 2023 DoReMi §3; the CCNet bucket rationale) reasons about
    * when weighting sources. Add-half smoothing over the GLOBAL corpus
    * vocabulary (p_s(w) = (c_s(w)+½)/(n_s+½V)) keeps every log finite and
    * both engines on one closed form; each term p_s·ln(p_s/p_t) is
    * 6-dp-quantized and DECIMAL-summed (fold-order exact). The diagonal is
    * exactly 0 (identical doubles ⇒ ln 1 = 0) — kept as an in-band sanity
    * row.
    *
    * Scale shape: one corpus-sized (source, token) count shuffle; the grid
    * and the pair join are vocabulary-sized × S and × S² with S = the fixed
    * source enumeration — never corpus-sized; totals and |V| broadcast as
    * 1-row/S-row frames. */
  def sourceKl(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val cnt = Tables.documents(spark, dir)
      .select($"source", explode(Text.tokenize($"text")).as("w"))
      .groupBy($"source", $"w").agg(count(lit(1)).as("c"))
    val totals = cnt.groupBy($"source").agg(sum($"c").as("n"))
    val vocab = cnt.select($"w").distinct()
    val vsize = vocab.agg(count(lit(1)).as("v"))
    val grid = vocab.crossJoin(broadcast(totals))
      .join(cnt, Seq("source", "w"), "left")
      .withColumn("c", coalesce($"c", lit(0L)))
      .crossJoin(broadcast(vsize))
      .select($"source", $"w",
        (($"c".cast("double") + lit(0.5)) /
          ($"n".cast("double") + lit(0.5) * $"v".cast("double"))).as("p"))
      // materialize: the self-join below would otherwise re-run the
      // corpus-sized count pass on BOTH sides; the grid is only V×S rows
      .localCheckpoint()
    grid.select($"source".as("src"), $"w", $"p".as("ps"))
      .join(grid.select($"source".as("dst"), $"w", $"p".as("pt")), "w")
      .groupBy($"src", $"dst")
      .agg(count(lit(1)).as("n_terms"),
        sum(round($"ps" * log($"ps" / $"pt"), 6).cast("decimal(28,6)"))
          .as("klq"))
      .select($"src", $"dst", $"n_terms", $"klq".cast("double").as("kl"))
      .orderBy($"src", $"dst")
  }

  /** Top-K cutoff of [[zipfProfile]]'s rank-frequency regression. */
  val ZipfTopK = 100

  /** Zipf profile per source: least-squares slope/intercept of
    * ln(count) over ln(rank) for the top-[[ZipfTopK]] words — the standard
    * power-law health check (natural text ≈ −1; a flat slope flags
    * synthetic/templated corpora, which is exactly what the suffix-uniform
    * ScaleUp tiers look like). Ranks tie-break (count desc, word asc) so
    * both engines regress the identical point set; the Σ's run over ≤ K
    * values per source, far below double fold-noise at 6 dp.
    *
    * Scale shape: per-(source, word) partial+final count aggregate, then a
    * rank ≤ K window that Spark plans as WindowGroupLimit — a per-partition
    * top-K heap ahead of the sort, so the full vocabulary is never globally
    * sorted; the regression itself runs over ≤ K rows per source. */
  def zipfProfile(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val counts = Tables.documents(spark, dir)
      .select($"source", explode(Text.tokenize($"text")).as("w"))
      .groupBy($"source", $"w").agg(count(lit(1)).as("c"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"source").orderBy($"c".desc, $"w")
    val top = counts
      .withColumn("rank", row_number().over(w))
      .filter($"rank" <= ZipfTopK)
      .select($"source", log($"rank".cast("double")).as("x"),
        log($"c".cast("double")).as("y"))
    top.groupBy($"source")
      .agg(count(lit(1)).as("k"), sum($"x").as("sx"), sum($"y").as("sy"),
        sum($"x" * $"y").as("sxy"), sum($"x" * $"x").as("sxx"))
      .select($"source", $"k",
        // k = 1 zeroes the denominator k·sxx − sx² (one point, no slope);
        // guard identically in both engines → NULL, not NULL-vs-NaN.
        when($"k" >= 2,
          round(($"k" * $"sxy" - $"sx" * $"sy") /
            ($"k" * $"sxx" - $"sx" * $"sx"), 6)).as("zipf_slope"),
        when($"k" >= 2,
          round(($"sy" - (($"k" * $"sxy" - $"sx" * $"sy") /
            ($"k" * $"sxx" - $"sx" * $"sx")) * $"sx") / $"k", 6))
          .as("zipf_intercept"))
      .orderBy($"source")
  }

  /** Number of equal-width doc_id buckets in [[heapsLaw]]. */
  val HeapsBuckets = 10

  /** Heaps-law vocabulary-growth profile (Heaps 1978): per ingestion
    * decile — [[HeapsBuckets]] equal-width doc_id ranges, the
    * scale-safe stand-in for arrival order when ids are assigned at
    * ingestion — the document count, token mass, NEW vocabulary (words
    * whose globally-first occurrence falls in the bucket) and the running
    * cumulative vocabulary. Natural text grows V(n) ≈ K·n^β with β ≈
    * 0.4–0.6; a flat tail (no new words late in the crawl) flags a
    * templated or exhausted source, the corpus-health signal read next to
    * [[zipfProfile]]'s slope.
    *
    * Buckets are EQUAL-WIDTH id ranges, not equal-count ranks: an exact
    * equal-count decile needs a global rank (one total sort of every
    * doc_id at 100 TB), while the id-range bucket is one min/max aggregate
    * broadcast into a map-side expression — and the growth CURVE carries
    * the same signal under any monotone reindexing. First occurrence is
    * min(doc_id) per word — one partial+final aggregate over the token
    * stream; every later frame is bucket-sized. */
  def heapsLaw(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, dir)
    val bounds = docs.agg(min($"doc_id").as("lo"),
      (max($"doc_id") - min($"doc_id") + 1).as("span"))
    // explicit floor: Spark and DuckDB both float-divide longs, so both
    // oracles spell floor(...) rather than relying on cast truncation
    def bucketOf(id: Column): Column =
      least(lit(HeapsBuckets - 1L),
        floor((id - $"lo") * HeapsBuckets / $"span").cast("long")) + 1
    val docStats = docs
      .select($"doc_id", size(Text.tokenize($"text")).cast("long").as("nt"))
      .crossJoin(broadcast(bounds))
      .groupBy(bucketOf($"doc_id").as("decile"))
      .agg(count(lit(1)).as("n_docs"), sum($"nt").as("n_tokens"))
    val firstSeen = docs
      .select($"doc_id", explode(Text.tokenize($"text")).as("w"))
      .groupBy($"w").agg(min($"doc_id").as("first_doc"))
      .crossJoin(broadcast(bounds))
      .groupBy(bucketOf($"first_doc").as("decile"))
      .agg(count(lit(1)).as("new_words"))
    val cum = org.apache.spark.sql.expressions.Window
      .orderBy($"decile")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    docStats.join(firstSeen, Seq("decile"), "left")
      .select($"decile", $"n_docs", $"n_tokens",
        coalesce($"new_words", lit(0L)).as("new_words"))
      // the running total is a window over <= HeapsBuckets rows — not a
      // corpus-sized global window
      .withColumn("cum_vocab", sum($"new_words").over(cum))
      .orderBy($"decile")
  }

  /** Cross-source vocabulary overlap matrix: exact token-set Jaccard for
    * every source pair — the corpus-level contamination / redundancy
    * profile (which crawls duplicate which, which source is lexically
    * disjoint). Emits one row per unordered pair (src_a < src_b).
    *
    * Scale shape: distinct (source, token) via a partial+final aggregate,
    * then a self-join keyed on token. Sources are a FIXED enumeration
    * (#sources = S, a constant independent of corpus bytes), so per-token
    * fan-out is ≤ S² and the join output is bounded by S² · |vocab| — the
    * corpus-sized text never pairs with itself. Per-source set sizes ride
    * the same distinct frame. */
  def sourceOverlap(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val st = Tables.documents(spark, dir)
      .select($"source", explode(Text.tokenize($"text")).as("w"))
      .distinct()
    val sizes = st.groupBy($"source").agg(count(lit(1)).as("n"))
    val common = st.as("a")
      .join(st.as("b"), $"a.w" === $"b.w" && $"a.source" < $"b.source")
      .groupBy($"a.source".as("src_a"), $"b.source".as("src_b"))
      .agg(count(lit(1)).as("common"))
    common
      .join(sizes.select($"source".as("src_a"), $"n".as("tokens_a")), "src_a")
      .join(sizes.select($"source".as("src_b"), $"n".as("tokens_b")), "src_b")
      .select($"src_a", $"src_b", $"tokens_a", $"tokens_b", $"common",
        round($"common".cast("double") /
          ($"tokens_a" + $"tokens_b" - $"common"), 6).as("jaccard"))
      .orderBy($"src_a", $"src_b")
  }

  /** One BPE merge iteration (Sennrich et al. 2016, "Neural Machine
    * Translation of Rare Words with Subword Units" — the public
    * tokenizer-training algorithm): count adjacent character pairs over
    * the corpus vocabulary weighted by word frequency, emit the top-50
    * merge candidates. Scale shape: the corpus-sized shuffle is the
    * word-frequency groupBy (tokens → vocab); pair generation then runs
    * on the VOCABULARY (≪ corpus — Heaps' law), array-side via
    * transform(sequence(...)) with no self-join, and the top-50 is a
    * TakeOrderedAndProject, never a global sort. A full BPE trainer
    * iterates this job, re-segmenting against the merges-so-far; one
    * iteration is the representative distributed step. */
  def bpePairs(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val words = Tables.documents(spark, dir)
      .select(explode(Text.tokenize($"text")).as("word"))
      .groupBy($"word").agg(count(lit(1)).as("f"))
    words
      .filter(length($"word") >= 2)
      .select($"f", explode(expr(
        "transform(sequence(1, length(word) - 1)," +
          " i -> substring(word, i, 2))")).as("pair"))
      .groupBy($"pair").agg(sum($"f").as("n"))
      .orderBy($"n".desc, $"pair")
      .limit(50)
  }

  /** Merge iterations of the [[bpeTrain]] greedy loop. */
  val BpeMerges = 8

  /** Iterative BPE trainer (Sennrich et al. 2016) — [[BpeMerges]] greedy
    * merge rounds, the full algorithm whose single representative step is
    * [[bpePairs]]: each round counts adjacent symbol pairs over the
    * CURRENT vocabulary segmentation (weighted by word frequency,
    * overlapping positions counted per occurrence as in the reference
    * implementation), merges the argmax pair (tie → lexicographically
    * smallest), re-segments, and repeats. Output is the learned merge
    * table — the artifact a tokenizer ships.
    *
    * Representation: a word's segmentation is its symbols each wrapped in
    * angle brackets ("per" → "<p><e><r>"), so a merge is a plain
    * left-to-right non-overlapping string replace of "<p><e>" with
    * "<pe>" — symbol boundaries can never false-match (tokens are
    * bracket-free; non-[a-z]+ tokens are excluded up front) and both
    * engines' `replace` share the greedy scan BPE prescribes.
    *
    * Scale shape: the ONLY corpus-sized shuffle is the one token→vocab
    * groupBy (Heaps' law: vocab ≪ corpus), checkpointed once as the base
    * segmentation. Each round then runs vocabulary-side as one job — a
    * pair explode (fan-out = word length) over the base with the merges so
    * far applied as literal replaces, one partial+final pair count and a
    * 1-row min_by argmax, collected — and the next round's segmentation
    * is one more map-only `replace`. The merge table is a local frame.
    * The DuckDB oracle unrolls all [[BpeMerges]] rounds as CTEs and must
    * reproduce every merge and count exactly. */
  def bpeTrain(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // the local merge table is already in `it` order
    bpeLoop(spark, dir)._1.select($"it", $"pair", $"merged", $"n")
  }

  /** The trained loop's two artifacts: the merge table and the final
    * vocabulary segmentation (word, f, seg). [[SessionMemo]]-cached (the
    * fitted-quantizer doctrine): four registered faces — train, vocab,
    * encode, WordPiece — consume the SAME trained artifacts, and without
    * the memo each pays the corpus token->vocab groupBy and all
    * [[BpeMerges]] rounds again for bit-identical frames. The merge table
    * is a local frame and the segmentation a map-only projection of the
    * checkpointed base, so the cached values are vocabulary-sized. */
  private[graft] def bpeLoop(spark: SparkSession, dir: String): (DataFrame, DataFrame) =
    SessionMemo.cached(spark,
      "bpeloop:" + SessionMemo.tableTag(dir, "documents")) {
      bpeLoopUncached(spark, dir)
    }

  private def bpeLoopUncached(spark: SparkSession, dir: String): (DataFrame, DataFrame) = {
    import spark.implicits._
    val base = Tables.documents(spark, dir)
      .select(explode(Text.tokenize($"text")).as("word"))
      .filter($"word".rlike("^[a-z]+$"))
      .groupBy($"word").agg(count(lit(1)).as("f"))
      .select($"word",
        concat_ws("",
          transform(split($"word", ""), c => concat(lit("<"), c, lit(">")))).as("seg"),
        $"f")
      .localCheckpoint()
    var seg: Column = $"seg"
    val merges = (1 to BpeMerges).map { it =>
      val best = base.select($"f", seg.as("seg"))
        .select($"f",
          split(expr("substring(seg, 2, length(seg) - 2)"), "><").as("sy"))
        .filter(size($"sy") >= 2)
        .select($"f", explode(expr(
          "transform(sequence(1, size(sy) - 1)," +
            " i -> concat('<', sy[i-1], '><', sy[i], '>'))")).as("pair"))
        .groupBy($"pair").agg(sum($"f").as("n"))
        .agg(min_by(struct($"pair", $"n"), struct(-$"n", $"pair")).as("b"))
        .select($"b.pair".as("pair"),
          expr("replace(b.pair, '><', '')").as("merged"), $"b.n".as("n"))
        .head()
      // a corpus with no pair left merges null: every segmentation turns
      // null, as the former crossJoin with the null argmax row did
      seg = replace(seg, lit(best.getString(0)).cast("string"),
        lit(best.getString(1)).cast("string"))
      Row(best.getString(0), best.getString(1), best.get(2), it)
    }
    (Bounded.localFrame(spark, "pair string, merged string, n bigint, it int", merges),
      base.select($"word", seg.as("seg"), $"f"))
  }

  /** q_bpe_vocab — the ENCODE face of [[bpeTrain]]: the 50 most frequent
    * words with their final subword segmentation after all [[BpeMerges]]
    * merges, plus the symbol count (the compression the tokenizer
    * achieved). This is exactly what applying the learned merge table to
    * a corpus costs at scale: the loop's map-only replaces over the
    * vocabulary, never the corpus. Top-50 by (f desc, word) is a
    * TakeOrderedAndProject. */
  def bpeVocab(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    bpeLoop(spark, dir)._2
      .select($"word", $"f", $"seg",
        size(split(expr("substring(seg, 2, length(seg) - 2)"), "><")).as("n_symbols"))
      .orderBy($"f".desc, $"word")
      .limit(50)
  }

  /** q_bpe_encode — applying the learned merge table to the CORPUS, the
    * per-document face of [[bpeVocab]]: every document's alphabetic tokens
    * are joined to their final [[BpeMerges]]-round segmentation and reduced
    * to the accounting a sequence-packing / context-budget stage consumes —
    * in-vocab word count, OOV (non-`[a-z]+`) token count, total subword
    * count and fertility (subwords per word, the tokenizer-efficiency
    * metric reported for production BPE vocabularies).
    *
    * Scale shape: the trainer's corpus-sized shuffle (token→vocab groupBy)
    * is shared with [[bpeTrain]]; encode itself adds one corpus-sized
    * explode, an UNHINTED join against the vocabulary segmentation (AQE
    * broadcasts while the vocab fits — Heaps' law says it does — and
    * shuffle-joins when it doesn't) and one groupBy(doc_id). Fertility is
    * rounded half-up in exact integer micro-units, `(2·10⁶·s + w) div
    * (2·w)` — the [[bigramLm]] doctrine — never through a double divide.
    * Token-less / all-OOV documents surface zero counts and NULL
    * fertility rather than vanishing. */
  def bpeEncode(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val seg = bpeLoop(spark, dir)._2
      .select($"word",
        size(split(expr("substring(seg, 2, length(seg) - 2)"), "><"))
          .cast("long").as("n_sub"))
    val docs = Tables.documents(spark, dir)
    val agg = docs
      .select($"doc_id", explode(Text.tokenize($"text")).as("word"))
      .withColumn("alpha", $"word".rlike("^[a-z]+$"))
      .join(seg, Seq("word"), "left")
      .groupBy($"doc_id")
      .agg(sum(when($"alpha", 1L).otherwise(0L)).as("w"),
        sum(when(!$"alpha", 1L).otherwise(0L)).as("o"),
        sum(when($"alpha", $"n_sub").otherwise(0L)).as("s"))
    docs.select($"doc_id").join(agg, Seq("doc_id"), "left")
      .select($"doc_id",
        coalesce($"w", lit(0L)).as("n_words"),
        coalesce($"o", lit(0L)).as("n_oov"),
        coalesce($"s", lit(0L)).as("n_subwords"))
      .withColumn("fertility",
        when($"n_words" > 0,
          expr("(2 * 1000000 * n_subwords + n_words) div (2 * n_words)")
            .cast("double") / 1e6))
      .orderBy($"doc_id")
  }

  /** q_wordpiece_encode — greedy longest-match-first WordPiece
    * segmentation (Wu et al. 2016; the BERT tokenizer's inference rule)
    * over the [[bpeTrain]]-derived symbol inventory: per word, repeatedly
    * take the LONGEST vocabulary symbol prefixing the remainder
    * (continuations display with the `##` mark); a position with no match
    * makes the whole word `[UNK]` (the BERT rule). The algorithmic
    * complement of [[bpeEncode]]: BPE segments by replaying merge ORDER,
    * WordPiece by longest-match against the final inventory — the two can
    * disagree, and production tokenizers ship the latter.
    *
    * Per-doc output: word/OOV/`[UNK]` counts, piece count, fertility
    * (micro-unit integer rounding, the [[bigramLm]] idiom), and the md5 of
    * the document's full piece stream in token order (OOV tokens pass
    * through verbatim) — a per-token-exact oracle signal.
    *
    * Scale shape: segmentation runs once per DISTINCT word (the word-count
    * trick every tokenizer uses) as one codegen'd HOF pass — the
    * best-match-at-position table is a `transform` over positions, the
    * greedy walk an `aggregate` fold over the same sequence; the symbol
    * inventory rides along as a broadcast 1-row array. The corpus pays one
    * explode + one unhinted join against the vocab-sized piece table (AQE
    * broadcasts while Heaps' law holds) + one groupBy(doc_id).
    * The in-order stream md5 folds via array_sort(collect_list) on
    * (position, piece) pairs — deterministic under any arrival order. */
  def wordpieceEncode(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val (merges, seg) = bpeLoop(spark, dir)
    val words = seg.select($"word", $"f")
    val chars = words
      .select(explode(split($"word", "")).as("sym"))
      .filter(length($"sym") === 1).distinct()
    val msyms = merges
      .select(expr("substring(merged, 2, length(merged) - 2)").as("sym"))
    val varr = chars.union(msyms).distinct()
      .agg(sort_array(collect_list($"sym")).as("vs"))
    val wp = words.crossJoin(broadcast(varr))
      // longest vocabulary match at every start position (empty = none)
      .withColumn("ba", expr(
        """transform(sequence(1, length(word)),
             p -> aggregate(
               filter(vs, v -> substr(word, p, length(v)) = v),
               '', (b, v) -> IF(length(v) > length(b), v, b)))"""))
      // greedy walk: consume the longest match, advance, '##'-mark
      // continuations; a matchless position voids the word to [UNK]
      .withColumn("pieces", expr(
        """aggregate(
             sequence(1, length(word)),
             named_struct('pos', 1, 'ps', cast(array() as array<string>)),
             (st, i) -> IF(i = st.pos,
               IF(element_at(ba, st.pos) = '',
                 named_struct('pos', length(word) + 1,
                   'ps', array('[UNK]')),
                 named_struct(
                   'pos', st.pos + length(element_at(ba, st.pos)),
                   'ps', array_append(st.ps,
                     IF(size(st.ps) = 0, element_at(ba, st.pos),
                       concat('##', element_at(ba, st.pos)))))),
               st),
             st -> st.ps)"""))
      .select($"word", $"pieces")
      .localCheckpoint()
    val docs = Tables.documents(spark, dir)
    val agg = docs
      .select($"doc_id", posexplode(Text.tokenize($"text")).as(Seq("p", "word")))
      .withColumn("alpha", $"word".rlike("^[a-z]+$"))
      .join(wp, Seq("word"), "left")
      .withColumn("pp", when($"alpha", $"pieces").otherwise(array($"word")))
      .groupBy($"doc_id")
      .agg(sum(when($"alpha", 1L).otherwise(0L)).as("w"),
        sum(when(!$"alpha", 1L).otherwise(0L)).as("o"),
        sum(when($"alpha" && $"pp"(0) === "[UNK]", 1L).otherwise(0L)).as("u"),
        sum(when($"alpha", size($"pp").cast("long")).otherwise(0L)).as("s"),
        md5(concat_ws(" ",
          expr("transform(array_sort(collect_list(named_struct('p', p, 's', concat_ws(' ', pp)))), x -> x.s)")))
          .as("fp"))
    docs.select($"doc_id").join(agg, Seq("doc_id"), "left")
      .select($"doc_id",
        coalesce($"w", lit(0L)).as("n_words"),
        coalesce($"o", lit(0L)).as("n_oov"),
        coalesce($"u", lit(0L)).as("n_unk"),
        coalesce($"s", lit(0L)).as("n_pieces"),
        coalesce($"fp", md5(lit(""))).as("seg_fp"))
      .withColumn("fertility",
        when($"n_words" > 0,
          expr("(2 * 1000000 * n_pieces + n_words) div (2 * n_words)")
            .cast("double") / 1e6))
      .select($"doc_id", $"n_words", $"n_oov", $"n_unk", $"n_pieces",
        $"fertility", $"seg_fp")
      .orderBy($"doc_id")
  }

  /** Interpolation weight of [[bigramLm]] on the bigram MLE; the
    * complement backs off to the unigram distribution. */
  val BigramLambda = 0.75

  /** Interpolated bigram-LM cross-entropy scoring — one modeling step up
    * from [[unigramSurprisal]] and the same shape CCNet's KenLM occupies
    * (Wenzek et al. 2020; Jelinek–Mercer interpolation, Chen & Goodman
    * 1999): p(w₂|w₁) = λ·c(w₁w₂)/c(w₁) + (1−λ)·c(w₂)/T fit on the corpus
    * itself, each document scored by its mean bigram negative log
    * probability and the equivalent perplexity. Unlike the unigram score
    * this catches scrambled/unnatural word ORDER, not just rare words.
    * (History counts use the plain unigram count c(w₁) — final-position
    * tokens included — a documented, engine-symmetric simplification.)
    *
    * Scale shape: two count aggregates (bigram + unigram vocabularies)
    * joined back over the bigram stream, both unhinted so AQE broadcasts
    * while they fit and shuffle-joins when they don't; the 1-row total
    * stays hinted. Per-doc reduction quantizes each −ln p to the 6-dp
    * grid and sums in DECIMAL (fold-order exact); ppl exponentiates the
    * ROUNDED mean (the sf100 lesson — see [[unigramSurprisal]]). Docs
    * with < 2 tokens surface NULL scores rather than vanishing. */
  def bigramLm(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, dir)
    val toks = docs.select(explode(Text.tokenize($"text")).as("w"))
    val uni = toks.groupBy($"w").agg(count(lit(1)).as("cw"))
    val tot = toks.agg(count(lit(1)).as("t"))
    val bigs = docs.select($"doc_id", explode(Text.ngrams($"text", 2)).as("bg"))
      .withColumn("w1", split($"bg", " ")(0))
      .withColumn("w2", split($"bg", " ")(1))
    val bcnt = bigs.groupBy($"w1", $"w2").agg(count(lit(1)).as("cb"))
    val scored = bigs
      .join(bcnt, Seq("w1", "w2"))
      .join(uni.select($"w".as("w1"), $"cw".as("c1")), "w1")
      .join(uni.select($"w".as("w2"), $"cw".as("c2")), "w2")
      .crossJoin(broadcast(tot))
      .select($"doc_id",
        (lit(BigramLambda) * ($"cb".cast("double") / $"c1".cast("double")) +
          lit(1.0 - BigramLambda) * ($"c2".cast("double") / $"t".cast("double")))
          .as("p"))
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
        sum(round(-log($"p"), 6).cast("decimal(28,6)")).as("nll"))
    // xent = nll/n rounded HALF-UP on the EXACT decimal — in integer
    // micro-units, (2N + n) div (2n), never through a double divide.
    // round(nll/n, 6) on the double quotient is engine-ambiguous whenever
    // the true quotient lands exactly on a 5e-7 midpoint (nll is a 6-dp
    // DECIMAL, so N/n midpoints are structurally common): Spark rounds the
    // binary expansion (just below the midpoint) down while DuckDB's
    // scaled-multiply crosses to the midpoint and rounds up — the sf1
    // q_bigram_lm hash break (doc 3271: 51.755613/14).
    docs.select($"doc_id").join(scored, Seq("doc_id"), "left")
      .withColumn("nm", ($"nll" * lit(1000000)).cast("decimal(28,0)").cast("long"))
      .withColumn("xm", expr("(2 * nm + n_bigrams) div (2 * n_bigrams)"))
      .select($"doc_id", $"n_bigrams",
        ($"xm".cast("double") / 1e6).as("xent"),
        round(exp($"xm".cast("double") / 1e6), 2).as("ppl"))
      .orderBy($"doc_id")
  }

  /** Absolute discount for the Kneser–Ney bigram model (the standard 0.75,
    * Chen & Goodman 1999 Table 5's near-optimal fixed value). */
  val KnDiscount = 0.75

  /** Interpolated Kneser–Ney bigram scoring — the smoothing that actually
    * ships in KenLM/CCNet-class LMs (Kneser & Ney 1995; Chen & Goodman 1999
    * §2.7), one rung above [[bigramLm]]'s Jelinek–Mercer mixture: mass is
    * freed by ABSOLUTE DISCOUNTING (max(c−D,0), not proportional shrink)
    * and the backoff distribution is the CONTINUATION count — how many
    * distinct histories a word follows — not raw frequency, so
    * boilerplate-locked words ("Francisco") stop inflating unseen-context
    * probability:
    *
    *   p(w₂|w₁) = [max(c(w₁w₂)−D, 0) + D·N₁₊(w₁,·)·N₁₊(·,w₂)/N₁₊(··)] / c(w₁·)
    *
    * with c(w₁·) the bigram-stream history count (= Σ_w c(w₁,w)), all four
    * statistics exact integers off one bigram-count aggregate. Per-doc
    * reduction is the [[bigramLm]] doctrine verbatim: −ln p quantized to
    * 6 dp, DECIMAL-summed (fold-order exact), xent rounded half-up in
    * integer micro-units, ppl from the rounded mean. Docs with < 2 tokens
    * surface NULLs.
    *
    * Scale shape: the bigram count aggregate is the corpus-sized shuffle
    * (shared shape with [[bigramLm]]); history and continuation counts are
    * vocabulary-sized re-aggregations of THAT result (never a second corpus
    * pass); the type total is a broadcast 1-row frame; join-backs are
    * un-hinted so AQE picks broadcast while vocabularies fit. */
  def knBigram(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, dir)
    val bigs = docs.select($"doc_id", explode(Text.ngrams($"text", 2)).as("bg"))
      .withColumn("w1", split($"bg", " ")(0))
      .withColumn("w2", split($"bg", " ")(1))
    val bcnt = bigs.groupBy($"w1", $"w2").agg(count(lit(1)).as("cb"))
    val hist = bcnt.groupBy($"w1")
      .agg(sum($"cb").as("h1"), count(lit(1)).as("nh"))
    val cont = bcnt.groupBy($"w2").agg(count(lit(1)).as("nc"))
    val btypes = bcnt.agg(count(lit(1)).as("bt"))
    val scored = bigs
      .join(bcnt, Seq("w1", "w2"))
      .join(hist, "w1")
      .join(cont, "w2")
      .crossJoin(broadcast(btypes))
      .select($"doc_id",
        ((greatest($"cb".cast("double") - lit(KnDiscount), lit(0.0)) +
          lit(KnDiscount) * $"nh".cast("double") * $"nc".cast("double")
            / $"bt".cast("double")) / $"h1".cast("double")).as("p"))
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
        sum(round(-log($"p"), 6).cast("decimal(28,6)")).as("nll"))
    docs.select($"doc_id").join(scored, Seq("doc_id"), "left")
      .withColumn("nm", ($"nll" * lit(1000000)).cast("decimal(28,0)").cast("long"))
      .withColumn("xm", expr("(2 * nm + n_bigrams) div (2 * n_bigrams)"))
      .select($"doc_id", $"n_bigrams",
        ($"xm".cast("double") / 1e6).as("xent"),
        round(exp($"xm".cast("double") / 1e6), 2).as("ppl"))
      .orderBy($"doc_id")
  }

  /** Chunk size / stride for the RAG-style sliding-window chunker: 32-token
    * chunks advancing 24 tokens (8-token overlap) — the shape every
    * retrieval/pretrain corpus prep uses between cleaning and embedding. */
  val ChunkLen = 32
  val ChunkStride = 24

  /** Overlapping token chunks of every document — pure map-side work: the
    * per-doc chunk count is 1 + ceil(max(0, n−C)/S) (exact integer
    * arithmetic, shared with the oracle), chunk i covers tokens
    * [i·S+1, i·S+C] (slice clamps at the tail in both engines), and each
    * chunk is identified by the md5 of its space-joined tokens. No shuffle
    * is introduced here at all — `sequence`+`explode` fan out rows inside
    * the scan's partitions, so at 100 TB this stage is embarrassingly
    * parallel and chunk rows stream straight into whatever consumes them. */
  private def chunks(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val (c, s) = (ChunkLen, ChunkStride)
    Tables.documents(spark, dir)
      .select($"doc_id", Text.tokenize($"text").as("toks"))
      .withColumn("n_tokens", size($"toks"))
      .filter($"n_tokens" > 0)
      .select($"doc_id", $"n_tokens", $"toks",
        explode(sequence(lit(0L),
          expr(s"(greatest(0, n_tokens - $c) + ${s - 1}) div $s"))).as("chunk_idx"))
      .select($"doc_id", $"n_tokens", $"chunk_idx",
        md5(concat_ws(" ", slice($"toks", ($"chunk_idx" * s + 1).cast("int"), lit(c))))
          .as("chunk_hash"),
        least(lit(c), $"n_tokens" - $"chunk_idx" * s).as("chunk_len"))
  }

  /** Per-document chunking profile: chunk count, distinct chunk content
    * within the doc, and the tail chunk's length. One (doc-keyed, map-side
    * combinable) aggregate over the chunk fan-out. */
  def chunkProfile(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    chunks(spark, dir)
      .groupBy($"doc_id")
      .agg(max($"n_tokens").as("n_tokens"),
        count(lit(1)).as("n_chunks"),
        countDistinct($"chunk_hash").as("n_distinct_chunks"),
        min($"chunk_len").as("last_chunk_len"))
      .orderBy($"doc_id")
  }

  /** Cross-corpus chunk-level dedup — the sub-document twin of
    * `q_dedup_exact`: chunk hashes occurring more than once, with occurrence
    * and document counts (catches boilerplate shared across documents that
    * whole-doc fingerprints miss; Lee et al. 2022's motivation for
    * substring-level dedup). Top-20 by duplication; the heavy state is one
    * hash-keyed aggregate, top-k plans as TakeOrderedAndProject. */
  def chunkDedup(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    chunks(spark, dir)
      .groupBy($"chunk_hash")
      .agg(count(lit(1)).as("n_occ"), countDistinct($"doc_id").as("n_docs"))
      .filter($"n_occ" > 1)
      .orderBy($"n_occ".desc, $"n_docs".desc, $"chunk_hash")
      .limit(20)
  }

  /** Fraction bound for the JL distortion gate in [[jlAudit]]: the classic
    * ε of the JL lemma, asserted per vector against the norm ratio. */
  val JlEpsilon = 0.35

  /** Seeded JL sign projection of every embedding, 64 → 16 dims
    * (Achlioptas 2003): the embedding-compression step a 100-TB pipeline
    * runs before storing or clustering vectors — 4× smaller vectors with
    * distance structure preserved in expectation. Output is the full
    * projected matrix as `(vec_id, dim, p)`, every coordinate on the 6-dp
    * grid.
    *
    * Scale shape: 16 codegen'd sequential dot products per row — map-only,
    * no shuffle, no UDF; the posexplode multiplies rows ×16 AFTER the
    * arithmetic. The oracle inlines the identical ±1 matrix as literals,
    * and DuckDB's list_dot_product folds in the same sequential order as
    * the codegen'd dot, so every coordinate is bit-identical before the
    * shared rounding. */
  def randProj(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.embeddings(spark, dir)
      .select($"vec_id", $"embedding".cast("array<double>").as("v"))
      .select($"vec_id",
        posexplode(graft.functions.Similarity.randProject($"v"))
          .as(Seq("dim0", "p")))
      .select($"vec_id", $"dim0".cast("long").as("dim"), $"p")
      .orderBy($"vec_id", $"dim")
  }

  /** Per-vector JL distortion audit of [[randProj]]: original vs projected
    * L2 norm and their ratio, with the ε-band check (‖Sx/√k‖/‖x‖ ∈
    * [1−ε, 1+ε]) evaluated on the ROUNDED ratio so the gate can never
    * straddle an ulp. The norm of the projection is computed from the
    * 6-dp-rounded coordinates — the exact values [[randProj]] publishes —
    * via a sequential array dot, so no fold-order hazard exists anywhere.
    * Map-only per row; zero-norm vectors surface with a NULL ratio. */
  def jlAudit(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val S = graft.functions.Similarity
    Tables.embeddings(spark, dir)
      .select($"vec_id", $"embedding".cast("array<double>").as("v"))
      .withColumn("pv", S.randProject($"v"))
      .withColumn("orig_nrm", S.l2norm($"v"))
      .withColumn("proj_nrm", S.l2norm($"pv"))
      .withColumn("norm_ratio",
        when($"orig_nrm" > 0.0, round($"proj_nrm" / $"orig_nrm", 6)))
      .select($"vec_id",
        round($"orig_nrm", 6).as("orig_norm"),
        round($"proj_nrm", 6).as("proj_norm"),
        $"norm_ratio",
        ($"norm_ratio" >= 1.0 - JlEpsilon &&
          $"norm_ratio" <= 1.0 + JlEpsilon).as("in_band"))
      .orderBy($"vec_id")
  }

  /** Maximal duplicated-text spans — the interval-coalescing half of
    * exact-substring dedup (Lee et al. 2022 §4: the REMOVE step operates
    * on maximal duplicated character ranges, not isolated grams). Every
    * position of a corpus-duplicated [[DupGramK]]-gram covers tokens
    * `[pos, pos+K-1]`; overlapping/touching covers within a document merge
    * into one maximal span (islands-and-gaps: a new island starts where
    * the gap since the previous duplicated gram exceeds K). Output: the
    * top-50 longest spans — the concrete cut list a substring-dedup
    * rewrite pass would act on, which [[dupNgrams]]'s per-doc fraction
    * cannot provide.
    *
    * Scale shape: the corpus-sized gram-count aggregate is shared with
    * [[dupNgrams]] (the cost this operator family is defined by); the
    * join-back keeps only duplicated-gram hits (a small fraction of gram
    * vocabulary on natural corpora, AQE broadcast-picks it), and both
    * windows partition by doc_id — state bounded per document, never
    * global. Top-50 plans as TakeOrderedAndProject. */
  def dupSpans(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    spanFrames(spark, dir)
      .orderBy($"span_tokens".desc, $"doc_id", $"span_start").limit(50)
  }

  /** Every maximal duplicated span of every document (the unlimited frame
    * behind [[dupSpans]]): `(doc_id, span_start, span_end, span_tokens,
    * n_dup_grams)`, positions 1-based token indexes, spans within one
    * document pairwise disjoint and non-adjacent by construction (islands
    * are separated by gaps > K). */
  private def spanFrames(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val k = DupGramK
    val docs = Tables.documents(spark, dir)
    // 1-based gram start positions (matches DuckDB's 1-based list slices)
    val grams = docs.select($"doc_id",
        posexplode(Text.ngrams($"text", k)).as(Seq("pos0", "g")))
      .select($"doc_id", ($"pos0" + 1).as("pos"), $"g")
    val dupGrams = grams.groupBy($"g").agg(count(lit(1)).as("c"))
      .filter($"c" > 1).select($"g")
    val hits = grams.join(dupGrams, "g").select($"doc_id", $"pos")
    val byPos = Window.partitionBy($"doc_id").orderBy($"pos")
    hits
      .withColumn("newspan",
        when(lag($"pos", 1).over(byPos).isNull ||
          $"pos" - lag($"pos", 1).over(byPos) > k, 1).otherwise(0))
      .withColumn("span_id", sum($"newspan").over(byPos))
      .groupBy($"doc_id", $"span_id")
      .agg(min($"pos").cast("long").as("span_start"),
        (max($"pos") + (k - 1)).cast("long").as("span_end"),
        count(lit(1)).as("n_dup_grams"))
      .withColumn("span_tokens", $"span_end" - $"span_start" + 1)
      .select($"doc_id", $"span_start", $"span_end", $"span_tokens",
        $"n_dup_grams")
  }

  /** The REWRITE half of exact-substring dedup (Lee et al. 2022 §4's actual
    * mutation: cut every maximal duplicated span out of the document and
    * keep the rest) — [[dupSpans]] finds the cut list, this applies it.
    * Per document: token count, tokens removed/kept, kept fraction, and the
    * md5 fingerprint of the scrubbed text (kept tokens space-joined in
    * order) — the content hash a downstream incremental pipeline would key
    * on. Docs with no duplicated span pass through (removed = 0, fp = md5
    * of the space-rejoined tokenization).
    *
    * Scale shape: the corpus-sized gram-count shuffle is the same one
    * [[dupNgrams]]/[[dupSpans]] pay; spans collapse to a per-doc array
    * (bounded by len/K per doc) joined back on doc_id; the token filter is
    * a higher-order `filter` with a position lambda over the span array —
    * map-side, codegen'd, no explode of the token stream. One row per doc,
    * linear end-to-end. */
  def spanScrub(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docSpans = spanFrames(spark, dir)
      .groupBy($"doc_id")
      .agg(collect_list(struct($"span_start", $"span_end")).as("spans"),
        sum($"span_tokens").as("n_rm"))
    Tables.documents(spark, dir)
      .select($"doc_id", Text.tokenize($"text").as("t"))
      .join(docSpans, Seq("doc_id"), "left")
      .withColumn("spans", coalesce($"spans",
        expr("array()").cast("array<struct<span_start:bigint,span_end:bigint>>")))
      .withColumn("kept", filter($"t", (tok, i) =>
        !exists($"spans", s =>
          i + 1 >= s("span_start") && i + 1 <= s("span_end"))))
      .select($"doc_id",
        size($"t").cast("long").as("n_tokens"),
        coalesce($"n_rm", lit(0L)).as("n_removed"),
        size($"kept").cast("long").as("n_kept"),
        when(size($"t") > 0,
          round(size($"kept").cast("double") / size($"t").cast("double"), 6))
          .as("kept_frac"),
        md5(concat_ws(" ", $"kept")).as("cleaned_fp"))
      .orderBy($"doc_id")
  }

  /** Words longer than this are excluded from unigram-LM training — the
    * bound that lets the DuckDB oracle unroll the Viterbi DP to a fixed
    * position count (corpus alpha words are ≤ 8 chars at every tier;
    * ScaleUp's `_c<i>` suffixing keeps new tokens non-alpha). */
  val UnigramMaxLen = 12

  /** Maximum piece length in the unigram seed inventory. */
  val UnigramMaxPiece = 4

  /** Multi-character seed pieces retained (top by substring count). */
  val UnigramSeedMulti = 40

  /** Hard-EM (Viterbi) re-estimation rounds of [[unigramTok]]. */
  val UnigramIters = 3

  /** Viterbi DP over one word as a codegen'd HOF fold: position j's state
    * appends best[j] = argmax over vocabulary pieces v ending at j of
    * best[j−|v|].sc + lp(v), ties → longer piece (a tie needs distinct
    * lengths: same end + same length = same piece). `st` is the growing
    * best-prefix array (element i+1 = best over prefix length i), `vs`
    * the literal (sym, lp) vocabulary array. Integer micro-log scores
    * make every comparison exact — no float-order ambiguity for the
    * oracle to diverge on. */
  private[graft] val UnigramDp =
    """aggregate(
         sequence(1, length(word)),
         array(named_struct('sc', cast(0 as bigint),
                            'ps', cast(array() as array<string>))),
         (st, j) -> array_append(st,
           aggregate(
             filter(vs, v -> length(v.sym) <= j
               and substring(word, j - length(v.sym) + 1, length(v.sym)) = v.sym),
             cast(null as struct<sc:bigint, ps:array<string>, l:int>),
             (b, v) -> if(b is null
                 or element_at(st, j - length(v.sym) + 1).sc + v.lp > b.sc
                 or (element_at(st, j - length(v.sym) + 1).sc + v.lp = b.sc
                     and length(v.sym) > b.l),
               named_struct(
                 'sc', element_at(st, j - length(v.sym) + 1).sc + v.lp,
                 'ps', array_append(
                   element_at(st, j - length(v.sym) + 1).ps, v.sym),
                 'l', length(v.sym)),
               b),
             b -> named_struct('sc', b.sc, 'ps', b.ps))))"""

  /** q_unigram_tok — unigram-LM tokenizer trainer (Kudo 2018, the
    * SentencePiece default; hard-EM variant): seed the piece inventory
    * with every ≤[[UnigramMaxPiece]]-char substring of the corpus
    * vocabulary (all single chars + the [[UnigramSeedMulti]] most frequent
    * multi-char pieces, occurrence-weighted), then [[UnigramIters]] rounds
    * of (1) score pieces by log10 relative frequency, (2) Viterbi-segment
    * every distinct word under those scores, (3) re-count piece usage over
    * the best segmentations. Single characters never drop below count 1
    * (SentencePiece's required-character protection — coverage stays
    * total, every word segmentable in every round). Output: the trained
    * inventory — surviving pieces with final counts and 6-dp relative
    * frequencies. Completes the production-tokenizer triad next to the
    * [[bpeTrain]] merge trainer and [[wordpieceEncode]] greedy inference.
    *
    * Determinism doctrine: piece scores are integer MICRO-LOGS
    * (round(log10(n/tot)·10⁶) as BIGINT), so every Viterbi comparison and
    * path sum is exact integer arithmetic — the DuckDB oracle unrolls the
    * DP per position ([[UnigramMaxLen]] stages/round) and reproduces every
    * argmax bit-for-bit; local ties prefer the longer piece.
    *
    * Scale shape: ONE corpus-sized shuffle (token → word histogram,
    * Heaps-law bounded), checkpointed once. The seed counts (at most 26 +
    * [[UnigramSeedMulti]] pieces at any tier) are collected once and the
    * counts live on the driver: each round scores the pieces there
    * ([[SparkRound]]), passes the (sym, lp) array to the Viterbi pass as a
    * literal — a codegen'd HOF fold per DISTINCT word, distributed over
    * the checkpointed histogram — and collects the seed-bounded piece
    * usage, one job per round. The inventory re-enters the plan as a
    * local frame already in its (n desc, piece) order. */
  def unigramTok(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val words = Tables.documents(spark, dir)
      .select(explode(Text.tokenize($"text")).as("word"))
      .filter($"word".rlike("^[a-z]+$") && length($"word") <= UnigramMaxLen)
      .groupBy($"word").agg(count(lit(1)).as("f"))
      .localCheckpoint()
    val subs = words
      .select($"f", explode(expr(
        s"""flatten(transform(sequence(1, length(word)),
             i -> transform(
               sequence(1, least($UnigramMaxPiece, length(word) - i + 1)),
               l -> substring(word, i, l))))""")).as("piece"))
      .groupBy($"piece").agg(sum($"f").as("n"))
    val chars = subs.filter(length($"piece") === 1)
    val multi = subs.filter(length($"piece") >= 2)
      .withColumn("rk", row_number().over(Window.orderBy($"n".desc, $"piece")))
      .filter($"rk" <= UnigramSeedMulti).drop("rk")
    // the seed piece SET is fixed; only counts evolve across rounds
    var counts = chars.unionByName(multi).collect()
      .map(r => r.getString(0) -> r.getLong(1))
    // no seed piece, no word: skip the rounds (an empty `vs` has no type)
    for (_ <- 1 to UnigramIters if counts.nonEmpty) {
      val alive = counts.filter(_._2 > 0)
      val tot = alive.map(_._2).sum
      // Spark's log10 is StrictMath's; round(x, 0) is HALF_UP
      val vs = alive.sortBy(_._1).map { case (piece, n) =>
        struct(lit(piece).as("sym"), lit(SparkRound.round(
          StrictMath.log10(n.toDouble / tot.toDouble) * 1e6, 0).longValue).as("lp"))
      }
      val used = words.withColumn("vs", array(vs: _*))
        .withColumn("dp", expr(UnigramDp))
        .select($"f",
          explode(expr("element_at(dp, length(word) + 1).ps")).as("piece"))
        .groupBy($"piece").agg(sum($"f").as("n"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      counts = counts.map { case (piece, _) =>
        val n = used.getOrElse(piece, 0L)
        piece -> (if (piece.length == 1) math.max(n, 1L) else n)
      }
    }
    val alive = counts.filter(_._2 > 0)
    val tot = alive.map(_._2).sum
    // already in (n desc, piece) order
    val byCount = Ordering.Tuple2(Ordering.Long.reverse, Bounded.StringOrder)
    Bounded.localFrame(spark, "piece string, n bigint, p double",
      alive.sortBy { case (piece, n) => (n, piece) }(byCount).map { case (piece, n) =>
        Row(piece, n, SparkRound.round(n.toDouble / tot.toDouble, 6).doubleValue)
      })
  }

  // ---------------------------------------------------------------------
  // Topic modeling: non-negative matrix factorization with Lee & Seung
  // (NIPS 2000) multiplicative updates on the Frobenius objective —
  // ‖V − W·H‖², V the docs×terms count matrix. The classic distributed
  // formulation: every matrix product is a join linear in nnz(V) or in
  // |vocab|·k² — W ∘ (VHᵀ)/(WHHᵀ) and H ∘ (WᵀV)/(WᵀWH) never materialize
  // a dense matrix, because HHᵀ / WᵀW are k×k broadcasts and the V-side
  // products stream over the sparse count frame.
  // ---------------------------------------------------------------------

  /** Number of NMF topics (k). */
  val NmfTopics = 4

  /** Multiplicative-update rounds — enough for the factor ranking to
    * stabilize while keeping the DuckDB oracle's unrolled CTE chain flat. */
  val NmfIters = 2

  /** Terms reported per topic. */
  val NmfTopTerms = 10

  /** NMF topic model over the whitespace docs×terms count matrix: the
    * registered face emits each topic's top [[NmfTopTerms]] terms by final
    * H weight (ties → term asc).
    *
    * Determinism doctrine (the PageRank / Lloyd playbook): deterministic
    * inits — W₀(d,t) from pure key arithmetic, H₀(t,term) from the md5
    * prefix both engines compute bit-identically — every sum quantizes its
    * terms to 6 dp and folds in DECIMAL (order-exact), every update entry
    * re-quantizes to 6 dp, and division guards den > 0 explicitly, so the
    * whole iteration is a fixed IEEE dag the DuckDB oracle replays as
    * unrolled CTEs.
    *
    * Scale shape at 100 TB: nnz(V) is the only corpus-sized frame
    * (localCheckpointed once, scanned 2× per round); VHᵀ / WᵀV shuffle on
    * (doc,t) / (t,term) keys with map-side partial aggregation; HHᵀ and
    * WᵀW are k²-row broadcasts; W and H stay k-times-entity-sized. No
    * all-pairs product anywhere. */
  def nmfTopics(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val (_, _, _, _, h) = nmfFactors(spark, dir)
    val byWeight = Window.partitionBy($"t").orderBy($"hv".desc, $"term")
    h.withColumn("rank", row_number().over(byWeight))
      .filter($"rank" <= NmfTopTerms)
      .select($"t".as("topic"), $"rank", $"term", $"hv".as("weight"))
      .orderBy($"topic", $"rank")
  }

  /** The NMF iteration itself: (V, W₀, H₀, W, H) — the registered face
    * ranks H; the spec checks the Frobenius objective decreases from the
    * deterministic inits to the returned factors. */
  private[graft] def nmfFactors(spark: SparkSession, dir: String)
      : (DataFrame, DataFrame, DataFrame, DataFrame, DataFrame) = {
    import spark.implicits._
    val topics = spark.range(NmfTopics).toDF("t")
    // r16 (guide §2.4, VERDICT r15 #2): V is keyed by doc_id ONCE — the
    // explicit repartition's hash(doc_id) layout satisfies the count
    // aggregate's (doc_id, term) clustering, survives the checkpoint
    // (LogicalRDD preserves outputPartitioning), and then every doc-keyed
    // step of every round — the VHᵀ groupBy(doc_id, t) on the nnz·k
    // product stream, the WᵀV / WᵀW joins on doc_id, the W-update's
    // 3-way (doc_id, t) join, and the W seed's distinct — rides it with
    // NO new corpus-sized exchange (each W checkpoint re-emits the same
    // hash(doc_id) partitioning). Previously the nnz(V) frame was
    // re-keyed 2× per round by the vh/wtv aggregates alone.
    val v = Tables.documents(spark, dir)
      .select($"doc_id", explode(Text.tokenize($"text")).as("term"))
      .repartition($"doc_id")
      .groupBy($"doc_id", $"term")
      .agg(count(lit(1)).cast("double").as("x"))
      .localCheckpoint()
    // r15: seeds stay LAZY — they are deterministic projections of the
    // checkpointed v (distinct + crossJoin with the k-row topic frame), so
    // their former standalone checkpoint jobs bought nothing; within the
    // first round's jobs the distinct exchange is planned once and reused.
    val w0 = v.select($"doc_id").distinct().crossJoin(topics)
      .withColumn("wv",
        ((($"doc_id" * 7 + $"t" * 13) % 10 + 1).cast("double") / lit(10.0)))
    val h0 = v.select($"term").distinct().crossJoin(topics)
      .withColumn("hv",
        (((conv(substring(md5($"term"), 1, 8), 16, 10).cast("long") +
          $"t" * 13) % 10 + 1).cast("double") / lit(10.0)))
    var w = w0
    var h = h0
    for (_ <- 0 until NmfIters) {
      // W ← W ∘ (VHᵀ) / (W·HHᵀ)
      val vh = v.join(h, "term")
        .groupBy($"doc_id", $"t")
        .agg(sum(round($"x" * $"hv", 6).cast("decimal(28,6)")).as("num"))
      val hht = h.as("p").join(h.as("q"), $"p.term" === $"q.term")
        .groupBy($"p.t".as("t"), $"q.t".as("t2"))
        .agg(sum(round($"p.hv" * $"q.hv", 6).cast("decimal(28,6)"))
          .cast("double").as("g"))
      val whh = w.join(broadcast(hht), "t")
        .groupBy($"doc_id", $"t2")
        .agg(sum(round($"wv" * $"g", 6).cast("decimal(28,6)")).as("den"))
        .withColumnRenamed("t2", "t")
      val wPrev = w
      w = w.join(vh, Seq("doc_id", "t")).join(whh, Seq("doc_id", "t"))
        .select($"doc_id", $"t",
          when($"den".cast("double") > 0.0,
            round($"wv" * ($"num".cast("double") / $"den".cast("double")), 6))
            .otherwise(lit(0.0)).as("wv"))
        .localCheckpoint()
      // the superseded round's blocks are dead the moment the eager
      // checkpoint above materializes; drop them now instead of waiting
      // on the async ContextCleaner (VERDICT r12 #5 cold-pass hygiene).
      // w0/h0 are returned to the caller and stay pinned.
      if (!(wPrev eq w0)) GraftSqlBridge.dropCheckpoint(wPrev)
      // H ← H ∘ (WᵀV) / (WᵀW·H)
      val wtv = v.join(w, "doc_id")
        .groupBy($"t", $"term")
        .agg(sum(round($"x" * $"wv", 6).cast("decimal(28,6)")).as("num"))
      val wtw = w.as("p").join(w.as("q"), $"p.doc_id" === $"q.doc_id")
        .groupBy($"p.t".as("t"), $"q.t".as("t2"))
        .agg(sum(round($"p.wv" * $"q.wv", 6).cast("decimal(28,6)"))
          .cast("double").as("g"))
      val wtwh = broadcast(wtw).as("g")
        .join(h.as("hh"), $"g.t2" === $"hh.t")
        .groupBy($"g.t".as("t"), $"hh.term".as("term"))
        .agg(sum(round($"g.g" * $"hh.hv", 6).cast("decimal(28,6)")).as("den"))
      val hPrev = h
      h = h.join(wtv, Seq("t", "term")).join(wtwh, Seq("t", "term"))
        .select($"term", $"t",
          when($"den".cast("double") > 0.0,
            round($"hv" * ($"num".cast("double") / $"den".cast("double")), 6))
            .otherwise(lit(0.0)).as("hv"))
        .localCheckpoint()
      if (!(hPrev eq h0)) GraftSqlBridge.dropCheckpoint(hPrev)
    }
    (v, w0, h0, w, h)
  }
}
