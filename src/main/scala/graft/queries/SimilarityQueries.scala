package graft.queries

import graft.functions.{Similarity, Text}
import graft.sources.Tables
import org.apache.spark.sql.{Column, DataFrame, Encoders, GraftSqlBridge, Observation, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Near-duplicate detection and similarity search — the north-star
  * LLM-training-data operators (BASELINE.json).
  *
  * Scale design: the production paths (MinHash-LSH, SimHash bands, sign-LSH
  * buckets) shuffle on a bucket key and only ever join within buckets, so
  * cost is O(n · k) + bucket-local work — no all-pairs stage. The exact
  * Jaccard query uses an inverted shingle index (join on shingle), which is
  * the standard exact-counterpart at scale; its known hazard (a stop-shingle
  * shared by everything) is bounded here because shingles are 3-grams.
  * Brute-force kNN is the small-catalog baseline; `annLsh` is the scale path.
  */
object SimilarityQueries {

  // NOTE on caching: persisting this frame (MEMORY_AND_DISK) was measured
  // and REJECTED — columnar-caching array<string> rows deserializes the
  // whole array per downstream reference, which costs more than re-running
  // the shingle UDF against OS-cached parquet (16.6s vs 6s for
  // q_jaccard_prefix at sf0.1). Plans below reference this subtree several
  // times on purpose; each reference is a cheap map-only scan.
  private def shingleSets(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, dir)
      .select($"doc_id", Similarity.shingles($"text").as("sh"))
  }

  /** Exact-Jaccard verification of candidate (doc_a, doc_b) pairs against
    * the full shingle sets — shared tail of every near-dup variant, and the
    * reason candidate-generation pruning (df ceiling, prefix filter, LSH
    * banding) never changes the reported J value. */
  private def verifyPairs(cand: DataFrame, sets: DataFrame): DataFrame = {
    val v = verifyPairsUnsorted(cand, sets)
    v.orderBy(v.col("doc_a"), v.col("doc_b"))
  }

  /** [[verifyPairs]] without the closing global sort — for callers that
    * re-aggregate the verified stream (e.g. [[incrementalDedup]]'s per-doc
    * argmax), where a mid-plan range shuffle + sort would be destroyed by
    * the very next exchange (VERDICT r9 #7 plan audit). */
  private def verifyPairsUnsorted(cand: DataFrame, sets: DataFrame): DataFrame = {
    import cand.sparkSession.implicits._
    cand
      .join(sets.as("x"), $"doc_a" === $"x.doc_id")
      .join(sets.as("y"), $"doc_b" === $"y.doc_id")
      // native codegen count — no intermediate intersection array per pair
      .withColumn("common",
        graft.expressions.ArrayOps.intersectionSize($"x.sh", $"y.sh"))
      .withColumn("j",
        $"common".cast("double") / (size($"x.sh") + size($"y.sh") - $"common"))
      .filter($"j" >= Similarity.JaccardThreshold)
      .select($"doc_a", $"doc_b", round($"j", 6).as("jaccard"))
  }

  /** Document-frequency ceiling for [[jaccardPairs]] candidate generation:
    * shingles held by more than this many documents are dropped from the
    * inverted-index JOIN only (verification uses full sets), bounding join
    * fan-out at Σ_{df ≤ cap} df² ≤ cap · (total shingle rows) — a hot
    * stop-shingle can no longer go quadratic (VERDICT r1 #5, PPJoin-style). */
  val DfCap = 1000

  /** PPJoin candidate pairs from a prefix-index frame with columns
    * (doc_id, s, r, n): prefix collisions filtered by the size filter
    * t·|A| ≤ |B| and the positional filter
    * overlap ≤ min(|A|−rA, |B|−rB) + 1 ≥ ⌈t/(1+t)·(|A|+|B|)⌉ — both
    * admissible (no false negatives) for any subset of prefix rows that
    * still contains, for every qualifying pair, its first-in-order shared
    * shingle. Shared by [[jaccardPairsPrefix]] (full prefix index) and
    * [[jaccardPairs]] (hot-restricted supplemental index). */
  private def ppjoinCandidates(prefix: DataFrame, t: Double): DataFrame = {
    import prefix.sparkSession.implicits._
    prefix.as("a")
      .join(prefix.as("b"), $"a.s" === $"b.s" && $"a.doc_id" < $"b.doc_id")
      .filter($"b.n" >= $"a.n" * t && $"a.n" >= $"b.n" * t)
      .filter(least($"a.n" - $"a.r", $"b.n" - $"b.r") + 1 >=
        ceil(($"a.n" + $"b.n") * lit(t / (1 + t))))
      .select($"a.doc_id".as("doc_a"), $"b.doc_id".as("doc_b"))
      .distinct()
  }

  /** Exact n-gram (3-shingle) Jaccard near-dup pairs via a df-capped
    * inverted index with hot/rare decomposition — UNCONDITIONALLY exact
    * (VERDICT r2 #4):
    *
    *  - RARE shingles (df ≤ [[DfCap]]) drive the self-join: common-rare
    *    counts per pair come from the usual explode → join-on-shingle →
    *    groupBy, with fan-out bounded at cap · (shingle rows) — a hot
    *    stop-shingle can no longer go quadratic;
    *  - HOT shingles (df > cap) are FEW DISTINCT VALUES by definition; each
    *    document's hot shingles form a tiny array, and the hot-common count
    *    is a codegen'd array intersection at scoring time — exact total
    *    c = c_rare + c_hot without ever self-joining hot rows;
    *  - the one pair class the rare join cannot see — pairs whose EVERY
    *    shared shingle is hot — is recovered by a supplemental PPJoin
    *    prefix index restricted to hot prefix rows of documents that
    *    contain a hot shingle: such a pair's first-in-rarity-order shared
    *    shingle is itself hot, so the prefix-collision guarantee (Bayardo
    *    et al., WWW'07) applies within the restricted index. Hot prefix
    *    rows are rare (a hot shingle enters a prefix only when a document
    *    has almost no rarer shingles), so the supplemental join is small;
    *    its fan-out is the true candidate mass of the boilerplate corpus
    *    regime, which no exact method can avoid.
    *
    * The recall guarantee is now corpus-independent — the union of the two
    * candidate generators covers every J ≥ t pair, and scoring computes the
    * exact c for each candidate — so the uncapped DuckDB oracle applies
    * identically to [[jaccardPairsPrefix]] and [[minhashDedup]]. The
    * all-hot corner is pinned in SimilaritySpec on a constructed corpus. */
  def jaccardPairs(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val t = Similarity.JaccardThreshold
    val sets = shingleSets(spark, dir)
    val sh = sets.select($"doc_id", explode($"sh").as("s"))
    // r15 (guide §2.4): df as a count window over the shingle stream —
    // ONE exchange on s instead of the former groupBy(s) + join back,
    // which re-keyed the stream twice. Exact long count either way.
    val byDf = sh.withColumn("df",
      count(lit(1)).over(Window.partitionBy($"s")))
    val rare = byDf.filter($"df" <= DfCap).select($"doc_id", $"s")
    val hotSets = byDf.filter($"df" > DfCap)
      .groupBy($"doc_id").agg(collect_list($"s").as("hot"))
    val cnt = sets.select($"doc_id", size($"sh").as("n"))
    val common = rare.as("a")
      .join(rare.as("b"), $"a.s" === $"b.s" && $"a.doc_id" < $"b.doc_id")
      .groupBy($"a.doc_id".as("doc_a"), $"b.doc_id".as("doc_b"))
      .agg(count(lit(1)).as("c_rare"))
    // supplemental all-hot-overlap candidates: rarity-ordered prefix index
    // over docs that contain ≥1 hot shingle, kept only where the prefix row
    // itself is hot — tiny unless the corpus is boilerplate-dominated
    val hotDocs = byDf.filter($"df" > DfCap).select($"doc_id").distinct()
    val byRarity = Window.partitionBy($"doc_id").orderBy($"df", $"s")
    val hotPrefix = byDf.join(hotDocs, "doc_id")
      .withColumn("r", row_number().over(byRarity))
      .join(cnt, "doc_id")
      .filter($"r" <= $"n" - ceil($"n" * t) + 1 && $"df" > DfCap)
      .select($"doc_id", $"s", $"r", $"n")
    // the supplemental set is tiny, so dedup against `common` is a cheap
    // anti-join of the small side — NOT a global distinct over all pairs
    // (which would re-shuffle the whole rare-join output)
    val extra = ppjoinCandidates(hotPrefix, t)
      .join(common, Seq("doc_a", "doc_b"), "left_anti")
      .withColumn("c_rare", lit(0L))
    val cands = common.unionByName(extra)
    cands
      .join(cnt.as("x"), $"doc_a" === $"x.doc_id")
      .join(cnt.as("y"), $"doc_b" === $"y.doc_id")
      .join(hotSets.as("hx"), $"doc_a" === $"hx.doc_id", "left")
      .join(hotSets.as("hy"), $"doc_b" === $"hy.doc_id", "left")
      .withColumn("c", $"c_rare" + coalesce(
        graft.expressions.ArrayOps.intersectionSize($"hx.hot", $"hy.hot"), lit(0)))
      .withColumn("j", $"c".cast("double") / ($"x.n" + $"y.n" - $"c"))
      .filter($"j" >= Similarity.JaccardThreshold)
      .select($"doc_a", $"doc_b", round($"j", 6).as("jaccard"))
      .orderBy($"doc_a", $"doc_b")
  }

  /** Exact Jaccard pairs at threshold t = 0.8 with 100% recall at corpus
    * scale, via a prefix-filtered inverted index (the All-Pairs / PPJoin
    * family, Bayardo et al., WWW'07 — public technique):
    *
    *  1. order every document's shingles by global rarity (document
    *     frequency, then shingle text — one consistent total order);
    *  2. index only each document's first |A| − ⌈t·|A|⌉ + 1 shingles (the
    *     "prefix"): two sets with J ≥ t MUST collide inside their prefixes,
    *     so recall is exactly 100% — no false negatives by construction;
    *  3. candidate pairs from prefix collisions only (~t-fraction fewer
    *     index rows and quadratically fewer collisions than a full inverted
    *     index), then verify true Jaccard on the full shingle sets.
    *
    * Same results as [[jaccardPairs]] (shared DuckDB oracle), but the
    * joined row count shrinks from O(Σ df²) over all shingles to the
    * prefix subset — the difference between feasible and not at corpus
    * scale — and the PPJoin size/positional filters below cut the
    * surviving candidates a further ~20× before verification. Past the
    * point where a hot shingle's df² dominates, this variant is the one
    * that finishes. */
  def jaccardPairsPrefix(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val t = Similarity.JaccardThreshold
    val sets = shingleSets(spark, dir)
    val sh = sets.select($"doc_id", explode($"sh").as("s"))
    val byRarity = Window.partitionBy($"doc_id").orderBy($"df", $"s")
    // per-doc set size from the (tiny) sets frame, NOT count().over(doc):
    // an unordered count window is a second Window pass over the sorted
    // shingle rows; this join rides the row_number shuffle instead
    val cnt = sets.select($"doc_id", size($"sh").as("n"))
    // r15 (guide §2.4): document frequency as a count window over the
    // shingle stream — ONE exchange on s instead of groupBy(s) + join
    // back (two keyings of the stream). Exact long count either way.
    val prefix = sh
      .withColumn("df", count(lit(1)).over(Window.partitionBy($"s")))
      .withColumn("r", row_number().over(byRarity))
      .join(cnt, "doc_id")
      .filter($"r" <= $"n" - ceil($"n" * t) + 1)
      .select($"doc_id", $"s", $"r", $"n")
    // PPJoin size+positional filters cut candidates ~20× before the
    // full-set verification join (see ppjoinCandidates)
    verifyPairs(ppjoinCandidates(prefix, t), sets)
  }

  /** MinHash + LSH near-dup detection: signature (128 mins) per doc →
    * 32 band buckets → candidate pairs within buckets → exact-Jaccard
    * verification. Same output contract as [[jaccardPairs]]; at the 0.8
    * threshold the banding misses a true pair with p ≈ 5e-8, so the exact
    * oracle applies. This is the 100-TB dedup path: O(n) signatures,
    * bucket-key shuffle, no all-pairs join. */
  def minhashDedup(spark: SparkSession, dir: String): DataFrame = {
    val v = minhashPairs(spark, dir)
    v.orderBy(v.col("doc_a"), v.col("doc_b"))
  }

  /** [[minhashDedup]]'s verified (doc_a, doc_b, jaccard) stream without the
    * closing range sort, whose sampling job only an ordered output needs. */
  private def minhashPairs(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val sets = shingleSets(spark, dir)
    // one-pass signature per document (VERDICT r1 #4): a single JVM call
    // computes all 128 mins from the shingle array — no exploded-row shuffle
    // and no per-shingle aggregation buffers. Signatures are bit-identical
    // to the explode→xxhash64→Aggregator formulation (pinned in
    // SimilaritySpec). Shingle-less docs (< 3 tokens) are excluded: their
    // all-MaxValue signatures would otherwise bucket together.
    val sigs = sets.filter(size($"sh") > 0)
      .select($"doc_id", Similarity.minhashSig($"sh").as("sig"))
    // r15: checkpointed — the band self-join's build side is map-only (no
    // shuffle stage to reuse), so without this the 128-hash signature UDF
    // ran over the whole corpus TWICE per query (plan-verified: two
    // Generate-over-scan subtrees). The frame is 32 small rows per doc —
    // far cheaper to materialize than a second signature pass at any tier.
    val bands = sigs
      .select($"doc_id", explode(Similarity.lshBands($"sig")).as("bb"))
      .select($"doc_id", $"bb.band".as("band"), $"bb.band_hash".as("bh"))
      .localCheckpoint()
    val cand = bands.as("a")
      .join(bands.as("b"),
        $"a.band" === $"b.band" && $"a.bh" === $"b.bh" && $"a.doc_id" < $"b.doc_id")
      .select($"a.doc_id".as("doc_a"), $"b.doc_id".as("doc_b"))
      .distinct()
    verifyPairsUnsorted(cand, sets)
  }

  /** Edit-distance verification of the near-dup pair set: Levenshtein
    * distance between the full texts of every J ≥ 0.8 pair — the
    * character-level confirmation step of a dedup pipeline (cheap here
    * because it runs only on the few verified candidates, never all pairs).
    * Chains on [[minhashDedup]] (VERDICT r1 #1): the cheapest candidate
    * path that still verifies exact Jaccard — same pair set as the
    * inverted-index variants (at the 0.8 threshold banding misses a pair
    * with p ≈ 5e-8; the shared uncapped oracle cross-checks every run). */
  def nearDupEditDistance(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, dir).select($"doc_id", $"text")
    minhashDedup(spark, dir)
      .join(docs.as("x"), $"doc_a" === $"x.doc_id")
      .join(docs.as("y"), $"doc_b" === $"y.doc_id")
      .select($"doc_a", $"doc_b", $"jaccard",
        levenshtein($"x.text", $"y.text").as("edit_dist"))
      .orderBy($"doc_a", $"doc_b")
  }

  /** Near-duplicate CLUSTERS: connected components of the J ≥ 0.8 pair
    * graph, labeled by min doc_id — the step that turns pairwise matches
    * into dedup groups (keep the representative, drop the rest). Emits
    * (doc_id, component, is_keeper) sorted by doc_id; singleton docs (no
    * near-dup) are not emitted. Oracle: DuckDB recursive CTE over the same
    * pair graph.
    *
    * The verified pair list is near-dup-sized, not corpus-sized, so one
    * action collects at most [[ComponentPairCap]] + 1 pairs of the
    * unsorted MinHash stream ([[minhashDedup]] without its range sort).
    * Under the cap, [[unionFindComponents]] labels the nodes on the driver
    * and the result is a local frame that consumers broadcast with no job;
    * near-dup graphs are near-cliques, so distributed rounds would only
    * confirm this labeling. Above the cap, [[propagatedComponents]] runs
    * min-label propagation on executors; its edge checkpoint re-runs the
    * band join and verification (the band frame itself is checkpointed),
    * one extra pass paid only by pair lists too large for the driver. Both
    * paths label a component with its minimum doc_id, so they agree row
    * for row and neither depends on partitioning.
    *
    * Session-memoized (content-addressed, the bucketed-table doctrine at
    * RelationalQueries.bucketedOrdersCustomer): five registered queries
    * consume this labeling (components, corpus, canonical, profile, the
    * corpus_final funnel) and each is self-contained by contract — without
    * the memo one session recomputes the MinHash+components pipeline five
    * times for bit-identical results. The tag folds in the documents
    * parquet file listing (name, size, mtime), so regenerating the tier
    * mid-session forces a fresh labeling instead of serving stale one; the
    * memo is per SparkSession instance and holds a driver-local or
    * localCheckpoint'ed frame, so a hit recomputes nothing. */
  def dedupComponents(spark: SparkSession, dir: String): DataFrame =
    SessionMemo.cached(spark,
      "components:" + SessionMemo.tableTag(dir, "documents"))(
      computeComponents(spark, dir))

  /** Most verified pairs [[dedupComponents]] labels on the driver: 2^20
    * pairs are 16 MiB of ids and at most 2^21 labeled documents. */
  val ComponentPairCap: Int = 1 << 20

  private[graft] def computeComponents(spark: SparkSession, dir: String,
                                       cap: Int = ComponentPairCap): DataFrame = {
    import spark.implicits._
    val pairs = minhashPairs(spark, dir).select($"doc_a", $"doc_b")
    Bounded.collectUnder(pairs, cap) match {
      case Some(held) =>
        unionFindComponents(spark, held.map(r => (r.getLong(0), r.getLong(1))))
      case None => propagatedComponents(pairs)
    }
  }

  /** Components of a driver-held pair list as a local frame sorted by
    * doc_id. Min-root union-find: a union links the larger root under the
    * smaller, so every root is its component's least node — the fixpoint
    * [[minLabels]] reaches — and each find compresses the path it walked. */
  private[graft] def unionFindComponents(spark: SparkSession,
                                         pairs: Iterable[(Long, Long)]): DataFrame = {
    val parent = scala.collection.mutable.LongMap.empty[Long]
    def find(x: Long): Long = {
      var root = x
      while (parent(root) != root) root = parent(root)
      var n = x
      while (n != root) { val up = parent(n); parent(n) = root; n = up }
      root
    }
    for ((a, b) <- pairs) {
      parent.getOrElseUpdate(a, a)
      parent.getOrElseUpdate(b, b)
      val (ra, rb) = (find(a), find(b))
      if (ra < rb) parent(rb) = ra else if (rb < ra) parent(ra) = rb
    }
    val rows = parent.keys.toArray.sorted.map { n =>
      val c = find(n)
      org.apache.spark.sql.Row(n, c, n == c)
    }
    Bounded.localFrame(spark, "doc_id bigint, component bigint, is_keeper boolean", rows)
  }

  /** Components of a (doc_a, doc_b) pair frame on executors: the symmetric
    * edge list checkpointed once, [[minLabels]] to fixpoint, and the labels
    * sorted by doc_id into a checkpoint. */
  private[graft] def propagatedComponents(pairs: DataFrame): DataFrame = {
    import pairs.sparkSession.implicits._
    val edges = pairs.union(pairs.select($"doc_b", $"doc_a"))
      .toDF("src", "dst").localCheckpoint()
    val (labels, _) = minLabels(edges)
    val out = labels
      .select($"node".as("doc_id"), $"comp".as("component"),
        ($"node" === $"comp").as("is_keeper"))
      .orderBy($"doc_id")
      .localCheckpoint()
    GraftSqlBridge.dropCheckpoint(labels)
    GraftSqlBridge.dropCheckpoint(edges)
    out
  }

  /** Min-label propagation to fixpoint over a symmetric (src, dst) edge
    * frame — [[dedupComponents]]' path for pair lists above
    * [[ComponentPairCap]]. Each round is one distributed aggregate and ONE
    * action (the Pregel shape; about one round per hop of the graph's
    * diameter): its `localCheckpoint` carries the node's old label through
    * the aggregate as `min(old)` next to the new `min(cand)`, and an
    * observed `count_if(comp < old)` on that same job is the convergence
    * test. The checkpoint keeps plans constant-size at any round count, and
    * the superseded round's blocks are dropped once the next is
    * materialized. Returns the localCheckpoint'ed (node, comp) labels and,
    * per round, the number of nodes whose label fell (the last entry is 0).
    * A round aggregates (node, cand, old) rows: `self` carries each node's
    * current label as both cand and old, `msgs` its neighbours' labels as
    * cand. Round 1 reads the edge list directly — every node starts
    * labeled by itself, so its messages are the neighbour ids. */
  private[graft] def minLabels(edges: DataFrame): (DataFrame, Vector[Long]) = {
    import edges.sparkSession.implicits._
    var self = edges.select($"src".as("node"), $"src".as("cand"), $"src".as("old"))
    var msgs = edges.select($"dst".as("node"), $"src".as("cand"))
    var labels: DataFrame = null
    val rounds = Vector.newBuilder[Long]
    var changed = 1L
    while (changed > 0) {
      val seen = Observation("min_labels")
      val next = self.unionByName(msgs, allowMissingColumns = true)
        .groupBy($"node").agg(min($"cand").as("comp"), min($"old").as("old"))
        .observe(seen, count_if($"comp" < $"old").as("changed"))
        .select($"node", $"comp")
        .localCheckpoint()
      changed = seen.get("changed").asInstanceOf[Long]
      rounds += changed
      // the superseded round's blocks: the new checkpoint no longer reads them
      if (labels != null) GraftSqlBridge.dropCheckpoint(labels)
      labels = next
      self = labels.select($"node", $"comp".as("cand"), $"comp".as("old"))
      msgs = edges.join(labels, $"src" === $"node")
        .select($"dst".as("node"), $"comp".as("cand"))
    }
    (labels, rounds.result())
  }

  /** The deduplicated corpus — the pipeline's end product: every document
    * except non-keeper members of near-dup clusters (cluster representative
    * = min doc_id, from [[dedupComponents]]). Anti-join against the (tiny)
    * non-keeper set; emits surviving doc_ids with a kept-flag breakdown of
    * why: "unique" (no near-dup at all) vs "keeper" (cluster
    * representative). */
  def dedupCorpus(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val comp = dedupComponents(spark, dir)
    val members = comp.select($"doc_id", $"is_keeper")
    Tables.documents(spark, dir).select($"doc_id")
      .join(members.filter(!$"is_keeper"), Seq("doc_id"), "left_anti")
      .join(members.filter($"is_keeper"), Seq("doc_id"), "left")
      .select($"doc_id",
        when($"is_keeper".isNotNull, lit("keeper")).otherwise(lit("unique"))
          .as("kept_as"))
      .orderBy($"doc_id")
  }

  /** Quality-aware canonical selection per near-dup cluster — the curation
    * policy decision [[dedupCorpus]]'s min-id keeper sidesteps: production
    * pipelines keep the BEST member of each duplicate cluster (highest
    * quality-classifier score; CCNet keeps the head-perplexity copy, Gopher
    * the longest), not an arbitrary one. Joins [[dedupComponents]] with the
    * [[PipelineQueries.qualityLr]] score and arg-maxes per cluster
    * (ties → lowest doc_id, encoded as max over (score, −doc_id) so one
    * struct-max aggregate carries both the winner and its score). `moved`
    * flags clusters where the quality pick differs from the min-id keeper —
    * the rows where this policy actually changes the corpus.
    *
    * Scale shape: the cluster labeling is [[dedupComponents]]'s cost; on
    * top of it this adds one doc_id-keyed join against a map-only score
    * pass and one groupBy on component (cluster count ≪ corpus). */
  def dedupCanonical(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val comp = dedupComponents(spark, dir).select($"doc_id", $"component")
    val scores = PipelineQueries.qualityLr(spark, dir)
      .select($"doc_id", $"score")
    comp.join(scores, "doc_id")
      .groupBy($"component")
      .agg(count(lit(1)).as("cluster_size"),
        max(struct($"score", (-$"doc_id").as("nd"))).as("m"))
      .select($"component", $"cluster_size",
        (-$"m.nd").as("canonical_doc"),
        $"m.score".as("canonical_score"),
        ((-$"m.nd") =!= $"component").as("moved"))
      .orderBy($"component")
  }

  /** q_dedup_split — dedup-AWARE train/val/test splitting: the split unit
    * is the near-dup CLUSTER (component label from [[dedupComponents]];
    * singletons split on their own doc_id), so near-duplicates can never
    * straddle train and test — the leakage failure mode naive per-document
    * splitting ships (an eval answer whose paraphrase sits in train).
    * Split assignment is the [[PipelineQueries.hashSplit]] idiom on the
    * unit key's md5 (first hex digit: d,e → val, f → test, else train —
    * ~81/12/6%), deterministic on any cluster at any partitioning.
    *
    * Output is one row per split with doc/unit/clustered-member counts and
    * the leakage PROOF: `leaked_pairs` counts J ≥ 0.8 pairs whose members
    * land in different splits (0 by construction — the column is the
    * in-band regression gate) next to `naive_leaked_pairs`, the same count
    * under per-document content-hash splitting (> 0 whenever a near-dup
    * pair's texts hash apart — what this operator exists to prevent).
    * Pairs are attributed to doc_a's split under each scheme.
    *
    * Scale shape: the labeling is [[dedupComponents]]'s memoized cost; on
    * top, one map-only md5 pass, one groupBy(split) whose distinct-unit
    * count shuffles compact (split, unit) rows, and two pair-frame
    * aggregates — the pair frame is candidate-mass-sized, and its joins
    * against the checkpointed doc-split frame broadcast the small side
    * under AQE. */
  def dedupSplit(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    def bucket(h: Column): Column =
      when(h.isin("d", "e"), lit("val"))
        .when(h === "f", lit("test"))
        .otherwise(lit("train"))
    val lab = dedupComponents(spark, dir).select($"doc_id", $"component")
    val sp = Tables.documents(spark, dir).select($"doc_id", $"text")
      .join(lab, Seq("doc_id"), "left")
      .select($"doc_id",
        coalesce($"component", $"doc_id").as("unit"),
        $"component".isNotNull.as("clustered"),
        bucket(substring(md5($"text"), 1, 1)).as("nsplit"))
      .withColumn("split", bucket(substring(md5($"unit".cast("string")), 1, 1)))
      .localCheckpoint() // three consumers below; labels stay executor-side
    val counts = sp.groupBy($"split")
      .agg(count(lit(1)).as("n_docs"),
        countDistinct($"unit").as("n_units"),
        sum(when($"clustered", 1L).otherwise(0L)).as("n_clustered_docs"))
    val pa = minhashDedup(spark, dir).select($"doc_a", $"doc_b")
      .join(sp.select($"doc_id".as("doc_a"), $"split".as("sa"), $"nsplit".as("na")), "doc_a")
      .join(sp.select($"doc_id".as("doc_b"), $"split".as("sb"), $"nsplit".as("nb")), "doc_b")
      .localCheckpoint() // pair-count-sized; feeds both leak aggregates
    val lk = pa.groupBy($"sa")
      .agg(sum(when($"sa" =!= $"sb", 1L).otherwise(0L)).as("lp"))
      .withColumnRenamed("sa", "split")
    val nk = pa.groupBy($"na")
      .agg(sum(when($"na" =!= $"nb", 1L).otherwise(0L)).as("np"))
      .withColumnRenamed("na", "split")
    counts.join(lk, Seq("split"), "left").join(nk, Seq("split"), "left")
      .select($"split", $"n_docs", $"n_units", $"n_clustered_docs",
        coalesce($"lp", lit(0L)).as("leaked_pairs"),
        coalesce($"np", lit(0L)).as("naive_leaked_pairs"))
      .orderBy($"split")
  }

  /** Near-dup cluster-size histogram — the duplication-structure report a
    * dedup run publishes (how many pairs/triples/large clusters, and how many
    * documents each stratum removes): one row per cluster size with the
    * cluster count, member documents, and documents a keep-one policy
    * deletes. The "inflation factor" Σdocs/Σclusters is readable off the
    * row set. Cost is [[dedupComponents]] plus two cluster-count-sized
    * aggregates — nothing new at corpus scale. */
  def dedupProfile(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    dedupComponents(spark, dir)
      .groupBy($"component").agg(count(lit(1)).as("sz"))
      .groupBy($"sz".as("cluster_size"))
      .agg(count(lit(1)).as("n_clusters"))
      .select($"cluster_size", $"n_clusters",
        ($"cluster_size" * $"n_clusters").as("n_docs"),
        (($"cluster_size" - 1) * $"n_clusters").as("n_removed"))
      .orderBy($"cluster_size")
  }

  /** Cross-source near-duplication containment matrix — the curation
    * diagnostic behind "how much of source A already appears in source B"
    * (the between-corpus duplication tables web-scale dataset reports
    * publish when mixing crawl snapshots with curated sources; the
    * within-source diagonal is internal duplication). For every ordered
    * source pair, the number of DISTINCT src_a documents with at least one
    * verified near-dup partner (J ≥ 0.8, the [[minhashDedup]] pair set) in
    * src_b, next to src_a's corpus size and the containment rate. The full
    * S×S grid is emitted (zeros included) so the matrix shape is stable
    * across tiers and missing combinations read as measured-zero, not
    * unmeasured.
    *
    * Scale shape: the only corpus-sized work is [[minhashDedup]]'s own
    * signature+band pass plus one groupBy(source) count; the verified pair
    * set is duplication-sized (≪ corpus), so both doc_id-keyed source
    * lookups run with the pair side as the small frame (AQE broadcasts
    * it), the distinct-doc count folds onto ≤ S² keys, and the S-row
    * totals frame is an explicit broadcast cross join. Nothing new
    * shuffles at 100 TB beyond what the dedup pass already paid. */
  def sourceDupMatrix(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val pairs = minhashDedup(spark, dir).select($"doc_a", $"doc_b")
    // symmetric pair set → directed edges, so each endpoint is counted
    // from its own source's perspective
    val directed = pairs.unionByName(
      pairs.select($"doc_b".as("doc_a"), $"doc_a".as("doc_b")))
    val src = Tables.documents(spark, dir).select($"doc_id", $"source")
    val dup = directed
      .join(src.select($"doc_id".as("doc_a"), $"source".as("src_a")), "doc_a")
      .join(src.select($"doc_id".as("doc_b"), $"source".as("src_b")), "doc_b")
      .groupBy($"src_a", $"src_b")
      .agg(countDistinct($"doc_a").as("dup_docs"))
    val totals = Tables.documents(spark, dir)
      .groupBy($"source").agg(count(lit(1)).as("n_docs"))
    totals.select($"source".as("src_a"), $"n_docs")
      .crossJoin(broadcast(totals.select($"source".as("src_b"))))
      .join(dup, Seq("src_a", "src_b"), "left")
      .select($"src_a", $"src_b", $"n_docs",
        coalesce($"dup_docs", lit(0L)).as("dup_docs"),
        round(coalesce($"dup_docs", lit(0L)).cast("double")
          / $"n_docs".cast("double"), 6).as("dup_rate"))
      .orderBy($"src_a", $"src_b")
  }

  /** Incremental ingestion dedup — the CONTINUOUS-crawl shape of
    * [[minhashDedup]]: an incoming batch is near-dup-checked against the
    * already-ingested index WITHOUT re-pairing the index against itself.
    * Here even doc_ids stand in for the ingested corpus and odd doc_ids for
    * the incoming batch (a deterministic split any tier reproduces). Emits
    * one row per REJECTED batch document: its best-matching index document
    * (highest exact Jaccard, ties → lowest index doc_id) and the J value —
    * the record a curation pipeline writes to its rejection log.
    *
    * Scale posture: signatures are the same one-pass map-only kernel as
    * [[minhashDedup]]; the band join keys on (band, band_hash) but is now
    * index×batch instead of all×all, so a steady-state crawl pays
    * O(batch · bands) probe rows per ingest cycle, never O(corpus²) — and
    * the index side's signatures would be a precomputed table in
    * production (recomputed here only because registered queries are
    * self-contained). Exactness: banding misses a J ≥ 0.8 pair with
    * p ≈ 5e-8 (same argument as [[minhashDedup]]), so the exact
    * cross-parity DuckDB oracle applies; verification Jaccard is exact. */
  def incrementalDedup(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val sets = shingleSets(spark, dir)
    val sigs = sets.filter(size($"sh") > 0)
      .select($"doc_id", Similarity.minhashSig($"sh").as("sig"))
    // r15: one signature pass serves both the index and the batch side
    // (the minhashDedup checkpoint rationale — both filters below would
    // otherwise each recompute the map-only signature pipeline)
    val bands = sigs
      .select($"doc_id", explode(Similarity.lshBands($"sig")).as("bb"))
      .select($"doc_id", $"bb.band".as("band"), $"bb.band_hash".as("bh"))
      .localCheckpoint()
    val index = bands.filter($"doc_id" % 2 === 0)
    val batch = bands.filter($"doc_id" % 2 === 1)
    val cand = index.as("a")
      .join(batch.as("b"), $"a.band" === $"b.band" && $"a.bh" === $"b.bh")
      .select($"a.doc_id".as("doc_a"), $"b.doc_id".as("doc_b"))
      .distinct()
    // exact-J verification, then per-batch-doc argmax: partial+final
    // max_by aggregate (no window sort over the match list; unsorted
    // verification — the aggregate would destroy a mid-plan sort anyway)
    verifyPairsUnsorted(cand, sets)
      .groupBy($"doc_b".as("batch_id"))
      .agg(max_by(
        struct($"doc_a", $"jaccard"),
        struct($"jaccard", -$"doc_a")).as("best"))
      .select($"batch_id", $"best.doc_a".as("matched_id"),
        $"best.jaccard".as("jaccard"))
      .orderBy($"batch_id")
  }

  /** SimHash near-dup pairs: 64-bit fingerprints, candidates from 4×16-bit
    * band equality (guaranteed to catch hamming ≤ 3, catches most ≤ 6),
    * verified by exact hamming distance.
    *
    * The per-token 64-bit hash is the TOP half of md5 (first 16 hex chars,
    * assembled from two 32-bit `conv` lanes so it stays in codegen'd
    * builtins) rather than xxhash64 — bit-identical to DuckDB's
    * `CAST('0x' || substr(md5(tok), 1, 16) AS UBIGINT)`, which makes the
    * whole query SQL-expressible: q_simhash_pairs carries a full hash-match
    * oracle (VERDICT r2 #6) instead of the old rows-only check. */
  def simhashPairs(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val fps = Tables.documents(spark, dir)
      .select($"doc_id", explode(Text.tokenize($"text")).as("tok"))
      .withColumn("hx", md5($"tok"))
      // signed-long reinterpretation of the unsigned top-64 md5 bits: the
      // aggregator and banding only ever look at bit patterns
      .select($"doc_id",
        shiftleft(conv(substring($"hx", 1, 8), 16, 10).cast("long"), 32)
          .bitwiseOR(conv(substring($"hx", 9, 8), 16, 10).cast("long")).as("h"))
      .groupBy($"doc_id").agg(Similarity.simhash($"h").as("fp"))
    val bandCols = (0 until 4).map(b => struct(lit(b).as("band"),
      shiftrightunsigned($"fp", b * 16).bitwiseAND(lit(0xFFFFL)).as("bh")))
    val bands = fps.select($"doc_id", $"fp", explode(array(bandCols: _*)).as("bb"))
      .select($"doc_id", $"fp", $"bb.band".as("band"), $"bb.bh".as("bh"))
    bands.as("a")
      .join(bands.as("b"),
        $"a.band" === $"b.band" && $"a.bh" === $"b.bh" && $"a.doc_id" < $"b.doc_id")
      .select($"a.doc_id".as("doc_a"), $"b.doc_id".as("doc_b"),
        bit_count($"a.fp".bitwiseXOR($"b.fp")).as("hamming"))
      .distinct()
      .filter($"hamming" <= 6)
      .orderBy($"doc_a", $"doc_b")
  }

  /** Brute-force cosine top-10 neighbors for the first 10 vectors — the
    * exact kNN baseline (broadcast the query side; stream the catalog).
    * Cosine is rounded to 6 dp BEFORE ranking so Spark and DuckDB rank
    * identically; ties break on neighbor_id. */
  def knnCosine(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val emb = catalog(spark, dir).withColumn("nrm", Similarity.l2norm($"v"))
    val queries = emb.filter($"vec_id" < 10)
      .select($"vec_id".as("query_id"), $"v".as("qv"), $"nrm".as("qn"))
    val scored = emb.crossJoin(broadcast(queries))
      .filter($"vec_id" =!= $"query_id")
      .select($"query_id", $"vec_id".as("neighbor_id"),
        round(Similarity.cosine($"qv", $"v", $"qn", $"nrm"), 6).as("cosine"))
    val w = Window.partitionBy($"query_id").orderBy($"cosine".desc, $"neighbor_id")
    scored.withColumn("rank", row_number().over(w))
      .filter($"rank" <= 10)
      .orderBy($"query_id", $"rank")
  }

  /** Relevance weight λ for [[mmrRerank]] (diversity weight = 1 − λ). */
  val MmrLambda = 0.7
  /** Relevance-ranked candidate pool size per query for [[mmrRerank]]. */
  val MmrCandidates = 20
  /** Diversified results selected per query by [[mmrRerank]]. */
  val MmrK = 5
  /** [[mmrRerank]]'s queries: the catalog's vec_ids below this. */
  val MmrQueries = 10

  /** Maximal Marginal Relevance re-ranking (Carbonell & Goldstein 1998) —
    * the diversified-retrieval complement of [[knnCosine]]: from each
    * query's top-[[MmrCandidates]] cosine candidates, greedily select
    * [[MmrK]] results maximizing λ·cos(q,d) − (1−λ)·max_{s∈selected}
    * cos(d,s) — relevance minus redundancy, so near-duplicate hits can't
    * monopolize the result page. First pick is pure relevance (empty
    * selected set ⇒ diversity term 0); ties break on lowest vec_id.
    *
    * Determinism: query and pairwise cosines are rounded to 6 dp BEFORE
    * any comparison, and every score is the same fixed dag of IEEE double
    * ops in both engines, so the DuckDB oracle (greedy rounds unrolled as
    * CTEs, the Lloyd-round pattern) hash-matches exactly.
    *
    * Scale shape: the candidate pool is a broadcast-query scan + per-query
    * top-k window (the [[knnCosine]] plan), collected with its vectors —
    * [[MmrQueries]]×[[MmrCandidates]] rows at any tier. The [[MmrK]]
    * greedy rounds run on the driver ([[mmrGreedy]]), taking each pairwise
    * cosine from the held vectors with the [[Similarity.cosine]] column's
    * arithmetic ([[Cosine]]), and the selection is returned as a local
    * frame. */
  def mmrRerank(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val emb = catalog(spark, dir).withColumn("nrm", Similarity.l2norm($"v"))
    val queries = emb.filter($"vec_id" < MmrQueries)
      .select($"vec_id".as("query_id"), $"v".as("qv"), $"nrm".as("qn"))
    val scored = emb.crossJoin(broadcast(queries))
      .filter($"vec_id" =!= $"query_id")
      .select($"query_id", $"vec_id".as("cid"), $"v", $"nrm",
        round(Similarity.cosine($"qv", $"v", $"qn", $"nrm"), 6).as("cos"))
    val wq = Window.partitionBy($"query_id").orderBy($"cos".desc, $"cid")
    val pool = scored.withColumn("rn", row_number().over(wq))
      .filter($"rn" <= MmrCandidates)
      .select($"query_id", $"cid", $"v", $"nrm", $"cos")
    val held = Bounded.rows(pool, MmrQueries * MmrCandidates, "MMR candidate pool")
    val vecs = held.map(r => (r.getLong(0), r.getLong(1)) ->
      (boxed(r.getSeq[java.lang.Double](2)), nullableDouble(r, 3))).toMap
    // round(Similarity.cosine(a.v, b.v, a.nrm, b.nrm), 6), to the bit
    def pcos(q: Long)(a: Long, b: Long): java.lang.Double = {
      val ((av, an), (bv, bn)) = (vecs((q, a)), vecs((q, b)))
      val c = Cosine.score(av, an, bv, bn)
      if (c == null || c.isNaN || c.isInfinite) c else SparkRound.round(c, 6).doubleValue
    }
    val picks = held.toSeq.groupBy(_.getLong(0)).toSeq.sortBy(_._1).flatMap { case (q, rs) =>
      mmrGreedy(rs.map(r => (r.getLong(1), nullableDouble(r, 4))), pcos(q))
        .zipWithIndex.map { case ((cid, cos, score), i) =>
          org.apache.spark.sql.Row(q, i + 1, cid, cos, score)
        }
    }
    // mmr_score stays UNROUNDED: it is a fixed dag of IEEE ops over 6-dp
    // inputs (bit-identical across engines), and λ·cos lands exactly on
    // the 7th-decimal .5 whenever cos's 6th digit is odd — rounding it
    // would diverge on shortest-repr vs raw-double tie handling
    Bounded.localFrame(spark,
      "query_id bigint, rank int, neighbor_id bigint, cosine double, mmr_score double",
      picks)
  }

  private def nullableDouble(r: org.apache.spark.sql.Row, i: Int): java.lang.Double =
    if (r.isNullAt(i)) null else r.getDouble(i)

  /** One query's [[MmrK]] greedy picks over its `(cid, cos)` candidates,
    * as (cid, cos, score) in pick order; `pcos(a, b)` is the rounded
    * cosine of candidates a and b. Round 1 ranks by `cos` — two cosines
    * can round to one λ·cos — and scores λ·cos; later rounds rank and score
    * by λ·cos − (1−λ)·msim, where msim starts at −2 (below any cosine)
    * and takes the `greatest` of itself and each pick's pcos, skipping
    * nulls. The order is SQL's ([[sqlCompare]]: a null score ranks
    * lowest, NaN highest) and ties go to the lowest cid, as the former
    * `max_by(.., struct(score, -cid))` rounds ranked. */
  private def mmrGreedy(cands: Seq[(Long, java.lang.Double)],
      pcos: (Long, Long) => java.lang.Double): Seq[(Long, java.lang.Double, java.lang.Double)] = {
    val msim = scala.collection.mutable.LongMap(cands.map(_._1 -> -2.0): _*)
    val picks = Seq.newBuilder[(Long, java.lang.Double, java.lang.Double)]
    var left = cands.sortBy(_._1)
    var rank = 1
    while (rank <= MmrK && left.nonEmpty) {
      def score(c: (Long, java.lang.Double)): java.lang.Double =
        if (c._2 == null) null
        else if (rank == 1) MmrLambda * c._2
        else MmrLambda * c._2 - (1.0 - MmrLambda) * msim(c._1)
      def key(c: (Long, java.lang.Double)): java.lang.Double = if (rank == 1) c._2 else score(c)
      val pick = left.reduceLeft((best, c) => if (sqlCompare(key(c), key(best)) > 0) c else best)
      picks += ((pick._1, pick._2, score(pick)))
      left = left.filter(_._1 != pick._1)
      for ((cid, _) <- left) {
        val p = pcos(cid, pick._1)
        if (p != null && sqlCompare(p, msim(cid)) > 0) msim(cid) = p
      }
      rank += 1
    }
    picks.result()
  }

  /** Lloyd's distance for [[lloyd]]: a vector's score against one centroid
    * and whether the highest or the lowest score wins. Scores fold with
    * [[Similarity.dotOf]] — `dot_product_d`'s fold — so each one equals its
    * Spark column to the bit; a null vector or centroid scores null. */
  private[graft] sealed abstract class Metric(val higherWins: Boolean,
      val skipsNull: Boolean = false) {
    /** The norm term of one side, computed once per vector and centroid. */
    def norm(v: Array[java.lang.Double]): java.lang.Double
    def score(x: Array[java.lang.Double], xn: java.lang.Double,
              c: Array[java.lang.Double], cn: java.lang.Double): java.lang.Double
    /** Whether score `s` wins over `t` in SQL's order ([[sqlCompare]]). */
    def ahead(s: java.lang.Double, t: java.lang.Double): Boolean = {
      val order = sqlCompare(s, t)
      if (higherWins) order > 0 else order < 0
    }
  }

  /** Cosine, highest wins: dot(v, c) / nullif(‖v‖·‖c‖, 0), the
    * [[Similarity.cosine]] column, so a zero norm scores null. */
  private[graft] case object Cosine extends Metric(higherWins = true) {
    def norm(v: Array[java.lang.Double]): java.lang.Double =
      if (v == null) null else math.sqrt(Similarity.dotOf(v, v))
    def score(x: Array[java.lang.Double], xn: java.lang.Double,
              c: Array[java.lang.Double], cn: java.lang.Double): java.lang.Double =
      if (x == null || c == null) null
      else {
        val d = xn * cn
        if (d == 0.0) null else Similarity.dotOf(x, c) / d
      }
  }

  /** Squared L2, lowest wins: d² = (‖v‖² − 2·v·c) + ‖c‖² in exactly that
    * operation order, the expression the PQ oracle evaluates. */
  private[graft] case object SquaredL2 extends Metric(higherWins = false) {
    def norm(v: Array[java.lang.Double]): java.lang.Double =
      if (v == null) null else Similarity.dotOf(v, v)
    def score(x: Array[java.lang.Double], xn: java.lang.Double,
              c: Array[java.lang.Double], cn: java.lang.Double): java.lang.Double =
      if (x == null || c == null) null
      else (xn - 2.0 * Similarity.dotOf(x, c)) + cn
  }

  /** Unit-sphere chord distance, lowest wins: √max(0, 2 − 2·cos) from the
    * [[Cosine]] score, the `unitDist` column. A null cosine (a zero-norm
    * side) is no distance: that centroid is skipped, and a vector with no
    * distance gets no cell. The chord-distance faces rank by it, not by
    * cosine, because sqrt and the clamp collapse adjacent cosines to one
    * distance, whose tie then goes to the lowest cid. */
  private[graft] case object Chord extends Metric(higherWins = false, skipsNull = true) {
    def norm(v: Array[java.lang.Double]): java.lang.Double = Cosine.norm(v)
    def score(x: Array[java.lang.Double], xn: java.lang.Double,
              c: Array[java.lang.Double], cn: java.lang.Double): java.lang.Double = {
      val cos = Cosine.score(x, xn, c, cn)
      if (cos == null) null else math.sqrt(math.max(0.0, 2.0 - 2.0 * cos))
    }
  }

  /** One driver-held Lloyd centroid. `cv` keeps the SQL nulls of the column
    * it stands for (a null seed vector, a null mean element). */
  private[graft] final case class Centroid(cid: Long, cv: Array[java.lang.Double])

  /** A vector's nearest centroid and its score, and the runner-up's (null
    * when the key has one candidate). */
  private[graft] final case class Nearest(cid: Long, score: java.lang.Double,
      cid2: java.lang.Long, score2: java.lang.Double)

  /** A driver-held Lloyd fit: per key, its centroids sorted by cid. */
  private[graft] final case class LloydFit(metric: Metric, cents: Map[Int, Array[Centroid]]) {
    /** The fit as a local (key, cid, cv, norm) frame: consumers broadcast
      * it with no job. */
    def frame(spark: SparkSession): DataFrame =
      Bounded.localFrame(spark, "key int, cid bigint, cv array<double>, norm double",
        for ((key, cs) <- cents.toSeq.sortBy(_._1); c <- cs.toSeq) yield
          org.apache.spark.sql.Row(key, c.cid, Option(c.cv).map(_.toSeq).orNull,
            metric.norm(c.cv)))

    /** `(key, v) → (cid, score)`: see [[nearestCentroid]]. */
    def nearest: org.apache.spark.sql.expressions.UserDefinedFunction =
      nearestCentroid(metric, cents)
  }

  /** Lloyd iterations over a (key, vec_id, v) frame: one independent
    * k-means per key, all keys fitted in the same rounds — the coarse
    * quantizers fit one key, the PQ codebooks one key per subspace.
    *
    * Init = each key's k lowest-vec_id vectors (fixed seeds, so results
    * are deterministic with no runtime RNG); each round assigns every
    * vector to the best centroid of its key under `metric` (tie → lowest
    * cid) and recomputes per-cell means as a posexplode → (key, cid, dim)
    * partial+final aggregate. The centroids are key·k rows, so they live
    * on the driver between rounds: a round is one Spark action — the
    * assignment is the row-local [[nearestCentroid]] (no key·n·k crossJoin,
    * no argmin shuffle) feeding the mean aggregate, whose key·k·dim rows
    * are collected to build the next centroids. Vectors never leave
    * executors, and no round needs a checkpoint. Cells that lose all
    * members keep their previous centroid. Means are rounded to 6 dp so
    * centroid bits — and therefore every downstream assignment and code —
    * do not depend on partition fold order (fold-order noise on a cell
    * mean is ~1e-15, nine orders below the rounding grid), which also
    * makes the whole iteration SQL-expressible: the q_kmeans_centroids and
    * PQ oracles replay the Lloyd rounds as unrolled DuckDB CTEs. */
  private[graft] def lloyd(rows: DataFrame, k: Int, iters: Int, metric: Metric): LloydFit = {
    import rows.sparkSession.implicits._
    // at most PqSub keys (the PQ codebooks), k seeds each
    val seeds = Bounded.rows(rows.filter($"vec_id" < k)
        .select($"key", $"vec_id".cast("long"), $"v"), PqSub * k, "Lloyd seeds")
      .groupBy(_.getInt(0))
      .map { case (key, rs) =>
        key -> rs.map(r => Centroid(r.getLong(1), boxed(r.getSeq[java.lang.Double](2))))
          .sortBy(_.cid)
      }
    var fit = LloydFit(metric, seeds)
    for (_ <- 0 until iters if seeds.nonEmpty) {
      // a mean per seed cell and dimension of the PqSub · PqSubDim width
      val means = Bounded.rows(roundMeans(rows, fit), PqSub * k * PqSub * PqSubDim, "Lloyd means")
        .groupBy(r => (r.getInt(0), r.getLong(1)))
        .map { case (cell, rs) =>
          cell -> rs.sortBy(_.getInt(2))
            .map(r => if (r.isNullAt(3)) null else java.lang.Double.valueOf(r.getDouble(3)))
        }
      fit = fit.copy(cents = fit.cents.map { case (key, cs) =>
        key -> cs.map(c => means.get((key, c.cid)).fold(c)(cv => Centroid(c.cid, cv)))
      })
    }
    fit
  }

  /** One Lloyd round's (key, cid, dim, m) cell means under `fit`: the
    * row-local assignment, posexplode and one partial+final aggregate.
    * Every key of `rows` has seeds in `fit` (the keys share their
    * vec_ids), so no cid is null and nothing filters on it — a filter on
    * the UDF's output would be pushed below the projection and run the
    * assignment twice per row. */
  private[graft] def roundMeans(rows: DataFrame, fit: LloydFit): DataFrame = {
    import rows.sparkSession.implicits._
    rows.select($"key", fit.nearest($"key", $"v").getField("cid").as("cid"), $"v")
      .select($"key", $"cid", posexplode($"v").as(Seq("dim", "x")))
      .groupBy($"key", $"cid", $"dim").agg(round(avg($"x"), 6).as("m"))
  }

  /** The cosine coarse quantizer over a (vec_id, v) frame — VERDICT r2 #5,
    * composing the [[labelCentroids]] building block into the ANN/dedup
    * operators: a one-key [[lloyd]] fit returned as a k-row (cid, cv, cn)
    * local frame. */
  private[graft] def kmeansCentroids(emb: DataFrame, k: Int, iters: Int): DataFrame =
    centroidFrame(emb.sparkSession, cosineFit(emb, k, iters))

  /** The one-key cosine [[lloyd]] fit behind [[kmeansCentroids]]; its
    * `nearest` assigns a vector to its cell with `lit(0)` as the key. */
  private def cosineFit(emb: DataFrame, k: Int, iters: Int): LloydFit =
    lloyd(emb.select(lit(0).as("key"), col("vec_id"), col("v")), k, iters, Cosine)

  private def centroidFrame(spark: SparkSession, fit: LloydFit): DataFrame =
    fit.frame(spark).select(col("cid"), col("cv"), col("norm").as("cn"))

  private def boxed(v: scala.collection.Seq[java.lang.Double]): Array[java.lang.Double] =
    if (v == null) null else v.toArray

  /** SQL's ascending order on nullable doubles: null first, NaN above
    * every number, -0.0 equal to 0.0. */
  private def sqlCompare(a: java.lang.Double, b: java.lang.Double): Int =
    if (a == null) { if (b == null) 0 else -1 }
    else if (b == null) 1
    else org.apache.spark.sql.catalyst.util.SQLOrderingUtil.compareDoubles(a, b)

  /** Row-local nearest centroid: `(key, v) → (cid, score, cid2, score2)`
    * over the centroids of the row's key — the best and the runner-up
    * under the crossJoin argmax `max_by(cid, struct(score, -cid))` (a
    * `higherWins` metric) or argmin `min_by(cid, struct(score, cid))`
    * against `cents`, without the join. The order is SQL's struct order:
    * NaN above every number, -0.0 equal to 0.0, null below everything — so
    * a null cosine never wins and a null d² always does — and ties go to
    * the lowest cid. A `skipsNull` metric leaves null scores out, as
    * `min_by` skips a null key: a row with no score gives null, and so does
    * a key with no centroids. The centroids and their norms travel in the
    * UDF's closure, not in generated code; each key's array must be sorted
    * by cid. */
  private[graft] def nearestCentroid(metric: Metric, cents: Map[Int, Array[Centroid]])
      : org.apache.spark.sql.expressions.UserDefinedFunction = {
    val normed = cents.map { case (key, cs) => key -> cs.map(c => (c, metric.norm(c.cv))) }
    udf { (key: Int, v: Seq[java.lang.Double]) =>
      normed.get(key).flatMap { cs =>
        val x = boxed(v)
        val xn = metric.norm(x)
        var best, next = -1
        var bestScore, nextScore: java.lang.Double = null
        var i = 0
        while (i < cs.length) {
          val s = metric.score(x, xn, cs(i)._1.cv, cs(i)._2)
          if (s != null || !metric.skipsNull) {
            if (best < 0 || metric.ahead(s, bestScore)) {
              next = best; nextScore = bestScore
              best = i; bestScore = s
            } else if (next < 0 || metric.ahead(s, nextScore)) {
              next = i; nextScore = s
            }
          }
          i += 1
        }
        if (best < 0) None
        else Some(Nearest(cs(best)._1.cid, bestScore,
          if (next < 0) null else java.lang.Long.valueOf(cs(next)._1.cid), nextScore))
      }.orNull
    }
  }

  /** Lloyd rounds for the IVF/dedup coarse quantizers: 2 is the sweet spot
    * — the first round does most of the inertia drop, and each round costs
    * one n×k assignment pass at query time scale. */
  val KmeansIters = 2

  /** The session's fitted cosine quantizer over the standard embedding
    * catalog — [[SessionMemo]]-cached: q_kmeans_centroids, IVF-flat,
    * SemDeDup and the exact metric join all consume the SAME k=16 fit, and
    * without the memo each pays the Lloyd rounds again for bit-identical
    * centroids. The fit is driver-held, so neither its row-local
    * assignment nor its [[fittedCentroids]] frame costs a consumer a job. */
  private def fittedQuantizer(spark: SparkSession, dir: String, k: Int): LloydFit =
    SessionMemo.cached(spark,
      s"centroids:k=$k:" + SessionMemo.tableTag(dir, "embeddings")) {
      cosineFit(catalog(spark, dir), k, KmeansIters)
    }

  /** [[fittedQuantizer]] as the k-row (cid, cv, cn) local frame. */
  private def fittedCentroids(spark: SparkSession, dir: String, k: Int): DataFrame =
    centroidFrame(spark, fittedQuantizer(spark, dir, k))

  /** The embedding catalog as (vec_id, v) with double elements. */
  private def catalog(spark: SparkSession, dir: String): DataFrame =
    Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))

  /** The cell of every (vec_id, v) row under the one-key `fit` as
    * row-local columns next to (vec_id, v, nrm): the nearest centroid
    * (cid, score) and the runner-up (cid2, score2), no n×k crossJoin and no
    * aggregate shuffle. Under [[Cosine]] (argmax, tie → lowest cid) a
    * zero-norm vector's cosines are null, so it takes the lowest cid; under
    * [[Chord]] it has no distance, so no cell, and is left out. The
    * assignment is marked nondeterministic only to pin it where it is: the
    * filter here, or an inner join's inferred `isnotnull(cid)`, would
    * otherwise be copied below this projection and run it twice per row. */
  private def assignedCells(vecs: DataFrame, fit: LloydFit): DataFrame =
    vecs.select(col("vec_id"), col("v"), Similarity.l2norm(col("v")).as("nrm"),
        fit.nearest.asNondeterministic()(lit(0), col("v")).as("n"))
      .where(col("n").isNotNull)
      .select(col("vec_id"), col("v"), col("nrm"), col("n.*"))

  /** [[assignedCells]] of the catalog under the session's k-cell fit ranked
    * by [[Chord]] distance: score is the distance to the nearest centroid,
    * score2 to the runner-up. */
  private[graft] def chordCells(spark: SparkSession, dir: String, k: Int): DataFrame =
    assignedCells(catalog(spark, dir), fittedQuantizer(spark, dir, k).copy(metric = Chord))

  /** The fitted k-means centroids as a (cid, dim, mean_val) profile — the
    * registered, ORACLE-CHECKED face of [[kmeansCentroids]]: DuckDB reruns
    * both Lloyd rounds as unrolled CTEs (same seeds, same argmax tiebreak,
    * same 6-dp mean rounding) and must reproduce every component bit-for-
    * bit. Sequential-fold dot products and the rounding grid make each
    * round's output identical across engines, so round 2's assignment sees
    * identical centroids — induction the oracle verifies end-to-end. */
  def kmeansProfile(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    fittedCentroids(spark, dir, 16)
      .select($"cid", posexplode($"cv").as(Seq("dim", "mean_val")))
      .orderBy($"cid", $"dim")
  }

  /** IVF-flat approximate NN: a coarse k-means quantizer
    * ([[kmeansCentroids]], [[KmeansIters]] Lloyd rounds from deterministic
    * lowest-vec_id seeds) partitions the catalog into inverted lists; each
    * query probes only its nearest centroid's list (nprobe=1). Every vector
    * finds its list row-locally against the driver-held fit, and join keys
    * are centroid ids, so the shuffle is O(n) on the list key — same scale
    * shape as [[annLsh]] with data-adaptive buckets. Rows-only
    * (approximate); recall vs brute force asserted in ScalaTest. */
  def annIvf(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val fit = fittedQuantizer(spark, dir, 16)
    val assigned = assignedCells(catalog(spark, dir), fit)
    val queries = assignedCells(catalog(spark, dir).filter($"vec_id" < 10), fit)
      .select($"vec_id".as("query_id"), $"v".as("qv"), $"nrm".as("qn"), $"cid".as("qcid"))
    val scored = assigned.join(broadcast(queries),
        $"cid" === $"qcid" && $"vec_id" =!= $"query_id")
      .select($"query_id", $"vec_id".as("neighbor_id"),
        round(Similarity.cosine($"qv", $"v", $"qn", $"nrm"), 6).as("cosine"))
    val w = Window.partitionBy($"query_id").orderBy($"cosine".desc, $"neighbor_id")
    scored.withColumn("rank", row_number().over(w))
      .filter($"rank" <= 3)
      .orderBy($"query_id", $"rank")
  }

  /** Embedding near-dup cosine threshold (this corpus's max pair similarity
    * is ~0.51, so 0.4 captures the tail). */
  val EmbedDupThreshold = 0.4
  /** Number of coarse cells for the metric-join prune in [[embedDupPairs]]. */
  val DupCells = 16

  /** Unit-sphere chord distance from a cosine: ‖â−b̂‖ = √(2−2·cos). A
    * null cosine (a zero-norm side) gives a null distance, not the 0 that
    * `greatest`, which skips nulls, would make of it. */
  private def unitDist(cos: Column): Column =
    when(cos.isNotNull, sqrt(greatest(lit(0.0), lit(2.0) - lit(2.0) * cos)))

  /** Shared front half of the exact metric join family: the
    * [[DupCells]]-cell fit's centroids and every vector's nearest cell by
    * chord distance ([[chordCells]]; min chord distance ⟺ max cosine up to
    * the clamp, tie → lowest cid), a row-local column with no shuffle. A
    * zero-norm vector has no cell and drops out. Returns (centroids,
    * assignment(vec_id, v, nrm, cid, cdist)). */
  private[graft] def dupAssignment(spark: SparkSession, dir: String)
      : (DataFrame, DataFrame) = {
    import spark.implicits._
    val assigned = chordCells(spark, dir, DupCells)
      .select($"vec_id", $"v", $"nrm", $"cid", $"score".as("cdist"))
      // both consumers reference this frame 4-6 times (radii, cell sizes,
      // probe sample, member side), and the broadcast-build references run
      // in jobs of their own: checkpoint once, so the n·k assignment scan
      // runs once and every reference reads executor-resident blocks
      .localCheckpoint()
    (fittedCentroids(spark, dir, DupCells), assigned)
  }

  /** The triangle-inequality prune of the metric join: the (ci, cj) cell
    * pairs whose centroid distance is at most radᵢ + r + radⱼ, where a
    * cell's radius is its farthest member's distance and r the chord radius
    * of [[EmbedDupThreshold]]. Every other cell pair holds no qualifying
    * pair. */
  private def cellPairs(cents: DataFrame, assigned: DataFrame): DataFrame = {
    val spark = cents.sparkSession
    import spark.implicits._
    val r = math.sqrt(2.0 - 2.0 * EmbedDupThreshold)
    val radii = assigned.groupBy($"cid").agg(max($"cdist").as("rad"))
    cents.as("p").crossJoin(cents.as("q"))
      .select($"p.cid".as("ci"), $"q.cid".as("cj"),
        unitDist(Similarity.cosine($"p.cv", $"q.cv", $"p.cn", $"q.cn")).as("cc"))
      .join(radii.as("ri"), $"ci" === $"ri.cid")
      .join(radii.as("rj"), $"cj" === $"rj.cid")
      .filter($"cc" <= $"ri.rad" + $"rj.rad" + lit(r))
      .select($"ci", $"cj")
  }

  /** Embedding-cosine near-duplicate pairs (cos ≥ 0.4) as an EXACT
    * distributed metric join — no full-table broadcast (VERDICT r1 #3):
    *
    *  1. on unit vectors, cos(a,b) ≥ t ⟺ ‖â−b̂‖ ≤ r = √(2−2t);
    *  2. assign every vector to its nearest of [[DupCells]] k-means
    *     centroids ([[kmeansCentroids]], deterministic lowest-vec_id
    *     seeds), recording the distance to its centroid — a row-local
    *     column against the driver-held fit ([[dupAssignment]]), so the
    *     assignment is one map-only pass with no join and no shuffle;
    *  3. per-cell radius = max member distance; by the triangle inequality a
    *     qualifying pair can only span cells (i,j) with
    *     d(cᵢ,cⱼ) ≤ radᵢ + r + radⱼ — every other cell pair is pruned with
    *     zero false negatives, so the exact all-pairs oracle applies
    *     ([[cellPairs]], O(C²) on the centroids alone);
    *  4. members of surviving cell pairs join on cell ids (the C² cell-pair
    *     list is broadcast; the data shuffles on its cell key) and the exact
    *     cosine is verified with the codegen'd dot product.
    *
    * On clustered corpora the prune discards most cell pairs; on isotropic
    * data (this testdata) it degrades to a blocked distributed all-pairs —
    * the exact join's lower bound — but memory stays bounded: no executor
    * ever holds more than a join partition, and nothing scales with table
    * size on the driver. Registered as `q_embed_dup_smalltier`: the name
    * scopes it to the ≤sf1 tiers where exact all-pairs verification is the
    * POINT (it is the ground-truth twin that certifies [[embedDupCapped]],
    * the registered 100-TB path). The old broadcast nested-loop survives
    * as [[embedDupBrute]], the test-only recall oracle. */
  def embedDupPairs(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val t = EmbedDupThreshold
    val (cents, assigned) = dupAssignment(spark, dir)
    // SALT the verification join: keyed on cell id alone its parallelism
    // is capped at DupCells tasks (and AQE, seeing small shuffle BYTES,
    // coalesces further — at the 100× tier the 2e10-dot-product stage ran
    // on 3 cores). Each probe row takes ONE deterministic salt from its
    // vec_id; the build side replicates ×EmbedDupSalt so every (a, b)
    // pair still meets exactly once — compute is unchanged, key space
    // grows to cells × salt, and shuffle volume grows only on the
    // replicated side. Salt is a constant (not data-sized): the goal is
    // key count ≥ cluster cores, not finer pruning.
    val salted = assigned.as("a")
      .join(broadcast(cellPairs(cents, assigned)), $"a.cid" === $"ci")
      .withColumn("salt", pmod(hash($"a.vec_id"), lit(EmbedDupSalt)))
    val build = assigned.as("b")
      .withColumn("salt", explode(sequence(lit(0), lit(EmbedDupSalt - 1))))
    salted
      .join(build,
        $"cj" === $"b.cid" && salted("salt") === build("salt") &&
          $"a.vec_id" < $"b.vec_id")
      .withColumn("cos", Similarity.cosine($"a.v", $"b.v", $"a.nrm", $"b.nrm"))
      .filter($"cos" >= t)
      .select($"a.vec_id".as("vec_a"), $"b.vec_id".as("vec_b"),
        round($"cos", 6).as("cosine"))
      .orderBy($"vec_a", $"vec_b")
  }

  /** Salt factor of [[embedDupPairs]]'s verification join: key space =
    * [[DupCells]] × this. 16×16 = 256 keys keeps every core of a sizable
    * executor fleet busy even when the triangle-inequality prune keeps
    * all cell pairs (the isotropic worst case). */
  val EmbedDupSalt = 16

  /** The exact all-pairs broadcast nested-loop — test-only recall oracle for
    * [[embedDupPairs]] and [[annLsh]]; NOT registered (a full-table
    * broadcast cannot scale past one executor's memory). */
  def embedDupBrute(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val emb = catalog(spark, dir).withColumn("nrm", Similarity.l2norm($"v"))
    emb.as("a").crossJoin(broadcast(emb.as("b")))
      .filter($"a.vec_id" < $"b.vec_id")
      .withColumn("cos", Similarity.cosine($"a.v", $"b.v", $"a.nrm", $"b.nrm"))
      .filter($"cos" >= EmbedDupThreshold)
      .select($"a.vec_id".as("vec_a"), $"b.vec_id".as("vec_b"),
        round($"cos", 6).as("cosine"))
      .orderBy($"vec_a", $"vec_b")
  }

  /** Probe budget per cell of [[embedDupCapped]]: at most this many members
    * of each cell act as probe rows (an unbiased deterministic md5 sample),
    * so verification work is O([[DupCells]] · budget · n) — LINEAR in table
    * size — instead of the uncapped join's O(n²) isotropic floor. 256 keeps
    * every driver tier ≤ sf0.1 exact (their largest cell is smaller than
    * the budget) and binds at the ScaleUp tiers, where the output discloses
    * the truncation per pair. */
  val EmbedDupProbes = 256

  /** BUDGETED exact metric join (VERDICT r5 #1): same pair semantics as
    * [[embedDupPairs]] — cos ≥ [[EmbedDupThreshold]] over the
    * [[DupCells]]-cell triangle-inequality prune — but verification is
    * capped at [[EmbedDupProbes]] probe rows per cell, chosen as the
    * lowest md5(vec_id) members (an unbiased deterministic sample both
    * engines can replay). A pair is reported iff EITHER endpoint is a
    * probe, canonicalized (vec_a < vec_b) and deduplicated, so when no
    * cell exceeds the budget the output EQUALS the uncapped join's; when
    * the budget binds, recall degrades gracefully and VISIBLY — every
    * output row carries `cells_truncated` (how many of the pair's two
    * cells overflowed the budget: 0 = this region of the corpus was
    * exhaustively verified) and the constant `probe_budget`.
    *
    * Scale shape — the reason this variant survives 100 TB where the
    * uncapped join cannot: the probe side is ≤ cells × budget rows, so it
    * BROADCASTS (with the C² surviving cell-pair list and the C-row cell
    * sizes); the member side never shuffles at all — the whole verification
    * is one map-only pass over the assignment, parallelism = scan
    * partitions, immune to the small-key AQE coalescing that forced
    * [[EmbedDupSalt]] on the uncapped join. Measured sf10: the uncapped
    * join's 562 s isotropic floor drops to the ~C·budget·n dot-product
    * stream (pair mass ~8×10⁸ at 200k vectors, constant thereafter per
    * row). The uncapped [[embedDupPairs]] stays registered as the
    * small-tier oracle twin. */
  def embedDupCapped(spark: SparkSession, dir: String): DataFrame =
    embedDupCapped(spark, dir, EmbedDupProbes)

  /** [[embedDupCapped]] with an explicit budget — test seam for forcing
    * the cap to bind on small fixtures. */
  private[graft] def embedDupCapped(spark: SparkSession, dir: String,
      budget: Int): DataFrame = {
    import spark.implicits._
    val t = EmbedDupThreshold
    val (cents, assigned) = dupAssignment(spark, dir)
    val cellSizes = assigned.groupBy($"cid").agg(count(lit(1)).as("csz"))
    // deterministic unbiased probe sample: rank cell members by
    // md5(vec_id) — replayable bit-for-bit in the DuckDB oracle
    val byHash = Window.partitionBy($"cid")
      .orderBy(md5($"vec_id".cast("string").cast("binary")), $"vec_id")
    val probes = assigned
      .withColumn("rn", row_number().over(byHash))
      .filter($"rn" <= budget)
      .select($"vec_id", $"v", $"nrm", $"cid")
    // probe side ≤ cells × budget rows → broadcast; members stay map-only
    val pairs = assigned.as("b")
      .join(broadcast(cellPairs(cents, assigned)), $"b.cid" === $"cj")
      .join(broadcast(probes).as("a"),
        $"a.cid" === $"ci" && $"a.vec_id" =!= $"b.vec_id")
      .withColumn("cos", Similarity.cosine($"a.v", $"b.v", $"a.nrm", $"b.nrm"))
      .filter($"cos" >= t)
      // canonicalize: dot and norm products are bit-commutative, so the
      // (a,b)/(b,a) duplicates when BOTH endpoints are probes carry the
      // identical cosine and collapse in the distinct
      .select(least($"a.vec_id", $"b.vec_id").as("vec_a"),
        greatest($"a.vec_id", $"b.vec_id").as("vec_b"),
        round($"cos", 6).as("cosine"),
        least($"a.cid", $"b.cid").as("ca"),
        greatest($"a.cid", $"b.cid").as("cb"))
      .distinct()
    pairs
      .join(broadcast(cellSizes).as("sa"), $"ca" === $"sa.cid")
      .join(broadcast(cellSizes).as("sb"), $"cb" === $"sb.cid")
      .select($"vec_a", $"vec_b", $"cosine",
        (($"sa.csz" > budget).cast("int") + ($"sb.csz" > budget).cast("int"))
          .as("cells_truncated"),
        lit(budget).as("probe_budget"))
      .orderBy($"vec_a", $"vec_b")
  }

  /** Per-label centroid profile over the embedding table (first 8 dims):
    * component means per label — the building block of cluster-quality
    * checks and the k-means step IVF plugs in. posexplode → (label, dim)
    * partial+final aggregate; output is labels × dims regardless of table
    * size. Component magnitudes are ~O(1), so 6-dp rounding absorbs any
    * fold-order ulp noise (unlike the ~1e9 money sums, which needed
    * DECIMAL). */
  def labelCentroids(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.embeddings(spark, dir)
      .select($"label",
        posexplode($"embedding".cast("array<double>")).as(Seq("dim", "x")))
      .filter($"dim" < 8)
      .groupBy($"label", $"dim")
      .agg(round(avg($"x"), 6).as("mean_val"), count(lit(1)).as("n_vecs"))
      .orderBy($"label", $"dim")
  }

  /** Approximate NN via sign-LSH: bucket every embedding by the sign pattern
    * of 4 fixed hyperplane projections, then search only the query's bucket.
    * Scale path: bucketing is a map; the join shuffles on bucket id only.
    * Rows-only (approximate recall); recall vs brute force is asserted in
    * ScalaTest. */
  def annLsh(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val emb = catalog(spark, dir).withColumn("nrm", Similarity.l2norm($"v"))
      .withColumn("bucket", Similarity.lshBucket($"v"))
    val queries = emb.filter($"vec_id" < 10)
      .select($"vec_id".as("query_id"), $"v".as("qv"),
        $"nrm".as("qn"), $"bucket".as("qbucket"))
    val scored = emb.join(broadcast(queries),
        $"bucket" === $"qbucket" && $"vec_id" =!= $"query_id")
      .select($"query_id", $"vec_id".as("neighbor_id"),
        round(Similarity.cosine($"qv", $"v", $"qn", $"nrm"), 6).as("cosine"))
    val w = Window.partitionBy($"query_id").orderBy($"cosine".desc, $"neighbor_id")
    scored.withColumn("rank", row_number().over(w))
      .filter($"rank" <= 3)
      .orderBy($"query_id", $"rank")
  }

  /** Target within-cluster occupancy for [[semanticDedup]]: the cluster
    * count scales as k = max(16, ⌈n / target⌉), so the within-cluster
    * pair mass Σ mᵢ² stays ≈ n·target — LINEAR in corpus size. A fixed k
    * would make it n²/k (quadratic, the r10 sf10 bench's 177 s tail);
    * Abbas et al. likewise grow k with corpus scale (50k clusters for
    * LAION). At every graded tier n ≤ 4·target so k stays 16 and results
    * are unchanged; the scale tiers get the linear behavior. */
  val SemDedupCellTarget = 4000

  /** Cluster count for a catalog of n vectors — the same arithmetic the
    * DuckDB oracle computes from count(*), so both engines fit the same
    * quantizer at every tier. */
  def semDedupK(n: Long): Int =
    math.max(16, math.ceil(n / SemDedupCellTarget.toDouble).toInt)

  /** SemDeDup-style semantic deduplication (Abbas et al. 2023, public
    * method): cluster the embedding space with the fitted k-means
    * quantizer ([[kmeansCentroids]], same [[KmeansIters]] Lloyd rounds the
    * ANN/metric-join operators use — k from [[semDedupK]]), then compare
    * vectors only WITHIN their cluster and report pairs with cosine ≥
    * [[EmbedDupThreshold]] — the within-cluster near-duplicates SemDeDup
    * prunes (keep the lowest vec_id of each pair).
    *
    * This is the semantic complement of [[embedDupPairs]]: the metric join
    * is exact over ALL pairs, while SemDeDup deliberately restricts to
    * cluster-local comparisons — and because k scales with n (see
    * [[SemDedupCellTarget]]), the per-cell O(Σ mᵢ²) is ≈ n·target, linear
    * at 100 TB. The assignment is row-local against the driver-held k
    * centroids, with no shuffle; the pair join shuffles once on the cluster id, so no executor ever sees more
    * than one cluster's partition. Fully deterministic (6-dp centroid
    * grid, argmax tie → lowest cid, k a pure function of count), so the
    * DuckDB oracle replays the two Lloyd rounds plus the final assignment
    * and must hash-match every pair. */
  def semanticDedup(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val k = semDedupK(embCatalogCount(spark, dir))
    val assigned = assignedCells(catalog(spark, dir), fittedQuantizer(spark, dir, k))
    // same salt as embedDupPairs: keyed on cluster id alone the pairing
    // stage tops out at 16 tasks; (cid, salt) keys keep a full fleet busy
    val probe = assigned.as("a")
      .withColumn("salt", pmod(hash($"a.vec_id"), lit(EmbedDupSalt)))
    val build = assigned.as("b")
      .withColumn("salt", explode(sequence(lit(0), lit(EmbedDupSalt - 1))))
    probe
      .join(build,
        $"a.cid" === $"b.cid" && probe("salt") === build("salt") &&
          $"a.vec_id" < $"b.vec_id")
      .withColumn("cos", Similarity.cosine($"a.v", $"b.v", $"a.nrm", $"b.nrm"))
      .filter($"cos" >= EmbedDupThreshold)
      .select($"a.cid".as("cluster"), $"a.vec_id".as("vec_a"),
        $"b.vec_id".as("vec_b"), round($"cos", 6).as("cosine"))
      .orderBy($"vec_a", $"vec_b")
  }

  /** The catalog count as a memoized table artifact — a memo hit on the
    * fitted centroids must not be preceded by a fresh full-scan count job
    * on every invocation (ADVICE r10). */
  private def embCatalogCount(spark: SparkSession, dir: String): Long =
    SessionMemo.cached[java.lang.Long](spark,
      "embcount:" + SessionMemo.tableTag(dir, "embeddings")) {
      java.lang.Long.valueOf(Tables.embeddings(spark, dir).count())
    }.longValue()

  /** Mutual top-K depth for [[rnnPairs]]. */
  val RnnK = 5

  /** Within-cluster pair-join salt for [[rnnPairs]] (see the usage note —
    * lighter than [[EmbedDupSalt]] because the build side carries full
    * vectors and post-split cells are bounded near
    * [[SemDedupCellTarget]]). */
  val RnnSalt = 4

  /** Occupancy ceiling above which [[rnnPairs]] re-quantizes a coarse
    * cell (2× the fit's target cell size): the scaled-k fit AIMS at
    * [[SemDedupCellTarget]]-sized cells, but a skewed corpus defeats it —
    * measured at sf100, where ScaleUp's sign-flipped copies are
    * near-orthogonal to every copy-0-seeded centroid and ~90% of the
    * catalog piles into a handful of cells, making the within-cell pair
    * mass quadratic in n (a >95-minute straggler no salt can fix: salting
    * spreads the work, it doesn't shrink it). */
  val RnnSplitBudget: Long = 2L * SemDedupCellTarget

  /** Assignment + occupancy-aware cell split shared by [[rnnPairs]] and
    * the sf100 mutuality partial oracle ([[rnnCellAssignment]]): returns
    * the split frame `(vec_id, v, nrm, cid, sub)` plus the
    * eagerly-checkpointed assignment whose blocks the CALLER must drop
    * (via `GraftSqlBridge.dropCheckpoint`) once every consumer has
    * materialized — the split frame's lineage runs through it. Both
    * assignments are the row-local [[nearestCentroid]]: the coarse cell
    * under the session's [[semDedupK]] fit, and the sub-cell under a
    * [[Cosine]] fit keyed by coarse cell whose centroids are the hot
    * cells' md5-ordered seeds (about n / [[SemDedupCellTarget]] rows,
    * collected; none when no cell is over [[RnnSplitBudget]]). */
  private[graft] def rnnSplitFrames(spark: SparkSession, dir: String)
      : (DataFrame, DataFrame) = {
    import spark.implicits._
    val n = embCatalogCount(spark, dir)
    val k = semDedupK(n)
    // eager checkpoint: the assignment feeds the occupancy count, the seed
    // draw AND both sides of the split frame's pair join — each scan
    // would otherwise pay the n·k dot products again
    val assigned = assignedCells(catalog(spark, dir), fittedQuantizer(spark, dir, k))
      .select($"vec_id", $"v", $"nrm", $"cid")
      .localCheckpoint()
    // occupancy-aware split: measure cells, re-quantize the hot ones
    val hot = assigned.groupBy($"cid").agg(count(lit(1)).as("occ"))
      .filter($"occ" > RnnSplitBudget)
      .select($"cid",
        ceil($"occ" / lit(SemDedupCellTarget.toDouble)).cast("int").as("nsub"))
    // seeds: a per-cell md5-ordered uniform draw — ONE window sort over
    // hot members only (n log n, never quadratic)
    val wSeed = Window.partitionBy($"cid")
      .orderBy(md5($"vec_id".cast("string")), $"vec_id")
    // Σ ⌈occ / target⌉ over the hot cells is at most n / target + #hot,
    // and each hot cell holds more than RnnSplitBudget vectors
    val seeds = Bounded.rows(assigned.join(broadcast(hot), Seq("cid"))
        .withColumn("srk", row_number().over(wSeed))
        .filter($"srk" <= $"nsub")
        .select($"cid", $"srk", $"v"),
      (n / SemDedupCellTarget + n / RnnSplitBudget).toInt, "RNN split seeds")
    // each hot member takes its max-cosine seed (tie → lowest seed rank);
    // a cold cell is no key of the fit, so its members keep sub = 0
    val subFit = LloydFit(Cosine, seeds.groupBy(_.getLong(0).toInt).map { case (cid, rs) =>
      cid -> rs.map(r => Centroid(r.getInt(1).toLong, boxed(r.getSeq[java.lang.Double](2))))
        .sortBy(_.cid)
    })
    val split = assigned.withColumn("sub", coalesce(
      subFit.nearest($"cid".cast("int"), $"v").getField("cid").cast("int"), lit(0)))
    (split, assigned)
  }

  /** The post-split cell assignment `(vec_id, cid, sub)` — the linear
    * frame the sf100 MUTUALITY partial oracle samples (VERDICT r14 #3):
    * a vector's entire rnn candidate set lives inside its one (cid, sub)
    * cell, so replaying ALL pairs of an md5-sampled cell reproduces the
    * within-cell top-[[RnnK]] ranks and the mutual filter EXACTLY for
    * every member — rank_ab/rank_ba verification with a replay linear in
    * the sample (cells are occupancy-bounded by construction). The
    * assignment structure itself (fit, argmax, split) stays covered by
    * the full sf10 oracle, which this check is explicitly conditional
    * on. */
  def rnnCellAssignment(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val (split, assigned) = rnnSplitFrames(spark, dir)
    // eager: the caller only reads 3 slim columns — materialize them
    // before the assignment blocks (full vectors) are dropped
    val cells = split.select($"vec_id", $"cid", $"sub").localCheckpoint()
    org.apache.spark.sql.GraftSqlBridge.dropCheckpoint(assigned)
    cells
  }

  /** Reciprocal nearest neighbors within the fitted coarse clusters — the
    * rank-based near-duplicate signal (RNN-DBSCAN / de-duplication
    * pruning literature): a pair qualifies when EACH vector ranks in the
    * other's within-cluster top-[[RnnK]] by cosine. Rank mutuality is
    * threshold-free — it adapts to local density where
    * [[semanticDedup]]'s fixed cosine cut-off can't — and the two views
    * disagree exactly on the pairs a curator should eyeball.
    *
    * Scale shape: the same scaled-k assignment as [[semanticDedup]]
    * (k grows with n, within-cluster pair mass ≈ n·target — linear), the
    * same salted (cid, salt) pair join; per-vector ranks are one mergeable
    * top-k aggregate over the pair frame, the mutuality check a self-join of the
    * [[RnnK]]·n-row top-k frame on the swapped key. Cosines round to
    * 6 dp BEFORE ranking (the [[knnCosine]] doctrine) so both engines
    * rank identically; ties break on neighbor id.
    *
    * Occupancy-aware cell split (the r13 sf100 lesson): "pair mass ≈
    * n·target" is only true when the fit balances — on a skewed corpus
    * (a dominant mode, or ScaleUp's sign-flipped copies that no copy-0
    * seed attracts) most of the catalog lands in a few cells and the
    * within-cell join goes quadratic. So cells whose measured occupancy
    * exceeds [[RnnSplitBudget]] are re-quantized by a secondary
    * one-round k-means INSIDE the cell: ceil(occ / target) seed members
    * are drawn in md5(vec_id) order (a deterministic uniform sample —
    * lowest-vec_id seeding would draw all seeds from one copy family),
    * every hot-cell member re-assigns to its max-cosine seed (tie →
    * lowest seed rank), and the pair join keys on (cid, sub). Cold cells
    * keep sub = 0. The split bounds every cell near the target, so pair
    * mass is linear again in n regardless of the input distribution;
    * RNN-within-coarse-cells was already an approximation, and the
    * secondary quantizer refines by locality rather than splitting
    * arbitrarily. The oracle replays the split CTE-for-CTE (same md5
    * seed order, same argmax tiebreak). */
  def rnnPairs(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val (split, assigned) = rnnSplitFrames(spark, dir)
    // a LIGHT salt (vs the capped join's ×16): post-split cells are
    // bounded near SemDedupCellTarget, so straggler risk is small — and
    // the build side replicates ×salt carrying full 64-dim vectors, so
    // heavy salting multiplies the join's dominant shuffle (measured r12
    // at the 5M tier: ×16 is a ~40 GB vector exchange that overflowed
    // local scratch; ×4 fits and still splits any residual hot cell —
    // e.g. one full of exact-duplicate vectors — four ways)
    val probe = split.as("a")
      .withColumn("salt", pmod(hash($"a.vec_id"), lit(RnnSalt)))
    val build = split.as("b")
      .withColumn("salt", explode(sequence(lit(0), lit(RnnSalt - 1))))
    val scored = probe
      .join(build,
        $"a.cid" === $"b.cid" && $"a.sub" === $"b.sub" &&
          probe("salt") === build("salt") && $"a.vec_id" =!= $"b.vec_id")
      .select($"a.vec_id".as("va"), $"b.vec_id".as("vb"),
        round(Similarity.cosine($"a.v", $"b.v", $"a.nrm", $"b.nrm"), 6)
          .as("cos"))
    // bounded top-k as a MERGEABLE aggregate, not a rank window: partial
    // aggregation prunes each map partition to RnnK rows per vector before
    // anything shuffles — the window formulation had to exchange and
    // locally sort the full n·cell pair mass (measured r12 at the 5M tier:
    // a half-terabyte spill vs a 25M-row exchange). Same output, ties and
    // all: the kept set is the global (cos desc, vb asc) top-k under any
    // merge order.
    val topkAgg = udaf(new Similarity.TopKNeighborsAggregator(RnnK),
      Encoders.tuple(Encoders.scalaLong, Encoders.DOUBLE))
    val top = scored.groupBy($"va")
      .agg(topkAgg($"vb", $"cos").as("nb"))
      // every group has >=1 input row today, but guard anyway: on an
      // empty buffer sequence(0, -1) would step backwards and explode
      // two garbage rows instead of none
      .filter(size($"nb") > 0)
      .select($"va", posexplode(expr(
        "transform(sequence(0, int(size(nb)/2) - 1)," +
          " i -> struct(nb[2*i] as cos, bigint(nb[2*i+1]) as vb))"))
        .as(Seq("idx", "p")))
      .select($"va", $"p.vb".as("vb"), $"p.cos".as("cos"),
        ($"idx" + 1).cast("long").as("rn"))
      .localCheckpoint()
    // top's eager checkpoint severed the lineage — the assignment blocks
    // are dead weight past this point (the ppmiSvd hygiene doctrine)
    org.apache.spark.sql.GraftSqlBridge.dropCheckpoint(assigned)
    top.as("x")
      .join(top.as("y"),
        $"x.va" === $"y.vb" && $"x.vb" === $"y.va" && $"x.va" < $"x.vb")
      .select($"x.va".as("vec_a"), $"x.vb".as("vec_b"),
        $"x.cos".as("cosine"), $"x.rn".as("rank_ab"), $"y.rn".as("rank_ba"))
      .orderBy($"vec_a", $"vec_b")
  }

  /** Per-cell simplified silhouette of the fitted k=16 cosine quantizer
    * (Hruschka et al.'s centroid-based variant of Rousseeuw 1987): for
    * each vector, a = chord distance to its nearest centroid, b = chord
    * distance to the second-nearest, s = (b−a)/max(a,b) — the O(n·k)
    * replacement for the O(n²) pairwise silhouette, the standard cluster-
    * quality gauge an embedding-curation pipeline reports next to the fit.
    *
    * Determinism doctrine: distances rank by (cdist, cid) — the
    * [[embedDupCapped]] ordering, since sqrt can collapse adjacent
    * cosines — s quantizes to 6 dp per vector, and the per-cell mean is a
    * DECIMAL sum over the 6-dp grid divided by the member count, so fold
    * order cannot perturb the hash. Scale shape: a and b are one row-local
    * column against the session's memoized 16-centroid fit
    * ([[chordCells]]), then one 16-group aggregate — linear, with no join
    * and no shuffle beyond that aggregate. A zero-norm vector has no
    * distance to any centroid and is left out; a zero centroid is no
    * vector's nearest or second-nearest. */
  def silhouette(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    chordCells(spark, dir, 16)
      .select($"cid", $"score".as("a"), $"score2".as("b"))
      .withColumn("s", when(greatest($"a", $"b") > 0.0,
        round(($"b" - $"a") / greatest($"a", $"b"), 6)).otherwise(lit(0.0)))
      .groupBy($"cid")
      .agg(count(lit(1)).as("n_members"),
        sum($"s".cast("decimal(28,6)")).as("ssum"))
      .select($"cid", $"n_members",
        round($"ssum".cast("double") / $"n_members", 6).as("mean_silhouette"))
      .orderBy($"cid")
  }

  /** Davies–Bouldin index of the fitted k=16 cosine quantizer (Davies &
    * Bouldin 1979, "A Cluster Separation Measure", IEEE TPAMI) — the
    * second standard cluster-quality gauge next to [[silhouette]]: per
    * cluster the within-cluster scatter S_i (mean chord distance of
    * members to their centroid) and the worst similarity ratio
    * R_i = max_{j≠i} (S_i + S_j) / d(c_i, c_j); lower is better-separated.
    * A curation pipeline publishes both gauges with the fit: silhouette
    * reads per-POINT geometry, DB reads per-CLUSTER geometry, and they
    * disagree exactly when clusters are tight but close — the case a
    * single gauge misses.
    *
    * Determinism doctrine (the [[silhouette]] rules): assignment ranks by
    * (cdist, cid); every scalar quantizes to the 6-dp grid before a
    * DECIMAL fold; coincident-centroid pairs (d = 0, where the ratio is
    * undefined) are excluded from the max, and a cluster with no valid
    * peer reports r_max = 0. Scale shape: the assignment is one row-local
    * column against the session's memoized 16-centroid fit
    * ([[chordCells]]), then one per-cell aggregate and a 16×16
    * centroid-only self-join — O(n·k) + O(k²), with no shuffle beyond the
    * per-cell aggregate. Zero-norm vectors and centroids are left out as
    * in [[silhouette]]. */
  def dbIndex(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val cents = fittedCentroids(spark, dir, 16)
    // rank UNROUNDED (the silhouette assignment semantics), quantize only
    // what enters the fold
    val assigned = chordCells(spark, dir, 16)
      .select($"cid", round($"score", 6).as("cdist"))
    val scatter = assigned.groupBy($"cid")
      .agg(count(lit(1)).as("n_members"),
        sum($"cdist".cast("decimal(28,6)")).as("dsum"))
      .select($"cid", $"n_members",
        round($"dsum".cast("double") / $"n_members", 6).as("scatter"))
      .localCheckpoint() // k rows — pins the tiny frame for the self-join
    val sep = cents.as("p").join(cents.as("q"), $"p.cid" =!= $"q.cid")
      .select($"p.cid".as("ci"), $"q.cid".as("cj"),
        round(unitDist(Similarity.cosine($"p.cv", $"q.cv", $"p.cn", $"q.cn")), 6)
          .as("d"))
    val ratios = scatter.as("a")
      .join(scatter.as("b"), lit(true))
      .join(sep, $"a.cid" === $"ci" && $"b.cid" === $"cj")
      .filter($"d" > 0.0)
      .select($"ci".as("cid"),
        round(($"a.scatter" + $"b.scatter") / $"d", 6).as("r"))
      .groupBy($"cid").agg(max($"r").as("rmax"))
    scatter.join(ratios, Seq("cid"), "left")
      .select($"cid", $"n_members", $"scatter",
        coalesce($"rmax", lit(0.0)).as("r_max"))
      .orderBy($"cid")
  }

  // ---------------------------------------------------------------------
  // Product quantization (Jégou, Douze & Schmid 2011, "Product
  // Quantization for Nearest Neighbor Search", IEEE TPAMI) — the
  // billion-scale ANN compression standard (FAISS IVF-PQ shape): the
  // 64-dim space splits into PqSub=4 disjoint 16-dim subspaces, each
  // fitted with its own PqK=16-centroid L2 k-means codebook, so every
  // vector compresses to 4 bytes of codes and query distance is
  // approximated by Asymmetric Distance Computation (ADC): a per-query
  // 4×16 lookup table of exact query-subvector→centroid distances,
  // summed per candidate via its codes. At 100 TB the catalog is scanned
  // as codes only (16 B/vec incl. id), the lookup tables broadcast, and
  // the only shuffle is the (query, candidate) partial+final sum.
  // ---------------------------------------------------------------------

  /** Number of PQ subspaces (m in the paper). */
  val PqSub = 4
  /** Dims per subspace: 64 / PqSub. */
  val PqSubDim = 16
  /** Centroids per sub-codebook (k*): 4-bit codes. */
  val PqK = 16

  /** `vecs` with one row per PQ subspace j: `sub` = j and `sv` =
    * `slice(j)`, subspace j's slice of the vector. */
  private def bySubspace(vecs: DataFrame, slice: Int => Column): DataFrame =
    vecs.select(col("*"), explode(array((0 until PqSub).map(j =>
        struct(lit(j).as("sub"), slice(j).as("sv"))): _*)).as("s"))
      .select(col("*"), col("s.sub").as("sub"), col("s.sv").as("sv"))
      .drop("s")

  /** The contiguous split: subspace j is dims j·[[PqSubDim]] + 1 … (j+1)·PqSubDim. */
  private def contiguous(v: Column): Int => Column =
    j => slice(v, j * PqSubDim + 1, PqSubDim)

  /** Product-quantize the vectors of `vecs` cut by `slice` (see
    * [[bySubspace]]): the [[PqK]]-centroid squared-L2 codebooks of all
    * [[PqSub]] subspaces come from ONE keyed [[lloyd]] fit (key = sub),
    * and every slice's code is the fit's row-local argmin — no crossJoin,
    * no argmin shuffle, and the vectors never shuffle. The per-vector cost
    * is PqSub × PqK sub-dim dots. Returns (codebooks (sub, cid, cv, cn2) as
    * a local frame, codes (vec_id, sub, code, d2)); the codes are
    * checkpointed, because each caller's fit feeds several registered
    * faces through the session memo. */
  private def productQuantize(vecs: DataFrame, slice: Int => Column)
      : (DataFrame, DataFrame) = {
    val spark = vecs.sparkSession
    import spark.implicits._
    val subs = bySubspace(vecs, slice)
    val fit = lloyd(subs.select($"sub".as("key"), $"vec_id", $"sv".as("v")),
      PqK, KmeansIters, SquaredL2)
    val codebooks = fit.frame(spark)
      .select($"key".as("sub"), $"cid", $"cv", $"norm".as("cn2"))
    val codes = subs.select($"vec_id", $"sub", fit.nearest($"sub", $"sv").as("n"))
      .select($"vec_id", $"sub", $"n.cid".as("code"), $"n.score".as("d2"))
      .localCheckpoint()
    (codebooks, codes)
  }

  /** The plain PQ fit: [[productQuantize]] over contiguous slices. */
  private[graft] def pqFit(spark: SparkSession, dir: String): (DataFrame, DataFrame) =
    SessionMemo.cached(spark,
      "pqfit:" + SessionMemo.tableTag(dir, "embeddings")) {
      import spark.implicits._
      val emb = catalog(spark, dir)
      productQuantize(emb, contiguous($"v"))
    }

  /** q_pq_codebooks — the fitted PQ codebooks as a (sub, cid, dim,
    * mean_val) profile, the ORACLE-CHECKED face of the trainer: DuckDB
    * unrolls both Lloyd rounds per subspace (same seeds, argmin tiebreak
    * and 6-dp grid) and must reproduce all 4×16×16 components
    * bit-for-bit. */
  def pqCodebooks(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    pqFit(spark, dir)._1
      .select($"sub", $"cid", posexplode($"cv").as(Seq("dim", "mean_val")))
      .orderBy($"sub", $"cid", $"dim")
  }

  /** q_pq_codes — the 4-byte PQ code of each probe vector (vec_id < 100,
    * the bounded-output convention of q_embed_norm) with its quantization
    * error d². The full catalog is encoded; the probe filter only bounds
    * Verify output. */
  def pqCodes(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    pqFit(spark, dir)._2
      .filter($"vec_id" < 100)
      .select($"vec_id", $"sub", $"code", round($"d2", 6).as("dist2"))
      .orderBy($"vec_id", $"sub")
  }

  /** IVFADC fit (Jégou et al. 2011 §IV — the residual composition FAISS
    * ships as IVF16,PQ4): a COARSE 16-cell squared-L2 [[lloyd]] fit over
    * the full 64-dim space partitions the catalog into inverted lists;
    * each vector's RESIDUAL v − c(v) (what the coarse cell cannot explain)
    * is then product-quantized ([[productQuantize]]) by four per-subspace
    * codebooks fitted on the residual distribution. Returns (coarse fit,
    * cell assignment, residual codebooks, residual codes). Everything
    * downstream of the fits is map-side: the cell is the fit's row-local
    * argmin and the residual a broadcast join against the 16-row coarse
    * frame. */
  private def ivfPqFit(spark: SparkSession, dir: String)
      : (LloydFit, DataFrame, DataFrame, DataFrame) =
    SessionMemo.cached(spark,
      "ivfpqfit:" + SessionMemo.tableTag(dir, "embeddings")) {
    import spark.implicits._
    val emb = catalog(spark, dir)
    val coarse = lloyd(emb.select(lit(0).as("key"), $"vec_id", $"v"),
      PqK, KmeansIters, SquaredL2)
    // read by the residual fit's rounds and its encode
    val resid = coarseResiduals(emb, coarse).localCheckpoint()
    val (rcb, codes) = productQuantize(resid, contiguous($"r"))
    (coarse, resid.select($"vec_id", $"ccid"), rcb, codes)
  }

  /** Each (vec_id, v) row's coarse cell `ccid` and residual `r` = v − c(v).
    * Every ccid is a cell of the fit, so the join keeps every row; it is a
    * LEFT join because an inner one infers `isnotnull(ccid)` and pushes it
    * below the projection, which would run the assignment twice per row. */
  private[graft] def coarseResiduals(vecs: DataFrame, coarse: LloydFit): DataFrame = {
    val spark = vecs.sparkSession
    import spark.implicits._
    vecs.select($"vec_id", coarse.nearest(lit(0), $"v").getField("cid").as("ccid"), $"v")
      .join(broadcast(coarse.frame(spark).select($"cid".as("ccid"), $"cv")), Seq("ccid"), "left")
      .select($"vec_id", $"ccid", zip_with($"v", $"cv", (a, b) => a - b).as("r"))
  }

  /** q_ivfpq_codes — the IVFADC compressed representation of each probe
    * vector (vec_id < 100): its coarse cell plus the 4 residual codes —
    * 5 small ints standing in for 64 doubles, the 100-TB catalog
    * footprint. */
  def ivfPqCodes(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val (_, cells, _, codes) = ivfPqFit(spark, dir)
    codes.join(cells, Seq("vec_id"))
      .filter($"vec_id" < 100)
      .select($"vec_id", $"ccid", $"sub", $"code")
      .orderBy($"vec_id", $"sub")
  }

  /** q_ann_ivfpq — IVFADC search (nprobe=1): each query (vec_id < 10)
    * routes to its nearest coarse cell, builds the 4×16 exact lookup
    * table of residual-query→centroid d² (6-dp DECIMAL grid), and ADC
    * ranks ONLY that cell's inverted list — the codes of one cell are
    * scanned, nothing else, which is precisely why IVFADC sustains
    * billion-vector catalogs. Top-3 per query, tie → lowest id. */
  def annIvfPq(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val emb = catalog(spark, dir)
    val (coarse, cells, rcb, codes) = ivfPqFit(spark, dir)
    // query-side routing + residual: the fit's own argmin and broadcast
    val qsub = bySubspace(coarseResiduals(emb.filter($"vec_id" < 10), coarse),
        contiguous($"r"))
      .select($"vec_id".as("query_id"), $"ccid".as("qccid"), $"sub", $"sv".as("qv"))
      .withColumn("qn2", Similarity.dot($"qv", $"qv"))
    val lut = qsub.join(broadcast(rcb), Seq("sub"))
      .select($"query_id", $"qccid", $"sub", $"cid",
        round(($"qn2" - lit(2.0) * Similarity.dot($"qv", $"cv")) + $"cn2", 6)
          .cast("decimal(18,6)").as("qd2"))
    val cand = codes.join(cells, Seq("vec_id"))
    val adc = cand.join(broadcast(lut),
        cand("ccid") === lut("qccid") && cand("sub") === lut("sub") &&
          cand("code") === lut("cid") && cand("vec_id") =!= lut("query_id"))
      .groupBy($"query_id", cand("vec_id").as("neighbor_id"))
      .agg(sum($"qd2").as("adc"))
    val w = Window.partitionBy($"query_id").orderBy($"adc", $"neighbor_id")
    adc.withColumn("rank", row_number().over(w))
      .filter($"rank" <= 3)
      .select($"query_id", $"neighbor_id",
        round($"adc".cast("double"), 6).as("adc_dist"), $"rank")
      .orderBy($"query_id", $"rank")
  }

  /** q_ann_pq — ADC approximate nearest neighbors: for each query
    * (vec_id < 10) precompute the exact query-subvector→centroid d² table
    * (PqSub × PqK rows, 6-dp-quantized into DECIMAL so the 4-term
    * per-candidate fold is order-exact), broadcast it, scan the code
    * catalog once joining on (sub, code), and sum per (query, candidate).
    * Top-3 per query, tie → lowest neighbor_id. This is the PQ paper's
    * ADC (eq. 13) in partial+final aggregate form — the codes never
    * shuffle more than their (query, candidate) partial sums. */
  def annPq(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val (cb, codes) = pqFit(spark, dir)
    val emb = catalog(spark, dir)
    val qsub = bySubspace(emb.filter($"vec_id" < 10), contiguous($"v"))
      .select($"vec_id".as("query_id"), $"sub", $"sv".as("qv"))
      .withColumn("qn2", Similarity.dot($"qv", $"qv"))
    val lut = qsub.join(broadcast(cb), Seq("sub"))
      .select($"query_id", $"sub", $"cid",
        round(($"qn2" - lit(2.0) * Similarity.dot($"qv", $"cv")) + $"cn2", 6)
          .cast("decimal(18,6)").as("qd2"))
    val adc = codes.join(broadcast(lut),
        codes("sub") === lut("sub") && codes("code") === lut("cid") &&
          codes("vec_id") =!= lut("query_id"))
      .groupBy($"query_id", codes("vec_id").as("neighbor_id"))
      .agg(sum($"qd2").as("adc"))
    val w = Window.partitionBy($"query_id").orderBy($"adc", $"neighbor_id")
    adc.withColumn("rank", row_number().over(w))
      .filter($"rank" <= 3)
      .select($"query_id", $"neighbor_id",
        round($"adc".cast("double"), 6).as("adc_dist"), $"rank")
      .orderBy($"query_id", $"rank")
  }

  // ---------------------------------------------------------------------
  // OPQ — Optimized Product Quantization restricted to the coordinate-
  // permutation subgroup (Ge, He, Ke & Sun 2013, CVPR, "Optimized Product
  // Quantization for Approximate Nearest Neighbor Search", §4 eigenvalue
  // allocation — public paper). Parametric OPQ learns a dense d×d rotation
  // via a Procrustes SVD; restricted to permutation matrices the same
  // objective — balance the variance mass each sub-quantizer must explain
  // — has an exact greedy solution both engines replay bit-for-bit: sort
  // dimensions by 6-dp corpus variance and deal each to the unfilled
  // subspace with the smallest running DECIMAL variance sum (ties → lowest
  // index on both axes). L2 k-means distortion scales with the variance
  // its subspace carries, so the balanced permutation evens out (and, on
  // anisotropic corpora, reduces) ADC error vs the blind contiguous split
  // — measured head-to-head by q_opq_gain.
  //
  // 100-TB posture: the allocation input is ONE 64-row aggregate —
  // per-dimension variance is O(d), independent of corpus size — and the
  // greedy is a driver-side fold over those 64 rows, the same bounded-by-
  // dimensionality driver step FAISS's OPQ trainer runs. The refit is
  // pqFit's [[productQuantize]] on the permuted slices (driver-held
  // codebooks, row-local argmin; vectors never shuffle), and the permuted
  // slice is a literal column projection — pure codegen, no lookup join.
  // ---------------------------------------------------------------------

  /** One allocated dimension: `dim` 1-based source coordinate, its 6-dp
    * corpus variance, the 0-based subspace it lands in, and its 1-based
    * position inside that subspace's slice (ascending-dim order — the
    * canonical basis [[opqFit]] fits codebooks over). */
  private[graft] final case class OpqDim(
      dim: Int, variance: BigDecimal, sub: Int, pos: Int)

  /** The greedy balanced-variance allocation. Determinism doctrine: the
    * variance lands on the shared 6-dp DECIMAL grid (the double
    * subtraction happens pre-round; both engines' avgs agree far inside
    * the quantum — the [[lloyd]] mean-grid precedent), and every
    * subsequent comparison — the (variance DESC, dim) sort, the running
    * subspace sums, the argmin with tie → lowest subspace — is exact
    * decimal/int arithmetic, so the DuckDB recursive-CTE replay picks the
    * identical permutation. The collect is 64 rows = O(d), bounded by
    * dimensionality like the suffix boundary stitch, not by data. */
  private[graft] def opqAllocate(spark: SparkSession, dir: String): Seq[OpqDim] =
    SessionMemo.cached(spark,
      "opqalloc:" + SessionMemo.tableTag(dir, "embeddings")) {
      import spark.implicits._
      val emb = catalog(spark, dir)
      val perDim = emb.select(posexplode($"v").as(Seq("dim0", "x")))
        .groupBy($"dim0")
        .agg(round(avg($"x" * $"x") - avg($"x") * avg($"x"), 6)
          .cast("decimal(18,6)").as("vr"))
        .select(($"dim0" + 1).as("dim"), $"vr")
      val vars = Bounded.rows(perDim, PqSub * PqSubDim, "OPQ variances")
        .map(r => (r.getInt(0), BigDecimal(r.getDecimal(1))))
      opqGreedy(vars.toIndexedSeq)
    }

  /** The pure greedy fold, factored out so OpqSpec can drive it against
    * an independently coded twin on constructed variance tables. */
  private[graft] def opqGreedy(vars: Seq[(Int, BigDecimal)]): Seq[OpqDim] = {
    val sorted = vars.sortBy { case (dim, vr) => (-vr, dim) }
    val sums = Array.fill(PqSub)(BigDecimal(0).setScale(6))
    val counts = Array.fill(PqSub)(0)
    val picked = sorted.map { case (dim, vr) =>
      val j = (0 until PqSub)
        .filter(counts(_) < PqSubDim)
        .minBy(k => (sums(k), k))
      sums(j) += vr
      counts(j) += 1
      (dim, vr, j)
    }
    val posOf = picked.groupBy(_._3).map { case (j, ds) =>
      j -> ds.map(_._1).sorted.zipWithIndex.toMap
    }
    picked
      .map { case (dim, vr, j) => OpqDim(dim, vr, j, posOf(j)(dim) + 1) }
      .sortBy(_.dim)
  }

  /** The permuted refit: [[productQuantize]] over the allocation's
    * subspaces, each slice its allocated dimensions in ascending order.
    * Returns (codebooks (sub, cid, cv, cn2), codes (vec_id, sub, code, d2)). */
  private[graft] def opqFit(spark: SparkSession, dir: String): (DataFrame, DataFrame) =
    SessionMemo.cached(spark,
      "opqfit:" + SessionMemo.tableTag(dir, "embeddings")) {
      import spark.implicits._
      val alloc = opqAllocate(spark, dir)
      val dims = (0 until PqSub).map(j => alloc.filter(_.sub == j).sortBy(_.pos).map(_.dim))
      val emb = catalog(spark, dir)
      productQuantize(emb, j => array(dims(j).map(p => element_at($"v", p)): _*))
    }

  /** q_opq_assign — the dimension→subspace permutation itself (64 rows:
    * dim, 6-dp variance, sub, pos), the ORACLE-CHECKED face of the greedy:
    * DuckDB re-derives the variances and replays all 64 allocation steps
    * in a recursive CTE and must land every dimension in the same slot. */
  def opqAssign(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val rows = opqAllocate(spark, dir)
      .map(a => (a.dim, a.variance.doubleValue, a.sub, a.pos))
    spark.createDataset(rows)
      .toDF("dim", "variance", "sub", "pos")
      .orderBy($"dim")
  }

  /** q_opq_codebooks — the refitted sub-codebooks as a (sub, cid, dim,
    * mean_val) profile, mirroring [[pqCodebooks]]: the oracle unrolls the
    * same Lloyd rounds over the PERMUTED slices, so a single misallocated
    * dimension fails 4×16×16 components loudly. */
  def opqCodebooks(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    opqFit(spark, dir)._1
      .select($"sub", $"cid", posexplode($"cv").as(Seq("dim", "mean_val")))
      .orderBy($"sub", $"cid", $"dim")
  }

  /** q_opq_gain — head-to-head total quantization error (ADC distortion
    * mass) per subspace: variant 'pq' = the blind contiguous split,
    * variant 'opq' = the balanced permutation. The per-row d² doubles are
    * bit-identical across engines (the [[pqCodes]] precedent), so the 6-dp
    * DECIMAL sum is order-independent and exact. */
  def opqGain(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val pq = pqFit(spark, dir)._2
      .select($"sub", lit("pq").as("variant"), $"d2")
    val opq = opqFit(spark, dir)._2
      .select($"sub", lit("opq").as("variant"), $"d2")
    pq.unionByName(opq)
      .groupBy($"sub", $"variant")
      .agg(sum(round($"d2", 6).cast("decimal(28,6)")).as("errd"))
      .select($"sub", $"variant", $"errd".cast("double").as("err"))
      .orderBy($"variant", $"sub")
  }

  /** Sorted-neighborhood window width: candidate pairs are records within
    * [[SnmWindow]] positions of each other in blocking-key order. */
  val SnmWindow = 8

  /** Pair-emission threshold for [[snmPairs]] — permissive on purpose: SNM
    * is a candidate generator, and the report should show what the window
    * surfaced, not only the certain duplicates. */
  val SnmJaccardThreshold = 0.3

  /** Sorted-neighborhood blocking (Hernández & Stolfo 1995, "The
    * merge/purge problem" — public method): sort the corpus by a blocking
    * key (here the first 16 normalized characters), slide a
    * [[SnmWindow]]-record window over the sorted order, and score only
    * in-window pairs — the classic entity-resolution counterpoint to
    * equi-key blocking: it catches near-duplicates whose keys are close
    * but NOT equal, with candidate mass exactly n·(w−1) regardless of key
    * skew.
    *
    * Scale design — the global rank: a rank-window over the whole corpus
    * would be a single-partition sort. Instead the sorted global position
    * comes from `zipWithIndex` over a range-partitioned sort (one range
    * shuffle + a partition-size count job — the standard distributed
    * total-order recipe), deterministic because the sort key
    * (block_key, doc_id) is a total order. In-window pairs then come from
    * the same bin-explode trick as the range join: bin = ⌊rank/w⌋, the
    * lower-rank side probes its own and the next bin, so each pair is
    * generated exactly once from bounded-occupancy equi-join buckets —
    * never from a cross join. Known SNM property (documented, inherent):
    * identical-key runs longer than w are only partially compared — the
    * equi-key dedup family (q_dedup_exact, q_minhash_dedup) owns that
    * regime. */
  def snmPairs(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val w = SnmWindow
    val docs = Tables.documents(spark, dir)
      .select($"doc_id",
        lower(substring(regexp_replace($"text", "\\s+", " "), 1, 16)).as("bk"),
        Text.tokenSet($"text").as("ts"))
    // r15: a Tungsten-only two-level rank (range partition + per-partition
    // row_number + broadcast base offsets, the ksDrift recipe) was built
    // and MEASURED SLOWER than this zipWithIndex formulation at sf0.1
    // (2.5 s vs 1.8 s min-of-5 — the extra exchange/window/broadcast
    // machinery costs more than the one-time Row conversion, whose bytes
    // are dominated by the ts token arrays either way); kept as-is.
    val ranked = {
      val schema = org.apache.spark.sql.types.StructType(
        docs.schema.fields :+
          org.apache.spark.sql.types.StructField("rank",
            org.apache.spark.sql.types.LongType, nullable = false))
      val rdd = docs.orderBy($"bk", $"doc_id").rdd.zipWithIndex().map {
        case (row, i) => org.apache.spark.sql.Row.fromSeq(row.toSeq :+ i)
      }
      spark.createDataFrame(rdd, schema)
    }
    val binned = ranked.withColumn("bin", floor($"rank" / w))
    val probe = binned
      .withColumn("pbin", explode(array($"bin", $"bin" + 1)))
      .select($"doc_id".as("doc_a"), $"ts".as("ta"),
        $"rank".as("ra"), $"pbin")
    val cand = probe.join(
      binned.select($"doc_id".as("doc_b"), $"ts".as("tb"),
        $"rank".as("rb"), $"bin"),
      $"pbin" === $"bin" && $"rb" > $"ra" && $"rb" - $"ra" < w)
    cand
      .withColumn("u", size(array_union($"ta", $"tb")))
      .withColumn("jaccard", when($"u" > 0, round(
        size(array_intersect($"ta", $"tb")).cast("double") /
          $"u".cast("double"), 6)))
      .filter($"jaccard" >= SnmJaccardThreshold)
      .select($"doc_a", $"doc_b", ($"rb" - $"ra").as("gap"), $"jaccard")
      .orderBy($"doc_a", $"doc_b")
  }
}
