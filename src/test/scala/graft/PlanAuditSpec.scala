package graft

import graft.queries.{CorpusQueries, PipelineQueries}

/** Plan pins for the r9c operators: upper bounds on Exchange counts and
  * required broadcast shapes, so a regression that silently inserts a
  * corpus-sized shuffle fails here instead of in a benchmark eyeball.
  * (Exchange counts are pinned as <= bounds: AQE may REMOVE exchanges, and
  * that is always acceptable.)
  */
class PlanAuditSpec extends SparkSpec {

  private def plan(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  private def exchanges(p: String): Int =
    "Exchange".r.findAllIn(p).length - "BroadcastExchange".r.findAllIn(p).length

  test("mixSample: doc stream shuffles only for the final per-source " +
    "aggregate; the rate frame broadcasts") {
    val p = plan(PipelineQueries.mixSample(spark, sf))
    assert(p.contains("BroadcastExchange"), "rate frame must broadcast")
    // shuffles: the S-row rate subtree's own aggregates (inside the
    // broadcast build side), the final per-source aggregate, and the
    // closing orderBy range partition — never a doc-stream join
    assert(exchanges(p) <= 9, s"too many shuffles:\n$p")
    assert(!p.contains("SortMergeJoin"), "doc stream must not sort-merge join")
  }

  test("spanScrub: no corpus-sized join without a broadcast candidate and " +
    "bounded shuffle count") {
    val p = plan(CorpusQueries.spanScrub(spark, sf))
    // gram-count aggregate, doc_id window, span aggregate, final orderBy
    assert(exchanges(p) <= 6, s"too many shuffles:\n$p")
  }

  test("sourceKl: the pair join runs over the checkpointed grid — no " +
    "second corpus-count pass in the plan") {
    val df = CorpusQueries.sourceKl(spark, sf)
    val p = plan(df)
    // the corpus-sized (source, token) count happens before the
    // localCheckpoint; the executed plan downstream of it must contain at
    // most the self-join + aggregate + sort exchanges
    assert(exchanges(p) <= 4, s"too many shuffles:\n$p")
    assert(!p.contains("Scan parquet"),
      "post-checkpoint plan must not rescan the corpus")
  }

  test("knBigram: count frames join back without forcing a sort-merge of " +
    "the bigram stream at test scale") {
    val p = plan(CorpusQueries.knBigram(spark, sf))
    // bigram counts, history/continuation re-aggregations, per-doc
    // reduction, left join to docs, closing sort
    assert(exchanges(p) <= 9, s"too many shuffles:\n$p")
    assert(p.contains("BroadcastExchange"), "the 1-row type total must broadcast")
  }

  test("dedupSplit: split accounting runs off the two checkpointed frames " +
    "— no corpus rescan, bounded shuffles") {
    val p = plan(graft.queries.SimilarityQueries.dedupSplit(spark, sf))
    // the doc-split frame and the labeled pair frame are localCheckpoint'd;
    // downstream: the countDistinct(unit) expand (2 exchanges), the two
    // pair-leak aggregates, tiny 3-row joins, and the closing sort
    assert(!p.contains("Scan parquet"),
      "post-checkpoint plan must not rescan the corpus")
    assert(exchanges(p) <= 8, s"too many shuffles:\n$p")
  }

  test("bpeEncode: training cost stays behind the checkpoint; AQE " +
    "broadcasts the vocabulary join at runtime") {
    val df = CorpusQueries.bpeEncode(spark, sf)
    // the vocab side is a checkpointed RDD with no static stats, so the
    // initial plan SMJs; the documented contract is ADAPTIVE — AQE sees
    // the tiny vocab stage at runtime and converts to broadcast. Execute,
    // then pin the final adaptive plan.
    df.collect()
    // the executed adaptive plan prints Final + Initial sections; pin the
    // final one (what actually ran)
    val p = plan(df).split("== Initial Plan ==").head
    assert(p.contains("isFinalPlan=true"), "expected an executed adaptive plan")
    // the trainer's corpus-sized token->vocab groupBy runs BEFORE the
    // localCheckpoint and the merges apply as literal replaces, so the
    // encode plan must not rescan the training subtree; remaining
    // shuffles: word stream + vocab (both AQE-localized into the broadcast
    // build), groupBy(doc_id), docs scan, orderBy range partition
    assert(exchanges(p) <= 5, s"too many shuffles:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      "AQE must broadcast the vocabulary segmentation side at test scale")
    assert(!p.contains("SortMergeJoin"),
      "no sort-merge join may survive in the final plan at test scale")
  }

  test("incrementalDedup: index x batch probe is a keyed equi-join with " +
    "batch-linear probe mass — no cartesian shape, no wasted mid-plan sort") {
    val p = plan(graft.queries.SimilarityQueries.incrementalDedup(spark, sf))
    // the crawl-shape contract (VERDICT r9 #7, 79.7 s at the sf100 probe):
    // the index side is probed by (band, band_hash) equality only, so the
    // per-cycle cost is O(batch * bands) probe rows — a cartesian or
    // nested-loop shape here would be the O(corpus^2) regression this pin
    // exists to catch
    assert(!p.contains("CartesianProduct"), s"cartesian probe:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"), s"nested-loop probe:\n$p")
    // shuffles: candidate distinct, the verification joins' repartitions
    // (broadcast at test scale), the per-batch-doc argmax aggregate, and
    // the closing orderBy — the verification stream must NOT carry its own
    // global sort into the argmax (verifyPairsUnsorted)
    assert(exchanges(p) <= 6, s"too many shuffles:\n$p")
    val rangeParts = "rangepartitioning".r.findAllIn(p).length
    assert(rangeParts <= 1,
      s"only the closing orderBy may range-partition (got $rangeParts):\n$p")
  }

  test("suffixSpans: single-pass adjacency over the cached suffix sort — " +
    "no join downstream at all, bounded shuffles") {
    val p = plan(graft.queries.CorpusQueries.suffixSpans(spark, sf))
    // the suffix-array construction cost is ONE range-partitioned sort,
    // cached as tuples; adjacency is a mapPartitions pass with broadcast
    // boundary rows, so the executed plan downstream of the RDD scan holds
    // NO join of any kind — just the cover groupBy, the per-doc island
    // window, the span aggregate, and the closing TakeOrdered
    assert(!p.contains("Join"), s"adjacency must not join:\n$p")
    assert(exchanges(p) <= 5, s"too many shuffles:\n$p")
  }

  test("markovSteady: the rounds run on the driver — the final plan reads " +
    "the local steady state, already sorted") {
    val p = plan(graft.queries.AnalyticQueries.markovSteady(spark, sf))
    assert(!p.toLowerCase.contains("parquet"),
      s"corpus scan leaked past the local steady state:\n$p")
    assert(!p.contains("Join"), s"post-iteration join:\n$p")
    assert(exchanges(p) == 0, s"shuffle over the local steady state:\n$p")
  }

  test("mmrRerank: the greedy rounds run on the driver — the final plan " +
    "reads the local selection") {
    val p = plan(graft.queries.SimilarityQueries.mmrRerank(spark, sf))
    assert(!p.toLowerCase.contains("parquet"),
      s"catalog scan leaked past the local selection:\n$p")
    assert(!p.contains("Join"), s"post-selection join:\n$p")
    assert(exchanges(p) <= 2, s"too many shuffles:\n$p")
  }

  test("chi2Assoc: one corpus scan; margins are windows over the cell " +
    "frame, never corpus re-scans") {
    val p = plan(graft.queries.AnalyticQueries.chi2Assoc(spark, sf))
    val scans = "Scan parquet".r.findAllIn(p).length
    assert(scans == 1, s"expected 1 corpus scan, got $scans:\n$p")
    assert(!p.contains("Join"), s"margin join where a window should be:\n$p")
    // cell aggregate + three window repartitions + closing orderBy
    assert(exchanges(p) <= 6, s"too many shuffles:\n$p")
  }

  test("welchTTest: one corpus scan feeding one partial+final aggregate; " +
    "the global row is a window over the per-type frame") {
    val p = plan(graft.queries.AnalyticQueries.welchTTest(spark, sf))
    val scans = "Scan parquet".r.findAllIn(p).length
    assert(scans == 1, s"expected 1 corpus scan, got $scans:\n$p")
    assert(!p.contains("Join"), s"global-row join where a window should be:\n$p")
    assert(p.contains("HashAggregate"), "partial+final aggregate expected")
    assert(exchanges(p) <= 4, s"too many shuffles:\n$p")
  }

  test("takedownScrub: fp-keyed semi-joins only — no cartesian shapes, " +
    "accounting joins collapse to broadcasts at runtime") {
    val df = graft.queries.TextQueries.takedownScrub(spark, sf)
    df.collect()
    val p = plan(df).split("== Initial Plan ==").head
    assert(p.contains("isFinalPlan=true"), "expected an executed adaptive plan")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), s"unkeyed join:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"accounting joins must broadcast at test scale:\n$p")
  }

  test("jaccardPairsPrefix: candidate generation is a keyed equi-join over " +
    "the prefix index — no cartesian shapes, bounded shuffles, one closing " +
    "range partition (VERDICT r11 #2: the 290 s sf100 tail must stay " +
    "prefix-linear)") {
    val p = plan(graft.queries.SimilarityQueries.jaccardPairsPrefix(spark, sf))
    // the only quadratic regression available here is an unkeyed join —
    // the prefix self-join must stay an equi-join on the shingle key
    assert(!p.contains("CartesianProduct"), s"cartesian candidates:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"), s"nested-loop:\n$p")
    // shuffles: shingle df aggregate, the df join, the per-doc rarity
    // window, the cnt join, the prefix self-join, candidate distinct, the
    // two verification joins, and the closing orderBy
    assert(exchanges(p) <= 12, s"too many shuffles:\n$p")
    val rangeParts = "rangepartitioning".r.findAllIn(p).length
    assert(rangeParts <= 1,
      s"only the closing orderBy may range-partition (got $rangeParts):\n$p")
  }

  test("unigramTok: the EM counts live on the driver — the final plan " +
    "reads the local inventory, already sorted") {
    val p = plan(graft.queries.CorpusQueries.unigramTok(spark, sf))
    assert(!p.toLowerCase.contains("parquet"),
      s"corpus scan leaked past the local inventory:\n$p")
    assert(!p.contains("Join"), s"post-EM join:\n$p")
    assert(exchanges(p) == 0, s"shuffle over the local inventory:\n$p")
  }

  test("wordpieceEncode: segmentation cost stays behind the checkpoint; " +
    "AQE broadcasts the piece-table join at runtime") {
    val df = graft.queries.CorpusQueries.wordpieceEncode(spark, sf)
    df.collect()
    val p = plan(df).split("== Initial Plan ==").head
    assert(p.contains("isFinalPlan=true"), "expected an executed adaptive plan")
    // the per-word HOF segmentation (and the BPE trainer feeding it) runs
    // before the localCheckpoint; encode adds the corpus explode, the
    // vocab-sized piece join (AQE-broadcast), groupBy(doc_id), the docs
    // left join and the closing orderBy
    assert(p.contains("BroadcastHashJoin"),
      "AQE must broadcast the piece table at test scale")
    assert(!p.contains("SortMergeJoin"),
      s"no sort-merge join may survive at test scale:\n$p")
    assert(exchanges(p) <= 6, s"too many shuffles:\n$p")
  }

  test("silhouette: a row-local assignment with no join against the " +
    "centroid frame — the catalog never shuffles for scoring") {
    val p = plan(graft.queries.SimilarityQueries.silhouette(spark, sf))
    assert(!p.contains("BroadcastNestedLoopJoin"),
      s"the centroids must not crossJoin the catalog:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"no sort-merge join in the scoring path:\n$p")
    // the 16-cell aggregate and the closing sort
    assert(exchanges(p) <= 2, s"too many shuffles:\n$p")
  }

  test("nmfTopics: both update rounds stay behind checkpoints — the final " +
    "plan ranks the vocab-sized H frame and reads no parquet") {
    val p = plan(graft.queries.CorpusQueries.nmfTopics(spark, sf))
    assert(!p.contains("Scan parquet"),
      s"post-checkpoint plan must not rescan the corpus:\n$p")
    // the rank window's hash partition on t + the closing orderBy
    assert(exchanges(p) <= 2, s"too many shuffles:\n$p")
  }

  test("textrank: the rounds run on the driver — the final plan is a " +
    "bounded top-k over the local scores; above the cap the corpus work " +
    "stays behind the frac checkpoint") {
    val p = plan(graft.queries.TextQueries.textrank(spark, sf))
    assert(!p.contains("Scan parquet"),
      s"the final plan must not rescan the corpus:\n$p")
    assert(!p.contains("Join"), s"no join against the edge list:\n$p")
    assert(p.contains("TakeOrderedAndProject"),
      s"top-30 must compile to a bounded buffer, not a global sort:\n$p")
    val above = plan(graft.queries.TextQueries.textrank(spark, sf, cap = 0))
    assert(!above.contains("Scan parquet"),
      s"post-checkpoint plan must not rescan the corpus:\n$above")
    assert(above.contains("TakeOrderedAndProject"),
      s"top-30 must compile to a bounded buffer, not a global sort:\n$above")
    // no per-round localCheckpoint — the TrIters rounds chain in one
    // plan. Budget: exactly 1 non-broadcast exchange per round (the
    // contrib aggregate; the score join reuses the aggregate's keying) +
    // the node-set distinct. Measured 6 at this shape — an inserted extra
    // shuffle trips this.
    val bound = graft.queries.TextQueries.TrIters + 1
    assert(exchanges(above) <= bound, s"too many shuffles (> $bound):\n$above")
  }
}
