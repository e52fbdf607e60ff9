package graft.queries

import graft.functions.{Similarity, Text}
import graft.sources.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Sparse + dense retrieval over the document corpus — the query side of a
  * RAG / retrieval-curation pipeline (BM25 keyword scoring, embedding
  * recall, and their reciprocal-rank fusion).
  *
  * Scale posture: the corpus-sized work is a token explode with the
  * query-term filter applied BEFORE any shuffle (the filter is a codegen'd
  * `IN` over a literal set, so only matching tokens leave the scan stage)
  * followed by partial+final hash aggregates; every derived side
  * (per-term document frequencies, the 1-row corpus stats, the k-row
  * centroid of the dense leg) broadcasts. Ranking never sorts the corpus:
  * top-k selection is `orderBy(...).limit(k)` — a TakeOrderedAndProject
  * (per-partition heap + driver merge of k·numPartitions rows), after
  * which rank assignment windows over k rows, not n.
  */
object RetrievalQueries {

  /** BM25 parameters — the Robertson/Sparck-Jones defaults. */
  val K1 = 1.2
  val B = 0.75

  /** The fixed keyword query the registered retrieval queries score
    * against (deterministic: no runtime input in a Verify sweep). */
  val QueryTerms = Seq("spark", "join", "window")

  /** Result-list width of [[bm25Top]] / [[rrfFusion]]. */
  val TopK = 20

  /** Candidate-list depth each retrieval leg contributes to the fusion. */
  val FuseDepth = 50

  /** BM25 top-[[TopK]] documents for [[QueryTerms]] (Robertson et al.,
    * Okapi at TREC-3 — public method; idf is the ln(1 + (N-df+0.5)/(df+0.5))
    * form that stays positive for df > N/2, which matters here because the
    * synthetic corpus is word-soup where most terms hit most documents).
    *
    * Scores are rounded to 6 dp BEFORE ranking so both engines rank the
    * same values; ties (structurally common: same tf vector + same length)
    * break on doc_id. */
  def bm25Top(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    bm25Scored(spark, dir)
      .orderBy($"bm25".desc, $"doc_id").limit(TopK)
      .withColumn("rank",
        row_number().over(Window.orderBy($"bm25".desc, $"doc_id")))
      .select($"rank", $"doc_id", $"bm25")
      .orderBy($"rank")
  }

  /** (doc_id, bm25) for every document matching ≥1 query term — shared by
    * [[bm25Top]] and the sparse leg of [[rrfFusion]]. */
  private def bm25Scored(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, dir)
    // per-doc length is map-only (array size, no explode); the corpus
    // stats frame is 1 row and broadcasts. r16 (guide §1.2): dl is
    // checkpointed — map-only frames leave AQE no shuffle to reuse, so
    // its two consumers (the stats aggregate and the score join) each
    // re-scanned AND re-tokenized the corpus (plan-verified: 3 documents
    // scans in q_rrf_fusion's sparse leg, 1 after). The frame is one
    // (id, double) row per document.
    val dl = docs.select($"doc_id",
      size(Text.tokenize($"text")).cast("double").as("dl"))
      .localCheckpoint()
    val stats = dl.agg(avg($"dl").as("avgdl"),
      count(lit(1)).cast("double").as("n_docs"))
    val tf = docs
      .select($"doc_id", explode(Text.tokenize($"text")).as("w"))
      .filter($"w".isin(QueryTerms: _*)) // pre-shuffle literal IN filter
      .groupBy($"doc_id", $"w").agg(count(lit(1)).cast("double").as("tf"))
    val dfc = tf.groupBy($"w").agg(count(lit(1)).cast("double").as("df"))
    tf.join(broadcast(dfc), "w")
      .join(dl, "doc_id")
      .crossJoin(broadcast(stats))
      .withColumn("idf",
        log(lit(1.0) + ($"n_docs" - $"df" + 0.5) / ($"df" + 0.5)))
      .withColumn("s",
        $"idf" * $"tf" * lit(K1 + 1.0) /
          ($"tf" + lit(K1) * (lit(1.0 - B) + lit(B) * $"dl" / $"avgdl")))
      .groupBy($"doc_id").agg(round(sum($"s"), 6).as("bm25"))
  }

  /** Reciprocal-rank fusion (Cormack et al. 2009 — public method) of the
    * BM25 leg and a dense leg (cosine against the vec_id-0 embedding,
    * joined on the doc_id = vec_id alignment of the testdata): each leg
    * contributes its top-[[FuseDepth]] list, a document scores
    * Σ 1/(60 + rank) over the lists that contain it, and the fused
    * top-[[TopK]] is returned with both leg ranks for provenance.
    *
    * Determinism: leg ranks are integers from 6-dp-rounded scores with
    * doc_id tiebreaks; the fused score is the same two-term IEEE
    * expression in both engines, so `round(.,6)` sees identical bits. */
  def rrfFusion(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val sparseTop = bm25Scored(spark, dir)
      .orderBy($"bm25".desc, $"doc_id").limit(FuseDepth)
      .withColumn("r_bm25",
        row_number().over(Window.orderBy($"bm25".desc, $"doc_id")))
      .select($"doc_id", $"r_bm25")
    val emb = Tables.embeddings(spark, dir)
      .select($"vec_id", $"embedding".cast("array<double>").as("v"))
      .withColumn("nrm", Similarity.l2norm($"v"))
    val qv = emb.filter($"vec_id" === 0)
      .select($"v".as("q"), $"nrm".as("qn"))
    val denseTop = emb.filter($"vec_id" =!= 0)
      .crossJoin(broadcast(qv))
      .select($"vec_id".as("doc_id"),
        round(Similarity.cosine($"v", $"q", $"nrm", $"qn"), 6).as("cos"))
      .orderBy($"cos".desc, $"doc_id").limit(FuseDepth)
      .withColumn("r_cos",
        row_number().over(Window.orderBy($"cos".desc, $"doc_id")))
      .select($"doc_id", $"r_cos")
    sparseTop.join(denseTop, Seq("doc_id"), "full_outer")
      .withColumn("rrf", round(
        when($"r_bm25".isNotNull, lit(1.0) / (lit(60.0) + $"r_bm25"))
          .otherwise(lit(0.0)) +
        when($"r_cos".isNotNull, lit(1.0) / (lit(60.0) + $"r_cos"))
          .otherwise(lit(0.0)), 6))
      .orderBy($"rrf".desc, $"doc_id").limit(TopK)
      .withColumn("rank",
        row_number().over(Window.orderBy($"rrf".desc, $"doc_id")))
      .select($"rank", $"doc_id", $"r_bm25", $"r_cos", $"rrf")
      .orderBy($"rank")
  }
}
