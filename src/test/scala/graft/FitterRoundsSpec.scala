package graft

import graft.functions.Similarity
import graft.queries.SimilarityQueries
import graft.queries.SimilarityQueries.{Centroid, Chord, Cosine, LloydFit, SquaredL2}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{Column, DataFrame, GraftSqlBridge, Row, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener
import scala.jdk.CollectionConverters._

/** The job-count-bound fitters, one Spark action per round: parity of the
  * row-local k-means argmax, argmin and chord ranking, of the keyed PQ fits,
  * of the hot-cell split and of the in-round components convergence against
  * the former crossJoin + max_by / min_by / collect_list assignments,
  * per-subspace PQ loop and join + count() loop (kept here as references),
  * and listener-counted job and UDF-call pins. */
class FitterRoundsSpec extends SparkSpec {

  private val Sf01 = "/root/testdata/sf0.01"

  private def boxed(xs: Double*): Array[java.lang.Double] =
    xs.map(java.lang.Double.valueOf).toArray

  /** The former assignment: crossJoin against the k-row frame, argmax as
    * max_by(cid, struct(cosine, -cid)). */
  private def referenceAssign(base: DataFrame, cents: DataFrame): Map[Long, Long] =
    base.crossJoin(broadcast(cents))
      .withColumn("ccos", Similarity.dot(col("v"), col("cv")) / (col("vn") * col("cn")))
      .groupBy(col("vec_id"))
      .agg(max_by(col("cid"), struct(col("ccos"), -col("cid"))).as("cid"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  private def rowLocalAssign(base: DataFrame, cents: Array[Centroid]): Map[Long, Long] =
    base.select(col("vec_id"), SimilarityQueries.nearestCentroid(
        Cosine, Map(0 -> cents.sortBy(_.cid)))(lit(0), col("v")).getField("cid"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  /** Driver-held cosine centroids as the (cid, cv, cn) frame consumers read. */
  private def cosineFrame(s: SparkSession, cents: Array[Centroid]): DataFrame =
    LloydFit(Cosine, Map(0 -> cents)).frame(s)
      .select(col("cid"), col("cv"), col("norm").as("cn"))

  private def vectors(s: SparkSession, vs: Seq[(Long, Array[java.lang.Double])]): DataFrame = {
    val schema = new org.apache.spark.sql.types.StructType()
      .add("vec_id", "long").add("v", "array<double>")
    s.createDataFrame(java.util.Arrays.asList(vs.map { case (id, v) =>
        Row(id, Option(v).map(_.toSeq).orNull) }: _*), schema)
      .withColumn("vn", Similarity.l2norm(col("v")))
  }

  test("nearestCentroid: same assignment as the crossJoin + max_by argmax on " +
    "the catalog, with tied seeds") {
    val base = graft.sources.Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .withColumn("vn", Similarity.l2norm(col("v")))
    val seeds = base.filter(col("vec_id") < 16).collect()
      .map(r => Centroid(r.getLong(0), r.getSeq[java.lang.Double](1).toArray))
    // duplicate centroids: cid 20 repeats cid 3, cid 21 repeats cid 9 —
    // every vector nearest to either must tie and go to the lower cid
    val cents = seeds ++ Seq(Centroid(20L, seeds(3).cv), Centroid(21L, seeds(9).cv))
    val got = rowLocalAssign(base, cents)
    assert(got == referenceAssign(base, cosineFrame(spark, cents)))
    assert(got.values.toSet.intersect(Set(20L, 21L)).isEmpty)
    assert(got.values.exists(_ == 3L) && got.values.exists(_ == 9L))
  }

  test("nearestCentroid: NaN ranks highest, ties and nulls rank as max_by " +
    "orders them") {
    val cents = Array(
      Centroid(1L, boxed(0.0, 1.0)),
      Centroid(2L, boxed(0.0, 2.0)),           // parallel to cid 1: ties
      Centroid(3L, boxed(1.0, 1.0)),
      Centroid(4L, boxed(1.0, 1.0)),           // duplicate of cid 3
      Centroid(5L, boxed(-1.0, 0.0)),
      Centroid(6L, null))                      // null centroid: null cosine
    val vs = Seq(
      1L -> boxed(1.0, 0.0),                   // 3 and 4 tie at the top
      2L -> boxed(0.0, 5.0),                   // 1 and 2 tie at cosine 1
      3L -> boxed(-2.0, 0.0),
      4L -> boxed(Double.NaN, 1.0),            // NaN cosine everywhere
      5L -> boxed(1.0, 0.0, 7.0),              // longer vector: shorter fold
      6L -> null)                              // null vector: all null
    val base = vectors(spark, vs)
    val got = rowLocalAssign(base, cents)
    assert(got == referenceAssign(base, cosineFrame(spark, cents)))
    assert(got == Map(1L -> 3L, 2L -> 1L, 3L -> 5L, 4L -> 1L, 5L -> 3L, 6L -> 1L))
    // a NaN centroid outranks every finite cosine
    val withNan = cents :+ Centroid(7L, boxed(Double.NaN, 0.0))
    val nan = rowLocalAssign(base, withNan)
    assert(nan == referenceAssign(base, cosineFrame(spark, withNan)))
    assert(nan - 6L == Map(1L -> 7L, 2L -> 7L, 3L -> 7L, 4L -> 1L, 5L -> 7L))
  }

  test("nearestCentroid: a zero vector or centroid has a null cosine, which " +
    "ranks lowest under ANSI mode too") {
    val cents = Array(Centroid(1L, boxed(1.0, 0.0)), Centroid(2L, boxed(0.0, 1.0)))
    val vs = Seq(1L -> boxed(0.0, 0.0), 2L -> boxed(0.0, 3.0))
    // the former assignment fails with DIVIDE_BY_ZERO under ANSI; its
    // non-ANSI null division gives the assignment the helper now gives
    intercept[Exception](referenceAssign(vectors(spark, vs), cosineFrame(spark, cents)))
    val lax = spark.newSession()
    lax.conf.set("spark.sql.ansi.enabled", "false")
    val want = referenceAssign(vectors(lax, vs), cosineFrame(lax, cents))
    assert(want == Map(1L -> 1L, 2L -> 2L))
    assert(rowLocalAssign(vectors(spark, vs), cents) == want)
    // a zero centroid: its cosine is null for every vector
    val zero = Array(Centroid(1L, boxed(0.0, 0.0)), Centroid(2L, boxed(1.0, 1.0)))
    val zwant = referenceAssign(vectors(lax, vs), cosineFrame(lax, zero))
    assert(zwant == Map(1L -> 1L, 2L -> 2L))
    assert(rowLocalAssign(vectors(spark, vs), zero) == zwant)
  }

  /** A copy of the sf0.001 catalog whose vec_id 5 (a k-means seed) is an
    * all-zero embedding. */
  private lazy val zeroCatalog: String = {
    val dir = java.nio.file.Files.createTempDirectory("graft-zero-vec").toString
    graft.sources.Tables.embeddings(spark, sf)
      .withColumn("embedding", when(col("vec_id") === 5L, array_repeat(lit(0.0f), 64))
        .otherwise(col("embedding")))
      .write.parquet(s"$dir/embeddings.parquet")
    dir
  }

  test("a catalog holding an all-zero embedding fits, probes and scores its " +
    "cells under ANSI mode") {
    assert(spark.conf.get("spark.sql.ansi.enabled") == "true")
    val dir = zeroCatalog
    val emb = graft.sources.Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val cents = SimilarityQueries.kmeansCentroids(emb, 16, SimilarityQueries.KmeansIters)
      .collect()
    assert(cents.length == 16)
    // the zero seed's cosine is null for every vector: its cell never wins
    // a member and keeps the seed
    val c5 = cents.find(_.getLong(0) == 5L).get
    assert(c5.getSeq[Double](1).forall(_ == 0.0) && c5.getDouble(2) == 0.0)
    val ann = SimilarityQueries.annIvf(spark, dir).collect()
    assert(ann.map(_.getLong(0)).toSet == (0L until 10L).toSet)
    // the chord-distance faces leave the zero vector out and never rank a
    // vector nearest to the zero centroid (its distance is null, not 0)
    val n = graft.sources.Tables.embeddings(spark, dir).count()
    for (face <- Seq(SimilarityQueries.silhouette _, SimilarityQueries.dbIndex _)) {
      val cells = face(spark, dir).collect()
      assert(!cells.exists(_.getLong(0) == 5L))
      assert(cells.map(_.getLong(1)).sum == n - 1)
      assert(cells.length > 1)
    }
    // the budgeted metric join still equals the exact all-pairs join
    def pairs(df: DataFrame): Seq[(Long, Long, Double)] =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    val capped = SimilarityQueries.embedDupCapped(spark, dir)
    assert(pairs(capped) == pairs(SimilarityQueries.embedDupBrute(spark, dir)))
    assert(pairs(capped).nonEmpty && !pairs(capped).exists(p => p._1 == 5L || p._2 == 5L))
    assert(pairs(SimilarityQueries.embedDupPairs(spark, dir)) == pairs(capped))
    assert(SimilarityQueries.semanticDedup(spark, dir).count() > 0)
    val rnn = SimilarityQueries.rnnPairs(spark, dir).collect()
    assert(rnn.nonEmpty && !rnn.exists(r => r.getLong(0) == 5L || r.getLong(1) == 5L))
  }

  /** The former mmrRerank: the greedy rounds as Spark frames — a running
    * msim state joined with each round's pick, both checkpointed per
    * round. */
  private def referenceMmr(dir: String): Seq[Row] = {
    import SimilarityQueries.{MmrCandidates, MmrK, MmrLambda}
    val s = spark
    import s.implicits._
    val emb = catalog(s, dir).withColumn("nrm", Similarity.l2norm($"v"))
    val queries = emb.filter($"vec_id" < 10)
      .select($"vec_id".as("query_id"), $"v".as("qv"), $"nrm".as("qn"))
    val scored = emb.crossJoin(broadcast(queries))
      .filter($"vec_id" =!= $"query_id")
      .select($"query_id", $"vec_id".as("cid"), $"v", $"nrm",
        round(Similarity.cosine($"qv", $"v", $"qn", $"nrm"), 6).as("cos"))
    val wq = Window.partitionBy($"query_id").orderBy($"cos".desc, $"cid")
    val cand = scored.withColumn("rn", row_number().over(wq))
      .filter($"rn" <= MmrCandidates)
      .select($"query_id", $"cid", $"v", $"nrm", $"cos")
      .localCheckpoint()
    val pc = cand.as("x")
      .join(cand.as("y"),
        $"x.query_id" === $"y.query_id" && $"x.cid" =!= $"y.cid")
      .select($"x.query_id".as("query_id"), $"x.cid".as("a"),
        $"y.cid".as("b"),
        round(Similarity.cosine($"x.v", $"y.v", $"x.nrm", $"y.nrm"), 6)
          .as("pcos"))
      .localCheckpoint()
    val slim = cand.select($"query_id", $"cid", $"cos")
    var sel = slim.groupBy($"query_id")
      .agg(max_by(struct($"cid", $"cos"), struct($"cos", -$"cid")).as("p"))
      .select($"query_id", $"p.cid".as("cid"), $"p.cos".as("cos"),
        (lit(MmrLambda) * $"p.cos").as("score"), lit(1).as("rank"))
      .localCheckpoint()
    def strip(p: DataFrame) =
      p.select($"query_id".as("pq"), $"cid".as("pid"))
    def advanced(state: DataFrame, pick: DataFrame): DataFrame = {
      val pcPick = pc.join(strip(pick).hint("broadcast"),
          $"query_id" === $"pq" && $"b" === $"pid")
        .select($"query_id".as("uq"), $"a".as("ua"), $"pcos".as("pp"))
      state.join(strip(pick).hint("broadcast"),
          $"query_id" === $"pq" && $"cid" === $"pid", "left_anti")
        .join(pcPick.hint("broadcast"),
          $"query_id" === $"uq" && $"cid" === $"ua")
        .select($"query_id", $"cid", $"cos",
          greatest($"msim", $"pp").as("msim"))
    }
    var state = advanced(slim.withColumn("msim", lit(-2.0)), sel)
      .localCheckpoint()
    for (r <- 2 to MmrK) {
      val pick = state
        .withColumn("sc",
          lit(MmrLambda) * $"cos" - lit(1.0 - MmrLambda) * $"msim")
        .groupBy($"query_id")
        .agg(max_by(struct($"cid", $"cos", $"sc"), struct($"sc", -$"cid"))
          .as("p"))
        .select($"query_id", $"p.cid".as("cid"), $"p.cos".as("cos"),
          $"p.sc".as("score"), lit(r).as("rank"))
        .localCheckpoint()
      sel = sel.unionByName(pick)
      if (r < MmrK) state = advanced(state, pick).localCheckpoint()
    }
    sel.select($"query_id", $"rank", $"cid".as("neighbor_id"), $"cos".as("cosine"),
        $"score".as("mmr_score"))
      .orderBy($"query_id", $"rank")
      .collect().toSeq
  }

  test("mmrRerank: the driver greedy gives the rows of the former Spark " +
    "rounds, a zero query vector included") {
    for (dir <- Seq(Sf01, zeroCatalog)) {
      val got = SimilarityQueries.mmrRerank(spark, dir).collect().toSeq
      assert(got.length == 10 * SimilarityQueries.MmrK)
      assert(got == referenceMmr(dir), dir)
    }
    // query 5 is the zero vector: every cosine and score is null, so each
    // round picks the lowest cid left
    val q5 = SimilarityQueries.mmrRerank(spark, zeroCatalog).collect()
      .filter(_.getLong(0) == 5L)
    assert(q5.map(_.getLong(2)).toSeq == Seq(0L, 1L, 2L, 3L, 4L))
    assert(q5.forall(r => r.isNullAt(3) && r.isNullAt(4)))
  }

  private def catalog(s: SparkSession, dir: String): DataFrame =
    graft.sources.Tables.embeddings(s, dir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))

  /** The former IVF-flat and SemDeDup cell assignment: crossJoin against
    * the k-row centroid frame, argmax as max_by(.., struct(cosine, -cid)). */
  private def referenceCells(vecs: DataFrame, k: Int): DataFrame = {
    val cents = SimilarityQueries.kmeansCentroids(vecs, k, SimilarityQueries.KmeansIters)
    vecs.withColumn("nrm", Similarity.l2norm(col("v")))
      .crossJoin(broadcast(cents))
      .withColumn("ccos", Similarity.cosine(col("v"), col("cv"), col("nrm"), col("cn")))
      .groupBy(col("vec_id"))
      .agg(max_by(struct(col("cid"), col("v"), col("nrm")), struct(col("ccos"), -col("cid")))
        .as("best"))
      .select(col("vec_id"), col("best.v").as("v"), col("best.nrm").as("nrm"),
        col("best.cid").as("cid"))
  }

  /** The former annIvf: top-3 within the query's cell over referenceCells. */
  private def referenceAnnIvf(dir: String): Seq[Row] = {
    val assigned = referenceCells(catalog(spark, dir), 16)
    val queries = assigned.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("v").as("qv"), col("nrm").as("qn"),
        col("cid").as("qcid"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id"))
    assigned.join(broadcast(queries),
        col("cid") === col("qcid") && col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        round(Similarity.cosine(col("qv"), col("v"), col("qn"), col("nrm")), 6).as("cosine"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 3)
      .orderBy(col("query_id"), col("rank"))
      .collect().toSeq
  }

  /** The former semanticDedup: within-cell pairs over referenceCells. */
  private def referenceSemanticDedup(dir: String): Seq[Row] = {
    val vecs = catalog(spark, dir)
    val assigned = referenceCells(vecs, SimilarityQueries.semDedupK(vecs.count()))
    assigned.as("a")
      .join(assigned.as("b"), col("a.cid") === col("b.cid") && col("a.vec_id") < col("b.vec_id"))
      .withColumn("cos", Similarity.cosine(col("a.v"), col("b.v"), col("a.nrm"), col("b.nrm")))
      .filter(col("cos") >= SimilarityQueries.EmbedDupThreshold)
      .select(col("a.cid").as("cluster"), col("a.vec_id").as("vec_a"),
        col("b.vec_id").as("vec_b"), round(col("cos"), 6).as("cosine"))
      .orderBy(col("vec_a"), col("vec_b"))
      .collect().toSeq
  }

  test("annIvf and semanticDedup: the row-local assignment gives the rows of " +
    "the former crossJoin + max_by form, a zero vector included") {
    for (dir <- Seq(sf, zeroCatalog)) {
      val ann = SimilarityQueries.annIvf(spark, dir).collect().toSeq
      assert(ann == referenceAnnIvf(dir))
      assert(ann.length == 30)
      val sem = SimilarityQueries.semanticDedup(spark, dir).collect().toSeq
      assert(sem == referenceSemanticDedup(dir))
      assert(sem.nonEmpty)
    }
    // one assignment per scanned row: annIvf scans the catalog and its 10
    // queries, semanticDedup the probe and the build side; the join's
    // inferred isnotnull(cid) must not copy the UDF into a filter
    for (df <- Seq(SimilarityQueries.annIvf(spark, sf), SimilarityQueries.semanticDedup(spark, sf)))
      assert(udfCalls(df) == 2, df.queryExecution.optimizedPlan.toString)
  }

  /** The former chord distance of every (vector, centroid) pair: a
    * crossJoin against the (cid, cv, cn) frame, null where the cosine is. */
  private def referenceChord(vecs: DataFrame, cents: DataFrame): DataFrame =
    vecs.withColumn("nrm", Similarity.l2norm(col("v")))
      .crossJoin(broadcast(cents))
      .withColumn("cos", Similarity.cosine(col("v"), col("cv"), col("nrm"), col("cn")))
      .withColumn("cdist", when(col("cos").isNotNull,
        sqrt(greatest(lit(0.0), lit(2.0) - lit(2.0) * col("cos")))))

  /** The former (cdist, cid) ranking key, null where the distance is null:
    * min_by skips the row and collect_list drops it. */
  private def nearFirst: Column =
    when(col("cdist").isNotNull, struct(col("cdist"), col("cid")))

  /** The former dupAssignment: vec_id → (cid, cdist) by min_by. */
  private def referenceDup(vecs: DataFrame, cents: DataFrame): Map[Long, (Long, Option[Long])] =
    referenceChord(vecs, cents).groupBy(col("vec_id"))
      .agg(min_by(struct(col("cid"), col("v"), col("nrm"), col("cdist")), nearFirst).as("best"))
      .where(col("best").isNotNull)
      .select(col("vec_id"), col("best.cid"), col("best.cdist"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), bits(r.getAs[java.lang.Double](2))))
      .toMap

  /** The former silhouette (cid, a, b): the first two of the sorted
    * non-null (cdist, cid) list. */
  private def referenceAb(vecs: DataFrame, cents: DataFrame)
      : Map[Long, (Long, Option[Long], Option[Long])] =
    referenceChord(vecs, cents).groupBy(col("vec_id"))
      .agg(array_sort(collect_list(nearFirst)).as("ds"))
      .where(size(col("ds")) > 0)
      .select(col("vec_id"), col("ds").getItem(0).getField("cid"),
        col("ds").getItem(0).getField("cdist"),
        when(size(col("ds")) > 1, col("ds").getItem(1).getField("cdist")))
      .collect().map(r => r.getLong(0) -> (r.getLong(1),
        bits(r.getAs[java.lang.Double](2)), bits(r.getAs[java.lang.Double](3)))).toMap

  /** The former dbIndex assignment: min_by(struct(cid, cdist), nearFirst),
    * the distance rounded to 6 dp. */
  private def referenceDbAssign(vecs: DataFrame, cents: DataFrame)
      : Map[Long, (Long, Option[Long])] =
    referenceChord(vecs, cents).groupBy(col("vec_id"))
      .agg(min_by(struct(col("cid"), col("cdist")), nearFirst).as("b"))
      .where(col("b").isNotNull)
      .select(col("vec_id"), col("b.cid"), round(col("b.cdist"), 6))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), bits(r.getAs[java.lang.Double](2))))
      .toMap

  /** vec_id → (cid, score, cid2, score2) of a row-local assignment frame. */
  private def ranked(cells: DataFrame)
      : Map[Long, (Long, Option[Long], Option[Long], Option[Long])] =
    cells.select(col("vec_id"), col("cid"), col("score"), col("cid2"), col("score2"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), bits(r.getAs[java.lang.Double](2)),
        Option(r.getAs[java.lang.Long](3)).map(_.longValue), bits(r.getAs[java.lang.Double](4))))
      .toMap

  /** The chord ranking as the former forms saw it: (cid, a, b) for
    * silhouette, (cid, a) for dupAssignment. */
  private def ab(got: Map[Long, (Long, Option[Long], Option[Long], Option[Long])]) =
    got.map { case (id, (cid, a, _, b)) => id -> (cid, a, b) }
  private def nearestOnly(got: Map[Long, (Long, Option[Long], Option[Long], Option[Long])]) =
    got.map { case (id, (cid, a, _, _)) => id -> (cid, a) }

  private def rowLocalChord(base: DataFrame, cents: Array[Centroid])
      : Map[Long, (Long, Option[Long], Option[Long], Option[Long])] =
    ranked(base.select(col("vec_id"), SimilarityQueries.nearestCentroid(
        Chord, Map(0 -> cents.sortBy(_.cid)))(lit(0), col("v")).as("n"))
      .where(col("n").isNotNull)
      .select(col("vec_id"), col("n.*")))

  test("nearestCentroid: chord distance ranks as the former min_by and " +
    "sorted collect_list — clamped ties, NaN, zero and lone distances") {
    val x = boxed(0.7, 0.2, 0.7)
    val cents = Array(
      Centroid(1L, x),                          // cos(x, x) = 1 + 2⁻⁵²
      Centroid(2L, x.map(c => java.lang.Double.valueOf(0.3 * c))), // 1 + 2⁻⁵¹
      Centroid(3L, boxed(0.0, 0.0, 0.0)),       // zero centroid: null distance
      Centroid(4L, boxed(-1.0, 0.0, 1.0)),
      Centroid(5L, boxed(0.0, 1.0, 0.0)),
      Centroid(6L, boxed(Double.NaN, 0.0, 0.0))) // NaN distance to every vector
    val vs = Seq(
      1L -> x,                                  // cids 1 and 2 both clamp to 0
      2L -> boxed(Double.NaN, 1.0, 0.0),        // NaN distance everywhere
      3L -> boxed(0.0, 0.0, 0.0),               // zero vector: NaN to cid 6 only
      4L -> null,                               // null vector: no distance
      5L -> boxed(0.0, 2.0, 0.0),
      6L -> boxed(-1.0, 0.0, 1.0))
    val base = vectors(spark, vs)
    val frame = cosineFrame(spark, cents)
    val got = rowLocalChord(base, cents)
    assert(ab(got) == referenceAb(base, frame))
    assert(nearestOnly(got) == referenceDup(base, frame))
    val zero = bits(0.0)
    val nan = bits(Double.NaN)
    // argmax cosine over the numeric cosines picks cid 2; the clamped
    // distances tie and cid 1 wins
    assert(rowLocalAssign(base, cents.filter(_.cid != 6L))(1L) == 2L)
    assert(got(1L) == ((1L, zero, Some(2L), zero)))
    assert(got(2L) == ((1L, nan, Some(2L), nan)))
    // 0·NaN is no zero divisor: the zero vector's one distance is NaN
    assert(got.keySet == Set(1L, 2L, 3L, 5L, 6L))
    assert(got(3L) == ((6L, nan, None, None)))
    assert(got(5L)._1 == 5L && got(6L)._1 == 4L)
    // the zero centroid is nobody's nearest or runner-up; NaN loses to numbers
    assert(!got.values.exists(g => g._1 == 3L || g._3.contains(3L)))
    assert(Seq(1L, 5L, 6L).forall(id => got(id)._1 != 6L && !got(id)._3.contains(6L)))
    // one non-null distance: no runner-up, so silhouette's b is null
    val lone = Array(Centroid(1L, boxed(0.0, 0.0)), Centroid(2L, boxed(1.0, 0.0)),
      Centroid(3L, null))
    val lv = vectors(spark, Seq(1L -> boxed(0.0, 3.0), 2L -> boxed(0.0, 0.0)))
    val one = rowLocalChord(lv, lone)
    assert(ab(one) == referenceAb(lv, cosineFrame(spark, lone)))
    assert(one == Map(1L -> ((2L, bits(math.sqrt(2.0)), None, None))))
  }

  test("dupAssignment, silhouette and dbIndex: the chord ranking gives the " +
    "assignments of the former crossJoin forms, a zero vector included") {
    for (dir <- Seq(sf, zeroCatalog)) {
      val vecs = catalog(spark, dir)
      val cents = SimilarityQueries.kmeansCentroids(vecs, 16, SimilarityQueries.KmeansIters)
      val cells = SimilarityQueries.chordCells(spark, dir, 16)
      val got = ranked(cells)
      assert(ab(got) == referenceAb(vecs, cents))
      assert(got.size == vecs.count() - (if (dir == sf) 0 else 1))
      assert(got.values.exists(_._4.nonEmpty))
      val db = cells.select(col("vec_id"), col("cid"), round(col("score"), 6)).collect()
        .map(r => r.getLong(0) -> (r.getLong(1), bits(r.getAs[java.lang.Double](2)))).toMap
      assert(db == referenceDbAssign(vecs, cents))
      val (_, assigned) = SimilarityQueries.dupAssignment(spark, dir)
      val dup = assigned.select(col("vec_id"), col("cid"), col("cdist")).collect()
        .map(r => r.getLong(0) -> (r.getLong(1), bits(r.getAs[java.lang.Double](2)))).toMap
      GraftSqlBridge.dropCheckpoint(assigned)
      assert(dup == referenceDup(vecs, cents))
    }
  }

  /** The former split of rnnSplitFrames: the crossJoin + max_by cells, per
    * hot cell its md5-ordered seeds, the max_by resub over the seed join
    * and a left join, as vec_id → (cid, sub). */
  private def referenceSplit(dir: String): Map[Long, (Long, Int)] = {
    val vecs = catalog(spark, dir)
    val assigned = referenceCells(vecs, SimilarityQueries.semDedupK(vecs.count()))
    val hot = assigned.groupBy(col("cid")).agg(count(lit(1)).as("occ"))
      .filter(col("occ") > SimilarityQueries.RnnSplitBudget)
      .select(col("cid"), ceil(col("occ") / lit(SimilarityQueries.SemDedupCellTarget.toDouble))
        .cast("int").as("nsub"))
    val hotM = assigned.join(broadcast(hot), Seq("cid"))
    val wSeed = Window.partitionBy(col("cid"))
      .orderBy(md5(col("vec_id").cast("string")), col("vec_id"))
    val seeds = hotM.withColumn("srk", row_number().over(wSeed))
      .filter(col("srk") <= col("nsub"))
      .select(col("cid"), col("srk").as("sub"), col("v").as("sv"), col("nrm").as("sn"))
    val resub = hotM.join(broadcast(seeds), Seq("cid"))
      .select(col("vec_id"), col("sub"),
        Similarity.cosine(col("v"), col("sv"), col("nrm"), col("sn")).as("scos"))
      .groupBy(col("vec_id"))
      .agg(max_by(col("sub"), struct(col("scos"), -col("sub"))).as("sub"))
    assigned.join(resub, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cid"), coalesce(col("sub"), lit(0)))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getInt(2))).toMap
  }

  test("rnnSplitFrames: the seed fit keyed by cell gives the (cid, sub) " +
    "split of the former max_by resub, on the skewed catalog too") {
    for (dir <- Seq(sf, zeroCatalog, RnnSplitSpec.skewDir)) {
      val (split, assigned) = SimilarityQueries.rnnSplitFrames(spark, dir)
      val got = split.select(col("vec_id"), col("cid"), col("sub")).collect()
        .map(r => r.getLong(0) -> (r.getLong(1), r.getInt(2))).toMap
      GraftSqlBridge.dropCheckpoint(assigned)
      assert(got == referenceSplit(dir))
      // only the skewed catalog has a cell over the budget: 3 sub-cells
      val subs = got.values.map(_._2).toSet
      assert(subs == (if (dir == RnnSplitSpec.skewDir) Set(0, 1, 2, 3) else Set(0)))
    }
  }

  /** A nullable double's exact bits: NaN equals NaN, -0.0 differs from 0.0. */
  private def bits(d: java.lang.Double): Option[Long] =
    Option(d).map(x => java.lang.Double.doubleToLongBits(x))

  /** The former PQ assignment: crossJoin against the (cid, cv, cn2) frame,
    * argmin as min_by(struct(cid, d2), struct(d2, cid)). */
  private def referenceL2Assign(base: DataFrame, cents: DataFrame)
      : Map[Long, (Long, Option[Long])] =
    base.withColumn("vn2", Similarity.dot(col("v"), col("v")))
      .crossJoin(broadcast(cents))
      .withColumn("d2",
        (col("vn2") - lit(2.0) * Similarity.dot(col("v"), col("cv"))) + col("cn2"))
      .groupBy(col("vec_id"))
      .agg(min_by(struct(col("cid"), col("d2")), struct(col("d2"), col("cid"))).as("best"))
      .select(col("vec_id"), col("best.cid"), col("best.d2"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), bits(r.getAs[java.lang.Double](2)))).toMap

  private def rowLocalL2(base: DataFrame, cents: Array[Centroid])
      : Map[Long, (Long, Option[Long])] =
    base.select(col("vec_id"), SimilarityQueries.nearestCentroid(
        SquaredL2, Map(0 -> cents.sortBy(_.cid)))(lit(0), col("v")).as("n"))
      .select(col("vec_id"), col("n.cid"), col("n.score"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), bits(r.getAs[java.lang.Double](2)))).toMap

  private def l2Frame(s: SparkSession, cents: Array[Centroid]): DataFrame =
    LloydFit(SquaredL2, Map(0 -> cents)).frame(s)
      .select(col("cid"), col("cv"), col("norm").as("cn2"))

  test("nearestCentroid: squared-L2 argmin equals the crossJoin + min_by " +
    "argmin on catalog slices, with tied seeds") {
    val emb = graft.sources.Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    for (base <- Seq(emb, emb.select(col("vec_id"), slice(col("v"), 17, 16).as("v")))) {
      val seeds = base.filter(col("vec_id") < 16).collect()
        .map(r => Centroid(r.getLong(0), r.getSeq[java.lang.Double](1).toArray))
      val cents = seeds ++ Seq(Centroid(20L, seeds(3).cv), Centroid(21L, seeds(9).cv))
      val got = rowLocalL2(base, cents)
      assert(got == referenceL2Assign(base, l2Frame(spark, cents)))
      assert(got.values.map(_._1).toSet.intersect(Set(20L, 21L)).isEmpty)
      assert(got(3L)._1 == 3L && got(9L)._1 == 9L)
    }
  }

  test("nearestCentroid: squared-L2 argmin ranks NaN, null and -0.0 as " +
    "min_by orders them") {
    val cents = Array(
      Centroid(1L, boxed(0.0, 1.0)),
      Centroid(2L, boxed(1.0, 1.0)),
      Centroid(3L, boxed(1.0, 1.0)),            // duplicate of cid 2: ties
      Centroid(4L, boxed(-0.0, -2.0)),
      Centroid(5L, boxed(3.0, -0.0)))
    val vs = Seq(
      1L -> boxed(1.0, 1.0),                    // 2 and 3 tie at d² 0
      2L -> boxed(-0.0, -2.0),                  // -0.0 folds as 0.0
      3L -> boxed(3.0, 0.0),
      4L -> boxed(Double.NaN, 1.0),             // NaN d² everywhere
      5L -> boxed(1.0, 1.0, 7.0),               // longer vector: shorter fold
      6L -> Array[java.lang.Double](1.0, null), // null element: skipped
      7L -> null)                               // null vector: all null
    val base = vectors(spark, vs)
    val got = rowLocalL2(base, cents)
    assert(got == referenceL2Assign(base, l2Frame(spark, cents)))
    assert(got.map { case (id, (cid, _)) => id -> cid } ==
      Map(1L -> 2L, 2L -> 4L, 3L -> 5L, 4L -> 1L, 5L -> 2L, 6L -> 2L, 7L -> 1L))
    // a NaN centroid never beats a number; a null centroid's null d² beats
    // everything
    for ((extra, want) <- Seq(
        Centroid(8L, boxed(Double.NaN, 0.0)) -> got.map { case (id, (c, _)) => id -> c },
        Centroid(9L, null) -> (got.map { case (id, _) => id -> 9L } + (7L -> 1L)))) {
      val cs = cents :+ extra
      val more = rowLocalL2(base, cs)
      assert(more == referenceL2Assign(base, l2Frame(spark, cs)))
      assert(more.map { case (id, (cid, _)) => id -> cid } == want)
    }
  }

  /** The former PQ sub-codebook fitter: per round a crossJoin + min_by
    * assignment, a collect_list mean and a localCheckpoint. */
  private def referenceKmeansL2(sub: DataFrame, k: Int, iters: Int): DataFrame = {
    var cents = sub.filter(col("vec_id") < k)
      .select(col("vec_id").as("cid"), col("v").as("cv"),
        Similarity.dot(col("v"), col("v")).as("cn2"))
      .localCheckpoint()
    val base = sub.withColumn("vn2", Similarity.dot(col("v"), col("v")))
    for (_ <- 0 until iters) {
      val assigned = base.crossJoin(broadcast(cents))
        .withColumn("d2",
          (col("vn2") - lit(2.0) * Similarity.dot(col("v"), col("cv"))) + col("cn2"))
        .groupBy(col("vec_id"))
        .agg(min_by(struct(col("cid"), col("v")), struct(col("d2"), col("cid"))).as("best"))
        .select(col("best.cid").as("cid"), col("best.v").as("v"))
      val means = assigned
        .select(col("cid"), posexplode(col("v")).as(Seq("dim", "x")))
        .groupBy(col("cid"), col("dim")).agg(round(avg(col("x")), 6).as("m"))
        .groupBy(col("cid"))
        .agg(transform(array_sort(collect_list(struct(col("dim"), col("m")))),
          s => s.getField("m")).as("cv"))
      cents = cents.as("old")
        .join(means.as("nw"), Seq("cid"), "left")
        .select(col("cid"), coalesce(col("nw.cv"), col("old.cv")).as("cv"))
        .withColumn("cn2", Similarity.dot(col("cv"), col("cv")))
        .localCheckpoint()
    }
    cents
  }

  /** The former per-subspace PQ loop: each subspace fitted by
    * [[referenceKmeansL2]] and encoded by [[referenceL2Assign]]'s argmin. */
  private def referencePq(emb: DataFrame, slice: Int => Column)
      : (Map[(Int, Long), (Seq[java.lang.Double], Double)],
         Map[(Long, Int), (Long, Option[Long])]) = {
    val per = (0 until SimilarityQueries.PqSub).map { j =>
      val sub = emb.select(col("vec_id"), slice(j).as("v"))
      val cb = referenceKmeansL2(sub, SimilarityQueries.PqK, SimilarityQueries.KmeansIters)
      val codebook = cb.collect().map(r =>
        (j, r.getLong(0)) -> (r.getSeq[java.lang.Double](1), r.getDouble(2)))
      val codes = referenceL2Assign(sub, cb).map { case (id, code) => (id, j) -> code }
      (codebook, codes)
    }
    (per.flatMap(_._1).toMap, per.flatMap(_._2).toMap)
  }

  private def fitted(fit: (DataFrame, DataFrame))
      : (Map[(Int, Long), (Seq[java.lang.Double], Double)],
         Map[(Long, Int), (Long, Option[Long])]) =
    (fit._1.select("sub", "cid", "cv", "cn2").collect().map(r =>
        (r.getInt(0), r.getLong(1)) -> (r.getSeq[java.lang.Double](2), r.getDouble(3))).toMap,
      fit._2.select("vec_id", "sub", "code", "d2").collect().map(r =>
        (r.getLong(0), r.getInt(1)) -> (r.getLong(2), bits(r.getAs[java.lang.Double](3)))).toMap)

  test("pqFit and opqFit: the keyed fit gives the codebooks and codes of the " +
    "former per-subspace loop") {
    val emb = graft.sources.Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val d = SimilarityQueries.PqSubDim
    val pq = fitted(SimilarityQueries.pqFit(spark, sf))
    assert(pq == referencePq(emb, j => slice(col("v"), j * d + 1, d)))
    assert(pq._1.size == 4 * 16 && pq._2.size == 4 * emb.count())
    val alloc = SimilarityQueries.opqAllocate(spark, sf)
    val opq = fitted(SimilarityQueries.opqFit(spark, sf))
    assert(opq == referencePq(emb, j => array(alloc.filter(_.sub == j).sortBy(_.pos)
      .map(a => element_at(col("v"), a.dim)): _*)))
  }

  /** The former components loop: labels from a checkpointed distinct-node
    * frame, then per round a neighbour-min aggregate plus a separate
    * join + count() for convergence. */
  private def referenceLabels(edges: DataFrame): (Map[Long, Long], Vector[Long]) = {
    val s = edges.sparkSession
    import s.implicits._
    var labels = edges.select($"src".as("node")).distinct()
      .withColumn("comp", $"node").localCheckpoint()
    val counts = Vector.newBuilder[Long]
    var changed = 1L
    while (changed > 0) {
      val neighborMin = edges.join(labels, $"src" === $"node")
        .select($"dst".as("node"), $"comp")
      val next = labels.unionByName(neighborMin)
        .groupBy($"node").agg(min($"comp").as("comp")).localCheckpoint()
      changed = next.join(labels.withColumnRenamed("comp", "old"), "node")
        .filter($"comp" < $"old").count()
      counts += changed
      labels = next
    }
    (labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap, counts.result())
  }

  test("minLabels: same labels, rounds and per-round changes as the join + " +
    "count() loop on a long path") {
    val s = spark
    import s.implicits._
    // path 9-8-...-1 (diameter 8; node ids ordered so the min label walks
    // the whole path), a second path ordered the other way, and a triangle
    val paths = (1L until 9L).map(i => (i + 1, i)) ++
      (20L until 26L).map(i => (i, i + 1)) ++
      Seq((40L, 41L), (41L, 42L), (42L, 40L))
    val edges = paths.flatMap { case (a, b) => Seq((a, b), (b, a)) }
      .toDF("src", "dst").localCheckpoint()
    val (labels, rounds) = SimilarityQueries.minLabels(edges)
    val got = labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val (want, wantRounds) = referenceLabels(edges)
    assert(got == want)
    assert(rounds == wantRounds)
    assert(rounds.length >= 6 && rounds.last == 0L)
    assert(got.values.toSet == Set(1L, 20L, 40L))
    // an empty graph converges in one round to no labels, as before
    val none = edges.filter(lit(false))
    val (noLabels, noRounds) = SimilarityQueries.minLabels(none)
    assert(noLabels.count() == 0 && noRounds == referenceLabels(none)._2)
  }

  /** A (doc_a, doc_b) frame with the nullable long columns a parquet
    * doc_id gives. */
  private def pairFrame(s: SparkSession, pairs: Seq[(Long, Long)]): DataFrame = {
    val schema = new org.apache.spark.sql.types.StructType()
      .add("doc_a", "long").add("doc_b", "long")
    s.createDataFrame(java.util.Arrays.asList(
      pairs.map { case (a, b) => Row(a, b) }: _*), schema)
  }

  /** The driver's union-find components equal the executors' min-label
    * fixpoint over the same pairs: schema, rows and row order. */
  private def assertSameComponents(pairs: Seq[(Long, Long)]): Array[Row] = {
    val local = SimilarityQueries.unionFindComponents(spark, pairs)
    val propagated = SimilarityQueries.propagatedComponents(pairFrame(spark, pairs))
    assert(local.schema == propagated.schema)
    val got = local.collect()
    assert(got.toSeq == propagated.collect().toSeq)
    got
  }

  test("unionFindComponents: same labels as minLabels on a long path, on " +
    "seeded random graphs and on the empty graph") {
    val paths = (1L until 9L).map(i => (i + 1, i)) ++
      (20L until 26L).map(i => (i, i + 1)) ++
      Seq((40L, 41L), (41L, 42L), (42L, 40L))
    val got = assertSameComponents(paths)
    assert(got.map(_.getLong(1)).toSet == Set(1L, 20L, 40L))
    assert(got.filter(_.getBoolean(2)).map(_.getLong(0)).toSeq == Seq(1L, 20L, 40L))
    for (seed <- 1 to 4) {
      val rnd = new scala.util.Random(seed)
      // sparse enough to leave several components, plus a repeated pair,
      // its reverse and a self-loop
      val drawn = Seq.fill(40)((rnd.nextInt(60).toLong, rnd.nextInt(60).toLong))
      val edges = drawn ++ Seq(drawn.head, drawn.head.swap, (61L, 61L))
      val labels = assertSameComponents(edges)
      assert(labels.map(_.getLong(1)).distinct.length > 1)
    }
    assert(assertSameComponents(Seq.empty).isEmpty)
  }

  test("computeComponents: with cap 0 the executor fallback gives the same " +
    "frame as the driver labeling") {
    val local = SimilarityQueries.computeComponents(spark, Sf01)
    val fallback = SimilarityQueries.computeComponents(spark, Sf01, cap = 0)
    assert(local.queryExecution.analyzed.isInstanceOf[
      org.apache.spark.sql.catalyst.plans.logical.LocalRelation])
    assert(!fallback.queryExecution.analyzed.isInstanceOf[
      org.apache.spark.sql.catalyst.plans.logical.LocalRelation])
    assert(local.schema == fallback.schema)
    val rows = local.collect()
    assert(rows.toSeq == fallback.collect().toSeq)
    assert(rows.nonEmpty && rows.exists(!_.getBoolean(2)))
  }

  /** How many times `df`'s optimized plan evaluates a Scala UDF. */
  private def udfCalls(df: DataFrame): Int = udfCalls(df.queryExecution.optimizedPlan.toString)

  private def udfCalls(plan: String): Int = "UDF\\(".r.findAllIn(plan).length

  test("plan: a Lloyd round and the IVF-PQ residuals run the assignment " +
    "UDF once per row") {
    val emb = graft.sources.Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val fit = SimilarityQueries.lloyd(emb.select(lit(0).as("key"), col("vec_id"), col("v")),
      16, 0, SquaredL2)
    val round = SimilarityQueries.roundMeans(
      emb.select(lit(0).as("key"), col("vec_id"), col("v")), fit)
    assert(udfCalls(round) == 1, round.queryExecution.optimizedPlan.toString)
    val resid = SimilarityQueries.coarseResiduals(emb, fit)
    assert(udfCalls(resid) == 1, resid.queryExecution.optimizedPlan.toString)
  }

  /** The optimized plans of the actions the body runs in `s`,
    * checkpoints included, in the order they finished. */
  private def actionPlans(s: SparkSession)(body: => Unit): Seq[String] = {
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        plans.add(qe.optimizedPlan.toString)
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    // an earlier action's end event still queued on the bus would reach
    // the new listener too
    GraftSqlBridge.drainListeners(s)
    s.listenerManager.register(listener)
    try body
    finally {
      GraftSqlBridge.drainListeners(s)
      s.listenerManager.unregister(listener)
    }
    plans.asScala.toSeq
  }

  test("plan: embedDupCapped, silhouette, dbIndex and rnnPairs run the " +
    "assignment UDF once per scan") {
    // per action that runs the UDF, its calls: the assignment is one scan
    // of the catalog; rnnPairs's pair join scans the checkpointed
    // assignment twice, each with the sub-cell UDF
    val faces = Seq[(String, (SparkSession, String) => DataFrame, Seq[Int])](
      ("embedDupCapped", (s, d) => SimilarityQueries.embedDupCapped(s, d), Seq(1)),
      ("silhouette", SimilarityQueries.silhouette, Seq(1)),
      ("dbIndex", SimilarityQueries.dbIndex, Seq(1)),
      ("rnnPairs", SimilarityQueries.rnnPairs, Seq(1, 2)))
    val calls = faces.map { case (name, face, _) =>
      face(spark, sf).collect() // memoise the fit and the catalog count
      name -> actionPlans(spark)(face(spark, sf).collect()).map(p => udfCalls(p)).filter(_ > 0)
    }
    assert(calls == faces.map { case (name, _, want) => name -> want })
  }

  /** Jobs the body submits from this thread, counted by a listener on a
    * job group of its own. */
  private def jobsOf(s: SparkSession)(body: => Unit): Int = {
    val sc = s.sparkContext
    val group = "fitter-pin-" + java.util.UUID.randomUUID()
    val n = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group))
          n.incrementAndGet()
    }
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "fitter job pin")
    try body
    finally {
      sc.clearJobGroup()
      GraftSqlBridge.drainListeners(s)
      sc.removeSparkListener(listener)
    }
    n.get
  }

  test("job pin: kmeansCentroids(16, KmeansIters) at sf0.01") {
    val s = spark.newSession()
    val emb = graft.sources.Tables.embeddings(s, Sf01)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val jobs = jobsOf(s) {
      SimilarityQueries.kmeansCentroids(emb, 16, SimilarityQueries.KmeansIters)
    }
    // the seed collect, then per round the mean aggregate's shuffle map
    // stage and its collect; the crossJoin + checkpoint rounds ran 15
    assert(jobs <= 5, s"kmeansCentroids ran $jobs jobs")
  }

  test("job pin: pqFit in a fresh session at sf0.01") {
    val s = spark.newSession()
    val jobs = jobsOf(s)(SimilarityQueries.pqFit(s, Sf01))
    // the parquet schema read, the seed collect, per round the mean
    // aggregate's map stage and its collect, and the code checkpoint; the
    // per-subspace crossJoin + checkpoint loop on a driver thread pool ran 71
    assert(jobs <= 7, s"pqFit ran $jobs jobs")
  }

  test("job pin: dedupComponents in a fresh session at sf0.01") {
    val s = spark.newSession()
    val jobs = jobsOf(s)(SimilarityQueries.dedupComponents(s, Sf01))
    // the MinHash bands' checkpoint and stages, then one collect of the
    // verified pairs, labeled on the driver; the executor min-label rounds
    // with their edge, round and sorted-output checkpoints ran 18, and the
    // join + count() rounds before them 33
    assert(jobs <= 6, s"dedupComponents ran $jobs jobs")
  }

  test("job pin: gloveEmbed in a fresh session at sf0.01") {
    val s = spark.newSession()
    val jobs = jobsOf(s)(graft.queries.CorpusQueries.gloveEmbed(s, Sf01).collect())
    // the seed collect and the pair-grid collect, each re-running the
    // co-occurrence aggregate and the vocabulary cut (the pair grid's two
    // sides share one scan); the local result arrives sorted. The
    // per-round checkpoint loop ran 51, 14 while the pair grid scanned
    // the corpus twice, and 13 with a closing Spark sort
    assert(jobs <= 10, s"gloveEmbed ran $jobs jobs")
  }

  test("job pin: mmrRerank in a fresh session at sf0.01") {
    val s = spark.newSession()
    val jobs = jobsOf(s)(SimilarityQueries.mmrRerank(s, Sf01).collect())
    // the candidate-pool collect and the pairwise-cosine collect over its
    // local frame; the greedy rounds with their state and pick checkpoints
    // ran 32
    assert(jobs <= 6, s"mmrRerank ran $jobs jobs")
  }

  test("job pin: textrank in a fresh session at sf0.01") {
    val s = spark.newSession()
    val jobs = jobsOf(s)(graft.queries.TextQueries.textrank(s, Sf01).collect())
    // the capped edge collect (its window and aggregate stages) and the
    // closing sort over the local scores; the frac checkpoint and the
    // Spark rounds ran 15
    assert(jobs <= 5, s"textrank ran $jobs jobs")
  }

  test("job pin: markovSteady in a fresh session at sf0.01") {
    val s = spark.newSession()
    val jobs = jobsOf(s)(graft.queries.AnalyticQueries.markovSteady(s, Sf01).collect())
    // the transition-count checkpoint (user window and count) and the
    // collect of its rows; the transition matrix built in Spark (state
    // distinct, absorbing anti-join, row totals) and the closing sort ran
    // 12, the 20-round join chain 74
    assert(jobs <= 5, s"markovSteady ran $jobs jobs")
  }

  for ((name, face) <- Seq[(String, (SparkSession, String) => DataFrame)](
      "pagerank" -> graft.queries.GraphQueries.pagerank,
      "hits" -> graft.queries.GraphQueries.hits,
      "labelProp" -> graft.queries.GraphQueries.labelProp,
      "coreness" -> graft.queries.GraphQueries.coreness))
    test(s"job pin: $name in a fresh session at sf0.01") {
      val s = spark.newSession()
      val jobs = jobsOf(s)(face(s, Sf01).collect())
      // the trade-edge collect (the fact-table joins and aggregate) and
      // the nation collect; the local result arrives in node order. The
      // per-round Spark plans over edge checkpoints ran 30 (pagerank), 37
      // (hits), 31 (labelProp) and 32 (coreness)
      assert(jobs <= 11, s"$name ran $jobs jobs")
    }

  test("job pin: embedPca in a fresh session at sf0.01") {
    val s = spark.newSession()
    val jobs = jobsOf(s)(graft.queries.CorpusQueries.embedPca(s, Sf01).collect())
    // the Gram aggregate's stages and the collect of its 2080 rows; the
    // mirrored-matrix checkpoint and the join rounds with their closing
    // sort ran 16
    assert(jobs <= 5, s"embedPca ran $jobs jobs")
  }

  test("job pin: unigramTok in a fresh session at sf0.01") {
    val s = spark.newSession()
    val jobs = jobsOf(s)(graft.queries.CorpusQueries.unigramTok(s, Sf01).collect())
    // the word-histogram checkpoint, the seed collect, and per round the
    // Viterbi usage aggregate's map stage and its collect; the local
    // inventory arrives sorted. The per-round counts checkpoints ran 23,
    // and 15 with a closing Spark sort
    assert(jobs <= 12, s"unigramTok ran $jobs jobs")
  }

  test("job pin: bpeTrain in a fresh session at sf0.01") {
    val s = spark.newSession()
    val jobs = jobsOf(s)(graft.queries.CorpusQueries.bpeTrain(s, Sf01).collect())
    // the base segmentation checkpoint, then per merge the pair count's
    // two aggregate stages and the argmax collect; the per-round best and
    // vocab checkpoints ran 46
    assert(jobs <= 27, s"bpeTrain ran $jobs jobs")
  }
}
