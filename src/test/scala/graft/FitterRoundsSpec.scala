package graft

import graft.functions.Similarity
import graft.queries.SimilarityQueries
import graft.queries.SimilarityQueries.{Centroid, centroidFrame}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, GraftSqlBridge, Row, SparkSession}
import org.apache.spark.sql.functions._

/** The two job-count-bound fitters, one Spark action per round: parity of
  * the row-local k-means argmax and of the in-round components convergence
  * against the former crossJoin + max_by assignment and join + count()
  * loop (kept here as references), and listener-counted job pins. */
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

  private def rowLocalAssign(base: DataFrame, cents: Array[Centroid],
                             ansi: Boolean): Map[Long, Long] =
    base.select(col("vec_id"),
        SimilarityQueries.nearestCentroid(cents.sortBy(_.cid), ansi)(col("v"), col("vn")))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

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
    val got = rowLocalAssign(base, cents, ansi = true)
    assert(got == referenceAssign(base, centroidFrame(spark, cents.toSeq)))
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
    val got = rowLocalAssign(base, cents, ansi = true)
    assert(got == referenceAssign(base, centroidFrame(spark, cents.toSeq)))
    assert(got == Map(1L -> 3L, 2L -> 1L, 3L -> 5L, 4L -> 1L, 5L -> 3L, 6L -> 1L))
    // a NaN centroid outranks every finite cosine
    val withNan = cents :+ Centroid(7L, boxed(Double.NaN, 0.0))
    val nan = rowLocalAssign(base, withNan, ansi = true)
    assert(nan == referenceAssign(base, centroidFrame(spark, withNan.toSeq)))
    assert(nan - 6L == Map(1L -> 7L, 2L -> 7L, 3L -> 7L, 4L -> 1L, 5L -> 7L))
  }

  test("nearestCentroid: a zero vector fails under ANSI and ranks lowest " +
    "without it, as the SQL division does") {
    val cents = Array(Centroid(1L, boxed(1.0, 0.0)), Centroid(2L, boxed(0.0, 1.0)))
    val vs = Seq(1L -> boxed(0.0, 0.0), 2L -> boxed(0.0, 3.0))
    val ansiBase = vectors(spark, vs)
    intercept[Exception](referenceAssign(ansiBase, centroidFrame(spark, cents.toSeq)))
    intercept[Exception](rowLocalAssign(ansiBase, cents, ansi = true))
    val lax = spark.newSession()
    lax.conf.set("spark.sql.ansi.enabled", "false")
    val base = vectors(lax, vs)
    val got = rowLocalAssign(base, cents, ansi = false)
    assert(got == referenceAssign(base, centroidFrame(lax, cents.toSeq)))
    assert(got == Map(1L -> 1L, 2L -> 2L))
    // a zero centroid: its cosine is null for every vector
    val zero = Array(Centroid(1L, boxed(0.0, 0.0)), Centroid(2L, boxed(1.0, 1.0)))
    val zgot = rowLocalAssign(base, zero, ansi = false)
    assert(zgot == referenceAssign(base, centroidFrame(lax, zero.toSeq)))
    assert(zgot == Map(1L -> 1L, 2L -> 2L))
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

  test("job pin: dedupComponents in a fresh session at sf0.01") {
    val s = spark.newSession()
    val jobs = jobsOf(s)(SimilarityQueries.dedupComponents(s, Sf01))
    // MinHash pairs, the edge checkpoint, one checkpoint per round and the
    // sorted output; the join + count() rounds ran 33
    assert(jobs <= 18, s"dedupComponents ran $jobs jobs")
  }
}
