package graft

import graft.queries.{AnalyticQueries, SimilarityQueries, TextQueries}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-11 operators: Markov steady state, chi-square independence,
  * Welch t-test, takedown cascade, MMR diversified retrieval. The DuckDB
  * oracles pin exact values; these specs pin the mathematical invariants
  * that make the numbers MEANINGFUL (mass conservation, margin identities,
  * diversification) so a future refactor can't keep the hash while
  * breaking the semantics.
  */
class StatsMmrSpec extends SparkSpec {
  private val sql = SparkSpec.spark
  import sql.implicits._

  test("markovSteady: a probability distribution — nonnegative, sums to 1 " +
    "within the 6-dp iteration drift, covers every observed event type") {
    val rows = AnalyticQueries.markovSteady(spark, sf).collect()
    val types = graft.sources.Tables.events(spark, sf)
      .select($"event_type").distinct().count()
    assert(rows.length == types)
    val mass = rows.map(_.getDouble(1)).sum
    rows.foreach(r => assert(r.getDouble(1) >= 0.0))
    // each of the 20 rounds can lose/gain <= k*1e-6 to the rounding grid
    assert(math.abs(mass - 1.0) < 1e-3, s"stationary mass $mass")
  }

  test("markovSteady: fixpoint of the transition matrix — one more power " +
    "step moves no state by more than the rounding grid allows") {
    val pi = AnalyticQueries.markovSteady(spark, sf)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val tr = AnalyticQueries.eventTransitions(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1), r.getDouble(3)))
    val next = tr.groupBy(_._2).map { case (to, es) =>
      to -> es.map { case (f, _, p) => pi.getOrElse(f, 0.0) * p }.sum
    }
    pi.foreach { case (st, p) =>
      assert(math.abs(next.getOrElse(st, 0.0) - p) < 1e-3,
        s"state $st not stationary: $p vs ${next.getOrElse(st, 0.0)}")
    }
  }

  /** The former transition-count artifact: the user lead window and count. */
  private def referenceCounts(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
    graft.sources.Tables.events(spark, dir)
      .select($"user_id", $"event_type", $"ts", $"event_id")
      .withColumn("to_type", lead($"event_type", 1).over(w))
      .groupBy($"event_type".as("from_type"), $"to_type")
      .agg(count(lit(1)).as("n"))
  }

  /** The former eventTransitions: a per-source window total over the
    * counts, closed by a Spark sort. */
  private def referenceTransitions(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    referenceCounts(spark, dir).filter($"to_type".isNotNull)
      .withColumn("tot", sum($"n").over(Window.partitionBy($"from_type")))
      .select($"from_type", $"to_type", $"n",
        round($"n".cast("double") / $"tot".cast("double"), 6).as("p"))
      .orderBy($"from_type", $"to_type")
  }

  /** The former markovSteady: the rounds as Spark frames over the
    * checkpointed transition and state frames, closed by the same sort. */
  private def referenceMarkov(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val art = referenceCounts(spark, dir).localCheckpoint()
    val raw = art.filter($"to_type".isNotNull)
    val states = art.select($"from_type".as("st")).distinct().localCheckpoint()
    val noOut = states
      .join(raw.select($"from_type").distinct(),
        $"st" === $"from_type", "left_anti")
      .select($"st".as("from_type"), $"st".as("to_type"), lit(1L).as("n"))
    val tr = raw.unionByName(noOut)
      .withColumn("tot", sum($"n").over(Window.partitionBy($"from_type")))
      .select($"from_type", $"to_type",
        round($"n".cast("double") / $"tot".cast("double"), 6).as("p"))
      .localCheckpoint()
    var pi = states
      .withColumn("pi",
        round(lit(1.0) / count(lit(1)).over(Window.partitionBy()), 6)
          .cast("decimal(18,6)"))
    for (_ <- 1 to AnalyticQueries.MarkovIters) {
      val next = tr.join(pi.hint("broadcast"), $"st" === $"from_type")
        .select($"to_type",
          round($"pi".cast("double") * $"p", 6).cast("decimal(28,6)").as("c"))
        .groupBy($"to_type").agg(sum($"c").as("m"))
      pi = states.join(next.hint("broadcast"), $"st" === $"to_type", "left")
        .select($"st",
          coalesce($"m", lit(0)).cast("decimal(18,6)").as("pi"))
    }
    pi.select($"st".as("event_type"), $"pi".cast("double").as("pi"))
      .orderBy($"event_type")
  }

  private def bits(df: DataFrame): Seq[(String, Long)] =
    df.collect().toSeq.map(r =>
      (r.getString(0), java.lang.Double.doubleToRawLongBits(r.getDouble(1))))

  private lazy val sf01 = java.nio.file.Paths.get(sf).resolveSibling("sf0.01").toString

  test("markovSteady: the driver rounds give the former Spark loop's rows, " +
    "bit for bit, on sf0.001 and sf0.01") {
    for (dir <- Seq(sf, sf01)) {
      val local = AnalyticQueries.markovSteady(spark, dir)
      assert(local.queryExecution.analyzed.collectFirst {
        case r: org.apache.spark.sql.catalyst.plans.logical.LocalRelation => r
      }.nonEmpty, dir)
      assert(local.schema.map(f => f.name -> f.dataType.simpleString) ==
        Seq("event_type" -> "string", "pi" -> "double"), dir)
      val got = bits(local)
      assert(got.length == 5, dir)
      assert(got == bits(referenceMarkov(spark, dir)), dir)
    }
  }

  test("markovSteady: an absorbing state self-loops and takes the mass, as " +
    "in the former Spark loop") {
    val dir = java.nio.file.Files.createTempDirectory("graft-markov").toString
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    def at(m: Int) = new java.sql.Timestamp(t0.getTime + m * 60000L)
    // "z" only ever ends a stream: no observed out-transition
    Seq((1L, "a", at(0), 1L), (1L, "b", at(1), 2L), (1L, "z", at(2), 3L),
        (2L, "b", at(0), 4L), (2L, "a", at(1), 5L), (2L, "z", at(2), 6L),
        (3L, "a", at(0), 7L), (3L, "b", at(1), 8L))
      .toDF("user_id", "event_type", "ts", "event_id")
      .coalesce(1).write.parquet(s"$dir/events.parquet")
    val got = bits(AnalyticQueries.markovSteady(spark, dir))
    assert(got == bits(referenceMarkov(spark, dir)))
    val pi = got.map { case (st, b) => st -> java.lang.Double.longBitsToDouble(b) }.toMap
    assert(pi.keySet == Set("a", "b", "z"))
    assert(pi("z") > 0.99 && pi("a") < 0.01 && pi("b") < 0.01, s"$pi")
  }

  /** An events table of `streams`, each user's event types in time order. */
  private def eventsDir(streams: Seq[Seq[String]]): String = {
    val dir = java.nio.file.Files.createTempDirectory("graft-events").toString
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00").getTime
    streams.zipWithIndex.flatMap { case (types, u) =>
      types.zipWithIndex.map { case (t, i) =>
        (u.toLong, t, new java.sql.Timestamp(t0 + i * 60000L), u * 100L + i)
      }
    }.toDF("user_id", "event_type", "ts", "event_id")
      .coalesce(1).write.parquet(s"$dir/events.parquet")
    dir
  }

  test("eventTransitions: P built on the driver gives the former window " +
    "plan's rows in its order, bit for bit — sf0.001, sf0.01 and a null " +
    "event type") {
    val nulls = eventsDir(Seq(Seq("a", null, "b", "a"), Seq(null, "a", null), Seq("b")))
    for (dir <- Seq(sf, sf01, nulls)) {
      val local = AnalyticQueries.eventTransitions(spark, dir)
      assert(local.queryExecution.analyzed.collectFirst {
        case r: org.apache.spark.sql.catalyst.plans.logical.LocalRelation => r
      }.nonEmpty, dir)
      val reference = referenceTransitions(spark, dir)
      assert(local.schema.map(f => f.name -> f.dataType) ==
        reference.schema.map(f => f.name -> f.dataType), dir)
      val got = local.collect().toSeq.map(r =>
        (r.getString(0), r.getString(1), r.getLong(2), java.lang.Double.doubleToRawLongBits(r.getDouble(3))))
      assert(got == reference.collect().toSeq.map(r =>
        (r.getString(0), r.getString(1), r.getLong(2), java.lang.Double.doubleToRawLongBits(r.getDouble(3)))), dir)
      if (dir == nulls) assert(got.count(_._1 == null) == 2, got)
    }
  }

  test("eventTransitions and markovSteady: more transitions than the event " +
    "types bound fail with an error that names the site") {
    // every ordered pair of 8 types, plus each stream's end: 72 count rows
    val types = ('a' to 'h').map(_.toString)
    val dir = eventsDir(for (x <- types; y <- types) yield Seq(x, y))
    val bound = (AnalyticQueries.EventTypes.length + 1) * (AnalyticQueries.EventTypes.length + 1)
    for (face <- Seq[(SparkSession, String) => DataFrame](
        AnalyticQueries.eventTransitions, AnalyticQueries.markovSteady)) {
      val e = intercept[IllegalStateException](face(spark, dir))
      assert(e.getMessage.startsWith(s"event transitions: more than $bound rows"), e.getMessage)
    }
  }

  test("Bounded.StringOrder: the driver sorts strings as Spark's ascending " +
    "order does — UTF-8 bytes, nulls first") {
    // U+E000 and U+FFFD sort before a supplementary character in UTF-16
    // (surrogates are 0xD800..0xDFFF) but after it in UTF-8
    val xs = Seq("b", null, "", "a", "\uE000", "\uD83D\uDE00", "\uFFFD", "Z",
      "\u00e9", "ab", "a\u0000", null)
    val viaSpark = xs.toDF("s").orderBy($"s").collect().map(_.getString(0)).toSeq
    assert(xs.sorted(graft.queries.Bounded.StringOrder) == viaSpark)
    assert(xs.filter(_ != null).sorted != viaSpark.filter(_ != null),
      "the cases must tell UTF-8 from UTF-16 order")
  }

  test("chi2Assoc: margin identity — per-lang expected mass equals " +
    "observed lang totals; contributions are nonnegative") {
    val rows = AnalyticQueries.chi2Assoc(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach(r => assert(r.getDouble(4) >= 0.0))
    // sum of expected over observed cells of a lang == lang total only when
    // the lang spans every source; check the weaker global identity instead
    val obsTot = rows.map(_.getLong(2)).sum
    val expTot = rows.map(_.getDouble(3)).sum
    // expected sums to n minus the mass of unobserved (zero) cells; with
    // dense lang×source occupancy at sf0.001 the gap is small
    assert(expTot <= obsTot + 1e-6)
  }

  test("welchTTest: group accounting and sign — n1+n2 is the corpus, " +
    "t_stat sign matches the mean difference, dof within Welch bounds") {
    val rows = AnalyticQueries.welchTTest(spark, sf).collect()
    val total = graft.sources.Tables.events(spark, sf).count()
    rows.foreach { r =>
      val (n1, n2) = (r.getLong(1), r.getLong(2))
      val (m1, m2) = (r.getDouble(3), r.getDouble(4))
      val (t, dof) = (r.getDouble(7), r.getDouble(8))
      assert(n1 + n2 == total)
      assert(t.sign == (m1 - m2).sign || t == 0.0)
      // Welch dof lies between min(n1,n2)-1 and n1+n2-2
      assert(dof >= math.min(n1, n2) - 1.0 && dof <= n1 + n2 - 2.0)
    }
  }

  test("takedownScrub: per-source accounting closes — removed+kept=total, " +
    "cascaded vectors never exceed removed docs, and a banned fingerprint " +
    "really spans >= 2 sources") {
    val rows = TextQueries.takedownScrub(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getLong(2) + r.getLong(3) == r.getLong(1))
      assert(r.getLong(4) <= r.getLong(2))
    }
    // cross-check the ban rule against dedupExact: every fp the scrub
    // removes has copies in >= 2 sources
    val docs = graft.sources.Tables.documents(spark, sf)
      .select($"doc_id", $"source",
        graft.functions.Text.fingerprint($"text").as("fp"))
    val spans = docs.groupBy($"fp")
      .agg(countDistinct($"source").as("ns"))
    val removedTotal = rows.map(_.getLong(2)).sum
    val expected = docs.join(spans.filter($"ns" >= 2), "fp").count()
    assert(removedTotal == expected)
  }

  test("mmrRerank: 5 per query, first pick is the top-1 cosine neighbor, " +
    "every later pick trades relevance for diversity (score <= λ·cos)") {
    val mmr = SimilarityQueries.mmrRerank(spark, sf).collect()
    val knn = SimilarityQueries.knnCosine(spark, sf).collect()
      .filter(_.getInt(3) == 1)
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val byQ = mmr.groupBy(_.getLong(0))
    byQ.foreach { case (q, rs) =>
      assert(rs.length == SimilarityQueries.MmrK)
      val first = rs.minBy(_.getInt(1))
      assert(first.getLong(2) == knn(q),
        s"query $q first MMR pick must equal top-1 kNN")
      rs.foreach { r =>
        val (cos, sc) = (r.getDouble(3), r.getDouble(4))
        // sc = λ·cos − (1−λ)·msim with msim ∈ [−1, 1] (negative similarity
        // is REWARDED — the diversity term can push sc above λ·cos)
        assert(math.abs(sc - SimilarityQueries.MmrLambda * cos)
          <= (1.0 - SimilarityQueries.MmrLambda) + 1e-9)
      }
      // no duplicate picks
      assert(rs.map(_.getLong(2)).distinct.length == rs.length)
    }
  }

  test("mmrRerank matches an independent plain-Scala greedy twin exactly " +
    "(selection order and scores)") {
    val lam = SimilarityQueries.MmrLambda
    val emb = graft.sources.Tables.embeddings(spark, sf)
      .select($"vec_id", $"embedding".cast("array<double>").as("v"))
      .collect().map(r => r.getLong(0) ->
        r.getSeq[Double](1).toArray).toMap
    def r6(x: Double): Double =
      // valueOf (shortest-repr), the rounding Spark's Round performs —
      // NOT the exact binary expansion BigDecimal(x) would use
      java.math.BigDecimal.valueOf(x)
        .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
    def cos(a: Array[Double], b: Array[Double]): Double = {
      // sequential fold, the engine's ArrayOps.dotProduct order
      var (d, na, nb, i) = (0.0, 0.0, 0.0, 0)
      while (i < a.length) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    val ids = emb.keys.toSeq.sorted
    val expected = (0L until 10L).flatMap { q =>
      val pool = ids.filter(_ != q)
        .map(c => (c, r6(cos(emb(q), emb(c)))))
        .sortBy { case (c, s) => (-s, c) }
        .take(SimilarityQueries.MmrCandidates)
      var selected = Vector.empty[(Long, Double, Double)] // (cid, cos, score)
      for (r <- 1 to SimilarityQueries.MmrK) {
        val remaining = pool.filterNot(c => selected.exists(_._1 == c._1))
        val scored = remaining.map { case (c, s) =>
          val sc = if (selected.isEmpty) lam * s
            else lam * s - (1.0 - lam) *
              selected.map(t => r6(cos(emb(c), emb(t._1)))).max
          (c, s, sc)
        }
        selected :+= scored.minBy { case (c, _, sc) => (-sc, c) }
      }
      selected.zipWithIndex.map { case ((c, s, sc), i) => (q, i + 1, c, s, sc) }
    }
    val got = SimilarityQueries.mmrRerank(spark, sf).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3),
        r.getDouble(4)))
      .sortBy(t => (t._1, t._2))
    assert(got.length == expected.length)
    got.zip(expected).foreach { case (g, e) =>
      assert(g._1 == e._1 && g._2 == e._2 && g._3 == e._3,
        s"pick mismatch: got $g expected $e")
      assert(math.abs(g._4 - e._4) < 1e-9 && math.abs(g._5 - e._5) < 1e-9,
        s"score mismatch: got $g expected $e")
    }
  }

  test("rnnPairs matches a plain-Scala reciprocal-top-5 twin built from " +
    "the oracle-checked fitted centroids") {
    def r6(x: Double): Double =
      java.math.BigDecimal.valueOf(x)
        .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
    def dot(a: Array[Double], b: Array[Double]): Double = {
      var (d, i) = (0.0, 0); while (i < a.length) { d += a(i) * b(i); i += 1 }; d
    }
    val emb = graft.sources.Tables.embeddings(spark, sf)
      .select($"vec_id", $"embedding".cast("array<double>").as("v"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    // at sf0.001 the scaled k collapses to the fixed 16-centroid fit, so
    // the oracle-checked kmeansProfile face exposes the same quantizer
    val cents = SimilarityQueries.kmeansProfile(spark, sf).collect()
      .groupBy(_.getLong(0))
      .map { case (cid, rs) =>
        cid -> rs.sortBy(_.getInt(1)).map(_.getDouble(2)).toArray
      }
    val nrm = emb.view.mapValues(v => math.sqrt(dot(v, v))).toMap
    val cn = cents.view.mapValues(c => math.sqrt(dot(c, c))).toMap
    val assign = emb.map { case (id, v) =>
      id -> cents.keys.toSeq
        .map(c => (c, dot(v, cents(c)) / (nrm(id) * cn(c))))
        .minBy { case (c, s) => (-s, c) }._1
    }
    val byCluster = assign.groupBy(_._2).view.mapValues(_.keys.toSeq)
    val top = byCluster.values.flatMap { ids =>
      ids.flatMap { a =>
        ids.filter(_ != a)
          .map(b => (a, b, r6(dot(emb(a), emb(b)) / (nrm(a) * nrm(b)))))
          .sortBy { case (_, b, c) => (-c, b) }
          .take(SimilarityQueries.RnnK).zipWithIndex
          .map { case ((_, b, c), i) => (a, b) -> (c, (i + 1).toLong) }
      }
    }.toMap
    val expected = top.collect {
      case ((a, b), (c, rab)) if a < b && top.contains((b, a)) =>
        (a, b, c, rab, top((b, a))._2)
    }.toSeq.sortBy(t => (t._1, t._2))
    val got = SimilarityQueries.rnnPairs(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3),
        r.getLong(4)))
      .sortBy(t => (t._1, t._2))
    assert(got.nonEmpty && got.toSeq == expected,
      s"got ${got.length} pairs, expected ${expected.length}")
  }
}
