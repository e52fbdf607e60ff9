package graft

import graft.queries.{AnalyticQueries, CorpusQueries, GraphQueries}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-6 operators: weighted PageRank, SCD2 interval compaction, KS
  * drift, power-iteration PCA, interpolated bigram LM. Value-level parity
  * is the DuckDB oracle (tools/check.py); these pin the semantic
  * invariants the oracle can't phrase. */
class GraphStatsSpec extends SparkSpec {
  private val sql = SparkSpec.spark
  import sql.implicits._

  test("pagerank: one row per nation, mass conserved, teleport floor") {
    val rows = GraphQueries.pagerank(spark, sf).collect()
    assert(rows.length == 25, "one rank per nation")
    val mass = rows.map(_.getDouble(2)).sum
    // no dangling nodes in a complete order book -> total mass stays 1 up
    // to the 6-dp per-node rounding (|err| <= 25e-6 per iteration)
    assert(math.abs(mass - 1.0) < 1e-3, s"rank mass $mass drifted from 1")
    rows.foreach(r => assert(r.getDouble(2) >= GraphQueries.Teleport - 1e-9,
      s"node ${r.get(0)} below the teleport floor"))
  }

  test("scd2Intervals: contiguous versions, alternating types, one current row per user") {
    val runs = AnalyticQueries.scd2Intervals(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2),
        r.getTimestamp(3), if (r.isNullAt(4)) null else r.getTimestamp(4),
        r.getLong(5), r.getBoolean(6)))
    val nEvents = graft.sources.Tables.events(spark, sf).count()
    assert(runs.map(_._6).sum == nEvents, "version rows must partition the event stream")
    runs.groupBy(_._1).foreach { case (u, rs) =>
      val seq = rs.sortBy(_._2)
      assert(seq.map(_._2).toSeq == (1L to seq.length).toSeq, s"user $u seq gap")
      seq.sliding(2).foreach {
        case Array(a, b) =>
          assert(a._3 != b._3, s"user $u: adjacent runs share type ${a._3}")
          assert(a._5 == b._4, s"user $u: interval gap at seq ${a._2}")
        case _ =>
      }
      assert(seq.count(_._7) == 1, s"user $u: exactly one current version")
      assert(seq.last._7 && seq.last._5 == null, s"user $u: open tail version")
    }
  }

  test("ksDrift: matches a driver-side exact ECDF replay") {
    val out = AnalyticQueries.ksDrift(spark, sf).collect()
    assert(out.length == 1)
    val (nA, nB, stat, at) = (out(0).getLong(0), out(0).getLong(1),
      out(0).getDouble(2), out(0).getDouble(3))
    val ev = graft.sources.Tables.events(spark, sf)
      .select($"ts", $"value").collect()
      .map(r => (r.getTimestamp(0).getTime, r.getDouble(1)))
    val t0 = ev.map(_._1).min
    val cut = t0 + AnalyticQueries.KsSplitDays * 86400000L
    val a = ev.filter(_._1 < cut).map(_._2)
    val b = ev.filter(_._1 >= cut).map(_._2)
    assert(nA == a.length && nB == b.length)
    val values = ev.map(_._2).distinct.sorted
    def ecdf(xs: Array[Double])(v: Double) = xs.count(_ <= v).toDouble / xs.length
    val gaps = values.map(v => v -> math.abs(ecdf(a)(v) - ecdf(b)(v)))
    val mx = gaps.map(_._2).max
    assert(stat == math.rint(mx * 1e6) / 1e6, s"ks $stat != replay $mx")
    assert(at == gaps.filter(_._2 == mx).map(_._1).min, "leftmost argmax")
    assert(stat > 0.0 && stat <= 1.0)
  }

  test("embedPca: unit loading vector, positive dominant eigenvalue") {
    val rows = CorpusQueries.embedPca(spark, sf).collect()
    assert(rows.length == CorpusQueries.GramDims)
    val norm = math.sqrt(rows.map(r => r.getDouble(1) * r.getDouble(1)).sum)
    assert(math.abs(norm - 1.0) < 1e-4, s"loading norm $norm not unit")
    val lambdas = rows.map(_.getDouble(2)).distinct
    assert(lambdas.length == 1 && lambdas(0) > 0.0, "one positive eigenvalue estimate")
  }

  /** The former embedPca: the rounds as Spark frames over the mirrored
    * Gram matrix checkpointed once, closed by the same sort. */
  private def referencePca(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val fx2 = graft.functions.Linalg.GramFxScale * graft.functions.Linalg.GramFxScale
    val upper = CorpusQueries.embedGram(spark, dir).select($"i", $"j", $"g_fx")
    val full = upper
      .union(upper.filter($"i" =!= $"j").select($"j".as("i"), $"i".as("j"), $"g_fx"))
      .select($"i", $"j", ($"g_fx" / lit(fx2)).as("g"))
      .localCheckpoint()
    var v = spark.range(CorpusQueries.GramDims)
      .select($"id".as("j"), expr("CAST(0.125 AS DECIMAL(18,6))").as("vj"))
    var last: DataFrame = null
    for (_ <- 1 to CorpusQueries.PcaIters) {
      val u = full.join(v.hint("broadcast"), "j")
        .select($"i", round($"g" * $"vj".cast("double"), 6)
          .cast("decimal(28,6)").as("t"))
        .groupBy($"i").agg(sum($"t").as("ui"))
      last = u
        .withColumn("n2",
          sum(round($"ui".cast("double") * $"ui".cast("double"), 6)
            .cast("decimal(38,6)"))
            .over(Window.partitionBy()))
        .select($"i".as("j"), $"n2",
          round($"ui".cast("double") / sqrt($"n2".cast("double")), 6)
            .cast("decimal(18,6)").as("vj"))
      v = last.select($"j", $"vj")
    }
    last.select($"j".as("dim"), $"vj".cast("double").as("loading"),
        round(sqrt($"n2".cast("double")), 6).as("lambda"))
      .orderBy($"dim")
  }

  private def bits(df: DataFrame): Seq[(Long, Long, Long)] =
    df.collect().toSeq.map(r => (r.getLong(0),
      java.lang.Double.doubleToRawLongBits(r.getDouble(1)),
      java.lang.Double.doubleToRawLongBits(r.getDouble(2))))

  test("embedPca: the driver rounds give the former Spark loop's rows, bit " +
    "for bit, on sf0.001 and sf0.01") {
    for (dir <- Seq(sf, java.nio.file.Paths.get(sf).resolveSibling("sf0.01").toString)) {
      val local = CorpusQueries.embedPca(spark, dir)
      assert(local.queryExecution.analyzed.collectFirst {
        case r: org.apache.spark.sql.catalyst.plans.logical.LocalRelation => r
      }.nonEmpty, dir)
      assert(local.schema.map(f => f.name -> f.dataType.simpleString) ==
        Seq("dim" -> "bigint", "loading" -> "double", "lambda" -> "double"), dir)
      val got = bits(local)
      assert(got.length == CorpusQueries.GramDims, dir)
      assert(got == bits(referencePca(spark, dir)), dir)
    }
  }

  test("embedPca: an all-zero embedding table gives zero loadings and a zero " +
    "eigenvalue, where the former loop divided by zero") {
    val dir = java.nio.file.Files.createTempDirectory("graft-pca-zero").toString
    graft.sources.Tables.embeddings(spark, sf)
      .withColumn("embedding", transform($"embedding", x => x - x))
      .write.parquet(s"$dir/embeddings.parquet")
    val rows = CorpusQueries.embedPca(spark, dir).collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2))).toSeq
    assert(rows == (0 until CorpusQueries.GramDims).map(d => (d.toLong, 0.0, 0.0)))
    val e = intercept[Exception](referencePca(spark, dir).collect())
    assert(e.getMessage.contains("DIVIDE_BY_ZERO"), e.getMessage)
  }

  test("funnel: stages shrink monotonically, conversions consistent") {
    val rows = AnalyticQueries.funnel(spark, sf).collect()
    assert(rows.length == AnalyticQueries.FunnelStages.length)
    val n = rows.map(_.getLong(2))
    assert(n.sliding(2).forall { case Array(a, b) => b <= a; case _ => true },
      s"funnel grew: ${n.toSeq}")
    assert(rows(0).isNullAt(3), "stage 1 has no previous stage")
    rows.tail.zipWithIndex.foreach { case (r, i) =>
      val expectPrev = math.rint(n(i + 1).toDouble / n(i).toDouble * 1e6) / 1e6
      val expectFirst = math.rint(n(i + 1).toDouble / n(0).toDouble * 1e6) / 1e6
      assert(r.getDouble(3) == expectPrev && r.getDouble(4) == expectFirst)
    }
  }

  test("cohortRetention: week-0 retention is exactly 1, actives bounded by cohort") {
    val rows = AnalyticQueries.cohortRetention(spark, sf).collect()
    assert(rows.nonEmpty)
    val zeroWeeks = rows.filter(_.getLong(1) == 0L)
    assert(zeroWeeks.nonEmpty, "every cohort is active in its own first week")
    zeroWeeks.foreach { r =>
      assert(r.getLong(2) == r.getLong(3) && r.getDouble(4) == 1.0,
        s"cohort ${r.get(0)}: first-week retention must be 1")
    }
    rows.foreach(r => assert(r.getLong(2) <= r.getLong(3)))
  }

  test("hits: both score vectors unit-L2, nonnegative") {
    val rows = GraphQueries.hits(spark, sf).collect()
    assert(rows.length == 25)
    val hubN = math.sqrt(rows.map(r => r.getDouble(2) * r.getDouble(2)).sum)
    val authN = math.sqrt(rows.map(r => r.getDouble(3) * r.getDouble(3)).sum)
    assert(math.abs(hubN - 1.0) < 1e-4, s"hub norm $hubN")
    assert(math.abs(authN - 1.0) < 1e-4, s"auth norm $authN")
    rows.foreach(r => assert(r.getDouble(2) >= 0.0 && r.getDouble(3) >= 0.0))
  }

  /** The former pagerank: the rounds as Spark frames over the `ew`
    * checkpoint, the rank frame broadcast by hint, over an `(src, dst, w)`
    * edge frame and a `(node, n_name)` node frame. */
  private def referencePagerank(edges: DataFrame, nodes: DataFrame): DataFrame = {
    val ew = edges
      .withColumn("outw", sum($"w").over(Window.partitionBy($"src")))
      .select($"src", $"dst",
        ($"w".cast("double") / $"outw".cast("double")).as("frac"))
      .localCheckpoint()
    var ranks = nodes.select($"node",
      expr("CAST(0.04 AS DECIMAL(18,6))").as("pr"))
    for (_ <- 1 to GraphQueries.PrIters) {
      val contrib = ew.join(ranks.hint("broadcast"), ew("src") === ranks("node"))
        .select($"dst",
          round($"pr".cast("double") * $"frac", 6)
            .cast("decimal(28,6)").as("c"))
        .groupBy($"dst").agg(sum($"c").as("insum"))
      ranks = nodes.select($"node")
        .join(contrib.hint("broadcast"), $"node" === $"dst", "left")
        .select($"node",
          round(lit(GraphQueries.Teleport) + lit(GraphQueries.Damping) *
            coalesce($"insum".cast("double"), lit(0.0)), 6)
            .cast("decimal(18,6)").as("pr"))
    }
    ranks.join(nodes, "node")
      .select($"node", $"n_name", $"pr".cast("double").as("pr"))
      .orderBy($"node")
  }

  /** The former hits: the half-rounds as Spark frames over the edge
    * checkpoint, each normalized by a window sum of the squared scores. */
  private def referenceHits(edges: DataFrame, nodes: DataFrame): DataFrame = {
    val ew = edges.localCheckpoint()
    def normalized(raw: DataFrame): DataFrame = raw
      .withColumn("n2",
        sum(round($"s".cast("double") * $"s".cast("double"), 6)
          .cast("decimal(38,6)"))
          .over(Window.partitionBy()))
      .select($"node",
        round($"s".cast("double") / sqrt($"n2".cast("double")), 6)
          .cast("decimal(18,6)").as("v"))
    var hub = nodes.select($"node", expr("CAST(0.2 AS DECIMAL(18,6))").as("v"))
    var auth: DataFrame = null
    for (_ <- 1 to GraphQueries.HitsIters) {
      val araw = ew.join(hub.hint("broadcast"), ew("src") === hub("node"))
        .select($"dst", round($"w".cast("double") * $"v".cast("double"), 6)
          .cast("decimal(28,6)").as("c"))
        .groupBy($"dst").agg(sum($"c").as("cs"))
      auth = normalized(nodes.select($"node")
        .join(araw.hint("broadcast"), $"node" === $"dst", "left")
        .select($"node", coalesce($"cs", lit(0).cast("decimal(28,6)")).as("s")))
      val hraw = ew.join(auth.hint("broadcast"), ew("dst") === auth("node"))
        .select($"src", round($"w".cast("double") * $"v".cast("double"), 6)
          .cast("decimal(28,6)").as("c"))
        .groupBy($"src").agg(sum($"c").as("cs"))
      hub = normalized(nodes.select($"node")
        .join(hraw.hint("broadcast"), $"node" === $"src", "left")
        .select($"node", coalesce($"cs", lit(0).cast("decimal(28,6)")).as("s")))
    }
    nodes
      .join(hub.select($"node", $"v".cast("double").as("hub")), "node")
      .join(auth.select($"node", $"v".cast("double").as("auth")), "node")
      .select($"node", $"n_name", $"hub", $"auth")
      .orderBy($"node")
  }

  /** A frame's rows with every double as its raw bits. */
  private def rawRows(df: DataFrame): Seq[Seq[Any]] =
    df.collect().toSeq.map(_.toSeq.map {
      case d: Double => java.lang.Double.doubleToRawLongBits(d)
      case x => x
    })

  private def nations(dir: String): DataFrame = graft.sources.Tables.nation(spark, dir)
    .select($"n_nationkey".as("node"), $"n_name")

  test("pagerank and hits: the driver rounds give the former Spark loops' " +
    "rows, bit for bit, on sf0.001 and sf0.01") {
    for (dir <- Seq(sf, java.nio.file.Paths.get(sf).resolveSibling("sf0.01").toString)) {
      val edges = GraphQueries.tradeEdges(spark, dir)
      for ((face, reference) <- Seq(
          GraphQueries.pagerank(spark, dir) -> referencePagerank(edges, nations(dir)),
          GraphQueries.hits(spark, dir) -> referenceHits(edges, nations(dir)))) {
        assert(face.queryExecution.analyzed.collectFirst {
          case r: org.apache.spark.sql.catalyst.plans.logical.LocalRelation => r
        }.nonEmpty, dir)
        assert(face.schema.map(f => f.name -> f.dataType) ==
          reference.schema.map(f => f.name -> f.dataType), dir)
        val got = rawRows(face)
        assert(got.length == 25, dir)
        assert(got == rawRows(reference), dir)
      }
    }
  }

  /** Nodes 0–4 and 9: node 3 has out-edges only, node 4 has no edge at all,
    * node 1 has a self-loop, and node 9 lies outside the node set. */
  private val shapedNodes = Array(0L, 1L, 2L, 3L, 4L)
  private val shapedEdges = Array((0L, 1L, 3L), (1L, 2L, 5L), (2L, 0L, 2L),
    (3L, 0L, 4L), (3L, 1L, 1L), (1L, 1L, 2L), (2L, 9L, 1L), (9L, 2L, 7L))

  private def doubleBits(xs: Seq[Double]): Seq[Long] =
    xs.map(java.lang.Double.doubleToRawLongBits)

  test("pagerankOf and hitsOf: a node with no in-edges, an isolated node, a " +
    "self-loop and an edge leaving the node set give the former loops' values") {
    val edges = shapedEdges.toSeq.toDF("src", "dst", "w")
    val nodes = shapedNodes.toSeq.map(n => (n, s"n$n")).toDF("node", "n_name")
    val pr = referencePagerank(edges, nodes).collect()
    assert(doubleBits(GraphQueries.pagerankOf(shapedNodes, shapedEdges).toSeq) ==
      doubleBits(pr.map(_.getDouble(2)).toSeq))
    // no in-edges: node 3 keeps the teleport share; so does the isolated node 4
    assert(pr(3).getDouble(2) == GraphQueries.Teleport && pr(4).getDouble(2) == GraphQueries.Teleport)
    val (hub, auth) = GraphQueries.hitsOf(shapedNodes, shapedEdges)
    val ref = referenceHits(edges, nodes).collect()
    assert(doubleBits(hub.toSeq) == doubleBits(ref.map(_.getDouble(2)).toSeq))
    assert(doubleBits(auth.toSeq) == doubleBits(ref.map(_.getDouble(3)).toSeq))
    assert(auth(3) == 0.0 && hub(4) == 0.0 && auth(4) == 0.0)
  }

  test("hitsOf: with no edges every score is zero, where the former loop " +
    "divided by zero") {
    val (hub, auth) = GraphQueries.hitsOf(shapedNodes, Array.empty)
    assert(hub.toSeq == Seq.fill(5)(0.0) && auth.toSeq == Seq.fill(5)(0.0))
    val e = intercept[Exception](referenceHits(
      Seq.empty[(Long, Long, Long)].toDF("src", "dst", "w"),
      shapedNodes.toSeq.map(n => (n, s"n$n")).toDF("node", "n_name")).collect())
    assert(e.getMessage.contains("DIVIDE_BY_ZERO"), e.getMessage)
  }

  test("graph faces: a copy of sf0.001 with no lineitems gives one row per " +
    "nation — teleport ranks, zero HITS scores, own labels, no cores or " +
    "triangles") {
    val src = java.nio.file.Paths.get(sf)
    val dir = java.nio.file.Files.createTempDirectory("graft-edgeless")
    for (t <- Seq("nation", "customer", "supplier", "orders"))
      java.nio.file.Files.createSymbolicLink(dir.resolve(s"$t.parquet"),
        src.resolve(s"$t.parquet"))
    graft.sources.Tables.lineitem(spark, sf).limit(0)
      .write.parquet(dir.resolve("lineitem.parquet").toString)
    val d = dir.toString
    val keys = nations(sf).collect().map(_.getInt(0)).sorted.toSeq
    def values(df: DataFrame): Seq[Seq[Any]] = df.collect().toSeq.map(_.toSeq)
    assert(values(GraphQueries.pagerank(spark, d)).map(r => (r(0), r(2))) ==
      keys.map(k => (k, GraphQueries.Teleport)))
    assert(values(GraphQueries.hits(spark, d)).map(r => (r(0), r(2), r(3))) ==
      keys.map(k => (k, 0.0, 0.0)))
    assert(values(GraphQueries.labelProp(spark, d)).map(r => (r(0), r(2))) ==
      keys.map(k => (k, k)))
    assert(values(GraphQueries.coreness(spark, d)).map(r => (r(0), r(2))) ==
      keys.map(k => (k, 0L)))
    assert(values(GraphQueries.triangles(spark, d)).map(r => (r(0), r(2))) ==
      keys.map(k => (k, 0L)))
  }

  test("triangles: matches a driver-side brute-force count") {
    val rows = GraphQueries.triangles(spark, sf).collect()
    assert(rows.length == 25)
    val und = GraphQueries.tradeEdges(spark, sf).collect()
      .map(r => (r.getInt(0), r.getInt(1)))
      .filter(e => e._1 != e._2)
      .map(e => (math.min(e._1, e._2), math.max(e._1, e._2))).distinct.toSet
    val nodes = und.flatMap(e => Seq(e._1, e._2)).toSeq.sorted
    val count = collection.mutable.Map.empty[Int, Long].withDefaultValue(0L)
    for {
      a <- nodes; b <- nodes if a < b && und((a, b))
      c <- nodes if b < c && und((b, c)) && und((a, c))
    } { count(a) += 1; count(b) += 1; count(c) += 1 }
    rows.foreach { r =>
      assert(r.getLong(2) == count(r.getInt(0)),
        s"node ${r.getInt(0)}: ${r.getLong(2)} != ${count(r.getInt(0))}")
    }
    assert(rows.map(_.getLong(2)).sum % 3 == 0)
  }

  test("psiDrift: nonnegative terms, total = term sum, bins within range") {
    val rows = AnalyticQueries.psiDrift(spark, sf).collect()
    assert(rows.nonEmpty)
    val termSum = rows.map(r => BigDecimal(r.getDouble(5)).setScale(6)).sum
    rows.foreach { r =>
      assert(r.getLong(0) >= 0 && r.getLong(0) < AnalyticQueries.PsiBins)
      assert(r.getLong(1) + r.getLong(2) > 0, "only occupied bins surface")
      // (pa-pb) and ln(pa/pb) always share a sign
      assert(r.getDouble(5) >= 0.0, s"bin ${r.getLong(0)}: negative PSI term")
      assert(math.abs(r.getDouble(6) - termSum.toDouble) < 1e-9,
        "psi_total must be the DECIMAL sum of the per-bin terms")
    }
  }

  test("giniUsers: matches a driver-side exact replay, bounded [0,1)") {
    val out = AnalyticQueries.giniUsers(spark, sf).collect()
    assert(out.length == 1)
    val (n, tot, gini) = (out(0).getLong(0), out(0).getLong(1), out(0).getDouble(2))
    val counts = graft.sources.Tables.events(spark, sf)
      .groupBy($"user_id").count().collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(n == counts.length && tot == counts.map(_._2).sum)
    val xs = counts.sortBy(c => (c._2, c._1)).map(_._2)
    val s1 = xs.zipWithIndex.map { case (x, i0) => BigInt(i0 + 1) * BigInt(x) }.sum
    val expect = (2.0 * s1.toDouble - (n + 1).toDouble * tot.toDouble) /
      (n.toDouble * tot.toDouble)
    assert(gini == math.rint(expect * 1e6) / 1e6, s"gini $gini != replay $expect")
    assert(gini >= 0.0 && gini < 1.0)
  }

  test("plan shapes: one user shuffle for SCD2, partitioned ECDF cumsum, no cartesians") {
    val scd2 = AnalyticQueries.scd2Intervals(spark, sf)
      .queryExecution.executedPlan.toString
    // the window, run-groupBy and valid_to lead all reuse the single
    // user_id hash partition; the only other exchange is the output sort
    val hashEx = "hashpartitioning".r.findAllIn(scd2).length
    assert(!scd2.contains("SinglePartition)"), s"SCD2 collapsed to one partition:\n$scd2")
    assert(hashEx <= 2, s"SCD2 re-shuffles the event stream:\n$scd2")
    val ks = AnalyticQueries.ksDrift(spark, sf)
      .queryExecution.executedPlan.toString
    // the value-ordered cumulative count must run partition-parallel
    // (range partition + per-pid window), never one global window
    assert(ks.contains("rangepartitioning"), s"ECDF lost its range partition:\n$ks")
    assert(ks.contains("hashpartitioning(pid"), s"ECDF cumsum not per-partition:\n$ks")
    val lm = CorpusQueries.bigramLm(spark, sf)
      .queryExecution.executedPlan.toString
    for ((n, p) <- Seq("scd2" -> scd2, "ks" -> ks, "bigramLm" -> lm)) {
      assert(!p.contains("CartesianProduct"), s"$n plans a cartesian:\n$p")
    }
  }

  test("bigramLm: n_bigrams = n_tokens - 1, nonnegative xent, short docs NULL") {
    val lm = CorpusQueries.bigramLm(spark, sf)
    val toks = graft.sources.Tables.documents(spark, sf)
      .select($"doc_id", size(graft.functions.Text.tokenize($"text")).as("nt"))
    val joined = lm.join(toks, "doc_id").collect()
    assert(joined.nonEmpty)
    joined.foreach { r =>
      val nt = r.getInt(4)
      if (nt < 2) {
        assert(r.isNullAt(1) && r.isNullAt(2) && r.isNullAt(3),
          s"doc ${r.getLong(0)}: <2 tokens must surface NULL scores")
      } else {
        assert(r.getLong(1) == nt - 1L, s"doc ${r.getLong(0)}: bigram count")
        assert(r.getDouble(2) >= 0.0, "p <= 1 everywhere -> xent >= 0")
        assert(r.getDouble(3) >= 1.0, "ppl = exp(xent) >= 1")
      }
    }
  }

  test("eventTransitions: row-stochastic matrix; pair total = events - users") {
    val m = graft.queries.AnalyticQueries.eventTransitions(sql, sf).collect()
    assert(m.nonEmpty)
    // each source state's outgoing probabilities sum to 1 (6-dp rounding
    // leaves at most |types|/2e6 of slack)
    m.groupBy(_.getString(0)).foreach { case (ft, rows) =>
      val s = rows.map(_.getDouble(3)).sum
      assert(math.abs(s - 1.0) < 1e-4, s"$ft outgoing p sums to $s")
      val tot = rows.map(_.getLong(2)).sum
      rows.foreach { r =>
        assert(math.abs(r.getDouble(3) - r.getLong(2).toDouble / tot) < 1e-6)
      }
    }
    // every user's k-event stream yields exactly k-1 transitions
    val ev = graft.sources.Tables.events(sql, sf)
    val expected = ev.count() - ev.select("user_id").distinct().count()
    assert(m.map(_.getLong(2)).sum == expected)
  }
}
