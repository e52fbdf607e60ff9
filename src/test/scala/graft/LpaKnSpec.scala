package graft

import graft.queries.{CorpusQueries, GraphQueries}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Round-9 additions: weighted label-propagation communities and the
  * Kneser–Ney bigram scorer. Value parity is the DuckDB oracle; these pin
  * the semantics on constructed inputs an oracle over the shipped tables
  * can't phrase.
  */
class LpaKnSpec extends SparkSpec {
  private val sql = SparkSpec.spark
  import sql.implicits._

  private def labels(nodes: Seq[Long], e: Seq[(Long, Long, Long)]): Map[Long, Long] =
    nodes.zip(GraphQueries.labelPropOf(nodes.toArray, e.toArray)).toMap

  test("labelPropOf: two cliques with a weak bridge resolve to two " +
    "communities labeled by their smallest member") {
    // cliques {0,1,2} and {10,11,12} at weight 10, bridge 2-10 at weight 1
    val cl = for {
      base <- Seq(0L, 10L); a <- 0 to 2; b <- (a + 1) to 2
    } yield (base + a, base + b, 10L)
    val got = labels(Seq(0L, 1L, 2L, 10L, 11L, 12L), cl :+ ((2L, 10L, 1L)))
    assert(got == Map(0L -> 0L, 1L -> 0L, 2L -> 0L,
      10L -> 10L, 11L -> 10L, 12L -> 10L), s"got $got")
  }

  /** Node 5 bridges two label-anchoring triangles {1,3,4} and {2,6,7}
    * (bare leaf pairs would oscillate under synchronous updates — the
    * triangles stabilize to their min label by round 2) with equal weight. */
  private val tieEdges = Seq((1L, 3L, 10L), (1L, 4L, 10L), (3L, 4L, 10L),
    (2L, 6L, 10L), (2L, 7L, 10L), (6L, 7L, 10L), (1L, 5L, 3L), (2L, 5L, 3L))

  test("labelPropOf: tie on vote weight breaks to the smallest label") {
    // 5's equal-weight view of labels 1 and 2 must resolve to 1
    val got = labels(Seq(1L, 2L, 3L, 4L, 5L, 6L, 7L), tieEdges)
    assert(got(5L) == 1L, s"got $got")
    assert(Seq(1L, 3L, 4L).forall(got(_) == 1L) &&
      Seq(2L, 6L, 7L).forall(got(_) == 2L), s"got $got")
  }

  test("labelProp: every nation gets a community; community ids are " +
    "themselves nation keys") {
    val rows = GraphQueries.labelProp(spark, sf).collect()
    assert(rows.length == 25)
    val keys = rows.map(_.getInt(0)).toSet
    rows.foreach(r => assert(keys.contains(r.getInt(2))))
  }

  /** The former labelProp: the rounds as Spark frames over the symmetrized
    * vote-weight checkpoint, the label frame broadcast by hint, over an
    * `(src, dst, w)` edge frame and a `(node, n_name)` node frame. */
  private def referenceLabelProp(e: DataFrame, nodes: DataFrame): DataFrame = {
    val und = e.select(col("src").as("u"), col("dst").as("v"), col("w"))
      .unionByName(e.select(col("dst").as("u"), col("src").as("v"), col("w")))
      .groupBy(col("u"), col("v")).agg(sum(col("w")).as("w"))
      .filter(col("u") =!= col("v"))
      .localCheckpoint()
    var labels = nodes.select(col("node"), col("node").as("lab"))
    for (_ <- 1 to GraphQueries.LpaIters) {
      val votes = und.join(labels.hint("broadcast"), und("v") === labels("node"))
        .groupBy(col("u"), col("lab")).agg(sum(col("w")).as("vw"))
      val next = votes.groupBy(col("u"))
        .agg(max(struct(col("vw"), (-col("lab")).as("nl"))).as("m"))
        .select(col("u").as("node"), (-col("m.nl")).as("lab"))
      labels = nodes.select(col("node"))
        .join(next.hint("broadcast"), Seq("node"), "left")
        .select(col("node"), coalesce(col("lab"), col("node")).as("lab"))
    }
    labels.join(nodes, "node")
      .select(col("node"), col("n_name"), col("lab").as("community"))
      .orderBy(col("node"))
  }

  test("labelProp: the driver rounds give the former Spark loop's rows on " +
    "sf0.001 and sf0.01") {
    for (dir <- Seq(sf, java.nio.file.Paths.get(sf).resolveSibling("sf0.01").toString)) {
      val face = GraphQueries.labelProp(spark, dir)
      val reference = referenceLabelProp(GraphQueries.tradeEdges(spark, dir),
        graft.sources.Tables.nation(spark, dir)
          .select(col("n_nationkey").as("node"), col("n_name")))
      assert(face.schema.map(f => f.name -> f.dataType) ==
        reference.schema.map(f => f.name -> f.dataType), dir)
      val got = face.collect().toSeq
      assert(got.length == 25, dir)
      assert(got == reference.collect().toSeq, dir)
    }
  }

  test("labelPropOf: the vote tie, the bridged cliques, an isolated node and " +
    "a self-loop give the former loop's labels") {
    val bridged = (for {
      base <- Seq(0L, 10L); a <- 0 to 2; b <- (a + 1) to 2
    } yield (base + a, base + b, 10L)) :+ ((2L, 10L, 1L)) :+ ((11L, 11L, 50L))
    for ((nodes, e) <- Seq(
        Seq(1L, 2L, 3L, 4L, 5L, 6L, 7L, 8L) -> tieEdges,
        Seq(0L, 1L, 2L, 10L, 11L, 12L, 20L) -> bridged)) {
      val want = referenceLabelProp(e.toDF("src", "dst", "w"),
        nodes.map(n => (n, s"n$n")).toDF("node", "n_name")).collect()
        .map(r => r.getLong(0) -> r.getLong(2)).toMap
      assert(labels(nodes, e) == want, s"$nodes")
    }
  }

  test("knBigram: driver-side Kneser-Ney replay on a constructed corpus") {
    val dir = java.nio.file.Files.createTempDirectory("graft-kn")
    try {
      val texts = Seq("a b a b c", "b c d", "a c")
      texts.zipWithIndex.map { case (t, i) => (i.toLong, t, "en", "s", 0L) }
        .toDF("doc_id", "text", "lang", "source", "n_chars")
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
      // independent replay: exact integer statistics, same formula
      val bigrams = texts.map(_.split(" ").toSeq.sliding(2).map(p => (p(0), p(1))).toSeq)
      val all = bigrams.flatten
      val cb = all.groupBy(identity).view.mapValues(_.size.toLong).toMap
      val h1 = all.groupBy(_._1).view.mapValues(_.size.toLong).toMap
      val nh = cb.keys.toSeq.groupBy(_._1).view.mapValues(_.size.toLong).toMap
      val nc = cb.keys.toSeq.groupBy(_._2).view.mapValues(_.size.toLong).toMap
      val bt = cb.size.toDouble
      val d = CorpusQueries.KnDiscount
      def p(w1: String, w2: String): Double =
        (math.max(cb((w1, w2)) - d, 0.0) + d * nh(w1) * nc(w2) / bt) / h1(w1)
      val want = bigrams.zipWithIndex.map { case (bs, i) =>
        val nll = bs.map { case (w1, w2) =>
          BigDecimal(-math.log(p(w1, w2)))
            .setScale(6, BigDecimal.RoundingMode.HALF_UP)
        }.sum
        val nm = (nll * 1000000).toLong
        val xm = (2 * nm + bs.size) / (2 * bs.size)
        i.toLong -> (bs.size.toLong, xm / 1e6)
      }.toMap
      val got = CorpusQueries.knBigram(spark, dir.toString).collect()
        .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
      assert(got == want, s"got $got want $want")
    } finally {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(dir).iterator().asScala.toSeq
        .sortBy(-_.getNameCount).foreach(java.nio.file.Files.deleteIfExists(_))
    }
  }

  test("knBigram: probabilities are a proper distribution per history — " +
    "xent strictly positive, n_bigrams == tokens-1") {
    val rows = CorpusQueries.knBigram(spark, sf)
      .join(graft.sources.Tables.documents(spark, sf)
        .select($"doc_id",
          size(graft.functions.Text.tokenize($"text")).as("nt")), "doc_id")
    assert(rows.filter($"n_bigrams".isNotNull &&
      $"n_bigrams" =!= greatest($"nt" - 1, lit(0))).count() == 0)
    assert(rows.filter($"xent".isNotNull && $"xent" <= 0.0).count() == 0)
  }
}
