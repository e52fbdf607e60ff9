package graft

import graft.queries.{GraphQueries, TextQueries}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** TextRank keyword extraction (round 12). The DuckDB oracle pins exact
  * values at every tier; this spec re-derives the whole computation
  * driver-side on the small tier — co-occurrence pairs, symmetric weighted
  * edges, out-weight fractions, the quantized-contribution iteration — and
  * demands the identical top list, so the operator can't drift from the
  * published algorithm while keeping a plausible-looking output. The former
  * Spark rounds are kept as the bit-for-bit reference of the driver rounds.
  */
class TextrankSpec extends SparkSpec {
  private val sql = SparkSpec.spark
  import sql.implicits._

  private def twin(): Seq[(String, Double)] = {
    val docs = graft.sources.Tables.documents(spark, sf)
      .select($"doc_id", $"text").collect()
      .map(r => (r.getLong(0), Option(r.getString(1)).getOrElse("")))
    val pairs = docs.flatMap { case (_, text) =>
      val t = text.split("\\s+").filter(_.nonEmpty)
      for {
        i <- t.indices
        off <- 1 to TextQueries.TrWindow
        if i + off < t.length && t(i) != t(i + off)
      } yield (t(i), t(i + off))
    }
    val edges = (pairs ++ pairs.map(_.swap))
      .groupBy(identity).map { case ((s, d), xs) => (s, d, xs.length.toDouble) }
    val outw = edges.groupBy(_._1).map { case (s, es) => s -> es.map(_._3).sum }
    val frac = edges.map { case (s, d, w) => (s, d, w / outw(s)) }
    val nodes = edges.map(_._1).toSeq.distinct
    var score = nodes.map(_ -> 1.0).toMap
    val dmp = GraphQueries.Damping
    for (_ <- 1 to TextQueries.TrIters) {
      val insum = frac.toSeq.groupBy(_._2).map { case (dst, es) =>
        dst -> es.map { case (s, _, f) =>
          BigDecimal(score(s) * f)
            .setScale(6, BigDecimal.RoundingMode.HALF_UP)
        }.sum.toDouble
      }
      score = nodes.map(n =>
        n -> ((1.0 - dmp) + dmp * insum.getOrElse(n, 0.0))).toMap
    }
    score.toSeq.sortBy { case (w, s) => (-s, w) }.take(TextQueries.TrTop)
  }

  test("textrank: the distributed result equals the driver-side twin — " +
    "same words, same scores, same order") {
    val got = TextQueries.textrank(spark, sf).collect()
      .map(r => (r.getString(0), r.getDouble(1))).toSeq
    val want = twin()
    assert(got.map(_._1) == want.map(_._1),
      s"word list drift:\n got ${got.map(_._1)}\nwant ${want.map(_._1)}")
    got.zip(want).foreach { case ((w, gs), (_, ws)) =>
      assert(math.abs(gs - ws) < 1e-9, s"$w: $gs vs twin $ws")
    }
  }

  test("textrank: every score >= the teleport floor and the list is " +
    "capped, distinct, score-ordered") {
    val rows = TextQueries.textrank(spark, sf).collect()
      .map(r => (r.getString(0), r.getDouble(1)))
    assert(rows.length <= TextQueries.TrTop)
    assert(rows.map(_._1).distinct.length == rows.length)
    rows.foreach { case (_, s) =>
      assert(s >= (1.0 - GraphQueries.Damping) - 1e-9)
    }
    rows.sliding(2).foreach {
      case Array((wa, sa), (wb, sb)) =>
        assert(sa > sb || (sa == sb && wa < wb))
      case _ => ()
    }
  }

  /** The former textrank: the rounds as Spark frames over the `frac` frame
    * checkpointed once, closed by the same top-k sort. */
  private def referenceTextrank(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val frac = TextQueries.textrankEdges(spark, dir)
      .withColumn("outw", sum($"ew").over(
        org.apache.spark.sql.expressions.Window.partitionBy($"src")))
      .select($"src", $"dst", ($"ew" / $"outw").as("frac"))
      .localCheckpoint()
    var scores = frac.select($"src".as("w")).distinct()
      .select($"w", lit(1.0).as("s"))
    for (_ <- 1 to TextQueries.TrIters) {
      scores = frac.join(scores, frac("src") === scores("w"))
        .select($"dst", round($"s" * $"frac", 6)
          .cast("decimal(28,6)").as("c"))
        .groupBy($"dst").agg(sum($"c").as("insum"))
        .select($"dst".as("w"),
          (lit(1.0 - GraphQueries.Damping) + lit(GraphQueries.Damping) *
            $"insum".cast("double")).as("s"))
    }
    scores.orderBy($"s".desc, $"w").limit(TextQueries.TrTop)
      .select($"w".as("word"), $"s".as("score"))
  }

  private def rows(df: DataFrame): Seq[(String, Long)] =
    df.collect().toSeq.map(r =>
      (r.getString(0), java.lang.Double.doubleToRawLongBits(r.getDouble(1))))

  private lazy val sf01 = java.nio.file.Paths.get(sf).resolveSibling("sf0.01").toString

  test("textrank: the driver rounds give the former Spark loop's rows, bit " +
    "for bit, on sf0.001 and sf0.01") {
    for (dir <- Seq(sf, sf01)) {
      val local = TextQueries.textrank(spark, dir)
      assert(local.queryExecution.analyzed.collectFirst {
        case r: org.apache.spark.sql.catalyst.plans.logical.LocalRelation => r
      }.nonEmpty, dir)
      val got = rows(local)
      assert(got.length == TextQueries.TrTop, dir)
      assert(got == rows(referenceTextrank(spark, dir)), dir)
    }
  }

  test("textrank: with cap 0 the executor rounds give the same frame as " +
    "the driver rounds") {
    for (dir <- Seq(sf, sf01)) {
      val local = TextQueries.textrank(spark, dir)
      val fallback = TextQueries.textrank(spark, dir, cap = 0)
      assert(fallback.queryExecution.analyzed.collectFirst {
        case r: org.apache.spark.sql.catalyst.plans.logical.LocalRelation => r
      }.isEmpty, dir)
      assert(local.schema == fallback.schema, dir)
      assert(rows(local) == rows(fallback), dir)
    }
  }

  test("textrank: a corpus with no token pairs gives an empty (word, score) frame") {
    val dir = java.nio.file.Files.createTempDirectory("textrank_corpus").toString
    val s: SparkSession = spark
    import s.implicits._
    Seq((0L, "solo"), (1L, ""), (2L, "alone alone"))
      .toDF("doc_id", "text").write.parquet(s"$dir/documents.parquet")
    assert(TextQueries.textrankEdges(spark, dir).isEmpty)
    val out = TextQueries.textrank(spark, dir)
    assert(out.schema.map(f => f.name -> f.dataType.simpleString) ==
      Seq("word" -> "string", "score" -> "double"))
    assert(out.isEmpty)
    assert(referenceTextrank(spark, dir).isEmpty)
  }
}
