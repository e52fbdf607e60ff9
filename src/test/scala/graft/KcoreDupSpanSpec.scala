package graft

import graft.queries.{CorpusQueries, GraphQueries}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-9 operators: k-core decomposition (h-index iteration) and maximal
  * duplicate-span coalescing. Value-level parity is the DuckDB oracle
  * (tools/check.py); these pin the semantic invariants the oracle can't
  * phrase — known-coreness synthetic graphs and a constructed duplicated
  * passage.
  */
class KcoreDupSpanSpec extends SparkSpec {
  private val sql = SparkSpec.spark
  import sql.implicits._

  test("corenessOf: exact core numbers on a clique + cycle + pendant graph") {
    // 5-clique {0..4} (core 4), 4-cycle {10..13} (core 2), bridge 4-10,
    // pendant 13-20 (core 1). Bridges/pendants must not inflate cores.
    val clique = for (a <- 0 to 4; b <- (a + 1) to 4) yield (a.toLong, b.toLong)
    val cycle = Seq((10L, 11L), (11L, 12L), (12L, 13L), (10L, 13L))
    val extra = Seq((4L, 10L), (13L, 20L))
    val got = GraphQueries.corenessOf((clique ++ cycle ++ extra).toArray)
    val want = Map(0L -> 4L, 1L -> 4L, 2L -> 4L, 3L -> 4L, 4L -> 4L,
      10L -> 2L, 11L -> 2L, 12L -> 2L, 13L -> 2L, 20L -> 1L)
    assert(got == want, s"coreness mismatch: $got")
  }

  test("corenessOf: bounded by degree and monotone under edge removal") {
    val und = Array((0L, 1L), (1L, 2L), (2L, 0L), (2L, 3L), (3L, 4L), (4L, 2L))
    val deg = (Seq(0L -> 2, 1L -> 2, 2L -> 4, 3L -> 2, 4L -> 2)).toMap
    val c = GraphQueries.corenessOf(und)
    c.foreach { case (n, k) =>
      assert(k <= deg(n), s"node $n: coreness $k exceeds degree ${deg(n)}")
      assert(k >= 1, s"node $n: non-isolated node below 1-core")
    }
    // both triangles are 2-cores; the shared vertex cannot exceed 2
    assert(c(2L) == 2L, "shared vertex of two triangles is exactly 2-core")
    val fewer = GraphQueries.corenessOf(und.filter { case (a, b) => a != 2L && b != 2L })
    fewer.foreach { case (n, k) =>
      assert(k <= c(n), s"node $n: coreness rose after removing edges")
    }
  }

  test("q_kcore runs on testdata with one row per nation, core <= degree") {
    val rows = GraphQueries.coreness(spark, sf).collect()
    assert(rows.length == 25, "one coreness row per nation")
    rows.foreach(r => assert(r.getLong(2) >= 0))
    assert(rows.map(_.getLong(2)).max >= 1, "trade graph has a non-trivial core")
  }

  /** The former coreness: the h-index rounds as Spark frames over the
    * adjacency checkpoint, the value frame broadcast by hint, over an
    * `(src, dst)` edge frame and a `(node, n_name)` node frame. */
  private def referenceCoreness(e: DataFrame, nodes: DataFrame): DataFrame = {
    val und = e.select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .filter(col("a") =!= col("b")).distinct()
    val adj = und.select(col("a").as("node"), col("b").as("nbr"))
      .union(und.select(col("b").as("node"), col("a").as("nbr")))
      .localCheckpoint()
    var c = adj.groupBy(col("node")).agg(count(lit(1)).as("c"))
    val byVal = Window.partitionBy(col("node")).orderBy(col("c").desc)
    for (_ <- 1 to GraphQueries.CoreIters) {
      c = adj
        .join(c.select(col("node").as("nn"), col("c")).hint("broadcast"),
          col("nbr") === col("nn"))
        .select(col("node"), col("c"))
        .withColumn("rn", row_number().over(byVal).cast("long"))
        .select(col("node"), least(col("rn"), col("c")).as("h"))
        .groupBy(col("node")).agg(max(col("h")).as("c"))
    }
    nodes.join(c, Seq("node"), "left")
      .select(col("node"), col("n_name"), coalesce(col("c"), lit(0L)).as("coreness"))
      .orderBy(col("node"))
  }

  test("coreness: the driver rounds give the former Spark loop's rows on " +
    "sf0.001 and sf0.01") {
    for (dir <- Seq(sf, java.nio.file.Paths.get(sf).resolveSibling("sf0.01").toString)) {
      val face = GraphQueries.coreness(spark, dir)
      val reference = referenceCoreness(GraphQueries.tradeEdges(spark, dir),
        graft.sources.Tables.nation(spark, dir)
          .select(col("n_nationkey").as("node"), col("n_name")))
      assert(face.schema.map(f => f.name -> f.dataType) ==
        reference.schema.map(f => f.name -> f.dataType), dir)
      val got = face.collect().toSeq
      assert(got.length == 25, dir)
      assert(got == reference.collect().toSeq, dir)
    }
  }

  test("corenessOf: an isolated node, duplicate and reversed edges and a " +
    "self-loop give the former loop's values") {
    val e = Seq((0L, 1L), (1L, 0L), (1L, 2L), (2L, 0L), (2L, 3L), (3L, 3L),
      (3L, 4L), (4L, 2L), (0L, 1L), (5L, 6L))
    val nodes = Seq(0L, 1L, 2L, 3L, 4L, 5L, 6L, 7L)
    val want = referenceCoreness(e.toDF("src", "dst"),
      nodes.map(n => (n, s"n$n")).toDF("node", "n_name")).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    val c = GraphQueries.corenessOf(e.toArray)
    assert(nodes.map(n => n -> c.getOrElse(n, 0L)).toMap == want)
    assert(want(7L) == 0L && want(2L) == 2L)
  }

  test("dupSpans: shared passage coalesces into one maximal span per doc") {
    val dirPath = java.nio.file.Files.createTempDirectory("graft-dupspan")
    val dir = dirPath.toString
    try {
      // 12-token passage shared verbatim by docs 1 and 2 -> its 5
      // overlapping 8-grams merge into ONE 12-token span in each doc;
      // doc 3 is fully unique -> no span rows at all.
      val passage = "alpha bravo charlie delta echo foxtrot golf hotel india juliet kilo lima"
      Seq(
        (1L, s"u1a u1b u1c $passage u1d u1e", "en", "s1", 0L),
        (2L, s"$passage v2a v2b v2c v2d v2e v2f v2g v2h v2i", "en", "s2", 0L),
        (3L, "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10 w11 w12 w13 w14", "en", "s3", 0L))
        .toDF("doc_id", "text", "lang", "source", "n_chars")
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
      val spans = CorpusQueries.dupSpans(spark, dir).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
          r.getLong(4)))
      assert(spans.length == 2, s"one maximal span per sharing doc: ${spans.toSeq}")
      assert(spans.forall(_._4 == 12L), "span covers exactly the 12-token passage")
      assert(spans.forall(_._5 == 5L), "12-token passage holds 5 duplicated 8-grams")
      val byDoc = spans.map(s => s._1 -> s).toMap
      // doc 1: passage starts at token 4 (1-based); doc 2: at token 1
      assert(byDoc(1L)._2 == 4L && byDoc(1L)._3 == 15L)
      assert(byDoc(2L)._2 == 1L && byDoc(2L)._3 == 12L)
      assert(!byDoc.contains(3L), "unique doc must produce no span")
    } finally {
      import java.nio.file.{Files, Path}
      import scala.jdk.CollectionConverters._
      val all = Files.walk(dirPath).iterator().asScala.toSeq
      all.sortBy(-_.getNameCount).foreach(Files.deleteIfExists(_: Path))
    }
  }

  test("dupSpans: spans within a doc are disjoint, separated by >= 1 token") {
    // merge rule: a new span starts only when the next duplicated gram
    // begins > K tokens after the previous one, so consecutive maximal
    // spans satisfy s2 >= e1 + 2 — disjoint token intervals with a gap
    val rows = CorpusQueries.dupSpans(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    rows.foreach { case (_, s, e, len) =>
      assert(e - s + 1 == len, "span_tokens consistent with bounds")
      assert(len >= CorpusQueries.DupGramK, "a span covers at least one gram")
    }
    rows.groupBy(_._1).foreach { case (d, ss) =>
      ss.sortBy(_._2).sliding(2).foreach {
        case Array(x, y) =>
          assert(y._2 > x._3 + 1,
            s"doc $d: spans [${x._2},${x._3}] and [${y._2},${y._3}] should have merged")
        case _ =>
      }
    }
  }
}
