package graft

import graft.queries.SimilarityQueries
import org.apache.spark.sql.functions._

/** Constructed-skew coverage for [[SimilarityQueries.rnnPairs]]'s
  * occupancy-aware cell split (VERDICT r13 #6): a catalog where >90% of
  * vectors land in ONE coarse cell must route through the secondary
  * re-quantization (the r13 plan's sf100 scale-killer was exactly this
  * shape — within-cell pair mass quadratic in n), and the split result
  * must agree bit-for-bit with a plain-Scala twin that mirrors the
  * md5-ordered seed draw and the argmax re-assignment. Value parity on
  * the real tiers stays with the q_rnn_pairs DuckDB oracle.
  */
class RnnSplitSpec extends SparkSpec {
  private val sql = SparkSpec.spark
  import sql.implicits._

  private def r6(x: Double): Double =
    java.math.BigDecimal.valueOf(x)
      .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()

  private def dot(a: Array[Double], b: Array[Double]): Double = {
    var (d, i) = (0.0, 0); while (i < a.length) { d += a(i) * b(i); i += 1 }; d
  }

  private def md5hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  /** The full plain-Scala twin of the split semantics: primary argmax
    * assignment against the oracle-checked fitted centroids, occupancy
    * count, md5-ordered seed draw for cells over budget, argmax
    * re-assignment (tie → lowest seed rank), reciprocal top-K within
    * (cid, sub). `split = false` reproduces the r13 (pre-split) plan. */
  private def twin(dir: String, split: Boolean)
      : (Map[Long, Long], Seq[(Long, Long, Double, Long, Long)]) = {
    val emb = graft.sources.Tables.embeddings(spark, dir)
      .select($"vec_id", $"embedding".cast("array<double>").as("v"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    val cents = SimilarityQueries.kmeansProfile(spark, dir).collect()
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
    val occ = assign.groupBy(_._2).view.mapValues(_.size.toLong).toMap
    // occupancy-aware split: per-hot-cell md5-ordered seed draw (computed
    // once per cell), then per-member argmax re-assignment
    val hotSeeds: Map[Long, Seq[(Int, Long)]] = occ.collect {
      case (cid, o) if split && o > SimilarityQueries.RnnSplitBudget =>
        val members = assign.collect { case (m, c) if c == cid => m }.toSeq
        val nsub = math.ceil(
          o / SimilarityQueries.SemDedupCellTarget.toDouble).toInt
        cid -> members.sortBy(m => (md5hex(m.toString), m)).take(nsub)
          .zipWithIndex.map { case (m, i) => (i + 1, m) }
    }.toMap
    val subOf: Map[Long, Int] = assign.map { case (id, cid) =>
      hotSeeds.get(cid) match {
        case None => id -> 0
        case Some(seeds) => id -> seeds
          .map { case (rk, s) =>
            (rk, dot(emb(id), emb(s)) / (nrm(id) * nrm(s))) }
          .minBy { case (rk, sc) => (-sc, rk) }._1
      }
    }
    val byCell = assign.keys.toSeq.groupBy(id => (assign(id), subOf(id)))
    val top = byCell.values.flatMap { ids =>
      ids.flatMap { a =>
        ids.filter(_ != a)
          .map(b => (a, b, r6(dot(emb(a), emb(b)) / (nrm(a) * nrm(b)))))
          .sortBy { case (_, b, c) => (-c, b) }
          .take(SimilarityQueries.RnnK).zipWithIndex
          .map { case ((_, b, c), i) => (a, b) -> (c, (i + 1).toLong) }
      }
    }.toMap
    val pairs = top.collect {
      case ((a, b), (c, rab)) if a < b && top.contains((b, a)) =>
        (a, b, c, rab, top((b, a))._2)
    }.toSeq.sortBy(t => (t._1, t._2))
    (occ, pairs)
  }

  private lazy val splitTwin = twin(RnnSplitSpec.skewDir, split = true)
  private lazy val noSplitTwin = twin(RnnSplitSpec.skewDir, split = false)

  test("constructed skew: one cell holds >8000 vectors, the split path " +
    "fires, and rnnPairs matches the md5-seeded re-quantization twin") {
    val dir = RnnSplitSpec.skewDir
    val (occ, expected) = splitTwin
    val hotCells = occ.filter(_._2 > SimilarityQueries.RnnSplitBudget)
    assert(hotCells.nonEmpty,
      s"construction failed to produce an over-budget cell: $occ")
    assert(hotCells.values.forall(o =>
      math.ceil(o / SimilarityQueries.SemDedupCellTarget.toDouble) >= 2),
      s"hot cell must need >=2 sub-cells: $hotCells")
    val got = SimilarityQueries.rnnPairs(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3),
        r.getLong(4)))
      .sortBy(t => (t._1, t._2))
    assert(got.nonEmpty && got.toSeq == expected,
      s"got ${got.length} pairs, expected ${expected.length}")
  }

  test("constructed skew: the split actually reroutes — the r13 " +
    "(unsplit) within-cell semantics disagree on this catalog") {
    val (_, withSplit) = splitTwin
    val (_, withoutSplit) = noSplitTwin
    assert(withSplit != withoutSplit,
      "split and unsplit twins coincide — the construction exercises " +
        "nothing; rebuild the skew catalog")
  }
}

object RnnSplitSpec {
  private val sql = SparkSpec.spark
  import sql.implicits._

  /** Throwaway embeddings.parquet tier with the given vectors. */
  private def embTier(vecs: Seq[Array[Float]]): String = {
    val dir = java.nio.file.Files.createTempDirectory("graft-rnnskew").toString
    vecs.zipWithIndex.map { case (v, i) => (i.toLong, v.toSeq, 0) }
      .toDF("vec_id", "embedding", "label")
      .coalesce(1).write.parquet(s"$dir/embeddings.parquet")
    dir
  }

  /** One dominant mode (8500 vectors hugging +x) plus 15 cold spokes:
    * the scaled k collapses to the 16-seed fit, the hot mode exceeds
    * RnnSplitBudget, and ceil(8500/target) = 3 sub-cells must fire.
    * FitterRoundsSpec's split parity case reads it too. */
  lazy val skewDir: String = {
    def unit(i: Int): Array[Float] = {
      val v = Array.fill(4)(0f); v(i) = 1f; v
    }
    // seeds 0..15: +x plus 15 distinct cold directions (mixtures of the
    // other three axes and negations — far from +x by cosine)
    val seedDirs: Seq[Array[Float]] = Seq(unit(0)) ++ (1 to 15).map { j =>
      val a = Array(0f, 0f, 0f, 0f)
      a(1 + (j - 1) % 3) = if (j <= 8) 1f else -1f
      a(1 + j % 3) += 0.3f * (1 + j / 4)
      a
    }
    // 8500 hot vectors: +x with small deterministic jitter so cosines are
    // distinct-ish and near neighbors straddle the seed boundaries
    val hot = (0 until 8500).map { i =>
      Array(1f, 0.002f * (i % 89), 0.002f * (i % 97), 0.001f * (i % 83))
    }
    // 180 cold fillers, 12 per cold spoke — every cold cell stays far
    // below the split budget
    val cold = (0 until 180).map { i =>
      val d = seedDirs(1 + i % 15)
      d.zipWithIndex.map { case (x, j) =>
        x + (if (j == 0) 0.01f * (i % 7) else 0.005f * (i % 11)) }
    }
    embTier(seedDirs ++ hot ++ cold)
  }
}
