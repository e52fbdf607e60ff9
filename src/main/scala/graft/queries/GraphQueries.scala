package graft.queries

import graft.sources.Tables
import java.math.BigDecimal
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** Graph analytics over relationships the relational tables imply — the
  * link-graph ring of a web-curation pipeline (PageRank-style authority
  * is a classic document-quality prior: Page et al. 1999).
  *
  * Scale posture: the expensive part is building the edge list (a full
  * fact-table aggregation — partial+final, one shuffle on the edge key).
  * The graph it yields is the nation trade graph: 25 nodes and at most 625
  * edges at every tier, since `nation` is a fixed-size dimension that
  * `ScaleUp` never replicates. Its size is fixed by the schema, not by the
  * data, so the edge list and the nations are held on the driver once per
  * session ([[tradeGraph]]). The four fixpoints over it ([[pagerank]],
  * [[hits]], [[labelProp]], [[coreness]]) run their rounds there, with no
  * job per round; each result re-enters the plan as a local frame already
  * in node order. [[triangles]] has no rounds and keeps its
  * degree-oriented wedge join on executors, over the held edges.
  */
object GraphQueries {

  /** Power-iteration count for [[pagerank]] — enough to differentiate
    * ranks on a 25-node graph while keeping the unrolled oracle finite. */
  val PrIters = 5

  /** Standard damping (Page et al. 1999). */
  val Damping = 0.85

  /** Teleport share per node: (1 − [[Damping]]) / 25 nations, exact. */
  val Teleport = 0.006

  /** Directed, weighted trade graph: customer-nation → supplier-nation,
    * weight = number of lineitems shipped along that pair. One pass over
    * the fact table; joins to the key-sized dimension tables broadcast. */
  def tradeEdges(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.lineitem(spark, dir).select($"l_orderkey", $"l_suppkey")
      .join(Tables.orders(spark, dir).select($"o_orderkey", $"o_custkey"),
        $"l_orderkey" === $"o_orderkey")
      .join(broadcast(Tables.customer(spark, dir)
        .select($"c_custkey", $"c_nationkey")), $"o_custkey" === $"c_custkey")
      .join(broadcast(Tables.supplier(spark, dir)
        .select($"s_suppkey", $"s_nationkey")), $"l_suppkey" === $"s_suppkey")
      .groupBy($"c_nationkey".as("src"), $"s_nationkey".as("dst"))
      .agg(count(lit(1)).as("w"))
      .select($"src", $"dst", $"w")
  }

  /** Rows of `nation`, a fixed-size TPC-H dimension that `ScaleUp` never
    * replicates: the trade graph's node bound. */
  val Nations = 25

  /** The nation trade graph on the driver: the `(node, n_name)` nation rows
    * in node order, their node ids, and the [[tradeEdges]] rows
    * `(src, dst, w)`, at most [[Nations]]² of them. Held once per session
    * and tier (keyed by the [[SessionMemo.tableTag]] of every table it
    * reads): the edge aggregate's fact-table pass and the nation scan are
    * all the Spark work the four fixpoint faces do, paid by the first of
    * the five graph faces a session runs. */
  private def tradeGraph(spark: SparkSession, dir: String)
      : (Array[Row], Array[Long], Array[(Long, Long, Long)]) =
    SessionMemo.cached(spark, "tradegraph:" + Seq("lineitem", "orders", "customer",
        "supplier", "nation").map(SessionMemo.tableTag(dir, _)).mkString(":")) {
      val nations = Bounded.rows(
        Tables.nation(spark, dir).select(col("n_nationkey"), col("n_name")),
        Nations, "trade graph nations").sortBy(_.getInt(0))
      val edges = Bounded.rows(tradeEdges(spark, dir), Nations * Nations,
        "trade graph edges").map(r => (r.getInt(0).toLong, r.getInt(1).toLong, r.getLong(2)))
      (nations, nations.map(_.getInt(0).toLong), edges)
    }

  /** One row per nation, in node order: `(node, n_name)` and `cols(i)` of
    * the i-th nation, under the DDL `ddl` of those columns. */
  private def perNation(spark: SparkSession, nations: Array[Row], ddl: String)
      (cols: Int => Seq[Any]): DataFrame =
    Bounded.localFrame(spark, s"node int, n_name string, $ddl",
      nations.indices.map(i => Row.fromSeq(nations(i).toSeq ++ cols(i))))

  /** Weighted PageRank over [[tradeEdges]], [[PrIters]] synchronous
    * iterations from the uniform vector: pr_v ← 0.006 + 0.85 · Σ_u
    * pr_u · w_uv / outw_u (teleport-only mass for dangling nodes — with a
    * complete TPC-H order book every nation has out-edges, so none arise).
    *
    * Determinism doctrine (the sf10/sf100 lesson): each edge contribution
    * is rounded to the 6-dp grid and summed in DECIMAL — exact integer
    * arithmetic under any fold order — and the rank update combines two
    * scalars per node in double, identically per engine. The DuckDB oracle
    * replays all [[PrIters]] iterations as unrolled CTEs.
    *
    * Scale shape: the edge build is the one fact-table shuffle, paid once
    * per session ([[tradeGraph]]); [[pagerankOf]] runs the rounds on the
    * driver. */
  def pagerank(spark: SparkSession, dir: String): DataFrame = {
    val (nations, nodes, edges) = tradeGraph(spark, dir)
    val pr = pagerankOf(nodes, edges)
    perNation(spark, nations, "pr double")(i => Seq(pr(i)))
  }

  /** [[PrIters]] PageRank rounds over a directed edge list `(src, dst, w)`:
    * the rank of each of `nodes`, in their order. `frac` is the IEEE
    * quotient of `w` by the exact long out-weight; each contribution is
    * rounded as Spark's `round(double, 6)` ([[SparkRound]]) and summed
    * exactly. A node with no in-edges keeps the teleport share. Edges with
    * an end outside `nodes` carry no rank but count in the out-weight. */
  private[graft] def pagerankOf(nodes: Array[Long],
                                edges: Array[(Long, Long, Long)]): Array[Double] = {
    val ix = nodes.zipWithIndex.toMap
    val outw = edges.groupMapReduce(_._1)(_._3)(_ + _)
    val ew = for ((s, d, w) <- edges; i <- ix.get(s); j <- ix.get(d))
      yield (i, j, w.toDouble / outw(s).toDouble)
    var pr = Array.fill(nodes.length)(new BigDecimal("0.04"))
    for (_ <- 1 to PrIters) {
      val insum = Array.fill(nodes.length)(BigDecimal.ZERO)
      for ((i, j, frac) <- ew)
        insum(j) = insum(j).add(SparkRound.round(pr(i).doubleValue * frac, 6))
      pr = insum.map(x => SparkRound.round(Teleport + Damping * x.doubleValue, 6))
    }
    pr.map(_.doubleValue)
  }

  /** Mutual-reinforcement rounds of [[hits]]. */
  val HitsIters = 3

  /** Weighted HITS hubs & authorities (Kleinberg 1999) over [[tradeEdges]]
    * — the complementary graph signal to [[pagerank]]: authority flows
    * along in-edges (a_v ← Σ w_uv·h_u), hub score along out-edges
    * (h_u ← Σ w_uv·a_v), each L2-normalized per half-round from the exact
    * uniform start (1/√25 = 0.2). A half-round whose scores are all zero
    * (a graph with no edges) normalizes to zero, as embedPca does.
    *
    * Determinism doctrine (same as [[pagerank]] / embedPca): every Σ
    * quantizes its terms to the 6-dp grid and sums in DECIMAL — exact
    * under any fold order — and each normalize is a per-node double divide
    * against the DECIMAL-summed squared norm. The DuckDB oracle unrolls
    * all [[HitsIters]] rounds as CTEs.
    *
    * Scale shape: as in [[pagerank]], the session's [[tradeGraph]], then
    * [[hitsOf]] runs the rounds on the driver. */
  def hits(spark: SparkSession, dir: String): DataFrame = {
    val (nations, nodes, edges) = tradeGraph(spark, dir)
    val (hub, auth) = hitsOf(nodes, edges)
    perNation(spark, nations, "hub double, auth double")(i => Seq(hub(i), auth(i)))
  }

  /** [[HitsIters]] HITS rounds over a directed edge list `(src, dst, w)`:
    * the (hub, auth) scores of each of `nodes`, in their order. Each
    * half-round sums `round(w·v, 6)` exactly per node (zero for a node with
    * no edges on that side) and normalizes by the exact squared norm. */
  private[graft] def hitsOf(nodes: Array[Long], edges: Array[(Long, Long, Long)])
      : (Array[Double], Array[Double]) = {
    val ix = nodes.zipWithIndex.toMap
    val ew = for ((s, d, w) <- edges; i <- ix.get(s); j <- ix.get(d))
      yield (i, j, w.toDouble)
    val rev = ew.map { case (i, j, w) => (j, i, w) }
    // the scores `v` flowing along each (from, to, w) edge, normalized
    def half(v: Array[BigDecimal], es: Array[(Int, Int, Double)]): Array[BigDecimal] = {
      val s = Array.fill(nodes.length)(BigDecimal.ZERO)
      for ((i, j, w) <- es) s(j) = s(j).add(SparkRound.round(w * v(i).doubleValue, 6))
      val n2 = s.map(x => SparkRound.round(x.doubleValue * x.doubleValue, 6))
        .foldLeft(BigDecimal.ZERO)(_ add _)
      val norm = math.sqrt(n2.doubleValue)
      s.map(x =>
        if (n2.doubleValue > 0.0) SparkRound.round(x.doubleValue / norm, 6)
        else BigDecimal.ZERO)
    }
    var hub = Array.fill(nodes.length)(new BigDecimal("0.2"))
    var auth = hub
    for (_ <- 1 to HitsIters) {
      auth = half(hub, ew)
      hub = half(auth, rev)
    }
    (hub.map(_.doubleValue), auth.map(_.doubleValue))
  }

  /** Degree-oriented edges over a deduplicated undirected edge list
    * `(a, b)` with `a < b`: each edge points from its lower-rank to its
    * higher-rank endpoint under rank = (degree, id), carrying the
    * destination's rank so wedges can be ordered without a re-join.
    *
    * This is the node-iterator orientation (Schank & Wagner 2005; also
    * Suri & Vassilvitskii's MR-triangle bound): out-degree under degree
    * orientation is O(√|E|) on ANY graph, so the wedge join below
    * generates O(|E|^{3/2}) candidates worst-case instead of the
    * Σ deg(v)² blow-up id-orientation suffers on skewed (power-law)
    * graphs, where one low-id hub fans out quadratically. */
  private[graft] def orientEdges(und: DataFrame): DataFrame = {
    val deg = und.select(explode(array(col("a"), col("b"))).as("node"))
      .groupBy(col("node")).agg(count(lit(1)).as("deg"))
    // und has a < b by id, so on equal degrees the (deg, id) tie-break
    // keeps the id orientation — every edge still oriented exactly once
    val aLower = col("da") < col("db") || (col("da") === col("db") && col("a") < col("b"))
    und
      .join(deg.select(col("node").as("na"), col("deg").as("da")), col("a") === col("na"))
      .join(deg.select(col("node").as("nb"), col("deg").as("db")), col("b") === col("nb"))
      .select(
        when(aLower, col("a")).otherwise(col("b")).as("u"),
        when(aLower, col("b")).otherwise(col("a")).as("v"),
        when(aLower, col("db")).otherwise(col("da")).as("vdeg"))
  }

  /** Rank-ordered open wedges of the degree-oriented graph: `(a, v, w)`
    * with both `a→v` and `a→w` oriented edges and rank(v) < rank(w) —
    * each candidate triangle generated exactly once, fan-out bounded by
    * the oriented out-degree (≤ O(√|E|)). Exposed for the skew spec. */
  private[graft] def orientedWedges(e: DataFrame): DataFrame = {
    val vLower = col("x.vdeg") < col("y.vdeg") ||
      (col("x.vdeg") === col("y.vdeg") && col("x.v") < col("y.v"))
    e.as("x").join(e.as("y"), col("x.u") === col("y.u") && vLower)
      .select(col("x.u").as("a"), col("x.v").as("v"), col("y.v").as("w"))
  }

  /** Per-node triangle counts over a deduplicated undirected edge list —
    * the degree-oriented core shared by [[triangles]] and the skew spec.
    * A triangle's lowest-rank corner owns its single wedge; the closing
    * edge v–w appears in the oriented list as rank-ascending (v, w), so
    * one equi-join confirms it and each triangle credits its 3 corners. */
  private[graft] def triangleCounts(und: DataFrame): DataFrame = {
    val e = orientEdges(und).localCheckpoint()
    val tri = orientedWedges(e).join(
      e.select(col("u").as("cu"), col("v").as("cv")),
      col("v") === col("cu") && col("w") === col("cv"))
      .select(col("a"), col("v"), col("w"))
    tri.select(explode(array(col("a"), col("v"), col("w"))).as("node"))
      .groupBy(col("node")).agg(count(lit(1)).as("n_triangles"))
  }

  /** Per-nation triangle participation in the undirected trade graph —
    * the clustering signal (a node in many triangles sits in a densely
    * interconnected trading cluster; zero triangles marks a pure spoke).
    *
    * Scale shape: the deduplicated undirected edge list and the nations
    * are local frames of the session's [[tradeGraph]], so a session that
    * already ran a graph face pays no fact-table pass here. The count stays
    * the distributed algorithm: two shuffle joins over the edge list, wedge
    * fan-out bounded by DEGREE orientation (see [[orientEdges]]) — the plan
    * survives power-law skew, where an id-oriented wedge join is quadratic
    * in a hub's degree. All counts exact longs; nations in no triangle
    * surface with 0. */
  def triangles(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val (nations, _, edges) = tradeGraph(spark, dir)
    val und = Bounded.localFrame(spark, "a int, b int", edges.collect {
      case (s, d, _) if s != d => Row(math.min(s, d).toInt, math.max(s, d).toInt) }.distinct)
    val perNode = triangleCounts(und)
    Bounded.localFrame(spark, "node int, n_name string", nations)
      .join(perNode, Seq("node"), "left")
      .select($"node", $"n_name",
        coalesce($"n_triangles", lit(0L)).as("n_triangles"))
      .orderBy($"node")
  }

  /** h-index iteration rounds for [[coreness]]. The iteration converges to
    * the exact k-core number in at most O(diameter·Δ) rounds (Lü et al.
    * 2016 prove finite convergence); it is stationary afterwards, so a
    * fixed round count is safe — 8 is ample for the 25-node trade graph
    * and keeps the unrolled oracle finite, mirroring [[PrIters]]. */
  val CoreIters = 8

  /** k-core decomposition via h-index iteration (Lü, Zhou, Zhang, Stanley
    * 2016, "The H-index of a network node" — public method): start every
    * node at its degree and repeatedly replace each node's value with the
    * h-index of its neighbors' values (the largest h such that ≥ h
    * neighbors hold ≥ h); the fixpoint is exactly the node's core number.
    * Coreness is the standard "dense sub-community depth" signal — a
    * crawl-graph quality prior one tier stronger than raw degree, which a
    * single hub edge can inflate but a core cannot.
    *
    * Chosen over sequential peeling (Batagelj–Zaveršnik) because peeling
    * is inherently serial in k while h-index iteration is a synchronous
    * per-node update; the h-index depends only on the sorted value
    * multiset, so tie order among equal values cannot change the result.
    * All values exact longs end-to-end; the DuckDB oracle replays all
    * [[CoreIters]] rounds as unrolled CTEs.
    *
    * Scale shape: as in [[pagerank]], the session's [[tradeGraph]], then
    * [[corenessOf]] runs the rounds on the driver; a nation with no
    * trade partner has coreness 0. */
  def coreness(spark: SparkSession, dir: String): DataFrame = {
    val (nations, nodes, edges) = tradeGraph(spark, dir)
    val c = corenessOf(edges.map(e => (e._1, e._2)))
    perNation(spark, nations, "coreness bigint")(i => Seq(c.getOrElse(nodes(i), 0L)))
  }

  /** [[CoreIters]] h-index rounds over an undirected edge list `(a, b)`
    * (duplicates and self-loops ignored) — the core shared by
    * [[coreness]] and the synthetic-graph spec. Returns the value of every
    * node with a neighbour. */
  private[graft] def corenessOf(und: Array[(Long, Long)]): Map[Long, Long] = {
    val nbrs = (und ++ und.map(_.swap)).filter(e => e._1 != e._2).distinct
      .groupMap(_._1)(_._2)
    var c = nbrs.map { case (n, ns) => n -> ns.length.toLong }
    for (_ <- 1 to CoreIters) {
      c = nbrs.map { case (n, ns) =>
        val vs = ns.map(c).sorted(Ordering[Long].reverse)
        n -> vs.indices.map(i => math.min(i + 1L, vs(i))).max
      }
    }
    c
  }

  /** Synchronous rounds for [[labelProp]] — enough to converge the 25-node
    * trade graph while keeping the unrolled oracle finite. */
  val LpaIters = 4

  /** Weighted label propagation communities (Raghavan et al. 2007) over the
    * undirected [[tradeEdges]] volume graph — the trade-bloc detector, and
    * the curation analogue of clustering crawl domains into site families.
    * Fully deterministic variant: [[LpaIters]] SYNCHRONOUS rounds (no
    * random visit order), every node seeded with its own id, each round
    * re-labeling every node with its neighbors' weight-heaviest label
    * (ties → smallest label; self-loops don't vote). Fixed round count
    * makes the output a well-defined function of the graph — no
    * convergence race — and all state is exact integers (node ids, summed
    * long weights): nothing to quantize. The DuckDB oracle unrolls all
    * rounds as CTEs and must agree on every label.
    *
    * Scale shape: as in [[pagerank]], the session's [[tradeGraph]], then
    * [[labelPropOf]] runs the rounds on the driver. */
  def labelProp(spark: SparkSession, dir: String): DataFrame = {
    val (nations, nodes, edges) = tradeGraph(spark, dir)
    val lab = labelPropOf(nodes, edges)
    perNation(spark, nations, "community int")(i => Seq(lab(i).toInt))
  }

  /** [[LpaIters]] synchronous weighted-LPA rounds over a directed edge list
    * `(src, dst, w)` (symmetrized and self-loop-stripped here): the label
    * of each of `nodes`, in their order — the core shared by [[labelProp]]
    * and the synthetic-graph spec. A node with no votes keeps its own id. */
  private[graft] def labelPropOf(nodes: Array[Long],
                                 edges: Array[(Long, Long, Long)]): Array[Long] = {
    val ix = nodes.zipWithIndex.toMap
    val und = (edges ++ edges.map(e => (e._2, e._1, e._3)))
      .collect { case (u, v, w) if u != v => (u, v) -> w }
      .groupMapReduce(_._1)(_._2)(_ + _).toSeq
    var lab = nodes
    for (_ <- 1 to LpaIters) {
      val votes = und
        .flatMap { case ((u, v), w) => for (i <- ix.get(u); j <- ix.get(v)) yield (i, lab(j)) -> w }
        .groupMapReduce(_._1)(_._2)(_ + _)
      // heaviest label, ties to the smallest
      val best = votes.groupMapReduce(_._1._1) { case ((_, l), vw) => (vw, -l) }(
        Ordering[(Long, Long)].max)
      lab = nodes.indices.map(i => best.get(i).fold(nodes(i))(-_._2)).toArray
    }
    lab
  }
}
