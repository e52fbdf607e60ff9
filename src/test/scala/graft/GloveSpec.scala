package graft

import graft.queries.CorpusQueries
import graft.queries.CorpusQueries._
import org.apache.spark.sql.{DataFrame, GraftSqlBridge, SparkSession}
import org.apache.spark.sql.functions._

/** Pins for the GloVe weighted factorization (VERDICT r14 #7 stretch):
  * shape, AdaGrad step boundedness, determinism, the vocabulary cap,
  * the plan shape of the cap itself, and parity of the driver rounds with
  * the former per-round Spark loop (kept here as the reference). Value
  * correctness at every tier is the DuckDB oracle's job (q_glove_embed
  * hash-matches at sf0.001/0.01/0.1). */
class GloveSpec extends SparkSpec {

  test("glove: one row per (vocab word, dim), vectors differentiated") {
    val out = CorpusQueries.gloveEmbed(spark, sf).collect()
    val words = out.map(_.getString(0)).distinct
    assert(words.length <= CorpusQueries.GloveVocab)
    assert(out.length == words.length * CorpusQueries.GloveDim)
    // training moved something: more distinct values than the seed grid's
    // 10 per-side levels could produce by accident of identical updates
    assert(out.map(_.getDouble(2)).distinct.length > words.length / 2)
  }

  test("glove: AdaGrad keeps every coordinate within lr-bounded drift " +
    "of its seed range") {
    // each side's seed is in [0.05, 0.5]; AdaGrad's per-round step is
    // <= lr (|g|/sqrt(G + g^2) <= 1), so after T rounds each side lies in
    // [0.05 - T*lr, 0.5 + T*lr] and vec = w + c in twice that window.
    // Raw full-batch GD — the blow-up this operator deliberately avoids —
    // violates this bound on the first frequent word.
    val t = CorpusQueries.GloveIters * CorpusQueries.GloveLr
    val bounds = CorpusQueries.gloveEmbed(spark, sf)
      .agg(min(col("vec")), max(col("vec"))).head()
    assert(bounds.getDouble(0) >= 2 * (0.05 - t) - 1e-9)
    assert(bounds.getDouble(1) <= 2 * (0.5 + t) + 1e-9)
  }

  test("glove: deterministic across invocations") {
    val a = CorpusQueries.gloveEmbed(spark, sf).collect().toSeq
    val b = CorpusQueries.gloveEmbed(spark, sf).collect().toSeq
    assert(a == b)
  }

  test("glove: the top-N vocabulary cut is a distributed sort-limit, " +
    "never a single-partition window") {
    // inspect the pair grid — gloveEmbed collects it and trains on the
    // driver, so its own final plan is a sort over the local result and
    // the cut lives in this upstream subtree
    val (vocab, pairs) = CorpusQueries.glovePairGrid(spark, sf)
    val pv = vocab.queryExecution.executedPlan.toString
    assert(pv.contains("TakeOrderedAndProject"),
      s"vocab cap must compile to TakeOrderedAndProject:\n$pv")
    val pp = pairs.queryExecution.executedPlan.toString
    assert(!pp.contains("Window"),
      s"pair grid must not contain a window:\n$pp")
  }

  test("glove: the pair-grid collect scans documents.parquet once — the " +
    "vocabulary cut and the pair stream share the co-occurrence exchange") {
    val (_, pairs) = CorpusQueries.glovePairGrid(spark, sf)
    pairs.collect()
    // the final adaptive plan, without the initial plan AQE also prints
    val p = pairs.queryExecution.executedPlan.asInstanceOf[
      org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec].executedPlan.toString
    assert("FileScan parquet".r.findAllIn(p).length == 1, p)
  }

  /** A corpus of `docs` as a fresh documents.parquet directory. */
  private def corpus(docs: Seq[String]): String = {
    val dir = java.nio.file.Files.createTempDirectory("glove_corpus").toString
    val s: SparkSession = spark
    import s.implicits._
    docs.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  /** GloveVocab + 100 distinct tokens, each co-occurring with the next two. */
  private lazy val capCorpus: String = {
    val n = GloveVocab + 100
    corpus((0 until n).map(i => s"w$i w${(i + 1) % n} w${(i + 2) % n}"))
  }

  test("glove: the vocabulary cap binds on a >cap-vocab corpus") {
    // the output must carry exactly GloveVocab words, chosen by
    // co-occurrence mass with the deterministic (nw desc, word asc) tiebreak
    val out = CorpusQueries.gloveEmbed(spark, capCorpus)
      .select(col("word")).distinct().count()
    assert(out == GloveVocab)
  }

  /** The former gloveEmbed: the AdaGrad rounds as Spark frames, all four
    * states in one side-tagged frame checkpointed per round. */
  private def referenceGlove(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val (vocab, pairsRaw) = glovePairGrid(spark, dir)
    val pairs = pairsRaw.localCheckpoint()
    val dims = spark.range(1, GloveDim + 1).toDF("k")
    def seed(salt: String): DataFrame = vocab.crossJoin(broadcast(dims))
      .select($"w", $"k",
        ((conv(substring(md5(concat($"w", lit(salt), $"k".cast("string"))),
          1, 8), 16, 10).cast("long") % 10 + 1).cast("double") / lit(20.0))
          .cast("decimal(18,6)").as("wv"),
        lit(1).cast("decimal(18,6)").as("g2"))
    def seedB: DataFrame = vocab.select($"w",
      lit(0).cast("decimal(18,6)").as("bv"),
      lit(1).cast("decimal(18,6)").as("g2"))
    var state = seed(":w").withColumn("side", lit("w"))
      .unionByName(seed(":c").withColumn("side", lit("c")))
      .unionByName(seedB.withColumn("k", lit(0L)).withColumn("side", lit("w"))
        .withColumnRenamed("bv", "wv").select($"w", $"k", $"wv", $"g2", $"side"))
      .unionByName(seedB.withColumn("k", lit(0L)).withColumn("side", lit("c"))
        .withColumnRenamed("bv", "wv").select($"w", $"k", $"wv", $"g2", $"side"))
      .localCheckpoint()
    def adagrad(st: DataFrame, grad: DataFrame, keys: Seq[String],
                value: String): DataFrame = {
      val g = coalesce($"g", lit(0).cast("decimal(28,6)"))
      st.join(grad.hint("broadcast"), keys, "left")
        .withColumn("gq", round(g.cast("decimal(18,6)") *
          g.cast("decimal(18,6)"), 6).cast("decimal(18,6)"))
        .withColumn("g2n", ($"g2" + $"gq").cast("decimal(18,6)"))
        .select(keys.map(col) :+
          (col(value) - round(lit(GloveLr) * g.cast("double") /
            sqrt($"g2n".cast("double")), 6).cast("decimal(18,6)"))
            .cast("decimal(18,6)").as(value) :+
          $"g2n".as("g2"): _*)
    }
    for (_ <- 1 to GloveIters) {
      val wS = state.filter($"side" === "w" && $"k" >= 1)
      val cS = state.filter($"side" === "c" && $"k" >= 1)
      val dot = pairs
        .join(wS.select($"w".as("i"), $"k", $"wv").hint("broadcast"), Seq("i"))
        .join(cS.select($"w".as("j"), $"k", $"wv".as("cv")).hint("broadcast"),
          Seq("j", "k"))
        .select($"i", $"j", round($"wv" * $"cv", 6).cast("decimal(28,6)").as("t"))
        .groupBy($"i", $"j").agg(sum($"t").as("dt"))
      val fe = pairs.join(dot.hint("broadcast"), Seq("i", "j"))
        .join(state.filter($"side" === "w" && $"k" === 0)
          .select($"w".as("i"), $"wv".as("bv")).hint("broadcast"), Seq("i"))
        .join(state.filter($"side" === "c" && $"k" === 0)
          .select($"w".as("j"), $"wv".as("bbv")).hint("broadcast"), Seq("j"))
        .select($"i", $"j",
          round($"fx" * ($"dt" + $"bv" + $"bbv" - $"lx").cast("decimal(18,6)"),
            6).cast("decimal(18,6)").as("fe"))
        .localCheckpoint()
      val grad = fe.join(cS.select($"w".as("j"), $"k", $"wv".as("cv"))
          .hint("broadcast"), Seq("j"))
        .select(lit("w").as("side"), $"i".as("w"), $"k",
          round($"fe" * $"cv", 6).cast("decimal(28,6)").as("t"))
        .unionByName(
          fe.join(wS.select($"w".as("i"), $"k", $"wv").hint("broadcast"),
            Seq("i"))
            .select(lit("c").as("side"), $"j".as("w"), $"k",
              round($"fe" * $"wv", 6).cast("decimal(28,6)").as("t")))
        .unionByName(fe.select(lit("w").as("side"), $"i".as("w"),
          lit(0L).as("k"), $"fe".cast("decimal(28,6)").as("t")))
        .unionByName(fe.select(lit("c").as("side"), $"j".as("w"),
          lit(0L).as("k"), $"fe".cast("decimal(28,6)").as("t")))
        .groupBy($"side", $"w", $"k").agg(sum($"t").as("g"))
      val stateN = adagrad(state, grad, Seq("side", "w", "k"), "wv")
        .localCheckpoint()
      Seq(state, fe).foreach(GraftSqlBridge.dropCheckpoint)
      state = stateN
    }
    GraftSqlBridge.dropCheckpoint(pairs)
    state.filter($"side" === "w" && $"k" >= 1)
      .join(state.filter($"side" === "c" && $"k" >= 1)
        .select($"w", $"k", $"wv".as("cv")).hint("broadcast"),
        Seq("w", "k"))
      .select($"w".as("word"), $"k".as("dim"),
        ($"wv" + $"cv").cast("double").as("vec"))
      .orderBy($"word", $"dim")
  }

  private def rows(df: DataFrame): Seq[(String, Long, Long)] =
    df.collect().toSeq.map(r =>
      (r.getString(0), r.getLong(1), java.lang.Double.doubleToRawLongBits(r.getDouble(2))))

  test("glove: the driver rounds give the former Spark loop's rows, bit for " +
    "bit, on sf0.001, sf0.01 and a >cap-vocab corpus") {
    val sf01 = java.nio.file.Paths.get(sf).resolveSibling("sf0.01").toString
    for (dir <- Seq(sf, sf01, capCorpus)) {
      val got = rows(CorpusQueries.gloveEmbed(spark, dir))
      assert(got.nonEmpty)
      assert(got == rows(referenceGlove(spark, dir)), dir)
    }
  }

  test("glove: a corpus with no token pairs gives an empty (word, dim, vec) frame") {
    val dir = corpus(Seq("solo", "", "alone"))
    assert(CorpusQueries.glovePairGrid(spark, dir)._2.isEmpty)
    val out = CorpusQueries.gloveEmbed(spark, dir)
    assert(out.schema.map(f => f.name -> f.dataType.simpleString) ==
      Seq("word" -> "string", "dim" -> "bigint", "vec" -> "double"))
    assert(out.isEmpty)
    assert(referenceGlove(spark, dir).isEmpty)
  }
}
