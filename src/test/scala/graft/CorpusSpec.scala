package graft

import graft.functions.Sketches
import graft.queries.{CorpusQueries, RelationalQueries}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Round-4 operators: HLL sketch laws + accuracy, substring-dedup
  * invariants, skip-gram semantics vs a driver-side reference, quantization
  * error bounds, the quantile gate, and the bucketed join's Exchange-free
  * plan. Value-level parity is the DuckDB oracle (tools/check.py). */
class CorpusSpec extends SparkSpec {

  test("HLL: merge is element-wise max (commutative, associative, idempotent)") {
    val h = new Sketches.HllAggregator
    val rnd = new scala.util.Random(11)
    def sketch(seed: Int): Array[Int] =
      (1 to 200).map(i => s"s$seed-${rnd.nextInt(100)}-$i")
        .foldLeft(h.zero)(h.reduce)
    val (a, b, c) = (sketch(1), sketch(2), sketch(3))
    def cp(x: Array[Int]) = x.clone()
    assert(h.merge(cp(a), cp(b)).toSeq == h.merge(cp(b), cp(a)).toSeq)
    assert(h.merge(h.merge(cp(a), cp(b)), cp(c)).toSeq ==
      h.merge(cp(a), h.merge(cp(b), cp(c))).toSeq)
    assert(h.merge(cp(a), cp(a)).toSeq == a.toSeq) // dedup-proof
  }

  test("HLL: estimate within 5% at 10k distinct, linear-count branch small-n") {
    val h = new Sketches.HllAggregator
    val big = (1 to 10000).map(i => s"item-$i").foldLeft(h.zero)(h.reduce)
    val est = h.finish(big).estimate
    assert(math.abs(est - 10000) / 10000.0 < 0.05, s"est=$est") // p=12: 3σ ≈ 4.9%
    val small = (1 to 100).map(i => s"item-$i").foldLeft(h.zero)(h.reduce)
    val r = h.finish(small)
    assert(r.nZeroRegisters > 0)
    assert(math.abs(r.estimate - 100) / 100.0 < 0.05, s"small est=${r.estimate}")
  }

  test("HLL rank: trailing-zero geometry over the low 52-bit field") {
    // every rank in [1, 53]; index in [0, 4095]
    (1 to 1000).foreach { i =>
      val (idx, rank) = Sketches.hllIndexRank(s"x$i")
      assert(idx >= 0 && idx < 4096)
      assert(rank >= 1 && rank <= 53)
    }
  }

  test("dupNgrams: matches a driver-side 8-gram reference count") {
    val rows = CorpusQueries.dupNgrams(spark, sf).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    // reference: global 8-gram occurrence counts, then per-doc dup positions
    val texts = graft.sources.Tables.documents(spark, sf)
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) ->
        Option(r.getString(1)).getOrElse("").split("\\s+").filter(_.nonEmpty))
    val k = CorpusQueries.DupGramK
    def grams(t: Array[String]) = t.sliding(k).filter(_.length == k).map(_.mkString(" ")).toSeq
    val global = scala.collection.mutable.Map.empty[String, Int]
    texts.foreach { case (_, t) => grams(t).foreach(g => global(g) = global.getOrElse(g, 0) + 1) }
    texts.foreach { case (id, t) =>
      val gs = grams(t)
      val (nGrams, nDup, frac) = rows(id)
      assert(nGrams == gs.size, s"doc $id n_grams")
      assert(nDup == gs.count(global(_) > 1).toLong, s"doc $id n_dup_grams")
      assert(frac >= 0.0 && frac <= 1.0)
    }
    // the corpus carries near-dup structure: some doc is fully duplicated text
    assert(rows.values.exists { case (ng, nd, _) => ng > 0 && nd == ng },
      "expected at least one fully-duplicated doc span")
  }

  test("skipgrams: top-20 matches a driver-side window-2 reference") {
    val got = CorpusQueries.skipgramPairs(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    val ref = scala.collection.mutable.Map.empty[(String, String), Long]
    graft.sources.Tables.documents(spark, sf).select("text").collect().foreach { r =>
      val t = Option(r.getString(0)).getOrElse("").split("\\s+").filter(_.nonEmpty)
      for (i <- t.indices; j <- t.indices
           if i != j && math.abs(i - j) <= CorpusQueries.SkipgramWindow) {
        val k = (t(i), t(j)); ref(k) = ref.getOrElse(k, 0L) + 1
      }
    }
    val top = ref.toSeq.map { case ((a, b), n) => (a, b, n) }
      .sortBy { case (a, b, n) => (-n, a, b) }.take(20)
    assert(got.toSeq == top)
  }

  test("embedQuant: max dim saturates, error bounded by scale/2") {
    val rows = CorpusQueries.embedQuant(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (scale, nSat, rmsePpm) = (r.getDouble(1), r.getLong(2), r.getDouble(3))
      assert(scale > 0.0)
      assert(nSat >= 1, "the max-|x| dimension must quantize to ±127")
      // per-element |err| <= scale/2 (half-up rounding), so rmse <= scale/2
      assert(rmsePpm <= scale / 2.0 * 1e6 + 1.0, s"rmse_ppm=$rmsePpm scale=$scale")
    }
  }

  test("quantileFilter: gate keeps ~top-75% per source, never more than all") {
    val rows = CorpusQueries.quantileFilter(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (nTotal, nKept, frac) = (r.getLong(2), r.getLong(3), r.getDouble(4))
      assert(nKept <= nTotal)
      assert(frac >= 0.7, s"p25 gate should keep >= ~75%, kept $frac")
    }
  }

  test("repProfile: all-distinct docs score 0 on every repetition axis") {
    val rows = CorpusQueries.repProfile(spark, sf).collect()
    val distinctTok = rows.filter(_.getDouble(2) == 0.0) // dup_token_frac == 0
    assert(rows.forall { r =>
      Seq(2, 3, 4).forall(i => r.getDouble(i) >= 0.0 && r.getDouble(i) <= 1.0)
    })
    // no repeated token => no repeated bigram either
    distinctTok.foreach { r =>
      assert(r.getDouble(4) == 0.0, s"doc ${r.getLong(0)}: distinct tokens but dup bigrams")
    }
  }

  test("unigramSurprisal: ppl = exp(mean_nll) and ppl bounded by corpus size") {
    val df = CorpusQueries.unigramSurprisal(spark, sf)
    val rows = df.collect()
    val n1 = rows.map(_.getLong(1)).sum // total tokens
    rows.foreach { r =>
      val (nll, ppl) = (r.getDouble(2), r.getDouble(3))
      assert(nll >= 0.0 && ppl >= 1.0 && ppl <= n1.toDouble)
      assert(math.abs(ppl - math.exp(nll)) / ppl < 1e-3) // 6-dp rounding slack
    }
  }

  test("ccnetBuckets: tertiles ordered head<=middle<=tail, volumes partition the scored docs") {
    val rows = CorpusQueries.ccnetBuckets(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3)))
    assert(rows.nonEmpty)
    val byLang = rows.groupBy(_._1)
    byLang.foreach { case (lang, bs) =>
      val m = bs.map(b => b._2 -> b._4).toMap
      // fluency ordering: head (lowest ppl third) <= middle <= tail
      for (h <- m.get("head"); mid <- m.get("middle")) assert(h <= mid, s"$lang")
      for (mid <- m.get("middle"); t <- m.get("tail")) assert(mid <= t, s"$lang")
      assert(bs.map(_._2).distinct.forall(Set("head", "middle", "tail")))
    }
    // every scorable (n_tokens > 0) doc lands in exactly one bucket
    val scorable = graft.sources.Tables.documents(spark, sf)
      .filter(org.apache.spark.sql.functions.length(
        org.apache.spark.sql.functions.trim(
          org.apache.spark.sql.functions.col("text"))) > 0).count()
    assert(rows.map(_._3).sum == scorable)
  }

  test("dsirWeights: target-language docs score higher than off-target") {
    val w = CorpusQueries.dsirWeights(spark, sf)
    val docs = graft.sources.Tables.documents(spark, sf).select("doc_id", "lang")
    val joined = w.join(docs, "doc_id").collect()
      .filter(!_.isNullAt(3)) // scored docs only
      .map(r => r.getString(4) -> r.getDouble(3)) // (lang, dsir_per_token)
    val en = joined.filter(_._1 == CorpusQueries.DsirTargetLang).map(_._2)
    val zh = joined.filter(_._1 == "zh").map(_._2)
    assert(en.nonEmpty && zh.nonEmpty)
    def mean(xs: Array[Double]) = xs.sum / xs.length
    assert(mean(en) > mean(zh),
      s"importance weights should tilt toward the target slice: en=${mean(en)} zh=${mean(zh)}")
  }

  test("bucketedJoin: join stage has no Exchange and matches the plain join") {
    val joined = RelationalQueries.bucketedOrdersCustomer(spark, sf)
    val plan = joined.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"bucketed join plan shuffles:\n$plan")
    val plain = graft.sources.Tables.orders(spark, sf).join(
      graft.sources.Tables.customer(spark, sf),
      org.apache.spark.sql.functions.col("o_custkey") ===
        org.apache.spark.sql.functions.col("c_custkey"))
    assert(joined.count() == plain.count())
  }

  test("bpeTrain: merges match a driver-side reference BPE on a constructed corpus") {
    val sql = SparkSpec.spark
    import sql.implicits._
    // independent greedy-BPE replay: same conventions (overlapping pair
    // counts, argmax with (n desc, pair asc) on the bracket-wrapped
    // representation, left-to-right non-overlapping replace)
    def replay(vocab0: Map[String, Long], m: Int): Seq[(Int, String, String, Long)] = {
      var vocab = vocab0.map { case (w, f) =>
        w.map(c => s"<$c>").mkString -> f
      }
      (1 to m).map { it =>
        val counts = scala.collection.mutable.Map.empty[String, Long]
        vocab.foreach { case (seg, f) =>
          val sy = seg.substring(1, seg.length - 1).split("><")
          sy.indices.dropRight(1).foreach { i =>
            val p = s"<${sy(i)}><${sy(i + 1)}>"
            counts(p) = counts.getOrElse(p, 0L) + f
          }
        }
        val (pair, n) = counts.toSeq.minBy { case (p, c) => (-c, p) }
        val merged = pair.replace("><", "")
        vocab = vocab.groupMapReduce(kv => kv._1.replace(pair, merged))(_._2)(_ + _)
        (it, pair, merged, n)
      }
    }
    val dirPath = java.nio.file.Files.createTempDirectory("graft-bpe")
    try {
      val docs = Seq(
        (1L, "low low low low low lower lower", "en", "a", 10L),
        (2L, "newest newest newest newest newest newest widest", "en", "a", 10L),
        (3L, "widest widest newest lower low", "en", "a", 10L))
      docs.toDF("doc_id", "text", "lang", "source", "n_chars")
        .write.mode("overwrite").parquet(s"$dirPath/documents.parquet")
      val words = docs.flatMap(_._2.split("\\s+")).groupMapReduce(identity)(_ => 1L)(_ + _)
      val expect = replay(words, CorpusQueries.BpeMerges)
      val got = CorpusQueries.bpeTrain(spark, dirPath.toString).collect()
        .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3))).toSeq
      assert(got == expect, s"engine merges\n  $got\nreference merges\n  $expect")
      // argmax-count law: the merged count never increases round-over-round
      val ns = got.map(_._4)
      assert(ns.zip(ns.tail).forall { case (a, b) => b <= a })
    } finally {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(dirPath).iterator().asScala.toSeq
        .sortBy(-_.getNameCount)
        .foreach(java.nio.file.Files.deleteIfExists(_: java.nio.file.Path))
    }
  }

  /** The former BPE loop: each round's argmax and re-segmented vocabulary
    * checkpointed, the argmax row crossJoined back; returns the merge
    * table and the final (word, seg, f) segmentation. */
  private def referenceBpe(spark: SparkSession, dir: String): (DataFrame, DataFrame) = {
    import spark.implicits._
    val words = graft.sources.Tables.documents(spark, dir)
      .select(explode(graft.functions.Text.tokenize($"text")).as("word"))
      .filter($"word".rlike("^[a-z]+$"))
      .groupBy($"word").agg(count(lit(1)).as("f"))
    var vocab = words
      .select($"word",
        concat_ws("",
          transform(split($"word", ""), c => concat(lit("<"), c, lit(">")))).as("seg"),
        $"f")
      .localCheckpoint()
    val rounds = (1 to CorpusQueries.BpeMerges).map { it =>
      val syms = vocab
        .select($"f",
          split(expr("substring(seg, 2, length(seg) - 2)"), "><").as("sy"))
        .filter(size($"sy") >= 2)
      val best = syms
        .select($"f", explode(expr(
          "transform(sequence(1, size(sy) - 1)," +
            " i -> concat('<', sy[i-1], '><', sy[i], '>'))")).as("pair"))
        .groupBy($"pair").agg(sum($"f").as("n"))
        .agg(min_by(struct($"pair", $"n"), struct(-$"n", $"pair")).as("b"))
        .select($"b.pair".as("pair"),
          expr("replace(b.pair, '><', '')").as("merged"), $"b.n".as("n"))
        .localCheckpoint()
      vocab = vocab.crossJoin(broadcast(best.select($"pair", $"merged")))
        .select($"word", expr("replace(seg, pair, merged)").as("seg"), $"f")
        .localCheckpoint()
      best.withColumn("it", lit(it))
    }
    (rounds.reduce(_ unionByName _), vocab)
  }

  test("bpeTrain: the driver-held merges give the former Spark loop's merge " +
    "table and segmentation on sf0.001, sf0.01 and a corpus with no pair") {
    val sql = SparkSpec.spark
    import sql.implicits._
    val none = java.nio.file.Files.createTempDirectory("graft-bpe-none").toString
    Seq((1L, "a b c a 42", "en", "a", 10L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$none/documents.parquet")
    def table(df: DataFrame) =
      df.select($"it", $"pair", $"merged", $"n").orderBy($"it").collect().toSeq
    def segs(df: DataFrame) = df.orderBy($"word").collect().toSeq
    val sf01 = java.nio.file.Paths.get(sf).resolveSibling("sf0.01").toString
    for (dir <- Seq(sf, sf01, none)) {
      val (merges, vocab) = CorpusQueries.bpeLoop(spark, dir)
      val (refMerges, refVocab) = referenceBpe(spark, dir)
      def shape(df: DataFrame) = df.schema.map(f => f.name -> f.dataType)
      assert(shape(merges) == shape(refMerges), dir)
      assert(shape(vocab) == shape(refVocab), dir)
      val got = table(merges)
      assert(got.length == CorpusQueries.BpeMerges, dir)
      assert(got.forall(_.isNullAt(1)) == (dir == none), dir)
      assert(got == table(refMerges), dir)
      assert(CorpusQueries.bpeTrain(spark, dir).collect().toSeq == got, dir)
      assert(segs(vocab) == segs(refVocab), dir)
    }
  }

  test("bpeEncode: per-doc accounting reconciles with the final vocabulary") {
    val sql = SparkSpec.spark
    import sql.implicits._
    val dirPath = java.nio.file.Files.createTempDirectory("graft-bpe-enc")
    try {
      val docs = Seq(
        (1L, "low low lower newest 42 !!", "en", "a", 10L),
        (2L, "newest widest newest", "en", "a", 10L),
        (3L, "123 ???", "en", "a", 10L)) // all-OOV: no alphabetic token
      docs.toDF("doc_id", "text", "lang", "source", "n_chars")
        .write.mode("overwrite").parquet(s"$dirPath/documents.parquet")
      val enc = CorpusQueries.bpeEncode(spark, dirPath.toString).collect()
      val byId = enc.map(r => r.getLong(0) -> r).toMap
      // token accounting: every whitespace token is a word xor an OOV
      docs.foreach { case (id, text, _, _, _) =>
        val r = byId(id)
        assert(r.getLong(1) + r.getLong(2) ==
          text.split("\\s+").count(_.nonEmpty), s"doc $id token split")
      }
      // all-OOV doc surfaces zero counts and NULL fertility, not NaN/absence
      assert(byId(3L).getLong(1) == 0 && byId(3L).getLong(3) == 0)
      assert(byId(3L).isNullAt(4), "fertility must be NULL at n_words = 0")
      // a segmentation never has fewer than 1 or more symbols than chars
      Seq(1L, 2L).foreach { id =>
        val f = byId(id).getDouble(4)
        assert(f >= 1.0 && f <= 6.0, s"doc $id fertility $f out of range")
      }
      // corpus law: total subwords == Σ over the vocabulary of f·n_symbols
      val vocabSum = CorpusQueries.bpeVocab(spark, dirPath.toString).collect()
        .map(r => r.getLong(1) * r.getInt(3)).sum
      assert(enc.map(_.getLong(3)).sum == vocabSum,
        "per-doc subword total must equal the vocabulary-side total")
    } finally {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(dirPath).iterator().asScala.toSeq
        .sortBy(-_.getNameCount)
        .foreach(java.nio.file.Files.deleteIfExists(_: java.nio.file.Path))
    }
  }

  test("heapsLaw: deciles partition the corpus — doc and vocab accounting " +
    "close against direct counts on real testdata") {
    val sql = SparkSpec.spark
    import sql.implicits._
    import org.apache.spark.sql.functions._
    val rows = CorpusQueries.heapsLaw(spark, sf)
      .select($"decile", $"n_docs", $"n_tokens", $"new_words", $"cum_vocab")
      .as[(Long, Long, Long, Long, Long)].collect().toSeq.sortBy(_._1)
    assert(rows.nonEmpty && rows.forall(r => r._1 >= 1 && r._1 <= 10))
    val docs = graft.sources.Tables.documents(spark, sf)
    assert(rows.map(_._2).sum == docs.count(), "n_docs must partition")
    val vocab = docs.select(explode(graft.functions.Text.tokenize($"text")))
      .distinct().count()
    assert(rows.map(_._4).sum == vocab, "new_words must partition the vocab")
    assert(rows.last._5 == vocab, "final cum_vocab is the full vocabulary")
    // cum_vocab is the running sum of new_words (monotone by construction)
    rows.foldLeft(0L) { case (acc, (_, _, _, nw, cum)) =>
      assert(cum == acc + nw); cum
    }
    // Heaps on Zipfian text (the zipf spec pins slope ~ -1 on this tier):
    // vocabulary keeps growing but decelerates — the last decile mints
    // fewer new words than the first
    assert(rows.head._4 > 0)
    assert(rows.last._4 < rows.head._4,
      "vocabulary growth must decelerate on real text")
  }

  test("heapsLaw: planted tier — equal-width id buckets, first-occurrence " +
    "attribution, and the repeat word never re-counts") {
    val sql = SparkSpec.spark
    import sql.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-heaps").toString
    // ids 0..19 -> 10 buckets of width 2; doc i contributes word "w<i>"
    // plus the shared word "base" (new only in decile 1)
    (0 until 20).map(i => (i.toLong, s"base w$i", "en", "synth", 10L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.parquet(s"$dir/documents.parquet")
    val rows = CorpusQueries.heapsLaw(spark, dir)
      .select($"decile", $"n_docs", $"n_tokens", $"new_words", $"cum_vocab")
      .as[(Long, Long, Long, Long, Long)].collect().toSeq.sortBy(_._1)
    val want = (1L to 10L).map { d =>
      val nw = if (d == 1) 3L else 2L // decile 1 also mints "base"
      (d, 2L, 4L, nw, 2 * d + 1)
    }
    assert(rows == want, s"got $rows")
  }
}
