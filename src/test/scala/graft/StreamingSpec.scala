package graft

import graft.functions.Sketches
import graft.streaming.Pipeline
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** Streaming parity: the reference's pipeline semantics driven through
  * Structured Streaming with MemoryStream (SURVEY.md §5.4). */
class StreamingSpec extends SparkSpec {
  private val sql = SparkSpec.spark
  import sql.implicits._

  private def tweetJson(text: String, ts: String, sentiment: String): String =
    s"""{"text":"$text","created_at":"$ts","sentiment":"$sentiment","entities":["E"]}"""

  test("stateful tests run under the RocksDB state store provider") {
    // the whole suite's watermark/session/sketch state goes through RocksDB
    // (disk-backed, the 100-TB retention posture) — not the default
    // heap-backed HDFS provider; regressing this silently would undo it
    assert(sql.conf.get("spark.sql.streaming.stateStore.providerClass")
      .endsWith("RocksDBStateStoreProvider"))
  }

  test("stream parse + enrich: weights and scores match the closed form") {
    implicit val ctx = sql.sqlContext
    val in = MemoryStream[String]
    val parsed = Pipeline.parseTweets(in.toDF().withColumnRenamed("value", "value"))
    val enriched = Pipeline.enrich(parsed, to_timestamp(lit("2024-01-01 00:01:00")))
    val q = enriched.writeStream.format("memory").queryName("enriched_t")
      .outputMode("append").start()
    try {
      in.addData(
        tweetJson("hello world", "2024-01-01 00:00:00", "Positive"),
        tweetJson("bad news", "2024-01-01 00:01:00", "negative"),
        "{not json at all")
      q.processAllAvailable()
      val rows = sql.table("enriched_t")
        .orderBy(col("created_at").asc_nulls_last).collect()
      assert(rows.length == 3)
      // dt=60s -> w = exp(-0.1*60/60) = exp(-0.1)
      val r0 = rows(0)
      assert(math.abs(r0.getAs[Double]("weight") - math.exp(-0.1)) < 1e-12)
      assert(math.abs(r0.getAs[Double]("weighted_sentiment") - math.exp(-0.1)) < 1e-12)
      // dt=0 -> w=1; lowercase "negative" scores -1 (case-insensitive fix)
      val r1 = rows(1)
      assert(r1.getAs[Double]("weight") == 1.0)
      assert(r1.getAs[Double]("weighted_sentiment") == -1.0)
      // malformed JSON -> PERMISSIVE nulls, row preserved (reference parity)
      assert(rows(2).isNullAt(rows(2).fieldIndex("created_at")))
    } finally q.stop()
  }

  test("watermarked windowed trend aggregates by event-time window") {
    implicit val ctx = sql.sqlContext
    val in = MemoryStream[String]
    val trend = Pipeline.windowedTrend(Pipeline.parseTweets(in.toDF()))
    val q = trend.writeStream.format("memory").queryName("trend_t")
      .outputMode("complete").start()
    try {
      in.addData(
        tweetJson("a", "2024-01-01 00:00:10", "Positive"),
        tweetJson("b", "2024-01-01 00:00:50", "Positive"),
        tweetJson("c", "2024-01-01 00:01:10", "Negative"))
      q.processAllAvailable()
      val rows = sql.table("trend_t").orderBy("bucket", "sentiment").collect()
      assert(rows.map(r => (r.getAs[java.sql.Timestamp]("bucket").toString,
        r.getAs[String]("sentiment"), r.getAs[Long]("n"))).toSeq == Seq(
        ("2024-01-01 00:00:00.0", "Positive", 2L),
        ("2024-01-01 00:01:00.0", "Negative", 1L)))
      val scores = rows.map(_.getAs[Double]("score_sum")).toSeq
      assert(scores == Seq(2.0, -1.0))
    } finally q.stop()
  }

  test("cross-batch CMS: merged per-batch sketches equal whole-stream counts") {
    implicit val ctx = sql.sqlContext
    val in = MemoryStream[String]
    val parsed = Pipeline.parseTweets(in.toDF())
    // accumulate the per-batch sketch exactly like the reference's
    // driver-held CMS (cms_stream.py:69) but via associative merge of
    // executor-built partials — the restart-safe, 100-TB-safe shape
    val agg = new Sketches.CmsAggregator()
    var acc = agg.zero
    val q = parsed.writeStream
      .foreachBatch(Pipeline.guardedForeachBatch(
        (batch: DataFrame, _: Long) => {
          val toks = batch.select(explode(graft.functions.Text.tokenize(col("text"))).as("tok"))
          val sk = toks.agg(Sketches.cms(col("tok")).as("s")).collect()(0).getSeq[Long](0).toArray
          acc.synchronized { acc = agg.merge(acc, sk) }
        },
        (id, e) => fail(s"batch $id failed: $e")))
      .outputMode("append").start()
    try {
      in.addData(tweetJson("join join hash", "2024-01-01 00:00:00", "x"))
      q.processAllAvailable()
      in.addData(tweetJson("join scan", "2024-01-01 00:00:01", "x"))
      q.processAllAvailable()
      assert(Sketches.cmsEstimate(acc, "join") == 3L)
      assert(Sketches.cmsEstimate(acc, "hash") == 1L)
      assert(Sketches.cmsEstimate(acc, "scan") == 1L)
      assert(Sketches.cmsEstimate(acc, "absent") == 0L)
    } finally q.stop()
  }

  test("stream-stream interval join pairs events within the window") {
    implicit val ctx = sql.sqlContext
    val inL = MemoryStream[String]
    val inR = MemoryStream[String]
    val joined = graft.streaming.Pipeline.intervalJoin(
      graft.streaming.Pipeline.parseTweets(inL.toDF()),
      graft.streaming.Pipeline.parseTweets(inR.toDF()))
    val q = joined.writeStream.format("memory").queryName("join_t")
      .outputMode("append").start()
    try {
      inL.addData(tweetJson("left early", "2024-01-01 00:00:00", "Positive"))
      inR.addData(
        tweetJson("right in window", "2024-01-01 00:30:00", "Positive"),
        tweetJson("right late", "2024-01-01 02:30:00", "Positive"),
        tweetJson("right other key", "2024-01-01 00:30:00", "Negative"))
      q.processAllAvailable()
      val rows = sql.table("join_t").collect()
      assert(rows.length == 1)
      assert(rows(0).getAs[String]("l_text") == "left early")
      assert(rows(0).getAs[String]("r_text") == "right in window")
    } finally q.stop()
  }

  test("mapGroupsWithState: per-key totals accumulate across batches") {
    implicit val ctx = sql.sqlContext
    val in = MemoryStream[String]
    val counts = graft.streaming.Pipeline
      .runningSentimentCounts(graft.streaming.Pipeline.parseTweets(in.toDF()))
      .toDF("sentiment", "total")
    val q = counts.writeStream.format("memory").queryName("state_t")
      .outputMode("update").start()
    try {
      in.addData(
        tweetJson("a", "2024-01-01 00:00:00", "Positive"),
        tweetJson("b", "2024-01-01 00:00:01", "Positive"),
        tweetJson("c", "2024-01-01 00:00:02", "Negative"))
      q.processAllAvailable()
      in.addData(tweetJson("d", "2024-01-01 00:00:03", "positive"))
      q.processAllAvailable()
      // memory sink in update mode appends each batch's emissions; the
      // LAST emission per key is the running total
      val last = sql.table("state_t").collect()
        .map(r => (r.getString(0), r.getLong(1)))
        .groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2).max }
      assert(last == Map("positive" -> 3L, "negative" -> 1L))
    } finally q.stop()
  }

  test("streaming dedup drops repeated texts within the watermark") {
    implicit val ctx = sql.sqlContext
    val in = MemoryStream[String]
    val deduped = graft.streaming.Pipeline
      .dedupStream(graft.streaming.Pipeline.parseTweets(in.toDF()))
    val q = deduped.writeStream.format("memory").queryName("dedup_t")
      .outputMode("append").start()
    try {
      in.addData(
        tweetJson("same text", "2024-01-01 00:00:00", "Positive"),
        tweetJson("same text", "2024-01-01 00:00:05", "Negative"),
        tweetJson("other", "2024-01-01 00:00:10", "Neutral"),
        "{malformed one", "{malformed two")
      q.processAllAvailable()
      in.addData(tweetJson("same text", "2024-01-01 00:00:20", "Neutral"))
      q.processAllAvailable()
      val texts = sql.table("dedup_t").select("text").collect().map(_.getString(0))
      assert(texts.count(_ == "same text") == 1)
      assert(texts.count(_ == "other") == 1)
      // malformed rows parse to text=NULL and must NOT collapse to one
      assert(texts.count(_ == null) == 2)
    } finally q.stop()
  }

  test("four reference jobs run end-to-end over a memory stream") {
    implicit val ctx = sql.sqlContext
    val tmp = java.nio.file.Files.createTempDirectory("graft_jobs").toString
    import scala.collection.mutable
    // etl job
    val in1 = MemoryStream[String]
    val etlRows = mutable.Buffer[Long]()
    in1.addData(tweetJson("hello world", "2024-01-01 00:00:00", "Positive"))
    val q1 = graft.streaming.TrendJobs.etl(in1.toDF(), s"$tmp/cp1",
      (b, _) => etlRows.synchronized { etlRows += b.count() })
    q1.awaitTermination()
    assert(etlRows.sum == 1)
    // edw job (AtomicBoolean: the sink callback runs on the microbatch
    // thread — same reason the other sinks use synchronized buffers)
    val in2 = MemoryStream[String]
    val edwWeightOk = new java.util.concurrent.atomic.AtomicBoolean(false)
    in2.addData(tweetJson("w", "2024-01-01 00:00:00", "Positive"))
    val q2 = graft.streaming.TrendJobs.edw(in2.toDF(), s"$tmp/cp2",
      (b, _) => {
        // wall-clock as-of over a 2024 event: weight underflows toward 0 —
        // assert the contract range, not a positive floor
        val w = b.select("weight").collect()(0).getDouble(0)
        edwWeightOk.set(w >= 0.0 && w <= 1.0)
      })
    q2.awaitTermination()
    assert(edwWeightOk.get)
    // cms job: metrics rows = tracked keywords, counts correct
    val in3 = MemoryStream[String]
    val cmsEst = mutable.Map[String, Long]()
    in3.addData(tweetJson("join join hash", "2024-01-01 00:00:00", "x"))
    val q3 = graft.streaming.TrendJobs.cmsJob(in3.toDF(), s"$tmp/cp3",
      (_, _) => (),
      (m, _) => m.collect().foreach(r =>
        cmsEst.synchronized { cmsEst(r.getString(0)) = r.getLong(1) }))
    q3.awaitTermination()
    assert(cmsEst("join") == 2L && cmsEst("hash") == 1L && cmsEst("scan") == 0L)
    // fm job: one estimate row per batch
    val in4 = MemoryStream[String]
    val fmEst = new java.util.concurrent.atomic.AtomicLong(-1L)
    in4.addData(tweetJson("a", "2024-01-01 00:00:00", "x"),
      tweetJson("b", "2024-01-01 00:00:01", "x"))
    val q4 = graft.streaming.TrendJobs.fmJob(in4.toDF(), s"$tmp/cp4",
      (_, _) => (),
      (m, _) => fmEst.set(m.collect()(0).getLong(0)))
    q4.awaitTermination()
    assert(fmEst.get >= 1L)
  }

  test("fm job commits a batch holding a malformed line: its null text is " +
    "skipped, as the md5(NULL) oracle skips it") {
    implicit val ctx = sql.sqlContext
    val tmp = java.nio.file.Files.createTempDirectory("graft_fm").toString
    val in = MemoryStream[String]
    val rows = new java.util.concurrent.atomic.AtomicLong(-1L)
    val est = new java.util.concurrent.atomic.AtomicLong(-1L)
    in.addData(tweetJson("hello", "2024-01-01 00:00:00", "x"),
      "{malformed line",
      tweetJson("world", "2024-01-01 00:00:01", "x"))
    val q = graft.streaming.TrendJobs.fmJob(in.toDF(), s"$tmp/cp",
      (b, _) => rows.set(b.count()),
      (m, _) => est.set(m.collect()(0).getLong(0)))
    q.awaitTermination()
    assert(q.exception.isEmpty)
    assert(q.lastProgress.batchId == 0L)
    assert(rows.get == 3L, "the raw sink keeps the malformed row")
    val fm = new Sketches.FmAggregator
    assert(est.get == fm.finish(Seq("hello", "world").foldLeft(fm.zero)(fm.reduce)))
  }

  test("cms, fm and takedown jobs parse a micro-batch once: numInputRows " +
    "equals the lines fed") {
    implicit val ctx = sql.sqlContext
    val tmp = java.nio.file.Files.createTempDirectory("graft_once").toString
    Seq("scan").toDF("text")
      .select(graft.functions.Text.fingerprint($"text").as("fp"))
      .write.parquet(s"$tmp/bans")
    val lines = Seq(tweetJson("join hash", "2024-01-01 00:00:00", "x"),
      "{malformed line",
      tweetJson("scan", "2024-01-01 00:00:01", "x"))
    val count: (DataFrame, Long) => Unit = (b, _) => b.count()
    val jobs = Seq[(String, (DataFrame, String) => org.apache.spark.sql.streaming.StreamingQuery)](
      "cms" -> ((raw, cp) => graft.streaming.TrendJobs.cmsJob(raw, cp, count, count)),
      "fm" -> ((raw, cp) => graft.streaming.TrendJobs.fmJob(raw, cp, count, count)),
      "takedown" -> ((raw, cp) => graft.streaming.TrendJobs.takedownJob(raw, cp,
        () => sql.read.parquet(s"$tmp/bans"), count, count)))
    for ((name, job) <- jobs) {
      val in = MemoryStream[String]
      in.addData(lines: _*)
      val q = job(in.toDF(), s"$tmp/cp_$name")
      q.awaitTermination()
      assert(q.exception.isEmpty, name)
      assert(q.recentProgress.map(_.numInputRows).sum == lines.size.toLong, name)
    }
  }

  test("checkpointed parquet sink: restart does not duplicate rows") {
    implicit val ctx = sql.sqlContext
    val tmp = java.nio.file.Files.createTempDirectory("graft_stream").toString
    val in = MemoryStream[String]
    val parsed = Pipeline.parseTweets(in.toDF())
    in.addData(tweetJson("one", "2024-01-01 00:00:00", "Positive"))
    val q1 = Pipeline.startParquetSink(parsed, s"$tmp/out", s"$tmp/cp",
      Trigger.AvailableNow())
    q1.awaitTermination()
    // second run over the same checkpoint: only the new row lands
    in.addData(tweetJson("two", "2024-01-01 00:00:01", "Negative"))
    val q2 = Pipeline.startParquetSink(parsed, s"$tmp/out", s"$tmp/cp",
      Trigger.AvailableNow())
    q2.awaitTermination()
    val out = sql.read.parquet(s"$tmp/out")
    assert(out.count() == 2)
    assert(out.select("text").as[String].collect().sorted.toSeq == Seq("one", "two"))
  }

  test("jdbc append round-trip against embedded Derby (reference's primary sink)") {
    // spark_stream.py:40-48 appends tweets to Postgres; no server in the
    // sandbox, so exercise the same write path against in-memory Derby
    System.setProperty("derby.system.home", "/tmp/derby-home")
    val url = "jdbc:derby:memory:graftjdbc;create=true"
    val driver = "org.apache.derby.jdbc.EmbeddedDriver"
    val batch = Seq(
      ("hello world", "2024-01-01T00:00:00Z", "Positive", """["E"]"""),
      ("bad news", "2024-01-01T00:01:00Z", "Negative", "[]"))
      .toDF("text", "created_at", "sentiment", "entities")
    Pipeline.jdbcAppend(batch, url, "tweets", "app", "app", driver)
    Pipeline.jdbcAppend(batch, url, "tweets", "app", "app", driver) // append, not overwrite
    val back = sql.read.format("jdbc")
      .option("url", url).option("dbtable", "tweets")
      .option("user", "app").option("password", "app")
      .option("driver", driver).load()
    assert(back.count() == 4)
    val got = back.collect().map(r => (r.getString(0), r.getString(2))).toSet
    assert(got == Set("hello world" -> "Positive", "bad news" -> "Negative"))
  }

  test("idempotent jdbc sink: replayed epochs converge to exactly one copy") {
    // foreachBatch is at-least-once; the batchId-keyed purge+append makes
    // it exactly-once (VERDICT r5 #6). Cover all three replay shapes.
    System.setProperty("derby.system.home", "/tmp/derby-home")
    val url = "jdbc:derby:memory:graftexactly;create=true"
    val driver = "org.apache.derby.jdbc.EmbeddedDriver"
    def readBack() = sql.read.format("jdbc")
      .option("url", url).option("dbtable", "edw")
      .option("user", "app").option("password", "app")
      .option("driver", driver).load()
    val epoch0 = Seq(("a", 1.0), ("b", -0.5)).toDF("text", "score")
    // 1. full replay of a committed epoch (crash AFTER sink, BEFORE
    //    checkpoint commit): second delivery must not double-append
    Pipeline.jdbcAppendIdempotent(epoch0, 0L, url, "edw", "app", "app", driver)
    Pipeline.jdbcAppendIdempotent(epoch0, 0L, url, "edw", "app", "app", driver)
    assert(readBack().count() == 2)
    // 2. a later epoch appends normally alongside
    val epoch1 = Seq(("c", 0.25)).toDF("text", "score")
    Pipeline.jdbcAppendIdempotent(epoch1, 1L, url, "edw", "app", "app", driver)
    assert(readBack().count() == 3)
    // 3. partial-write crash: epoch 2 died mid-append leaving one stray
    //    row; the replay purges it and lands the full epoch exactly once
    Pipeline.jdbcAppend(Seq(("partial", 9.9)).toDF("text", "score")
      .withColumn("batch_id", lit(2L)), url, "edw", "app", "app", driver)
    val epoch2 = Seq(("d", 0.5), ("e", 0.75)).toDF("text", "score")
    Pipeline.jdbcAppendIdempotent(epoch2, 2L, url, "edw", "app", "app", driver)
    val rows2 = readBack().filter(col("batch_id") === 2L)
      .select("text").as[String].collect().sorted.toSeq
    assert(rows2 == Seq("d", "e"), s"partial epoch not purged: $rows2")
    assert(readBack().count() == 5)
  }

  test("idempotent jdbc sink under a REAL epoch replay (crash between sink " +
      "and checkpoint commit, stream restarted from the checkpoint)") {
    implicit val ctx = sql.sqlContext
    System.setProperty("derby.system.home", "/tmp/derby-home")
    val url = "jdbc:derby:memory:graftreplay;create=true"
    val driver = "org.apache.derby.jdbc.EmbeddedDriver"
    val in = MemoryStream[String]
    in.addData(
      tweetJson("one", "2024-01-01 00:00:00", "Positive"),
      tweetJson("two", "2024-01-01 00:00:01", "Negative"))
    val ckpt = java.nio.file.Files.createTempDirectory("graft-replay").toString
    @volatile var crashOnce = true
    def start() = Pipeline.parseTweets(in.toDF()).writeStream
      .option("checkpointLocation", ckpt)
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, id: Long) =>
        Pipeline.jdbcAppendIdempotent(df.select("text", "sentiment"), id,
          url, "tweets", "app", "app", driver)
        if (crashOnce) { crashOnce = false; sys.error("injected crash") }
      }
      .trigger(Trigger.AvailableNow()).start()
    // first attempt: sink write lands, then the epoch fails before the
    // checkpoint commits — the classic at-least-once double-delivery setup
    intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      start().awaitTermination()
    }
    // restart from the same checkpoint: Structured Streaming replays the
    // uncommitted epoch; the idempotent sink must converge, not append
    start().awaitTermination()
    val back = sql.read.format("jdbc")
      .option("url", url).option("dbtable", "tweets")
      .option("user", "app").option("password", "app")
      .option("driver", driver).load()
    assert(back.count() == 2, "replayed epoch double-appended")
    assert(back.select("text").as[String].collect().sorted.toSeq ==
      Seq("one", "two"))
  }

  test("StreamMain.run wires the cms job end-to-end (MemoryStream -> parquet)") {
    implicit val ctx = sql.sqlContext
    val in = MemoryStream[String]
    val tweets = graft.sources.SyntheticTweets.generate(42L, 40)
    val json = sql.createDataset(tweets)
      .select(to_json(struct(col("text"), col("created_at"), col("sentiment"),
        col("entities"))).as[String]).collect()
    in.addData(json.toSeq)
    val out = java.nio.file.Files.createTempDirectory("graft-sm-out").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft-sm-ckpt").toString
    val q = graft.streaming.StreamMain.run("cms", in.toDF(), out, ckpt)
    try q.processAllAvailable() finally q.stop()
    val sunk = sql.read.parquet(s"$out/tweets")
    assert(sunk.count() == 40)
    assert(sunk.columns.contains("batch_id"))
    val cms = sql.read.parquet(s"$out/cms_estimates")
    // one row per tracked keyword per non-empty batch
    assert(cms.select("keyword").distinct().count() == Sketches.TrackedKeywords.size)
    assert(cms.agg(min(col("estimated_count"))).head.getLong(0) >= 0L)
  }

  test("stream-static enrichment join broadcasts the dimension per batch") {
    implicit val ctx = sql.sqlContext
    val in = MemoryStream[String]
    val dim = Seq(("Positive", 1.0), ("Negative", -1.0))
      .toDF("sentiment", "dim_score")
    val joined = Pipeline.enrichWithDim(
      Pipeline.parseTweets(in.toDF()), dim, "sentiment")
    val q = joined.writeStream.format("memory").queryName("dim_t")
      .outputMode("append").start()
    try {
      in.addData(
        tweetJson("a", "2024-01-01 00:00:00", "Positive"),
        tweetJson("b", "2024-01-01 00:00:01", "Negative"),
        tweetJson("c", "2024-01-01 00:00:02", "Neutral"))
      q.processAllAvailable()
      val rows = sql.table("dim_t").orderBy("created_at").collect()
      assert(rows.length == 3)
      assert(rows(0).getAs[Double]("dim_score") == 1.0)
      assert(rows(1).getAs[Double]("dim_score") == -1.0)
      assert(rows(2).isNullAt(rows(2).fieldIndex("dim_score"))) // left join
    } finally q.stop()
  }

  test("streaming session windows: watermarked gap sessions per user") {
    implicit val ctx = sql.sqlContext
    val in = MemoryStream[String]
    val sessions = Pipeline.parseTweets(in.toDF())
      .withWatermark("created_at", "1 hour")
      .groupBy(session_window(col("created_at"), "30 minutes"), col("sentiment"))
      .agg(count(lit(1)).as("n"))
      .select(col("session_window.start").as("session_start"), col("sentiment"), col("n"))
    val q = sessions.writeStream.format("memory").queryName("sess_t")
      .outputMode("complete").start()
    try {
      in.addData(
        tweetJson("a", "2024-01-01 00:00:00", "Positive"),
        tweetJson("b", "2024-01-01 00:10:00", "Positive"), // same session (gap 10m)
        tweetJson("c", "2024-01-01 01:00:00", "Positive")) // new session (gap 50m)
      q.processAllAvailable()
      val rows = sql.table("sess_t").orderBy("session_start").collect()
      assert(rows.length == 2)
      assert(rows(0).getAs[Long]("n") == 2L)
      assert(rows(1).getAs[Long]("n") == 1L)
    } finally q.stop()
  }

  test("cms job appends per-batch metrics to JDBC (the reference's real loop)") {
    // cms_stream.py:110-127 appends CMS estimates to Postgres per batch;
    // same loop here: MemoryStream -> cmsJob -> jdbcAppend into Derby
    implicit val ctx = sql.sqlContext
    System.setProperty("derby.system.home", "/tmp/derby-home")
    val url = "jdbc:derby:memory:graftcms;create=true"
    val driver = "org.apache.derby.jdbc.EmbeddedDriver"
    val in = MemoryStream[String]
    in.addData(
      tweetJson("dup hash join", "2024-01-01 00:00:00", "Positive"),
      tweetJson("scan stream dup", "2024-01-01 00:00:01", "Negative"))
    val ckpt = java.nio.file.Files.createTempDirectory("graft-cmsjdbc").toString
    val q = graft.streaming.TrendJobs.cmsJob(in.toDF(), ckpt,
      sink = (_, _) => (),
      metricsSink = (metrics, id) => Pipeline.jdbcAppend(
        metrics.withColumn("batch_id", lit(id)), url, "cms_estimates",
        "app", "app", driver))
    try q.processAllAvailable() finally q.stop()
    val back = sql.read.format("jdbc")
      .option("url", url).option("dbtable", "cms_estimates")
      .option("user", "app").option("password", "app")
      .option("driver", driver).load()
    val est = back.collect()
      .map(r => r.getAs[String]("keyword") -> r.getAs[Long]("estimated_count")).toMap
    assert(est.keySet == Sketches.TrackedKeywords.toSet)
    assert(est("dup") == 2L && est("hash") == 1L && est("stream") == 1L)
  }

  test("cumulative CMS stream accumulates across batches (reference lifetime parity)") {
    implicit val ctx = sql.sqlContext
    val in = MemoryStream[String]
    val q = Pipeline.cmsCumulative(Pipeline.parseTweets(in.toDF()))
      .writeStream.format("memory").queryName("cumcms_t")
      .outputMode("complete").start()
    try {
      in.addData(tweetJson("dup hash", "2024-01-01 00:00:00", "Positive"))
      q.processAllAvailable()
      val r1 = sql.table("cumcms_t").collect()(0)
      assert(r1.getAs[Long]("dup") == 1L && r1.getAs[Long]("hash") == 1L
        && r1.getAs[Long]("stream") == 0L)
      in.addData(tweetJson("dup stream", "2024-01-01 00:00:01", "Negative"))
      q.processAllAvailable()
      val r2 = sql.table("cumcms_t").collect()(0)
      // the sketch carried batch-1 state: counts are lifetime, not per-batch
      assert(r2.getAs[Long]("dup") == 2L && r2.getAs[Long]("hash") == 1L
        && r2.getAs[Long]("stream") == 1L)
    } finally q.stop()
  }

  test("flatMapGroupsWithState sessionization closes sessions by event-time timeout") {
    implicit val ctx = sql.sqlContext
    val in = MemoryStream[String]
    val q = Pipeline.sessionize(Pipeline.parseTweets(in.toDF()))
      .toDF().writeStream.format("memory").queryName("fmg_t")
      .outputMode("append").start()
    try {
      // two Positive events 10 min apart -> one open session
      in.addData(
        tweetJson("a", "2024-01-01 00:00:00", "Positive"),
        tweetJson("b", "2024-01-01 00:10:00", "Positive"))
      q.processAllAvailable()
      assert(sql.table("fmg_t").count() == 0) // still open, nothing emitted
      // an event 3h later advances the watermark past start-session+gap...
      in.addData(tweetJson("c", "2024-01-01 03:00:00", "Positive"))
      q.processAllAvailable()
      // ...and the timeout fires on the following trigger
      in.addData(tweetJson("d", "2024-01-01 03:00:01", "Positive"))
      q.processAllAvailable()
      val rows = sql.table("fmg_t").collect()
      assert(rows.length == 1)
      val r = rows(0)
      assert(r.getAs[String]("key") == "Positive")
      assert(r.getAs[java.sql.Timestamp]("session_start").toString.startsWith("2024-01-01 00:00:00"))
      assert(r.getAs[java.sql.Timestamp]("session_end").toString.startsWith("2024-01-01 00:10:00"))
      assert(r.getAs[Long]("n_events") == 2L)
    } finally q.stop()
  }

  test("StreamMain.run rejects unknown job names") {
    implicit val ctx = sql.sqlContext
    val in = MemoryStream[String]
    val e = intercept[IllegalArgumentException] {
      graft.streaming.StreamMain.run("nope", in.toDF(), "/tmp/x", "/tmp/y")
    }
    assert(e.getMessage.contains("unknown job"))
  }

  test("windowed trending keywords: append-mode counts + top-k per window") {
    implicit val ctx = sql.sqlContext
    val in = MemoryStream[String]
    val q = Pipeline.keywordTrend(Pipeline.parseTweets(in.toDF()))
      .writeStream.format("memory").queryName("trendkw_t")
      .outputMode("append").start()
    try {
      in.addData(
        tweetJson("goal goal win", "2024-01-01 00:01:00", "Positive"),
        tweetJson("goal match", "2024-01-01 00:02:00", "Positive"),
        tweetJson("rain delay", "2024-01-01 00:11:00", "Negative"))
      q.processAllAvailable()
      // watermark far past both windows -> rows finalize
      in.addData(tweetJson("x", "2024-01-01 01:00:00", "Neutral"))
      q.processAllAvailable()
      val top = Pipeline.topKPerWindow(sql.table("trendkw_t"), 2).collect()
        .map(r => (r.getAs[java.sql.Timestamp]("bucket").toString.substring(11, 16),
          r.getAs[String]("word"), r.getAs[Long]("n"), r.getAs[Int]("rank")))
      // window 00:00: goal x3, then match/win tie -> 'match' on word order
      assert(top.contains(("00:00", "goal", 3L, 1)))
      assert(top.contains(("00:00", "match", 1L, 2)))
      // window 00:10: delay/rain tie -> alphabetical
      assert(top.contains(("00:10", "delay", 1L, 1)))
      assert(top.contains(("00:10", "rain", 1L, 2)))
    } finally q.stop()
  }

  test("burstAlerts: fed its history in one batch it reproduces the batch " +
    "burst detector row-for-row; a second batch upserts on merged counts") {
    implicit val ctx = sql.sqlContext
    import org.apache.spark.sql.functions._
    val sf = SparkSpec.Sf
    val in = MemoryStream[(String, java.sql.Timestamp)]
    val alerts = Pipeline.burstAlerts(
      in.toDF().toDF("event_type", "ts"), horizonHours = 1000000L)
    val q = alerts.writeStream.format("memory").queryName("burst_t")
      .outputMode("update").start()
    try {
      val rows = graft.sources.Tables.events(sql, sf)
        .select(col("event_type"), col("ts")).collect()
        .map(r => (r.getString(0), r.getTimestamp(1)))
      in.addData(rows.toSeq)
      q.processAllAvailable()
      val got = sql.table("burst_t").collect()
        .map(r => (r.getString(0), r.getLong(1)) ->
          (r.getLong(2), r.getLong(3),
            if (r.isNullAt(4)) None else Some(r.getDouble(4)),
            r.getBoolean(5))).toMap
      val want = graft.queries.TrendQueries.burstZscore(sql, sf).collect()
        .map(r => (r.getString(0),
          r.getTimestamp(1).toInstant.getEpochSecond / 3600L) ->
          (r.getLong(2), r.getLong(3),
            if (r.isNullAt(4)) None else Some(r.getDouble(4)),
            r.getBoolean(5))).toMap
      assert(got == want,
        s"parity break: ${(got.toSet diff want.toSet).take(3)} vs ${(want.toSet diff got.toSet).take(3)}")
      // incremental: a second batch adds 5 events to one existing bucket —
      // the re-emitted row must carry the MERGED count
      val t0 = rows.find(_._1 == "purchase").get._2
      val hr0 = t0.toInstant.getEpochSecond / 3600L
      val before = got(("purchase", hr0))
      in.addData((1 to 5).map(_ => ("purchase", t0)))
      q.processAllAvailable()
      val after = sql.table("burst_t").collect()
        .filter(r => r.getString(0) == "purchase" && r.getLong(1) == hr0)
        .map(r => r.getLong(2)).max
      assert(after == before._1 + 5, s"merged count $after vs ${before._1} + 5")
    } finally q.stop()
  }

  test("console debug sink (K7): drains a stream to completion without error") {
    implicit val ctx = sql.sqlContext
    val in = MemoryStream[String]
    val parsed = Pipeline.parseTweets(in.toDF())
    in.addData(
      tweetJson("console tap", "2024-01-01 00:00:00", "Positive"),
      tweetJson("second row", "2024-01-01 00:00:30", "negative"))
    val q = Pipeline.startConsoleSink(parsed, numRows = 5)
    try {
      q.processAllAvailable()
      // the sink consumed the batch (progress recorded, no exception)
      assert(q.recentProgress.nonEmpty)
      assert(q.recentProgress.map(_.numInputRows).sum == 2)
      assert(q.exception.isEmpty)
    } finally q.stop()
  }

  test("durationMs parses every advertised unit, including bare ms/s") {
    // "ms"/"s" must not be mangled by the plural strip (ADVICE r10:
    // stripSuffix("s") turned "ms" into minutes and "s" into nothing)
    assert(Pipeline.durationMs("500 ms") == 500L)
    assert(Pipeline.durationMs("5 s") == 5000L)
    assert(Pipeline.durationMs("5 seconds") == 5000L)
    assert(Pipeline.durationMs("2 milliseconds") == 2L)
    assert(Pipeline.durationMs("10 minutes") == 600000L)
    assert(Pipeline.durationMs("1 min") == 60000L)
    assert(Pipeline.durationMs("3 hours") == 10800000L)
    assert(Pipeline.durationMs("1 day") == 86400000L)
    intercept[IllegalArgumentException](Pipeline.durationMs("5 fortnights"))
  }

  test("takedownJob: stream-static anti-join scrubs banned fingerprints, " +
    "and a ban added MID-STREAM takes effect on the next batch without a " +
    "query restart (slowly changing dimension)") {
    implicit val ctx = sql.sqlContext
    import sql.implicits._
    val banDir = java.nio.file.Files
      .createTempDirectory("graft_bans").toString + "/bans"
    def writeBans(texts: String*): Unit =
      texts.toDF("text")
        .select(graft.functions.Text.fingerprint($"text").as("fp"))
        .write.mode("overwrite").parquet(banDir)
    writeBans("banned from the start")
    val kept = collection.mutable.ArrayBuffer[String]()
    val removed = collection.mutable.ArrayBuffer[String]()
    val in = MemoryStream[String]
    val ckpt = java.nio.file.Files
      .createTempDirectory("graft_takedown_ckpt").toString
    def runBatch(): Unit = {
      // AvailableNow drains what's queued then stops — each call is "the
      // next micro-batches", with the checkpoint carrying offsets across
      val q = graft.streaming.TrendJobs.takedownJob(
        in.toDF(), ckpt,
        banList = () => sql.read.parquet(banDir),
        sink = (b, _) => kept ++=
          b.select("text").collect().map(r => Option(r.getString(0)).orNull),
        removedSink = (b, _) => removed ++=
          b.select("text").collect().map(_.getString(0)))
      q.awaitTermination()
    }
    in.addData(
      tweetJson("banned from the start", "2024-01-01 00:00:00", "Positive"),
      tweetJson("fine text", "2024-01-01 00:00:01", "Neutral"),
      tweetJson("later banned", "2024-01-01 00:00:02", "Negative"),
      "{not json at all")
    runBatch()
    assert(!kept.contains("banned from the start"))
    assert(kept.contains("fine text"))
    assert(kept.contains("later banned"), "not yet banned — must pass batch 1")
    assert(kept.contains(null), "malformed rows pass through un-scrubbed")
    assert(removed.toSeq == Seq("banned from the start"))
    // the takedown notice lands: extend the dimension between batches
    writeBans("banned from the start", "later banned")
    in.addData(
      tweetJson("later banned", "2024-01-01 00:01:00", "Negative"),
      tweetJson("another fine", "2024-01-01 00:01:01", "Positive"))
    runBatch()
    assert(kept.count(_ == "later banned") == 1,
      "the mid-stream ban must scrub the second arrival")
    assert(kept.contains("another fine"))
    assert(removed.count(_ == "later banned") == 1)
  }

  test("grouped sketch udaf stays correct past 128 groups per micro-batch " +
    "under RocksDB (VERDICT r14 #6)") {
    // the r14 fallback-threshold fix matters to STREAMING too: a grouped
    // streaming aggregation through a typed sketch udaf re-inherits
    // ObjectHashAggregate's 128-key sort fallback if the session builder
    // drops the tuned config (StreamMain did, before GraftSession). This
    // drives 500 groups — ~4x past the default threshold — through the
    // CMS aggregator in one micro-batch and demands exact estimates:
    // each group's sketch holds ONE distinct token, so any intra-sketch
    // collision is impossible and estimate == true count.
    implicit val ctx = sql.sqlContext
    val in = MemoryStream[String]
    in.addData((0 until 500).flatMap(i =>
      Seq.fill(i % 7 + 1)(s"k$i t$i")): _*)
    val grouped = in.toDF()
      .select(split(col("value"), " ").as("kv"))
      .select(col("kv")(0).as("key"), col("kv")(1).as("tok"))
      .groupBy("key").agg(Sketches.cms(col("tok")).as("sketch"))
    val q = grouped.writeStream.format("memory").queryName("grouped_cms")
      .outputMode("update").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val rows = sql.table("grouped_cms")
      .select(col("key"),
        Sketches.cmsEstimateUdf(col("sketch"),
          concat(lit("t"), substring(col("key"), 2, 10))).as("est"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(rows.size == 500)
    (0 until 500).foreach { i =>
      assert(rows(s"k$i") == (i % 7 + 1).toLong,
        s"group k$i: expected ${i % 7 + 1}, got ${rows(s"k$i")}")
    }
  }
}
