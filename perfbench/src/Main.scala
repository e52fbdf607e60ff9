package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths, StandardCopyOption}
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.{GraftSession, SparkEntry}
import graft.functions.{Sketches, Text}
import graft.sources.SyntheticTweets
import graft.streaming.{StreamMain, TrendJobs}

/** Benchmark process for one run of one workload. It drives the program
  * only through its public entry points, measures, and writes what it saw
  * (passes, micro-batch progress, reconciliation counts, result rows and,
  * when traced, spans, jobs and query executions) as JSON for `run.py`,
  * which turns the record into metrics and verdicts.
  *
  * usage: Main <workload> <seed> <seconds> <trace 0|1> <workDir> <outDir> <dataDir> */
object Main {
  /** Fixed thread count, independent of SPARK_GRAFT_CPUS, so that runs on
    * one machine compare; 4 is the core count the budget was sized on. */
  val Cpus = 4
  /** Untimed warm-up passes in set-up. After only one, the first timed pass
    * was an outlier, up to 1.5 times as long as the ones after it, while
    * the JIT still compiled the code it runs (README.md has the figures). */
  val WarmupPasses = 2

  def main(args: Array[String]): Unit = {
    val trace = new Trace
    try {
      val Array(workload, seed, seconds, traced, work, out, data) = args
      val w = workload match {
        case "stream_trend_drain" => new StreamDrain(trace, seed.toLong, work)
        case "batch_iterative_fits" => new IterativeFits(trace, work, data)
        case other => sys.error(s"unknown workload '$other'")
      }
      val record = w.run(seconds.toDouble, traced == "1")
      val json = new ObjectMapper().registerModule(DefaultScalaModule)
      Files.createDirectories(Paths.get(out))
      Files.writeString(Paths.get(out, "record.json"), json.writeValueAsString(record))
      Files.write(Paths.get(out, "spans.jsonl"),
        trace.all.map(json.writeValueAsString).asJava, UTF_8)
      System.exit(0)
    } catch {
      case e: Throwable =>
        e.printStackTrace()
        System.exit(1)
    }
  }
}

/** Set-up, warm-up and the timed pass loop shared by both workloads. */
abstract class Workload(val trace: Trace, val work: String) {
  var spark: SparkSession = _
  val passes = ArrayBuffer[Map[String, Any]]()
  val checks = ArrayBuffer[Map[String, Any]]()
  val errors = ArrayBuffer[Map[String, Any]]()
  val jobs = ArrayBuffer[Map[String, Any]]()
  val qes = ArrayBuffer[Map[String, Any]]()
  val extra = scala.collection.mutable.Map[String, Any]()
  /** Operations run in every pass: micro-batches or query executions. */
  val attempted = new AtomicLong

  def session(cpus: Int): SparkSession = {
    val s = GraftSession.localBuilder(cpus.toString)
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def fail(pass: String, op: String, e: Throwable): Unit = errors.synchronized {
    errors += Map("pass" -> pass, "op" -> op, "error" -> e.toString.takeWhile(_ != '\n'))
  }

  def land(): Unit
  /** Runs before a pass, outside its timed region. */
  def beforePass(id: String): Unit = ()
  /** One full pass. */
  def pass(id: String, probe: Option[Probe]): Unit
  /** Checks the pass's outputs, outside its timed region. */
  def check(id: String, probe: Option[Probe]): Unit

  private def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  /** Runs and checks one pass; returns the length of its timed region in ns. */
  def runPass(id: String, kind: String, traced: Boolean): Long = {
    beforePass(id)
    trace.pass = id
    val probe = if (traced) Some(new Probe(trace)) else None
    probe.foreach(_.attach(spark))
    val gc0 = gcMs()
    val start = trace.now
    trace.span("pass", id)(pass(id, probe))
    val end = trace.now
    val gc = gcMs() - gc0
    trace.span("check", id)(check(id, probe))
    probe.foreach { p =>
      p.detach(spark)
      jobs ++= p.jobRecords
      qes ++= p.qeRecords
    }
    passes += Map("id" -> id, "kind" -> kind, "traced" -> traced,
      "start" -> start, "end" -> end, "gc_ms" -> gc)
    trace.pass = ""
    Probe.drain(spark)
    System.gc()
    end - start
  }

  /** Set-up (session, inputs, untimed warm-up passes), then timed passes
    * until their timed regions add up to `seconds`, and at least two. The
    * count does not depend on the checks between passes, so a slow run
    * measures as many passes as a quick one: the JIT still speeds up the
    * second pass, so a run with fewer passes would read slower. A traced
    * run measures passes in the order U T U, so that tracing overhead is
    * measured in the same process and a steady drift cancels; its warm-up
    * passes are traced too, so that their job counts join the same-work
    * comparison. */
  def run(seconds: Double, traced: Boolean): Map[String, Any] = {
    trace.span("setup") {
      spark = trace.span("session.start")(session(Main.Cpus))
      trace.span("sources.land")(land())
      trace.span("warmup") {
        for (i <- 1 to Main.WarmupPasses) runPass(s"warmup$i", "warmup", traced)
      }
    }
    val kinds =
      if (traced) Seq("untraced", "traced", "untraced") else Seq("timed", "timed")
    var timedNs = 0L
    var n = 0
    while (n < kinds.size || timedNs < (seconds * 1e9).toLong) {
      val kind = kinds(n % kinds.size)
      timedNs += runPass(s"p$n", kind, kind == "traced")
      n += 1
    }
    afterTimed(traced)
    spark.stop()
    Map("setup_end" -> passes.find(_("kind") != "warmup").map(_("start")).get,
      "passes" -> passes.toList, "checks" -> checks.toList,
      "errors" -> errors.toList, "jobs" -> jobs.toList, "qes" -> qes.toList,
      "attempted" -> attempted.get) ++
      extra
  }

  def afterTimed(traced: Boolean): Unit = ()
}

/** `stream_trend_drain`: a seeded backlog of synthetic tweets as JSON-lines
  * files, drained by the reference jobs `etl`, `edw` and `cms` and by the
  * takedown job. Each file arrives as one partition, as a one-partition
  * topic delivers it. Every job drains the same files, malformed lines
  * included; an error a job raises is recorded as a failure of the pass.
  * The reference `fm` job is left out: its FM sketch throws on the null
  * text of a malformed line (README.md). */
final class StreamDrain(trace: Trace, seed: Long, work: String)
    extends Workload(trace, work) {
  /** One file per micro-batch; README.md explains the sizing. */
  val FileCount = 2
  val RowsPerFile = 3000
  val MalformedShare = 0.01
  val KeywordShare = 0.05
  val BanShare = 0.01
  val Jobs = Seq("etl", "edw", "cms", "takedown")

  private val input = s"$work/input"
  private val bans = s"$work/bans.parquet"
  private var landed = Map.empty[String, Any]
  private val batches = ArrayBuffer[Map[String, Any]]()
  private val failedBatches = new AtomicLong

  /** Tracked keywords never occur in the generator's vocabulary, so a
    * seeded share of lines gets one inserted between two words; malformed
    * lines are cut inside the text value, which leaves no field parsed. */
  def land(): Unit = {
    val rnd = new scala.util.Random(seed ^ 0x5eedL)
    val json = new ObjectMapper()
    val tracked = Sketches.TrackedKeywords
    val tweets = SyntheticTweets.generate(seed, FileCount * RowsPerFile)
    var malformed = 0L
    val injected = Array.fill(tracked.size)(0L)
    val texts = ArrayBuffer[String]()
    val lines = tweets.map { t =>
      if (rnd.nextDouble() < MalformedShare) {
        malformed += 1
        "{\"text\":\"" + t.text.take(rnd.nextInt(6))
      } else {
        var text = t.text
        if (rnd.nextDouble() < KeywordShare) {
          val words = text.split(" ")
          val k = rnd.nextInt(tracked.size)
          val at = 1 + rnd.nextInt(words.length - 1)
          text = (words.take(at) ++ Seq(tracked(k)) ++ words.drop(at)).mkString(" ")
          injected(k) += 1
        }
        texts += text
        val node = json.createObjectNode()
        node.put("text", text)
        node.put("created_at", t.created_at)
        node.put("sentiment", t.sentiment)
        val ents = node.putArray("entities")
        SyntheticTweets.entitiesOf(text).foreach(e => ents.add(e))
        json.writeValueAsString(node)
      }
    }
    // the file source orders files by modification time: one per batch, in order
    val base = System.currentTimeMillis() - 3600000L
    new File(input).mkdirs()
    lines.grouped(RowsPerFile).zipWithIndex.foreach { case (chunk, i) =>
      val f = new File(f"$input/part-$i%05d.json")
      Files.write(f.toPath, chunk.asJava, UTF_8)
      f.setLastModified(base + i * 1000L)
    }
    val s = spark
    import s.implicits._
    val distinct = texts.distinct.toSeq
    val banned = new scala.util.Random(seed ^ 0xba9L).shuffle(distinct)
      .take(math.max(1, (distinct.size * BanShare).toInt))
    banned.toDF("text").select(Text.fingerprint(col("text")).as("fp"))
      .write.parquet(bans)
    // generated texts differ in their words, so equal fingerprints mean
    // equal texts and the banned rows present are the lines with a banned text
    val bannedSet = banned.toSet
    val expectedRemoved = texts.count(bannedSet).toLong
    landed = Map("lines" -> lines.size.toLong, "files" -> FileCount.toLong,
      "malformed_injected" -> malformed,
      "keywords_injected" -> tracked.zip(injected).toMap,
      "expected_removed" -> expectedRemoved)
  }

  private def passDir(id: String) = s"$work/pass-$id"

  def pass(id: String, probe: Option[Probe]): Unit = {
    val out = s"${passDir(id)}/out"
    val ckpt = s"${passDir(id)}/ckpt"
    def sink(dir: String): (DataFrame, Long) => Unit = (df, _) =>
      trace.span("stream.sink", "takedown")(df.write.mode("append").parquet(dir))
    Jobs.foreach { job =>
      trace.span("stream.job", job) {
        val raw = spark.readStream.option("maxFilesPerTrigger", "1").text(input)
        val q: StreamingQuery = trace.span("query.build", job) {
          if (job == "takedown")
            TrendJobs.takedownJob(raw, s"$ckpt/$job", () => spark.read.parquet(bans),
              sink(s"$out/takedown/kept"), sink(s"$out/takedown/removed"),
              onError = (_, e) => { failedBatches.incrementAndGet(); fail(id, job, e) })
          else StreamMain.run(job, raw, s"$out/$job", s"$ckpt/$job")
        }
        trace.span("stream.drain", job) {
          try q.awaitTermination()
          catch { case e: Exception =>
            // the batch that stopped the query never commits
            attempted.incrementAndGet(); failedBatches.incrementAndGet(); fail(id, job, e)
          }
          probe.foreach(_.mark(spark, trace.openSpan))
        }
        attempted.addAndGet(q.recentProgress.length)
        q.recentProgress.foreach { p =>
          batches += Map("pass" -> id, "job" -> job, "batch" -> p.batchId,
            "durations" -> p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap)
        }
      }
    }
  }

  def check(id: String, probe: Option[Probe]): Unit = {
    val failed = failedBatches.getAndSet(0)
    if (!id.startsWith("warmup")) reconcile(id, failed)
    deleteTree(new File(passDir(id)))
  }

  private def reconcile(id: String, failed: Long): Unit = try {
    val out = s"${passDir(id)}/out"
    def read(p: String) = spark.read.parquet(s"$out/$p")
    // a job that failed before its first write leaves no sink: its rows are
    // counted as 0 and its estimates as none, which the reconciliation reports
    def written(p: String) = new File(s"$out/$p").isDirectory
    def ifWritten[T](p: String)(f: DataFrame => Seq[T]): Seq[T] =
      if (written(p)) f(read(p)) else Seq.empty
    val sinks = Seq("etl_rows" -> "etl/tweets", "edw_rows" -> "edw/edw_tweets",
      "cms_rows" -> "cms/tweets",
      "kept" -> "takedown/kept", "removed" -> "takedown/removed")
    val present = sinks.filter { case (_, p) => written(p) }
    val counted = present.map { case (k, p) => read(p).select(lit(k).as("k")) }
      .reduceOption(_ union _).toSeq.flatMap(_.groupBy("k").count().collect())
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val malformed = ifWritten("etl/tweets")(df => Seq(df.where(col("text").isNull &&
      col("created_at").isNull && col("sentiment").isNull && col("entities").isNull)
      .count())).sum
    val exact = ifWritten("cms/tweets")(_
      .select(col("batch_id"), explode(split(col("text"), "\\s+")).as("tok"))
      .where(col("tok").isin(Sketches.TrackedKeywords: _*))
      .groupBy("batch_id", "tok").count().collect()
      .map(r => Seq(r.getLong(0), r.getString(1), r.getLong(2))).toSeq)
    val cms = ifWritten("cms/cms_estimates")(_
      .select(col("batch_id"), col("keyword"), col("estimated_count")).collect()
      .map(r => Seq(r.getLong(0), r.getString(1), r.getLong(2))).toSeq)
    val passBatches = batches.filter(_("pass") == id)
    checks += landed ++ sinks.map { case (k, _) => k -> counted.getOrElse(k, 0L) } ++ Map(
      "pass" -> id, "malformed_rows" -> malformed,
      "cms_exact" -> exact, "cms_estimates" -> cms,
      "batches" -> Jobs.map(j => j -> passBatches.count(_("job") == j)).toMap,
      "failed_batches" -> failed,
      "sink_bytes" -> du(new File(out)))
  } catch { case e: Exception => fail(id, "check", e) }

  /** The traced run also drains once at local[1], a single-thread baseline
    * for the drain rate at local[N]. */
  override def afterTimed(traced: Boolean): Unit = {
    extra("batches") = batches.toList
    if (traced) {
      spark.stop()
      spark = session(1)
      val t = trace.now
      trace.span("one_thread")(pass("one_thread", None))
      extra("one_thread") = Map("ns" -> (trace.now - t))
      check("one_thread", None)
      extra("batches") = batches.toList
    }
  }

  private def du(f: File): Long =
    if (f.isDirectory) Option(f.listFiles).toSeq.flatten.map(du).sum else f.length
  private def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles).toSeq.flatten.foreach(deleteTree)
    f.delete()
  }
}

/** `batch_iterative_fits`: the job-count-bound fitters, each sent to the
  * noop sink. Every timed pass starts a fresh SparkContext in the same
  * JVM: fitted artifacts are memoised per session, so a pass in a reused
  * session would be served the previous pass's fits. */
final class IterativeFits(trace: Trace, work: String, data: String)
    extends Workload(trace, work) {
  /** Three of the fitters the roadmap targets, chosen so that a run holds
    * several passes within the run-time budget (README.md lists the ones
    * left out and why). */
  val Queries = Seq("q_kmeans_centroids", "q_dedup_components", "q_textrank")
  private val tier = s"$work/tier"
  private val frames = scala.collection.mutable.LinkedHashMap[String, DataFrame]()

  /** A fresh copy of the fixed tier per run. */
  def land(): Unit = {
    new File(tier).mkdirs()
    new File(data).listFiles.filter(_.getName.endsWith(".parquet")).foreach { f =>
      Files.copy(f.toPath, Paths.get(tier, f.getName), StandardCopyOption.REPLACE_EXISTING)
    }
  }

  override def beforePass(id: String): Unit = if (passes.nonEmpty) {
    spark.stop()
    spark = session(Main.Cpus)
  }

  def pass(id: String, probe: Option[Probe]): Unit = {
    frames.clear()
    Queries.foreach { q =>
      attempted.incrementAndGet()
      trace.span("query", q) {
        try {
          val df = trace.span("query.build", q) {
            val df = SparkEntry.queries(q)(spark, tier)
            probe.foreach(_.mark(spark, trace.openSpan))
            df
          }
          trace.span("query.action", q) {
            df.write.format("noop").mode("overwrite").save()
            probe.foreach(_.mark(spark, trace.openSpan))
          }
          frames(q) = df
        } catch { case e: Exception => fail(id, q, e) }
      }
    }
  }

  /** Traced passes also time a `count()` beside each noop action; every
    * timed pass's results are collected as canonical rows (columns in name
    * order, one JSON object per row) for the hash check. */
  def check(id: String, probe: Option[Probe]): Unit = if (!id.startsWith("warmup")) {
    if (probe.isDefined) frames.foreach { case (q, df) =>
      trace.span("query.count", q) {
        df.count()
        probe.foreach(_.mark(spark, trace.openSpan))
      }
    }
    frames.foreach { case (q, df) =>
      checks += Map("pass" -> id, "query" -> q, "rows" -> IterativeFits.canonicalRows(df))
    }
  }
}

object IterativeFits {
  def canonicalRows(df: DataFrame): Seq[String] = {
    val cols = df.columns.sorted.map(c => col(s"`$c`"))
    df.select(to_json(struct(cols.toIndexedSeq: _*))).collect().map(_.getString(0)).toSeq
  }
}

/** Canonical rows of result dumps written by the program's `graft.Verify`
  * main, so that the committed hashes can be tied to results the DuckDB
  * oracle accepted. usage: OracleRows <verifyOutDir> <outFile> <query>... */
object OracleRows {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.localBuilder(Main.Cpus.toString).getOrCreate()
    val rows = args.drop(2).map(q =>
      q -> IterativeFits.canonicalRows(spark.read.parquet(s"${args(0)}/$q"))).toMap
    Files.writeString(Paths.get(args(1)),
      new ObjectMapper().registerModule(DefaultScalaModule).writeValueAsString(rows))
    spark.stop()
  }
}
