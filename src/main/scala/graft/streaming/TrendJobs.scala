package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** The reference's four streaming jobs, re-expressed on the Pipeline
  * components — a user of the reference can run the same four pipelines
  * against any Spark source (Kafka in production, MemoryStream in tests,
  * bounded frames for backfill):
  *
  *  - [[etl]]        ⇔ processing/spark_stream.py   (parse → project → sink)
  *  - [[edw]]        ⇔ processing/edw_stream.py     (decay-weighted enrich)
  *  - [[cmsJob]]     ⇔ processing/cms_stream.py     (keyword CMS metrics)
  *  - [[fmJob]]      ⇔ processing/flajolent_stream.py (FM distinct metrics)
  *
  * Differences by design (SURVEY.md §2.5): checkpoints everywhere, no
  * driver-side state or collect, explicit as-of for determinism in tests.
  * Each job takes the raw source frame (Kafka wire format: a binary/string
  * `value` column) and a foreachBatch-style sink callback, mirroring the
  * reference's JDBC-append structure without binding to Postgres.
  */
object TrendJobs {

  private def start(df: DataFrame, checkpointDir: String,
                    sink: (DataFrame, Long) => Unit,
                    onError: (Long, Throwable) => Unit,
                    trigger: Trigger): StreamingQuery =
    df.writeStream
      .foreachBatch(Pipeline.guardedForeachBatch(sink, onError))
      .option("checkpointLocation", checkpointDir)
      .outputMode("update")
      .trigger(trigger)
      .start()

  /** A foreachBatch body over a batch computed once: `prepare(batch)` is
    * persisted, so `isEmpty` and every sink read the cached rows instead of
    * re-scanning and re-parsing the source (and the progress's
    * `numInputRows` counts each line once); empty batches are skipped. */
  private def once(prepare: DataFrame => DataFrame)(process: (DataFrame, Long) => Unit)
      : (DataFrame, Long) => Unit =
    (batch, id) => {
      val rows = prepare(batch).persist()
      try { if (!rows.isEmpty) process(rows, id) }
      finally rows.unpersist()
    }

  /** spark_stream.py parity: parse → ETL projection → sink. */
  def etl(raw: DataFrame, checkpointDir: String,
          sink: (DataFrame, Long) => Unit,
          onError: (Long, Throwable) => Unit = rethrow,
          trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    start(Pipeline.etlProjection(Pipeline.parseTweets(raw)),
      checkpointDir, sink, onError, trigger)

  /** edw_stream.py parity: parse → decay enrich (wall-clock as-of, like the
    * reference's datetime.now()) → sink. */
  def edw(raw: DataFrame, checkpointDir: String,
          sink: (DataFrame, Long) => Unit,
          onError: (Long, Throwable) => Unit = rethrow,
          trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    start(Pipeline.enrich(Pipeline.parseTweets(raw), current_timestamp()),
      checkpointDir, sink, onError, trigger)

  /** cms_stream.py parity: per batch, append the raw rows via `sink` and the
    * tracked-keyword CMS estimates via `metricsSink` — both computed
    * distributed (the reference collects the batch to the driver). */
  def cmsJob(raw: DataFrame, checkpointDir: String,
             sink: (DataFrame, Long) => Unit,
             metricsSink: (DataFrame, Long) => Unit,
             onError: (Long, Throwable) => Unit = rethrow,
             trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    start(Pipeline.parseTweets(raw), checkpointDir,
      once(identity) { (batch, id) =>
        sink(batch, id)
        metricsSink(Pipeline.cmsMetrics(batch), id)
      }, onError, trigger)

  /** flajolent_stream.py parity: raw append + one FM-estimate row per batch. */
  def fmJob(raw: DataFrame, checkpointDir: String,
            sink: (DataFrame, Long) => Unit,
            metricsSink: (DataFrame, Long) => Unit,
            onError: (Long, Throwable) => Unit = rethrow,
            trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    start(Pipeline.parseTweets(raw), checkpointDir,
      once(identity) { (batch, id) =>
        sink(batch, id)
        metricsSink(Pipeline.fmMetrics(batch), id)
      }, onError, trigger)

  /** Takedown-cascade job — the streaming face of
    * [[graft.queries.TextQueries.takedownScrub]]: per micro-batch, drop
    * every document whose content fingerprint ([[graft.functions.Text
    * .fingerprint]], the same md5-of-normalized-text key the batch scrub
    * uses) appears in the ban-list dimension; survivors go to `sink`, the
    * scrubbed rows to `removedSink` (the audit trail a right-to-be-
    * forgotten pipeline must keep).
    *
    * The ban list is a SLOWLY CHANGING DIMENSION: `banList` is a thunk
    * re-evaluated at every micro-batch (a parquet / JDBC re-read in
    * production), so a takedown notice landing mid-stream takes effect on
    * the NEXT batch with no query restart. Each batch is fingerprinted and
    * left-joined against the broadcast ban side ONCE, with a `banned`
    * marker, and the two sinks filter that one persisted result — so the
    * ban list is read once per batch. The join is STATE-FREE — nothing to
    * watermark, no state-store growth at any stream length, unlike a
    * stream-stream formulation.
    * Rows with NULL text (malformed JSON, PERMISSIVE parse) have no
    * fingerprint and pass through to `sink` un-scrubbed — a takedown can
    * only name content, and dropping unparsed rows would hide ingest
    * errors from the error-table path. */
  def takedownJob(raw: DataFrame, checkpointDir: String,
                  banList: () => DataFrame,
                  sink: (DataFrame, Long) => Unit,
                  removedSink: (DataFrame, Long) => Unit = (_, _) => (),
                  onError: (Long, Throwable) => Unit = rethrow,
                  trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    start(Pipeline.parseTweets(raw), checkpointDir,
      once { batch =>
        val bans = broadcast(banList().select(col("fp")).distinct()
          .withColumn("banned", lit(true)))
        batch.withColumn("fp", graft.functions.Text.fingerprint(col("text")))
          .join(bans, Seq("fp"), "left")
      } { (marked, id) =>
        sink(marked.filter(col("banned").isNull).drop("fp", "banned"), id)
        removedSink(marked.filter(col("banned")).drop("fp", "banned"), id)
      }, onError, trigger)

  private def rethrow: (Long, Throwable) => Unit = (_, e) => throw e
}
