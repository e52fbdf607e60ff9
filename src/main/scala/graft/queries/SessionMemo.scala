package graft.queries

import scala.collection.concurrent.TrieMap
import org.apache.spark.sql.SparkSession

/** Content-addressed per-session memo for fitted artifacts (the bucketed-
  * table doctrine generalized): a near-dup labeling, a k-means quantizer, a
  * PQ codebook are *artifacts of the corpus*, not of the query that happens
  * to ask for them — production pipelines fit them once and every
  * encode/search/dedup face reads the same fit. Registered queries stay
  * self-contained by contract (each can be run alone), but within one
  * session the second consumer of the same fit must not pay the Lloyd
  * rounds again for a bit-identical result.
  *
  * Keying: (sessionUUID, caller key) — the UUID is unique per session for
  * the process lifetime, unlike an identity hash, which the JVM can reuse
  * after a stopped session is GC'd and would then serve a checkpointed
  * frame bound to dead executors (ADVICE r9). Entries are evicted when
  * their session's SparkContext ends (listener registered on first use),
  * so cached frames are not pinned past their session. Caller keys fold in
  * a [[tableTag]] — the source table's recursive parquet file listing
  * (name, size, mtime) — so regenerating a tier mid-session forces a fresh
  * fit instead of serving a stale one. A value is one of: rows the driver
  * holds under their [[Bounded.rows]] bound (the trade graph, the event
  * transition counts, the OPQ allocation), a driver-local frame built from
  * such rows, or a localCheckpoint'ed DataFrame (executor-resident blocks,
  * constant-size plans) for an artifact too large for the driver. A memo
  * hit costs nothing or a block read, not a recomputation.
  */
private[graft] object SessionMemo {
  private val memo = TrieMap[(String, String), AnyRef]()
  private val hooked = TrieMap[String, Boolean]()

  /** md5 tag of `dir/table.parquet`'s RECURSIVE file listing — cheap
    * (driver-side stat calls only) and changes whenever the tier is
    * rewritten, including rewrites confined to nested partition
    * subdirectories (ADVICE r9: a non-recursive listing missed those).
    * A missing table path fails fast instead of silently degenerating to
    * a dir-string-only tag that could serve a stale fit. */
  def tableTag(dir: String, table: String): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    md.update(dir.getBytes("UTF-8"))
    val root = new java.io.File(dir, s"$table.parquet")
    require(root.exists,
      s"SessionMemo.tableTag: missing table path ${root.getPath}")
    def walk(f: java.io.File): Unit =
      // listFiles() returns null (not empty) on a transient IO/permission
      // failure — fail with the descriptive require, not an NPE (ADVICE r10)
      if (f.isDirectory) {
        val kids = Option(f.listFiles()).getOrElse(
          sys.error(s"SessionMemo.tableTag: unlistable directory ${f.getPath}"))
        kids.sortBy(_.getName).foreach(walk)
      }
      else md.update(
        s"${f.getPath}:${f.length}:${f.lastModified}".getBytes("UTF-8"))
    walk(root)
    md.digest().map("%02x".format(_)).mkString.take(12)
  }

  /** Serve `key`'s artifact for this session, computing it at most once.
    * TrieMap.getOrElseUpdate is atomic per key — concurrent first callers
    * compute once. */
  def cached[T <: AnyRef](spark: SparkSession, key: String)(compute: => T): T = {
    val sid = org.apache.spark.sql.GraftSqlBridge.sessionUUID(spark)
    // evict this session's entries when its context ends — a stopped
    // session's checkpointed blocks are gone; holding the frames would
    // both leak and risk serving a dead plan to a later same-tag session
    if (hooked.putIfAbsent(sid, true).isEmpty) {
      spark.sparkContext.addSparkListener(
        new org.apache.spark.scheduler.SparkListener {
          override def onApplicationEnd(
              e: org.apache.spark.scheduler.SparkListenerApplicationEnd): Unit = {
            memo.keys.filter(_._1 == sid).foreach(memo.remove)
            hooked.remove(sid)
          }
        })
    }
    memo.getOrElseUpdate((sid, key), compute).asInstanceOf[T]
  }
}
