package graft.queries

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.types.StructType

/** The one place the driver takes rows from a Spark plan. Every collect
  * in `graft.queries` goes through [[rows]] or [[collectUnder]], and both
  * are one action that stops after `bound` + 1 rows, so no input can make
  * the driver hold more than the bound its caller names:
  *  - [[rows]] is for a frame whose size the operator fixes (25 nations,
  *    [[CorpusQueries.GloveVocab]]² pairs, the 2 080 Gram entries, k·dim
  *    Lloyd means, one aggregate row). The bound is the constant that
  *    implies it; a frame above it is a broken assumption, so it fails
  *    with an error that names the site instead of an out-of-memory driver.
  *  - [[collectUnder]] is for a frame whose size the data sets, such as
  *    [[SimilarityQueries.computeComponents]]' verified pair list or
  *    [[TextQueries.textrank]]'s edge list: the caller names a hard cap and
  *    keeps an executor path for frames above it.
  *
  * Every driver-held result re-enters the plan as a local frame
  * ([[localFrame]]); a frame whose rows the driver already holds arrives in
  * its final order ([[StringOrder]]) instead of paying a Spark sort. */
private[graft] object Bounded {

  /** `ds`'s rows when it has at most `cap` of them, else None. One action
    * that stops after `cap` + 1 rows, so a frame above the cap costs the
    * driver at most `cap` + 1 rows before the caller falls back; the caller
    * pays the frame's lineage again on that path. */
  def collectUnder[T](ds: Dataset[T], cap: Int): Option[Array[T]] = {
    val held = ds.limit(cap + 1).collect()
    if (held.length <= cap) Some(held) else None
  }

  /** `ds`'s rows, which the caller's algorithm bounds by `bound`: the same
    * single action as [[collectUnder]], failing with an error that names
    * `what` and the bound when the frame holds more. */
  def rows[T](ds: Dataset[T], bound: Int, what: String): Array[T] =
    collectUnder(ds, bound).getOrElse(throw new IllegalStateException(
      s"$what: more than $bound rows, the most the driver holds for it"))

  /** `rows` as a local frame of the DDL schema `ddl`, in their order. */
  def localFrame(spark: SparkSession, ddl: String, rows: Iterable[Row]): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(rows.toSeq: _*), StructType.fromDDL(ddl))

  /** Spark's ascending string order: UTF-8 bytes compared unsigned, nulls
    * first. Java's `compareTo` compares UTF-16 units instead, which puts a
    * character above U+FFFF before one in U+E000–U+FFFF. */
  val StringOrder: Ordering[String] = new Ordering[String] {
    def compare(a: String, b: String): Int =
      if (a == null || b == null) java.lang.Boolean.compare(b == null, a == null)
      else java.util.Arrays.compareUnsigned(
        a.getBytes(java.nio.charset.StandardCharsets.UTF_8),
        b.getBytes(java.nio.charset.StandardCharsets.UTF_8))
  }
}
