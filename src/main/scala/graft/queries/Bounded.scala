package graft.queries

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.StructType

/** The driver side of the fitters that hold a frame or an iterate on the
  * driver. A corpus-derived frame such as
  * [[SimilarityQueries.computeComponents]]' verified pair list or
  * [[TextQueries.textrank]]'s edge list is bounded by the data, not by
  * construction, so each caller names a hard row cap and keeps an executor
  * path for frames above it. Every driver-held result re-enters the plan as
  * a local frame: the components, Lloyd, TextRank, GloVe, MMR, PCA,
  * unigram, BPE and Markov fitters and the four nation-graph fixpoints of
  * [[GraphQueries]]. A frame whose rows the driver already holds arrives in
  * its final order ([[StringOrder]]) instead of paying a Spark sort. */
private[graft] object Bounded {

  /** `df`'s rows when it has at most `cap` of them, else None. One action
    * that stops after `cap` + 1 rows, so a frame above the cap costs the
    * driver at most `cap` + 1 rows before the caller falls back; the caller
    * pays the frame's lineage again on that path. */
  def collectUnder(df: DataFrame, cap: Int): Option[Array[Row]] = {
    val held = df.limit(cap + 1).collect()
    if (held.length <= cap) Some(held) else None
  }

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
