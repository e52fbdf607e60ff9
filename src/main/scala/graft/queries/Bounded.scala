package graft.queries

import org.apache.spark.sql.{DataFrame, Row}

/** The guard of the fitters that hold a corpus-derived frame on the driver
  * when it is small: [[SimilarityQueries.computeComponents]]' verified pair
  * list and [[TextQueries.textrank]]'s edge list. Such a frame is bounded by
  * the data, not by construction, so each caller names a hard row cap and
  * keeps an executor path for frames above it. */
private[graft] object Bounded {

  /** `df`'s rows when it has at most `cap` of them, else None. One action
    * that stops after `cap` + 1 rows, so a frame above the cap costs the
    * driver at most `cap` + 1 rows before the caller falls back; the caller
    * pays the frame's lineage again on that path. */
  def collectUnder(df: DataFrame, cap: Int): Option[Array[Row]] = {
    val held = df.limit(cap + 1).collect()
    if (held.length <= cap) Some(held) else None
  }
}
