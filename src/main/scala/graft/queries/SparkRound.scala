package graft.queries

import java.math.{BigDecimal, RoundingMode}

/** Spark's rounding rules for the fitters that run their rounds on the
  * driver ([[CorpusQueries.gloveEmbed]], [[CorpusQueries.embedPca]],
  * [[CorpusQueries.unigramTok]], [[AnalyticQueries.markovSteady]],
  * [[TextQueries.textrank]], [[GraphQueries.pagerank]] and
  * [[GraphQueries.hits]]) and for the streaming operators that emit the
  * batch operators' rounded values, so a driver value equals the one the
  * former Spark plan computed, bit for bit. */
private[graft] object SparkRound {

  /** Spark's `round(d, s)` on a finite double: the double's shortest
    * decimal form rounded HALF_UP (away from zero on a tie). Its
    * `doubleValue` is the double Spark returns, and a `cast(... as
    * decimal(p, s))` of that double is this value. */
  def round(d: Double, s: Int): BigDecimal =
    BigDecimal.valueOf(d).setScale(s, RoundingMode.HALF_UP)

  /** A decimal(18,6) product rounded back to the 6-dp grid, as Spark's
    * `round(x, 6)` on a decimal. */
  def onGrid(d: BigDecimal): BigDecimal = d.setScale(6, RoundingMode.HALF_UP)
}
