package graft

import graft.functions.Sketches
import org.scalatest.funsuite.AnyFunSuite

/** Pins the Scala sketch ports bit-for-bit against the reference Python
  * algorithms (values computed by running the reference formulas:
  * cms_stream.py:26-47, flajolent_stream.py:19-28). */
class SketchSpec extends AnyFunSuite {

  test("FM trailing-zeros matches reference Python bin() semantics") {
    // python: len(bin(int(md5(s).hexdigest(),16))) - len(bin(...).rstrip('0'))
    assert(Sketches.fmTrailingZeros("hello") == 1)
    assert(Sketches.fmTrailingZeros("world") == 0)
    assert(Sketches.fmTrailingZeros("spark") == 0)
    assert(Sketches.fmTrailingZeros("a") == 0)
    assert(Sketches.fmTrailingZeros("") == 1) // md5("") low bit is 0? pinned from python
  }

  test("CMS row hashes match reference md5(str(item)+str(i)) % width") {
    // python: [int(md5(('sports'+str(i)).encode()).hexdigest(),16) % 1000 for i in range(10)]
    val expected = Seq(399, 200, 868, 29, 127, 774, 863, 709, 974, 794)
    assert((0 until 10).map(Sketches.cmsHash("sports", _)) == expected)
  }

  test("FM aggregator: merge is max, finish is 2^max") {
    val fm = new Sketches.FmAggregator
    val b = List("hello", "world", "spark").foldLeft(fm.zero)(fm.reduce)
    assert(fm.finish(b) == 2L) // max r = 1 ("hello")
    assert(fm.merge(3, 5) == 5)
    val rnd = new scala.util.Random(42)
    for (_ <- 1 to 100) {
      val (x, y) = (rnd.nextInt(60), rnd.nextInt(60))
      assert(fm.merge(x, y) == fm.merge(y, x))
    }
  }

  test("FM aggregator skips null items (a malformed line's text)") {
    val fm = new Sketches.FmAggregator
    val withNulls = List(null, "hello", null, "world").foldLeft(fm.zero)(fm.reduce)
    assert(withNulls == List("hello", "world").foldLeft(fm.zero)(fm.reduce))
    assert(fm.finish(fm.reduce(fm.zero, null)) == 1L) // all-null: the empty estimate
  }

  test("CMS estimate >= true count and merge is associative/commutative") {
    val agg = new Sketches.CmsAggregator()
    val rnd = new scala.util.Random(7)
    for (_ <- 1 to 25) {
      val words = List.fill(1 + rnd.nextInt(50))(s"w${rnd.nextInt(20)}")
      val sketch = words.foldLeft(agg.zero)(agg.reduce)
      val exact = words.groupBy(identity).view.mapValues(_.size)
      exact.foreach { case (w, c) =>
        assert(Sketches.cmsEstimate(sketch, w) >= c)
      }
      // split-merge equals whole
      val (l, r) = words.splitAt(words.size / 2)
      val merged = agg.merge(l.foldLeft(agg.zero)(agg.reduce),
        r.foldLeft(agg.zero)(agg.reduce))
      assert(java.util.Arrays.equals(merged, words.foldLeft(agg.zero)(agg.reduce)))
    }
  }

  test("CMS point query of an unseen item over empty sketch is 0") {
    val agg = new Sketches.CmsAggregator()
    assert(Sketches.cmsEstimate(agg.zero, "nothing") == 0L)
  }

  test("Bloom filter: no false negatives, split-merge == whole, low FPR") {
    val agg = new Sketches.BloomAggregator()
    val members = (0 until 500).map(i => s"user$i")
    val bits = members.foldLeft(agg.zero)(agg.reduce)
    // no false negatives ever
    members.foreach(m => assert(Sketches.bloomContains(bits, m)))
    // merge of halves equals whole
    val (l, r) = members.splitAt(250)
    val merged = agg.merge(l.foldLeft(agg.zero)(agg.reduce),
      r.foldLeft(agg.zero)(agg.reduce))
    assert(java.util.Arrays.equals(merged, bits))
    // false-positive rate bounded (m=2^20, k=7, n=500 -> FPR ~ 1e-17;
    // allow slack far above it)
    val fps = (0 until 10000).count(i => Sketches.bloomContains(bits, s"absent$i"))
    assert(fps == 0, s"unexpected false positives: $fps")
    // empty sketch contains nothing
    assert(!Sketches.bloomContains(agg.zero, "anything"))
  }

  test("misra-gries: heavy-hitter and error guarantees in the lossy regime") {
    val rnd = new scala.util.Random(99)
    // skewed stream over a vocabulary larger than the counter budget
    val vocab = ('a' to 'z').map(_.toString)
    val stream = Seq.fill(5000) {
      val r = rnd.nextInt(10)
      if (r < 5) vocab(rnd.nextInt(3))        // 3 hot items share ~50%
      else vocab(3 + rnd.nextInt(23))         // long tail
    }
    val truth = stream.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val n = stream.size
    val k = 8
    val agg = new Sketches.MisraGriesAggregator(k)
    // sequential reduce AND a split+merge must both honor the guarantees
    val whole = stream.foldLeft(agg.zero)(agg.reduce)
    val (l, r) = stream.splitAt(n / 3)
    val merged = agg.merge(
      l.foldLeft(agg.zero)(agg.reduce), r.foldLeft(agg.zero)(agg.reduce))
    for ((name, sk) <- Seq("whole" -> whole, "merged" -> merged)) {
      assert(sk.size <= k - 1, s"$name: too many counters")
      truth.foreach { case (w, c) =>
        if (c > n.toDouble / k)
          assert(sk.contains(w), s"$name: heavy hitter $w (freq $c) missing")
      }
      sk.foreach { case (w, est) =>
        val c = truth(w)
        assert(est <= c, s"$name: $w overestimated ($est > $c)")
        assert(est >= c - n.toDouble / k, s"$name: $w underestimated past n/k")
      }
    }
  }

  test("heavy hitters query == exact top-10 keywords (lossless vocab regime)") {
    val spark = SparkSpec.spark
    val sf = SparkSpec.Sf
    val viaMg = graft.queries.SketchQueries.heavyHitters(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    val exact = graft.queries.TextQueries.topKeywords(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq.take(10)
    assert(viaMg == exact)
  }

  test("bloom width must be a positive multiple of 64 (ADVICE r1 fix)") {
    intercept[IllegalArgumentException] { new Sketches.BloomAggregator(m = 100) }
    intercept[IllegalArgumentException] { Sketches.bloomPositions("x", m = 100) }
    intercept[IllegalArgumentException] { new Sketches.BloomAggregator(m = 0) }
    // valid width still works
    val agg = new Sketches.BloomAggregator(m = 128)
    val buf = agg.reduce(agg.zero, "hello")
    assert(Sketches.bloomContains(buf, "hello"))
    assert(!Sketches.bloomContains(buf, "absent"))
  }

  test("FM estimate clamps instead of wrapping at rank >= 63 (ADVICE r1 fix)") {
    val agg = new Sketches.FmAggregator
    assert(agg.finish(62) == (1L << 62))
    assert(agg.finish(63) == (1L << 62)) // would wrap to negative unclamped
    assert(agg.finish(64) == (1L << 62)) // 1L << 64 == 1 unclamped
  }

  test("KMV: sorted k-bounded buffer; merge == whole; dedup-proof; exact below k") {
    val agg = new Sketches.KmvAggregator(8)
    val items = (1 to 100).map(i => s"item-$i")
    val whole = items.foldLeft(agg.zero)(agg.reduce)
    assert(whole.length == 8)
    assert(whole.sorted.sameElements(whole), "buffer stays sorted")
    // the buffer is exactly the 8 smallest distinct hashes
    val expect = items.map(Sketches.kmvHash).distinct.sorted.take(8)
    assert(whole.sameElements(expect))
    // merge of any split == whole; merge is commutative and idempotent
    val (l, r) = items.splitAt(37)
    val la = l.foldLeft(agg.zero)(agg.reduce)
    val ra = r.foldLeft(agg.zero)(agg.reduce)
    assert(agg.merge(la.clone(), ra.clone()).sameElements(whole))
    assert(agg.merge(ra.clone(), la.clone()).sameElements(whole))
    assert(agg.merge(whole.clone(), whole.clone()).sameElements(whole))
    // duplicates never displace distinct minima
    val dups = items ++ items.take(50)
    assert(dups.foldLeft(agg.zero)(agg.reduce).sameElements(whole))
    // below k the sketch IS the exact set
    val few = (1 to 5).map(i => s"x$i")
    val sm = few.foldLeft(agg.zero)(agg.reduce)
    assert(sm.length == 5 && sm.sameElements(few.map(Sketches.kmvHash).sorted))
  }

  test("KMV overlap: estimates land near exact twins on the event corpus") {
    val sql = SparkSpec.spark
    val rows = graft.queries.SketchQueries.kmvOverlap(sql, SparkSpec.Sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (eu, ei) = (r.getLong(4), r.getLong(5))
      val (ku, ki) = (r.getDouble(2), r.getDouble(3))
      assert(ei <= eu, "intersection bounded by union")
      // k=64 → ~12.5% RSE; allow 4 sigma plus the small-count floor
      assert(math.abs(ku - eu) <= math.max(0.5 * eu, 8.0),
        s"${r.getString(0)}~${r.getString(1)}: kmv_union $ku vs exact $eu")
      assert(math.abs(ki - ei) <= math.max(0.5 * ei, 8.0),
        s"${r.getString(0)}~${r.getString(1)}: kmv_inter $ki vs exact $ei")
    }
  }
}
