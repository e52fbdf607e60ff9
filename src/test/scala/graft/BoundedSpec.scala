package graft

import graft.queries.Bounded
import java.io.{BufferedInputStream, DataInputStream, File, FileInputStream}
import scala.collection.mutable.ArrayBuffer

/** The bounded-collect contract: every driver collect in `graft.queries`
  * goes through [[Bounded]], which takes at most `bound` + 1 rows in one
  * action and fails loudly above the bound.
  *
  * The audit reads what `graft.queries` compiles to, not its text: a
  * Dataset's `take(n)` and a Scala collection's `take(n)` are the same
  * text, while a class file names the owner of every method it calls. A
  * comment, a string or a Scala collection's `collect { … }` or
  * `mkString.take(12)` never trips it, and no formatting hides a call. */
class BoundedSpec extends SparkSpec {

  /** The methods that bring a Dataset's or an RDD's rows to the driver. */
  private val DriverTakes = Set("collect", "collectAsList", "head", "first", "take",
    "takeAsList", "tail", "toLocalIterator", "top", "takeOrdered", "takeSample")

  private def takesRows(owner: String, name: String, desc: String): Boolean =
    (owner.startsWith("org/apache/spark/sql/") && owner.endsWith("/Dataset") ||
      owner == "org/apache/spark/rdd/RDD") &&
      DriverTakes(name) &&
      // RDD.collect(pf) is a transformation, not an action
      !(name == "collect" && !desc.startsWith("()"))

  /** The (owner, name, descriptor) of every method a class file refers to:
    * the Methodref and InterfaceMethodref entries of its constant pool. */
  private def methodRefs(f: File): Seq[(String, String, String)] = {
    val in = new DataInputStream(new BufferedInputStream(new FileInputStream(f)))
    try {
      in.readInt(); in.readUnsignedShort(); in.readUnsignedShort() // magic, version
      val n = in.readUnsignedShort()
      val utf = new Array[String](n)
      val cls = new Array[Int](n)
      val nat = new Array[(Int, Int)](n)
      val refs = ArrayBuffer[(Int, Int)]()
      var i = 1
      while (i < n) {
        in.readUnsignedByte() match {
          case 1 => utf(i) = in.readUTF()
          case 7 => cls(i) = in.readUnsignedShort()
          case 10 | 11 => refs += ((in.readUnsignedShort(), in.readUnsignedShort()))
          case 12 => nat(i) = (in.readUnsignedShort(), in.readUnsignedShort())
          case 5 | 6 => in.readLong(); i += 1 // a long or double takes two slots
          case 3 | 4 | 9 | 17 | 18 => in.readInt()
          case 8 | 16 | 19 | 20 => in.readUnsignedShort()
          case 15 => in.readUnsignedByte(); in.readUnsignedShort()
          case t => fail(s"${f.getName}: constant-pool tag $t")
        }
        i += 1
      }
      refs.toSeq.map { case (c, t) => (utf(cls(c)), utf(nat(t)._1), utf(nat(t)._2)) }
    } finally in.close()
  }

  private lazy val queryClasses: Seq[File] = {
    val url = getClass.getClassLoader.getResource("graft/queries/Bounded$.class")
    assert(url.getProtocol == "file", s"graft.queries must load from a directory: $url")
    new File(url.toURI).getParentFile.listFiles().filter(_.getName.endsWith(".class")).toSeq
  }

  private def driverTakes(f: File): Seq[String] =
    methodRefs(f).collect { case (o, m, d) if takesRows(o, m, d) => s"$o.$m$d" }.distinct

  test("audit: no class of graft.queries but Bounded takes a Dataset's or an " +
    "RDD's rows to the driver") {
    val (bounded, others) = queryClasses.partition(_.getName.startsWith("Bounded"))
    // the audit sees such calls: Bounded's own collect is one
    assert(bounded.flatMap(driverTakes).exists(_.contains("Dataset.collect()")))
    assert(others.exists(_.getName == "GraphQueries$.class"), queryClasses)
    val offenders = others.flatMap(f => driverTakes(f).map(c => s"${f.getName}: $c"))
    assert(offenders.isEmpty,
      s"raw driver collects outside Bounded: $offenders — route each through " +
        "Bounded.rows (a bound the algorithm fixes) or Bounded.collectUnder " +
        "(a cap with an executor path)")
  }

  test("Bounded.rows: returns a frame of exactly its bound, and fails naming " +
    "the site and the bound one row above it") {
    val three = spark.range(0, 3, 1, 3).toDF("id")
    assert(Bounded.rows(three, 3, "three ids").map(_.getLong(0)).sorted.toSeq == Seq(0L, 1L, 2L))
    val e = intercept[IllegalStateException](Bounded.rows(three, 2, "the test site"))
    assert(e.getMessage == "the test site: more than 2 rows, the most the driver holds for it")
    assert(Bounded.collectUnder(three, 2).isEmpty)
  }
}
