package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.execution.aggregate.ObjectHashAggregateExec
import org.apache.spark.sql.functions._

/** Pins the shared-session-builder contract (VERDICT r14 #1): the tuned
  * configs — above all the ObjectHashAggregate fallback threshold that
  * makes the big-tier typed-udaf aggregations feasible — must reach EVERY
  * entry point, and the regression ("a main quietly builds its own
  * session without them") must fail the build, not a production run.
  */
class SessionConfigSpec extends SparkSpec {

  test("the live session carries the tuned fallback threshold") {
    assert(spark.conf.get(
      "spark.sql.objectHashAggregate.sortBased.fallbackThreshold") ===
      GraftSession.FallbackThreshold)
    assert(spark.conf.get("spark.sql.session.timeZone") === "UTC")
    assert(spark.conf.get("spark.sql.legacy.sizeOfNull") === "false")
  }

  private def mainSources: Seq[Path] = {
    val root = Paths.get("src/main/scala/graft")
    assert(Files.isDirectory(root),
      s"spec must run from the repo root (missing $root)")
    Files.walk(root).iterator().asScala
      .filter(p => p.toString.endsWith(".scala")).toSeq
  }

  test("SparkSession.builder() is constructed ONLY inside GraftSession") {
    // the r14 failure mode: four mains each carried a hand-rolled builder
    // and silently missed the tuned configs. One construction site means
    // the runtime assertion above covers every entry point.
    val offenders = mainSources.filter { p =>
      !p.getFileName.toString.equals("GraftSession.scala") &&
        Files.readString(p).contains("SparkSession.builder")
    }
    assert(offenders.isEmpty,
      s"raw SparkSession.builder() outside GraftSession: $offenders — " +
        "route it through GraftSession so the tuned configs apply")
  }

  test("every main builds its session through GraftSession") {
    val mains = Seq("Bench", "Verify", "PartialVerify", "RunQuery",
      "Explain", "ScaleUp", "streaming/StreamMain")
    val missing = mains.filterNot { m =>
      Files.readString(Paths.get(s"src/main/scala/graft/$m.scala"))
        .contains("GraftSession")
    }
    assert(missing.isEmpty, s"mains not using GraftSession: $missing")
  }

  test("top-k typed udaf STAYS HASHED past 128 groups under the tuned " +
    "threshold, and the spec detects the fallback under the default") {
    // the r14 find: ObjectHashAggregate's default 128-key fallback was
    // silently converting every mergeable top-k aggregation into a full-
    // input sort (a 200+ GB spill at the sf100 pair stream). This test
    // fails under the Spark default, so the fix is one config-drop away
    // from a red build instead of a silent scale tax (VERDICT r14 #5).
    import org.apache.spark.sql.Encoders
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    val topk = udaf(new graft.functions.Similarity.TopKNeighborsAggregator(5),
      Encoders.tuple(Encoders.scalaLong, Encoders.DOUBLE))
    // collect through AQE wrappers: AdaptiveSparkPlanExec holds the final
    // plan out-of-line, and materialized stages nest under QueryStageExec
    def aggsIn(p: SparkPlan): Seq[ObjectHashAggregateExec] = {
      val here = p match { case o: ObjectHashAggregateExec => Seq(o); case _ => Nil }
      val kids = p match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case s: QueryStageExec => Seq(s.plan)
        case _ => p.children
      }
      here ++ kids.flatMap(aggsIn)
    }
    def fallbackTasks(): Long = {
      // 4000 groups x 8 rows — far past the 128-key default in each task
      val df = spark.range(32000)
        .select((col("id") % 4000).as("g"), col("id").as("nb"),
          (col("id") % 97).cast("double").as("cos"))
        .groupBy("g").agg(topk(col("nb"), col("cos")).as("top"))
      // collect(), not count(): count() spawns a SEPARATE QueryExecution
      // whose metrics we would never read — the inspected plan must be
      // the executed one
      df.collect()
      val aggs = aggsIn(df.queryExecution.executedPlan)
      assert(aggs.nonEmpty,
        "top-k udaf must compile to ObjectHashAggregate:\n" +
          df.queryExecution.executedPlan)
      aggs.map(_.metrics("numTasksFallBacked").value).sum
    }
    val key = "spark.sql.objectHashAggregate.sortBased.fallbackThreshold"
    assert(fallbackTasks() === 0L,
      "tuned threshold must keep the top-k aggregation hashed")
    // negative control: under the Spark default the same plan falls back —
    // proving this spec actually measures the thing it pins
    spark.conf.set(key, "128")
    try assert(fallbackTasks() > 0L,
      "control failed: the 128-key default should trigger sort fallback " +
        "on a 4000-group input — the metric read is broken")
    finally spark.conf.set(key, GraftSession.FallbackThreshold)
  }
}
