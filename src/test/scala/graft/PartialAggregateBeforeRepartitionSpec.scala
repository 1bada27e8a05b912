package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.aggregate.Partial
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.aggregate.HashAggregateExec
import org.apache.spark.sql.execution.exchange.{REPARTITION_BY_COL, REPARTITION_BY_NUM, ShuffleExchangeExec}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** [[PartialAggregateBeforeRepartition]]: under `repartition(k)` or
  * `repartitionById(n, k)` with `k` among the grouping keys, the partial
  * aggregate runs before the one exchange, with adaptive execution on and
  * off, and the result equals the plain `groupBy`. A repartition key
  * outside the grouping keys keeps the planner's shape. */
class PartialAggregateBeforeRepartitionSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {
  private lazy val spark = SparkTestSession.spark

  private def input(s: SparkSession): DataFrame =
    s.range(0, 20000, 1, 4).select(
      (col("id") % 7).as("a"), (col("id") % 13).as("b"), (col("id") % 5).as("c"),
      col("id").as("x"))

  private def isPartial(p: SparkPlan): Boolean = p match {
    case h: HashAggregateExec => h.aggregateExpressions.forall(_.mode == Partial) &&
      h.requiredChildDistributionExpressions.isEmpty
    case _ => false
  }

  /** The executed plan's partial aggregates, split by whether they sit
    * below the repartition exchange. */
  private def partials(df: DataFrame): (Int, Int) = {
    val plan = df.queryExecution.executedPlan
    val repartition = collect(plan) {
      case e: ShuffleExchangeExec
          if e.shuffleOrigin == REPARTITION_BY_COL || e.shuffleOrigin == REPARTITION_BY_NUM => e
    }
    assert(repartition.size === 1, s"expected one repartition exchange:\n$plan")
    val below = collect(repartition.head)({ case p if isPartial(p) => p }).size
    (below, collect(plan)({ case p if isPartial(p) => p }).size - below)
  }

  private def agg(df: DataFrame): DataFrame =
    df.groupBy("a", "b").agg(sum("x").as("sx"), count(lit(1)).as("n"))

  /** Runs `df` itself, so its executed plan is the final one. */
  private def rows(df: DataFrame) = df.collect().toSeq.sortBy(r => (r.getLong(0), r.getLong(1)))

  for (aqe <- Seq(true, false)) test(s"partial aggregate combines before the exchange (AQE $aqe)") {
    val s = spark.newSession()
    s.conf.set("spark.sql.adaptive.enabled", aqe.toString)
    val df = agg(input(s).repartition(col("a")))
    val expected = rows(agg(input(s)))
    assert(rows(df) === expected)
    assert(partials(df) === ((1, 0)), df.queryExecution.executedPlan.toString)
  }

  for (aqe <- Seq(true, false))
    test(s"partial aggregate combines before a repartitionById exchange, the only one (AQE $aqe)") {
      val s = spark.newSession()
      s.conf.set("spark.sql.adaptive.enabled", aqe.toString)
      def keyed = input(s).withColumn("a", col("a").cast("int"))
      val df = agg(keyed.repartitionById(7, col("a")))
      assert(df.collect().toSet === agg(keyed).collect().toSet)
      assert(partials(df) === ((1, 0)), df.queryExecution.executedPlan.toString)
      val all = collect(df.queryExecution.executedPlan) { case e: ShuffleExchangeExec => e }
      assert(all.size === 1, df.queryExecution.executedPlan.toString)
    }

  test("a distinct (no aggregate functions) combines once, below the exchange") {
    // the final aggregate of a distinct also has no functions; only its
    // required child distribution keeps it from being swapped back
    val df = input(spark).repartition(col("a")).select("a", "b").distinct()
    assert(rows(df) === rows(input(spark).select("a", "b").distinct()))
    assert(partials(df) === ((1, 0)), df.queryExecution.executedPlan.toString)
  }

  test("a repartition key outside the grouping keys keeps the planner's shape") {
    val df = agg(input(spark).repartition(col("c")))
    assert(rows(df) === rows(agg(input(spark))))
    assert(partials(df) === ((0, 1)), df.queryExecution.executedPlan.toString)
  }
}
