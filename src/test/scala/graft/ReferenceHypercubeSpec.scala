package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.{REPARTITION_BY_COL, ShuffleExchangeExec}
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.ReferenceHypercube

/** The hypercube over a generated reference-layout folder with ~55
  * invoices per (contract, time), against a plain Spark SQL rendering of
  * the reference's `hypercube.sql` with real `COUNT(DISTINCT)`s. Both the
  * packed plan (`fromFolder`) and the generic chained plan are checked,
  * and both combine partial aggregates before their one repartition; the
  * packed plan's repartition is also its only exchange, and it orders
  * the output without a range exchange. */
class ReferenceHypercubeSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {
  private lazy val spark = SparkTestSession.spark

  private val data = ReferenceFolder.random(seed = 11, nClients = 40, nContracts = 90,
    nInvoices = 30000)
  private lazy val folder: String = ReferenceFolder.write(data)

  /** `hypercube.sql` as written, over the generated values. */
  private def expectedOf(d: ReferenceFolder.Data): Seq[Row] = {
    val s = spark.newSession()
    import s.implicits._
    d.clients.toDF("id", "type", "geo", "misc").createOrReplaceTempView("clients")
    d.contracts.toDF("id", "id_client", "nature").createOrReplaceTempView("contracts")
    d.invoices.toDF("contract", "time", "amount", "consumption").createOrReplaceTempView("invoices")
    s.sql("""
      SELECT c.geo, c.type, c.misc, k.nature, i.time,
             SUM(i.consumption) AS consumption,
             SUM(CAST(i.amount AS DOUBLE)) AS amount,
             COUNT(DISTINCT c.id) AS nclients,
             COUNT(DISTINCT k.id) AS ncontrats,
             COUNT(*) AS ninvoices
      FROM invoices i
      JOIN contracts k ON i.contract = k.id
      JOIN clients c ON k.id_client = c.id
      GROUP BY c.geo, c.type, c.misc, k.nature, i.time
      ORDER BY c.geo, c.type, c.misc, k.nature, i.time""").collect().toSeq
  }

  private lazy val expected = expectedOf(data)

  /** Same rows in the same order: integer columns exact, the amount
    * (float32 inputs summed in double, in any order) within 1e-6. */
  private def assertMatches(got: Seq[Row], expected: Seq[Row] = expected): Unit = {
    val ints = Seq(0, 1, 2, 3, 4, 5, 7, 8, 9) // every column but the amount
    assert(got.size === expected.size)
    got.zip(expected).zipWithIndex.foreach { case ((g, e), i) =>
      assert(ints.map(g.getAs[Number](_).longValue) === ints.map(e.getAs[Number](_).longValue),
        s"row $i: $g vs $e")
      val (a, b) = (g.getDouble(6), e.getDouble(6))
      assert(math.abs(a - b) <= 1e-6 * math.max(1.0, math.abs(b)), s"row $i amount: $a vs $b")
    }
  }

  private def nonEmptyParts(cube: DataFrame): Int =
    cube.rdd.glom().map(_.length).collect().count(_ > 0)

  private def exchanges(cube: DataFrame): Seq[ShuffleExchangeExec] =
    collect(cube.queryExecution.executedPlan) { case e: ShuffleExchangeExec => e }

  test("fromFolder (packed plan) matches hypercube.sql and shuffles fewer " +
    "records than the fact has rows") {
    val cube = ReferenceHypercube.fromFolder(spark, folder)
    // collect() keeps partition order: the rows arrive sorted, from
    // several partitions
    assertMatches(cube.collect().toSeq)
    assert(nonEmptyParts(cube) > 1)
    val plan = cube.queryExecution.executedPlan
    assert(exchanges(cube).size === 1, s"expected one shuffle exchange:\n$plan")
    assert(!exchanges(cube).exists(_.outputPartitioning.isInstanceOf[RangePartitioning]), plan)
    val written = exchanges(cube).head.metrics("shuffleRecordsWritten").value
    assert(written > 0 && written < data.invoices.size, s"shuffle-write records $written")
  }

  test("the chained plan matches hypercube.sql and combines before its repartition") {
    val cube = ReferenceHypercube.hypercube(
      ReferenceHypercube.clients(spark, s"$folder/clients.csv"),
      ReferenceHypercube.contracts(spark, s"$folder/contracts.csv"),
      ReferenceHypercube.invoices(spark, s"$folder/invoices.bin"))
    assertMatches(cube.collect().toSeq)
    val repartition = exchanges(cube).filter(_.shuffleOrigin == REPARTITION_BY_COL)
      .map(_.metrics("shuffleRecordsWritten").value).sum
    assert(repartition > 0 && repartition < data.invoices.size, s"repartition records $repartition")
  }

  test("a dim whose contracts all share one (geo, type, misc, nature) packs " +
    "into one key range and still matches hypercube.sql") {
    val d = ReferenceFolder.random(seed = 12, nClients = 10, nContracts = 20, nInvoices = 2000)
    val one = d.copy(
      clients = d.clients.map { case (id, _, _, _) => (id, 3, 7, 2) },
      contracts = d.contracts.map { case (id, c, _) => (id, c, 4) })
    val cube = ReferenceHypercube.fromFolder(spark, ReferenceFolder.write(one))
    assertMatches(cube.collect().toSeq, expectedOf(one))
    assert(nonEmptyParts(cube) === 1, "rows spread over more than the one bucket")
  }

  test("--stage-times writes the default path's bytes") {
    def csvOf(dir: String): String = {
      val parts = Files.list(Paths.get(dir)).iterator().asScala
        .filter(_.getFileName.toString.startsWith("part-")).toSeq
      assert(parts.size === 1)
      Files.readString(parts.head)
    }
    val outA = Files.createTempDirectory("etl-default").toString
    val outB = Files.createTempDirectory("etl-staged").toString
    EtlMain.run(spark, folder, outA, singleFile = true)
    EtlMain.run(spark, folder, outB, singleFile = true, stageTimes = true)
    assert(csvOf(outB) === csvOf(outA))
  }
}
