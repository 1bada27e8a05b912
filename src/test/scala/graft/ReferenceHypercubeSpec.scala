package graft

import java.io.{BufferedOutputStream, DataOutputStream, FileOutputStream, PrintWriter}
import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.{REPARTITION_BY_COL, ShuffleExchangeExec}
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.ReferenceHypercube

/** The hypercube over a generated reference-layout folder (`clients.csv`,
  * `contracts.csv`, big-endian `invoices.bin`) with ~55 invoices per
  * (contract, time), against a plain Spark SQL rendering of the
  * reference's `hypercube.sql` with real `COUNT(DISTINCT)`s. Both the
  * packed plan (`fromFolder`) and the generic chained plan are checked,
  * and both combine partial aggregates before their one repartition. */
class ReferenceHypercubeSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {
  private lazy val spark = SparkTestSession.spark

  private val rnd = new scala.util.Random(11)
  // (id, type, geo, misc)
  private val clients = Seq.tabulate(40)(i =>
    (i + 1, 1 + rnd.nextInt(5), 1 + rnd.nextInt(20), 1 + rnd.nextInt(6)))
  // (id, id_client, nature)
  private val contracts = Seq.tabulate(90)(i =>
    (i + 1, 1 + rnd.nextInt(clients.size), 1 + rnd.nextInt(5)))
  // (contract, time, amount, consumption): 90 contracts × 6 times
  private val invoices = Seq.fill(30000)(
    (1 + rnd.nextInt(contracts.size), (1 + rnd.nextInt(6)).toByte,
      rnd.nextInt(100000) / 100f, rnd.nextInt(2001).toShort))

  private lazy val folder: String = {
    val dir = Files.createTempDirectory("graft_hypercube").toString
    val cw = new PrintWriter(s"$dir/clients.csv")
    cw.println("id,type,geo,misc")
    clients.foreach { case (id, t, g, m) => cw.println(s"$id,$t,$g,$m") }
    cw.close()
    val kw = new PrintWriter(s"$dir/contracts.csv")
    kw.println("id,id_client,nature,start,end")
    contracts.foreach { case (id, c, n) => kw.println(s"$id,$c,$n,201401,201612") }
    kw.close()
    // 16-byte big-endian records: id i32, contract i32, time i8,
    // amount f32, consumption i16, pad i8
    val out = new DataOutputStream(new BufferedOutputStream(
      new FileOutputStream(s"$dir/invoices.bin")))
    invoices.zipWithIndex.foreach { case ((k, t, a, c), i) =>
      out.writeInt(i + 1); out.writeInt(k); out.writeByte(t)
      out.writeFloat(a); out.writeShort(c); out.writeByte(0)
    }
    out.close()
    dir
  }

  /** `hypercube.sql` as written, over the generated values. */
  private lazy val expected: Seq[Row] = {
    val s = spark.newSession()
    import s.implicits._
    clients.toDF("id", "type", "geo", "misc").createOrReplaceTempView("clients")
    contracts.toDF("id", "id_client", "nature").createOrReplaceTempView("contracts")
    invoices.toDF("contract", "time", "amount", "consumption").createOrReplaceTempView("invoices")
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

  /** Same rows in the same order: integer columns exact, the amount
    * (float32 inputs summed in double, in any order) within 1e-6. */
  private def assertMatches(got: Seq[Row]): Unit = {
    val ints = Seq(0, 1, 2, 3, 4, 5, 7, 8, 9) // every column but the amount
    assert(got.size === expected.size)
    got.zip(expected).zipWithIndex.foreach { case ((g, e), i) =>
      assert(ints.map(g.getAs[Number](_).longValue) === ints.map(e.getAs[Number](_).longValue),
        s"row $i: $g vs $e")
      val (a, b) = (g.getDouble(6), e.getDouble(6))
      assert(math.abs(a - b) <= 1e-6 * math.max(1.0, math.abs(b)), s"row $i amount: $a vs $b")
    }
  }

  /** Records written by the executed plan's shuffles: (all, repartition). */
  private def shuffleRecords(cube: DataFrame): (Long, Long) = {
    val written = collect(cube.queryExecution.executedPlan) {
      case e: ShuffleExchangeExec =>
        (e.shuffleOrigin == REPARTITION_BY_COL, e.metrics("shuffleRecordsWritten").value)
    }
    (written.map(_._2).sum, written.filter(_._1).map(_._2).sum)
  }

  test("fromFolder (packed plan) matches hypercube.sql and shuffles fewer " +
    "records than the fact has rows") {
    val cube = ReferenceHypercube.fromFolder(spark, folder)
    assertMatches(cube.collect().toSeq)
    val (all, _) = shuffleRecords(cube)
    assert(all > 0 && all < invoices.size, s"shuffle-write records $all")
  }

  test("the chained plan matches hypercube.sql and combines before its repartition") {
    val cube = ReferenceHypercube.hypercube(
      ReferenceHypercube.clients(spark, s"$folder/clients.csv"),
      ReferenceHypercube.contracts(spark, s"$folder/contracts.csv"),
      ReferenceHypercube.invoices(spark, s"$folder/invoices.bin"))
    assertMatches(cube.collect().toSeq)
    val (_, repartition) = shuffleRecords(cube)
    assert(repartition > 0 && repartition < invoices.size, s"repartition records $repartition")
  }
}
