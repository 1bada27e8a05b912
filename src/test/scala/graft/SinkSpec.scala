package graft

import java.io.{DataOutputStream, FileOutputStream}
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.ReferenceHypercube
import graft.sources.FixedWidthBinary

/** S4 sink round-trip (reference output contract, `ETL.java:254-270` /
  * FIXTURES.md §1) and binary-source decode unit tests. */
class SinkSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  test("writeCsv round-trip matches the reference output contract") {
    val out = "target/test-out/cube_csv"
    val cube = ReferenceHypercube.fromFolder(spark, "/root/reference/data-sample")
    ReferenceHypercube.writeCsv(cube, out, singleFile = true)

    val parts = Files.list(Paths.get(out)).iterator().asScala
      .filter(_.getFileName.toString.startsWith("part-")).toSeq
    assert(parts.size === 1) // singleFile contract
    val lines = Files.readAllLines(parts.head).asScala.toVector

    // Header, including the French `ncontrats` (ETL.java:258).
    assert(lines.head === "geo,type,misc,nature,time,consumption,amount,nclients,ncontrats,ninvoices")
    // 34,271 non-empty groups (FIXTURES.md §1), empty groups omitted.
    assert(lines.size - 1 === 34271)
    // First group in (geo,type,misc,nature,time) order with #.00 amount.
    assert(lines(1) === "1,1,5,1,1,1598,184.92,1,1,1")
    // Amounts render 2-decimal with no leading zero (DecimalFormat("#.00")).
    val amounts = lines.drop(1).map(_.split(",")(6))
    assert(amounts.forall(_.matches("-?\\d*\\.\\d\\d")))
    // Rows are totally ordered by the 5 dimensions.
    val keys = lines.drop(1).map { l =>
      val f = l.split(","); (f(0).toInt, f(1).toInt, f(2).toInt, f(3).toInt, f(4).toInt)
    }
    assert(keys === keys.sorted)
  }

  private lazy val folder = ReferenceFolder.write(ReferenceFolder.random(
    seed = 5, nClients = 30, nContracts = 70, nInvoices = 6000))

  /** The files of `dir`, by name. */
  private def filesOf(dir: String): Seq[String] =
    Files.list(Paths.get(dir)).iterator().asScala.map(_.getFileName.toString).toSeq.sorted

  /** The single-file contract as a `coalesce(1)` write of the same
    * formatted frame produces it: the one part file's bytes. */
  private def coalescedCsv(cube: org.apache.spark.sql.DataFrame): String = {
    val dir = Files.createTempDirectory("graft_coalesced").toString
    cube.withColumn("amount", ReferenceHypercube.refAmountFormat(cube("amount")))
      .coalesce(1).write.mode("overwrite").option("header", "true").csv(dir)
    Files.readString(Paths.get(dir, filesOf(dir).filter(_.startsWith("part-")).head))
  }

  private val header = "geo,type,misc,nature,time,consumption,amount,nclients,ncontrats,ninvoices"

  /** Partitions holding rows: above 1, the merge has parts to order. */
  private def nonEmptyParts(cube: org.apache.spark.sql.DataFrame): Int =
    cube.rdd.glom().map(_.length).collect().count(_ > 0)

  /** Writes `cube` as one file and checks it against [[coalescedCsv]]:
    * the same bytes, one header, and nothing left of the merged parts. */
  private def assertSingleFile(cube: org.apache.spark.sql.DataFrame): Seq[String] = {
    val out = Files.createTempDirectory("graft_single").toString
    ReferenceHypercube.writeCsv(cube, out, singleFile = true)
    val files = filesOf(out)
    val parts = files.filter(_.startsWith("part-"))
    assert(parts.size === 1, files)
    assert(files.toSet === Set(parts.head, s".${parts.head}.crc", "_SUCCESS", "._SUCCESS.crc"))
    val csv = Files.readString(Paths.get(out, parts.head))
    assert(csv === coalescedCsv(cube))
    val lines = csv.split("\n").toSeq
    assert(lines.head === header && lines.count(_ == header) === 1)
    lines
  }

  test("single-file writeCsv of the packed plan equals a coalesce(1) write, in order") {
    val cube = ReferenceHypercube.fromFolder(spark, folder)
    assert(nonEmptyParts(cube) > 1)
    val lines = assertSingleFile(cube)
    val keys = lines.drop(1).map { l =>
      val f = l.split(","); (f(0).toInt, f(1).toInt, f(2).toInt, f(3).toInt, f(4).toInt)
    }
    assert(keys.size > 100 && keys === keys.sorted)
  }

  test("single-file writeCsv of the chained (range-sorted) plan equals a coalesce(1) write") {
    // uncoalesced, so the small range-sorted output spans several parts
    val s = spark.newSession()
    s.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    val cube = ReferenceHypercube.hypercube(
      ReferenceHypercube.clients(s, s"$folder/clients.csv"),
      ReferenceHypercube.contracts(s, s"$folder/contracts.csv"),
      ReferenceHypercube.invoices(s, s"$folder/invoices.bin"))
    assert(nonEmptyParts(cube) > 1)
    assertSingleFile(cube)
  }

  test("single-file writeCsv of an empty cube is a header-only file") {
    val empty = ReferenceHypercube.fromFolder(spark, folder).filter("time < 0")
    assert(assertSingleFile(empty) === Seq(header))
  }

  test("refAmountFormat matches DecimalFormat('#.00') for |x| < 1") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val rendered = Seq(0.5, -0.5, 0.0, 1.5, -12.345, 0.004)
      .toDF("x").select(ReferenceHypercube.refAmountFormat(col("x")))
      .as[String].collect().toSeq
    // java.text.DecimalFormat("#.00") renders: .50, -.50, .00, 1.50, -12.35 (HALF_EVEN
    // on exact .345 — but Math.round(100*x)/100 in the reference is HALF_UP; we follow
    // Spark round() = HALF_UP), .00
    assert(rendered === Seq(".50", "-.50", ".00", "1.50", "-12.35", ".00"))
  }

  test("SQL-exact amount mode (M3): decimal sums agree with double mode to the cent") {
    import org.apache.spark.sql.types.DecimalType
    val sample = "/root/reference/data-sample"
    val mk = (m: ReferenceHypercube.AmountMode) => ReferenceHypercube.hypercube(
      ReferenceHypercube.clients(spark, s"$sample/clients.csv"),
      ReferenceHypercube.contracts(spark, s"$sample/contracts.csv"),
      ReferenceHypercube.invoices(spark, s"$sample/invoices.bin"), m)
    val dec = mk(ReferenceHypercube.SqlExact)
    assert(dec.schema("amount").dataType.isInstanceOf[DecimalType]) // exact mode surfaces decimals
    val decTotal = dec.agg(org.apache.spark.sql.functions.sum("amount")).head().getDecimal(0)
    val dblTotal = mk(ReferenceHypercube.ReferenceExact)
      .agg(org.apache.spark.sql.functions.sum("amount")).head().getDouble(0)
    // float32 decode rounds to cents either way on this data; totals agree closely
    assert(math.abs(decTotal.doubleValue - dblTotal) < 1.0)
    assert(dec.count() === 34271L) // same groups in both modes
  }

  test("Chars fields strip trailing NUL padding only") {
    val path = "target/test-out/chars.bin"
    Files.createDirectories(Paths.get("target/test-out"))
    val dos = new DataOutputStream(new FileOutputStream(path))
    // record: int32 id, 8-byte NUL-padded tag
    def rec(id: Int, tag: String): Unit = {
      dos.writeInt(id)
      val b = tag.getBytes("UTF-8")
      dos.write(b); (b.length until 8).foreach(_ => dos.writeByte(0))
    }
    rec(1, "abc")
    rec(2, "exact8ch")
    rec(3, "a b") // inner space preserved, trailing NULs stripped
    dos.close()

    import FixedWidthBinary._
    val df = read(spark, path, Seq(I32("id"), Chars("tag", 8)))
    val rows = df.collect().map(r => (r.getInt(0), r.getString(1))).sortBy(_._1)
    assert(rows.toSeq === Seq((1, "abc"), (2, "exact8ch"), (3, "a b")))
  }
}
