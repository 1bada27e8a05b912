package graft

import java.io.{DataOutputStream, FileOutputStream}
import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{FixedWidthBinary => FWB, FixedWidthBinaryV2}

/** DataSource V2 fixed-width binary source: decode exactness, split
  * planning, column-pruning pushdown, reported statistics, trailing
  * partial-record handling. */
class FixedWidthBinaryV2Spec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private val layout: Seq[FWB.Field] =
    Seq(FWB.I32("a"), FWB.Skip(2), FWB.I16("b"), FWB.Chars("c", 4)) // 12 bytes/record

  /** 10 records (a=i, b=i*2, c="r<i>" NUL-padded) plus 5 garbage bytes. */
  private lazy val path: String = {
    val f = Files.createTempDirectory("fwb").resolve("t.bin").toFile
    val out = new DataOutputStream(new FileOutputStream(f))
    (0 until 10).foreach { i =>
      out.writeInt(i)
      out.writeShort(0x7777) // the Skip(2) hole
      out.writeShort(i * 2)
      out.write(s"r$i".getBytes("UTF-8")); out.write(0); out.write(0) // NUL pad to 4
    }
    out.write(Array[Byte](1, 2, 3, 4, 5)) // trailing partial record
    out.close()
    f.getAbsolutePath
  }

  test("decodes records exactly and drops the trailing partial record") {
    val rows = FWB.read(spark, path, layout).collect().sortBy(_.getInt(0))
    assert(rows.length === 10)
    rows.zipWithIndex.foreach { case (r, i) =>
      assert(r.getInt(0) === i)
      assert(r.getInt(1) === i * 2)
      assert(r.getString(2) === s"r$i") // trailing NULs stripped
    }
  }

  test("column pruning pushes into the scan (only requested fields decoded)") {
    val df = FWB.read(spark, path, layout).select("b")
    val leaves = df.queryExecution.executedPlan.collectLeaves()
    assert(leaves.head.output.map(_.name) === Seq("b"))
    assert(df.collect().map(_.getInt(0)).sorted.toSeq === (0 until 10).map(_ * 2))
  }

  test("splits follow targetSplitBytes and remain record-aligned") {
    val df = spark.read.format(classOf[FixedWidthBinaryV2].getName)
      .option("layout", FixedWidthBinaryV2.layoutString(layout))
      .option("targetSplitBytes", "24") // 2 records per split -> 5 splits
      .load(path)
    assert(df.rdd.getNumPartitions === 5)
    assert(df.count() === 10)
    assert(df.select("a").collect().map(_.getInt(0)).sorted.toSeq === (0 until 10))
  }

  test("without targetSplitBytes, splits follow the file size and the cores") {
    assert(FWB.read(spark, path, layout).rdd.getNumPartitions === 1) // 1 MB floor
    // 400,000 records of 12 bytes (4.8 MB): one 100,000-record split per core
    val f = Files.createTempDirectory("fwb").resolve("big.bin").toFile
    val out = new java.io.BufferedOutputStream(new FileOutputStream(f))
    out.write(new Array[Byte](400000 * 12))
    out.close()
    val df = FWB.read(spark, f.getAbsolutePath, layout)
    assert(spark.sparkContext.defaultParallelism === 4)
    assert(df.rdd.getNumPartitions === 4)
    assert(df.count() === 400000L)
  }

  test("statistics report exact file size and row count to Catalyst") {
    val df = FWB.read(spark, path, layout)
    val stats = df.queryExecution.optimizedPlan.stats
    assert(stats.sizeInBytes === BigInt(125)) // 10*12 + 5 trailing bytes
    assert(stats.rowCount.forall(_ === BigInt(10))) // when propagated
  }
}
