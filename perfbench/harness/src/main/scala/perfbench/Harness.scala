package perfbench

import java.nio.file.{Files, Paths}
import java.security.MessageDigest

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{broadcast, col}

import graft.{EtlMain, GraftSession, SparkEntry}
import graft.operators.ReferenceHypercube

/** One benchmark process, a closed loop with one client:
  *
  *   Harness <hypercube|catalog> <data dir> <seconds> <trace 0|1> <result file>
  *
  * It starts the engine's session, warms up, then repeats the workload's
  * run back to back until `seconds` have passed; with trace 1 it then
  * makes the traced runs. The working directory is a fresh scratch
  * directory; outputs go under `out/`. The result file is one JSON
  * object of raw measurements; `run.py` checks the outputs and derives
  * the metrics.
  */
object Harness {
  /** Untimed runs before the timed ones: the first run in a fresh JVM
    * is about twice as slow as a warm one, the second still ~30 %. */
  private val WarmupRuns = 2
  /** Timed hypercube runs made even when `seconds` runs out first. Runs keep
    * getting faster for a few more runs (JIT), so medians are comparable
    * between invocations only when they time the same number of runs:
    * with runs of a few seconds this count, not `seconds`, ends the loop. */
  private val MinRuns = 5
  /** Repeats of each traced prefix; the layer times are their medians. */
  private val TraceReps = 3

  private val CatalogEntries = Seq("q4_hypercube", "q17_dedup_minhash", "q40_dup_clusters",
    "q69_robust_outliers", "q114_pagerank")

  def main(args: Array[String]): Unit = {
    val Array(kind, data, seconds, trace, resultPath) = args
    val spark = GraftSession.local("perfbench")
    val sessionMs = System.currentTimeMillis()
    val result = kind match {
      case "hypercube" => hypercube(spark, data, seconds.toDouble, trace == "1")
      case "catalog" => catalog(spark, data, seconds.toDouble, trace == "1")
    }
    spark.stop()
    Files.writeString(Paths.get(resultPath), Json(result + ("session_ready_epoch_ms" -> sessionMs)))
  }

  private def secsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  private def timed(body: => Unit): Double = {
    val t0 = System.nanoTime(); body; secsSince(t0)
  }

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** Peak resident memory of this JVM (`VmHWM`), in MB. */
  private def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(-1.0)

  /** Runs `run` back to back until `seconds` have passed and at least
    * `minRuns` times; returns the wall time of each run and the epoch
    * millisecond at which the first began. */
  private def timedLoop(seconds: Double, minRuns: Int)(run: Int => Unit): (Seq[Double], Long) = {
    val firstMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val times = mutable.ArrayBuffer[Double]()
    while (times.size < minRuns || secsSince(t0) < seconds) {
      val i = times.size
      times += timed(run(i))
    }
    (times.toList, firstMs)
  }

  /** SHA-256 of an output directory's data files, in name order. */
  private def digest(dir: String): String = {
    val md = MessageDigest.getInstance("SHA-256")
    Files.list(Paths.get(dir)).iterator().asScala.toSeq
      .filter(p => p.getFileName.toString.startsWith("part-")).sortBy(_.toString)
      .foreach(p => md.update(Files.readAllBytes(p)))
    md.digest().map("%02x".format(_)).mkString
  }

  private def deleteTree(dir: String): Unit = {
    val root = Paths.get(dir)
    if (Files.exists(root))
      Files.walk(root).iterator().asScala.toSeq.reverse.foreach(p => Files.delete(p))
  }

  /** Records an output's digest, keeping the directory only when no
    * earlier output had the same bytes: run.py checks each kept output
    * in full, and each run through the output its digest names. */
  private final class Outputs {
    val digests = mutable.ArrayBuffer[String]()
    val kept = mutable.LinkedHashMap[String, String]()
    def add(dir: String): Unit = {
      val d = digest(dir)
      digests += d
      if (kept.contains(d)) deleteTree(dir) else kept(d) = dir
    }
  }

  /** The hypercube workloads: a run is the CLI's default path, one
    * ordered single-file CSV. */
  private def hypercube(spark: SparkSession, data: String, seconds: Double,
      trace: Boolean): Map[String, Any] = {
    // first plan of the process: includes the dim-statistics job
    val planCold = timed(ReferenceHypercube.fromFolder(spark, data))
    val outputs = new Outputs
    val warmup = (0 until WarmupRuns).map { i =>
      val t = timed(EtlMain.run(spark, data, s"out/warmup$i", singleFile = true))
      outputs.add(s"out/warmup$i")
      t
    }
    val (runs, firstMs) = timedLoop(seconds, MinRuns) { i =>
      EtlMain.run(spark, data, s"out/run$i", singleFile = true)
    }
    runs.indices.foreach(i => outputs.add(s"out/run$i"))
    val rss = peakRssMb()
    val base = Map[String, Any]("plan_cold_s" -> planCold, "warmup_s" -> warmup,
      "runs" -> runs, "first_run_epoch_ms" -> firstMs, "peak_rss_mb" -> rss)
    val traced = if (trace) traceHypercube(spark, data, outputs) else Map.empty
    base ++ traced ++ Map("digests" -> outputs.digests.toList,
      "outputs" -> outputs.kept.toMap)
  }

  /** Prefix spans: each span runs a longer prefix of the CLI's plan to a
    * noop sink, so a layer's self time is its span minus the previous
    * prefix's. `dim_join` is the broadcast side of `fact_join`. Each
    * round ends with a traced and an untraced full run. */
  private def traceHypercube(spark: SparkSession, data: String,
      outputs: Outputs): Map[String, Any] = {
    def clients = ReferenceHypercube.clients(spark, s"$data/clients.csv")
    def contracts = ReferenceHypercube.contracts(spark, s"$data/contracts.csv")
    def invoices = ReferenceHypercube.invoices(spark, s"$data/invoices.bin")
    def joined = {
      val dim = broadcast(ReferenceHypercube.contractDim(clients, contracts))
      invoices.join(dim, col("contract") === dim("contract_id"))
        .select(col("geo"), col("type"), col("misc"), col("nature"), col("time"),
          col("contract"), col("client"), col("consumption"), col("amount").as("amt"))
    }
    val tracer = new Tracer(spark)
    val root = tracer.root("traced_run")
    val times = mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]]()
    val runSpans = mutable.ArrayBuffer[Int]()
    def record(name: String)(body: => Unit): Int = {
      val (id, secs) = tracer.span(name, root)(body)
      times.getOrElseUpdate(name, mutable.ArrayBuffer()) += secs
      id
    }
    (0 until TraceReps).foreach { i =>
      record("plan")(ReferenceHypercube.fromFolder(spark, data))
      record("decode")(noop(invoices))
      record("dim_join")(noop(ReferenceHypercube.contractDim(clients, contracts)))
      record("fact_join")(noop(joined))
      record("aggregate")(noop(ReferenceHypercube.fromFolder(spark, data)))
      runSpans += record("run")(EtlMain.run(spark, data, s"out/traced$i", singleFile = true))
      outputs.add(s"out/traced$i")
      // the same run untraced, right after: the pair gives the overhead
      tracer.untraced {
        times.getOrElseUpdate("untraced_run", mutable.ArrayBuffer()) +=
          timed(EtlMain.run(spark, data, s"out/untraced$i", singleFile = true))
      }
      outputs.add(s"out/untraced$i")
    }
    tracer.close(root)
    val counters = runSpans.map(tracer.counters)
    val keys = counters.flatMap(_.keys).distinct
    Map("trace_s" -> times.map { case (k, v) => k -> median(v.toSeq) }.toMap,
      "trace_counters" -> keys.map(k => k -> median(counters.map(_.getOrElse(k, 0.0)).toSeq)).toMap,
      "spans" -> tracer.spans)
  }

  /** The catalog workload: a run is one pass over the five entries, each
    * written to a noop sink after clearing the cache, as the engine's
    * own bench does. The warm-up pass writes each entry's output as
    * parquet instead; that is the output run.py checks. */
  private def catalog(spark: SparkSession, data: String, seconds: Double,
      trace: Boolean): Map[String, Any] = {
    val entries = CatalogEntries.map(n => SparkEntry.catalog.find(_.name == n).get)
    val warmup = timed(entries.foreach { q =>
      spark.catalog.clearCache()
      q.run(spark, data).write.mode("overwrite").parquet(s"out/warmup/${q.name}")
    })
    val (runs, firstMs) = timedLoop(seconds, minRuns = 1) { _ =>
      entries.foreach { q => spark.catalog.clearCache(); noop(q.run(spark, data)) }
    }
    val rss = peakRssMb()
    val base = Map[String, Any]("warmup_s" -> warmup, "runs" -> runs,
      "first_run_epoch_ms" -> firstMs, "peak_rss_mb" -> rss,
      "oracle" -> entries.flatMap(q => q.oracleNow.map(q.name -> _)).toMap,
      "outputs" -> entries.map(q => q.name -> s"out/warmup/${q.name}").toMap)
    if (!trace) base
    else {
      val tracer = new Tracer(spark)
      val root = tracer.root("traced_run")
      val perEntry = entries.map { q =>
        val (id, secs) = tracer.span(q.name, root) {
          spark.catalog.clearCache(); noop(q.run(spark, data))
        }
        q.name -> (tracer.counters(id) + ("s" -> secs))
      }.toMap
      tracer.close(root)
      val all = perEntry.values.flatMap(_.keys).toSeq.distinct
      val total = all.map(k => k -> (
        if (k == "peak_execution_memory_bytes") perEntry.values.map(_.getOrElse(k, 0.0)).max
        else perEntry.values.map(_.getOrElse(k, 0.0)).sum)).toMap
      base ++ Map("trace_entries" -> perEntry,
        "trace_s" -> Map("run" -> perEntry.values.map(_("s")).sum),
        "trace_counters" -> total, "spans" -> tracer.spans)
    }
  }
}

/** A minimal JSON writer for the result file. */
object Json {
  def apply(v: Any): String = v match {
    case m: Map[_, _] =>
      m.map { case (k, x) => str(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(apply).mkString("[", ",", "]")
    case s: String => str(s)
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n @ (_: Int | _: Long | _: Boolean) => n.toString
  }

  private def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
