package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.sources.FixedWidthBinary

/** The reference engine's entire semantic surface, Spark-first.
  *
  * Implements the canonical hypercube query (reference
  * `hypercube.sql:1-14`): `clients ⋈ contracts ⋈ invoices`, GROUP BY the
  * 5 bounded dimensions `(geo, type, misc, nature, time)` with measures
  * `SUM(consumption), SUM(amount), COUNT(DISTINCT client),
  * COUNT(DISTINCT contract), COUNT(*)`, emitted in `(geo, type, misc,
  * nature, time)` ascending order (reference emit loops
  * `ETL.java:259-264`).
  *
  * Where the reference hand-builds a perfect-hash dense aggregation array
  * (`ETL.java:35,109,153`), thread-local partials and coarse merge locks
  * (`ETL.java:130-132,181-192`), the Spark plan gets the same shape:
  * two broadcast hash joins (clients then the denormalized contract
  * dim are both tiny relative to the fact), then
  * partial-HashAggregate → shuffle → final-HashAggregate, with the two
  * exact distincts turned into plain counts (see [[hypercube]]). At
  * 100 TB the fact side streams through executors with only the small
  * dimension broadcast replicated; the one shuffle is on the 5-dim group
  * key whose cardinality is bounded at 3,121,200 groups
  * (`ETL.java:33-35`), so the final aggregate is tiny regardless of fact
  * size.
  *
  * Semantics choices (SURVEY.md §7.4):
  *   - SQL inner-join semantics: a dangling FK drops the row (the
  *     reference would silently mis-bucket it, `ETL.java:106-108,153`);
  *     on valid data — FKs are `not null ≥ 1` per `README.md:14-37` —
  *     the results are identical.
  *   - amount is summed as float32 inputs accumulated in double, same
  *     precision contract as the reference (`ETL.java:126,150,38`).
  */
object ReferenceHypercube {

  /** Schema-first CSV read of `clients.csv` (reference `ETL.java:44-74`).
    * No max-id sizing pass is needed: there are no dense arrays here. */
  val clientSchema: StructType = StructType(Seq(
    StructField("id", IntegerType, nullable = false),
    StructField("type", IntegerType, nullable = false),
    StructField("geo", IntegerType, nullable = false),
    StructField("misc", IntegerType, nullable = false)))

  /** `contracts.csv` (reference `ETL.java:76-112`). `start`/`end` are in
    * the file but never consumed — declared here, pruned in [[contracts]]
    * (reference prunes positionally, `ETL.java:101-105`). Field names
    * match the file header exactly (`id_client`, not `client`) so
    * CSVHeaderChecker stays quiet; [[contracts]] renames to the engine's
    * `client`. */
  val contractSchema: StructType = StructType(Seq(
    StructField("id", IntegerType, nullable = false),
    StructField("id_client", IntegerType, nullable = false),
    StructField("nature", IntegerType, nullable = false),
    StructField("start", IntegerType, nullable = false),
    StructField("end", IntegerType, nullable = false)))

  def clients(spark: SparkSession, path: String): DataFrame =
    spark.read.option("header", "true").schema(clientSchema).csv(path)

  def contracts(spark: SparkSession, path: String): DataFrame =
    spark.read.option("header", "true").schema(contractSchema).csv(path)
      .select(col("id"), col("id_client").as("client"), col("nature"))

  def invoices(spark: SparkSession, path: String): DataFrame =
    FixedWidthBinary.invoices(spark, path)

  /** J1: denormalize contracts against the client dimension (reference
    * fuses this into the contract load, `ETL.java:106-108`). No broadcast
    * hint: under `autoBroadcastJoinThreshold`/AQE Catalyst broadcasts the
    * build side while it is small and falls back to a shuffled join when
    * clients outgrow executor memory at scale — a forced hint would OOM
    * at 100× (clients is 1 M rows at reference scale, unbounded above). */
  def contractDim(clients: DataFrame, contracts: DataFrame): DataFrame =
    contracts.alias("k")
      .join(clients.alias("c"), col("k.client") === col("c.id"))
      .select(
        col("k.id").as("contract_id"), col("k.client").as("client"),
        col("k.nature").as("nature"), col("c.type").as("type"),
        col("c.geo").as("geo"), col("c.misc").as("misc"))

  /** Amount-precision modes (SURVEY.md §7.2 M3): the reference
    * accumulates float32 amounts in double (`ETL.java:126,150,38`) —
    * fast, but low-order bits depend on addition order; SQL-exact mode
    * follows the declared schema `numeric(10,2)` (`README.md:31`) with
    * exact decimal sums, bit-stable under any partitioning. */
  sealed trait AmountMode
  /** Reference-exact: float32 inputs accumulated in double. */
  case object ReferenceExact extends AmountMode
  /** SQL-exact: `DECIMAL(10,2)` inputs, exact decimal accumulation. */
  case object SqlExact extends AmountMode

  /** Broadcast-join the fact against the dim first, then ONE hash
    * repartition on the five output dimensions, then three chained
    * aggregation levels:
    *
    *  1. (dims, contract, client): collapses the invoice stream to one
    *     row per contract×time (client rides along — it is functionally
    *     determined by contract, adding no cardinality);
    *  2. (dims, client): `count(*)` = contracts of that client in the
    *     group — exact, no `countDistinct`;
    *  3. (dims): `count(*)` = distinct clients (level 2 made rows
    *     client-unique within each group), `sum` = distinct contracts.
    *
    * Level 1's partial aggregate runs map-side, in front of the exchange
    * ([[graft.PartialAggregateBeforeRepartition]]): each map task ships
    * one row per level-1 key it saw instead of one per invoice — the
    * reference's thread-local partial arrays, merged at the end
    * (`ETL.java:130-132,181-192`). The exchange's hash partitioning on
    * the dims meets the `ClusteredDistribution` of level 1's final
    * aggregate and of levels 2 and 3, since every grouping key is a
    * superset of the partitioning expressions, so Catalyst adds no
    * further exchange and the distinct counts cost no `Expand`. Empty
    * groups never materialize: a hash aggregate creates only touched
    * groups, where the reference filters its dense array for `!= 0`
    * (`ETL.java:265`). */
  def hypercube(clients: DataFrame, contracts: DataFrame, invoices: DataFrame,
      amountMode: AmountMode = ReferenceExact,
      broadcastDim: Boolean = false): DataFrame = {
    val dim = contractDim(clients, contracts)
    val amountIn = amountMode match {
      case ReferenceExact => col("amount")
      case SqlExact => col("amount").cast(DecimalType(10, 2))
    }
    // Catalyst's static size estimate for a join of two raw CSV scans is
    // the row-count product — absurdly large — so without help the
    // planner picks a sort-merge join and AQE only discovers the dim is
    // broadcastable AFTER materializing a full fact shuffle on contract
    // (measured: that wasted exchange+sort dominated the reference-scale
    // run). Callers that can bound the dim input size (fromFolder gates
    // on file bytes) pass broadcastDim=true; unbounded dims keep the
    // unhinted shuffled path.
    val dimSide = if (broadcastDim) broadcast(dim) else dim
    val joined = invoices
      .join(dimSide, col("contract") === dimSide("contract_id"))
      .select(col("geo"), col("type"), col("misc"), col("nature"), col("time"),
        col("contract"), col("client"), col("consumption"), amountIn.as("amt"))
    val packed = if (broadcastDim) packedPlan(dim, joined) else None
    packed.getOrElse(chainedPlan(joined))
  }

  /** Generic three-level chained aggregation (see [[hypercube]] doc).
    * Works for any key types/values, including NULL dimensions. */
  private def chainedPlan(joined: DataFrame): DataFrame = {
    val dims = Seq(col("geo"), col("type"), col("misc"), col("nature"), col("time"))
    joined
      .repartition(dims: _*)
      .groupBy(dims :+ col("contract") :+ col("client"): _*)
      .agg(
        count(lit(1)).as("pre_ninv"),
        sum("consumption").as("pre_cons"),
        sum("amt").as("pre_amt"))
      .groupBy(dims :+ col("client"): _*)
      .agg(
        count(lit(1)).as("pre_ncontr"),
        sum("pre_ninv").as("pre_ninv"),
        sum("pre_cons").as("pre_cons"),
        sum("pre_amt").as("pre_amt"))
      .groupBy(dims: _*)
      .agg(
        sum("pre_cons").as("consumption"),
        sum("pre_amt").as("amount"),
        count(lit(1)).as("nclients"),
        sum("pre_ncontr").as("ncontrats"),
        sum("pre_ninv").as("ninvoices"))
      .orderBy(dims: _*)
  }

  /** Driver-side memo of the dim-statistics row — the stats job is
    * deterministic for a given input, and callers (bench loops, retries)
    * rebuild the same plan many times. Same spirit as Spark's own
    * file-index/footer caches. The key includes the dim's RESOLVED INPUT
    * FILES, not just the canonicalized plan: canonicalization strips
    * file paths (two same-schema CSV scans of different folders render
    * identically), so a plan-only key would silently reuse one dataset's
    * min/max for another and mis-size the packed key bit widths. Plans
    * with no resolvable input files are not cached at all. */
  private val dimStatsCache =
    new java.util.concurrent.ConcurrentHashMap[String, org.apache.spark.sql.Row]()

  private def dimStatsCached(dim: DataFrame): org.apache.spark.sql.Row = {
    val files = dim.inputFiles
    if (files.isEmpty) dimStats(dim)
    else try {
      // key on (path, length, mtime), not path alone: a CSV regenerated
      // IN PLACE within one long-lived session must not serve the old
      // min/max — stale maxes would mis-size the packed-key bit widths
      // and silently corrupt the aggregation
      val hconf = dim.sparkSession.sparkContext.hadoopConfiguration
      val sig = files.sorted.map { f =>
        val p = new org.apache.hadoop.fs.Path(f)
        val st = p.getFileSystem(hconf).getFileStatus(p)
        s"$f:${st.getLen}:${st.getModificationTime}"
      }.mkString("\n")
      dimStatsCache.computeIfAbsent(
        sig + "\n" + dim.queryExecution.analyzed.canonicalized.toString,
        _ => dimStats(dim))
    } catch {
      // a file vanished between planning and signing — skip the cache
      case _: java.io.IOException => dimStats(dim)
    }
  }

  /** The one-off statistics aggregate over the dim table. */
  private def dimStats(dim: DataFrame): org.apache.spark.sql.Row =
    dim.agg(
      max("geo"), max("type"), max("misc"), max("nature"),
      max("client"), max("contract_id"),
      min("geo"), min("type"), min("misc"), min("nature"),
      min("client"), min("contract_id"),
      count(lit(1)),
      count(col("geo")) + count(col("type")) + count(col("misc")) +
        count(col("nature")) + count(col("client")) + count(col("contract_id"))).head()

  /** Bit-packed variant of [[chainedPlan]] — same three levels, but the
    * grouping keys are packed into single longs so each hash-aggregate
    * pass hashes/compares 2–3 numeric fields instead of 5–7 (measured
    * ~2× on the aggregation stages, which dominate at reference scale):
    *
    *   - `g`  = geo‖type‖misc‖nature, power-of-two strides (pure
    *     shifts/ors — no overflow, order-preserving, bijective);
    *   - `cc` = client‖contract; the level-2 client key is `cc >>`
    *     the contract bit width.
    *
    * The bit widths come from a one-off aggregate over the (broadcastable,
    * hence tiny) dim table — the same cheap statistics pass any
    * cost-based planner runs. Returns None (→ generic fallback) when the
    * dim has NULL or negative keys or the packed widths overflow a long;
    * `time` stays unpacked, so fact-side values are unconstrained.
    *
    * The one exchange hashes (g, time); level 1's partial aggregate on
    * (g, time, cc) runs before it, so the exchange carries at most one
    * row per (g, time, cc) key per map task — bounded by contracts ×
    * time — rather than one row per invoice. */
  private def packedPlan(dim: DataFrame, joined: DataFrame): Option[DataFrame] = {
    val s = dimStatsCached(dim)
    val n = s.getLong(12)
    if (n == 0 || s.getLong(13) != 6 * n) return None // empty dim or NULL keys
    val maxes = (0 to 5).map(i => s.get(i) match {
      case i32: Int => i32.toLong
      case i64: Long => i64
      case _ => return None
    })
    val mins = (6 to 11).map(i => s.get(i) match {
      case i32: Int => i32.toLong
      case i64: Long => i64
      case _ => return None
    })
    if (mins.exists(_ < 0)) return None
    def bits(maxVal: Long): Int = 64 - java.lang.Long.numberOfLeadingZeros(maxVal | 1L)
    val Seq(bGeo, bType, bMisc, bNature, bClient, bContract) = maxes.map(bits)
    if (bGeo + bType + bMisc + bNature > 62 || bClient + bContract > 62) return None

    val geoT = joined.schema("geo").dataType
    val typeT = joined.schema("type").dataType
    val miscT = joined.schema("misc").dataType
    val natureT = joined.schema("nature").dataType
    def pk(c: String) = col(c).cast("long")
    val g = shiftleft(pk("geo"), bType + bMisc + bNature)
      .bitwiseOR(shiftleft(pk("type"), bMisc + bNature))
      .bitwiseOR(shiftleft(pk("misc"), bNature))
      .bitwiseOR(pk("nature"))
    val cc = shiftleft(pk("client"), bContract).bitwiseOR(pk("contract"))
    def mask(b: Int): Long = (1L << b) - 1
    Some(joined
      .select(g.as("g"), col("time"), cc.as("cc"), col("consumption"), col("amt"))
      .repartition(col("g"), col("time"))
      .groupBy("g", "time", "cc")
      .agg(
        count(lit(1)).as("pre_ninv"),
        sum("consumption").as("pre_cons"),
        sum("amt").as("pre_amt"))
      .select(col("g"), col("time"), shiftright(col("cc"), bContract).as("ck"),
        col("pre_ninv"), col("pre_cons"), col("pre_amt"))
      .groupBy("g", "time", "ck")
      .agg(
        count(lit(1)).as("pre_ncontr"),
        sum("pre_ninv").as("pre_ninv"),
        sum("pre_cons").as("pre_cons"),
        sum("pre_amt").as("pre_amt"))
      .groupBy("g", "time")
      .agg(
        sum("pre_cons").as("consumption"),
        sum("pre_amt").as("amount"),
        count(lit(1)).as("nclients"),
        sum("pre_ncontr").as("ncontrats"),
        sum("pre_ninv").as("ninvoices"))
      .orderBy("g", "time") // order-preserving packing ⇒ same order as the 5 dims
      .select(
        shiftright(col("g"), bType + bMisc + bNature).cast(geoT).as("geo"),
        shiftright(col("g"), bMisc + bNature).bitwiseAND(lit(mask(bType))).cast(typeT).as("type"),
        shiftright(col("g"), bNature).bitwiseAND(lit(mask(bMisc))).cast(miscT).as("misc"),
        col("g").bitwiseAND(lit(mask(bNature))).cast(natureT).as("nature"),
        col("time"), col("consumption"), col("amount"),
        col("nclients"), col("ncontrats"), col("ninvoices")))
  }

  /** CSV bytes up to which the denormalized contract dim is hinted as a
    * broadcast build side: 256 MB of dim CSV ≈ 8 M contracts ≈ a few
    * hundred MB hashed — comfortably replicable on any realistic
    * executor. Beyond it the join stays unhinted (shuffled, AQE-planned),
    * so a dim that outgrows memory can never OOM the executors. */
  private val BroadcastDimMaxCsvBytes = 256L * 1024 * 1024

  /** End-to-end over a reference-layout data folder (`clients.csv`,
    * `contracts.csv`, `invoices.bin` — reference `ETL.java:292-294`).
    * The dim-broadcast decision is size-gated on the actual input file
    * bytes (a filesystem stat, no Spark job). */
  def fromFolder(spark: SparkSession, dataFolder: String): DataFrame = {
    val dimBytes =
      try {
        val conf = spark.sparkContext.hadoopConfiguration
        Seq(s"$dataFolder/clients.csv", s"$dataFolder/contracts.csv").map { p =>
          val path = new org.apache.hadoop.fs.Path(p)
          path.getFileSystem(conf).getContentSummary(path).getLength
        }.sum
      } catch { case _: java.io.IOException => Long.MaxValue }
    hypercube(
      clients(spark, s"$dataFolder/clients.csv"),
      contracts(spark, s"$dataFolder/contracts.csv"),
      invoices(spark, s"$dataFolder/invoices.bin"),
      broadcastDim = dimBytes <= BroadcastDimMaxCsvBytes)
  }

  /** Staged-fingerprint oracle root for q10/q11 (round-14 upgrade —
    * the q110 convention, applied to the binary fact): DuckDB cannot
    * read the 16-byte big-endian format, but the DSv2 decode is
    * deterministic and independently golden-gated (58,176 records,
    * FIXTURES totals — `ReferenceParitySpec`), so the decoded fact is
    * staged once as parquet and the oracle recomputes the ENTIRE
    * downstream pipeline from it: q10's totals and q11's full
    * 34k-group hypercube become driver-checked hash compares. The
    * float32 amounts are converted to exact DECIMAL once, at stage
    * time (Spark's deterministic float→decimal), so both engines
    * aggregate bit-identical values — the q63 decimal-differential
    * convention; the reference's float→double accumulation contract
    * stays golden-gated on the `fromFolder`/EtlMain path. */
  @volatile private[graft] var binOracleRoot: Option[String] = None

  /** Write-once staged decode of the reference's `invoices.bin`
    * (contract, time, amount DECIMAL(20,10), consumption). */
  private[graft] def invoicesStaged(spark: SparkSession): String = {
    val bin = "/root/reference/data-sample/invoices.bin"
    val out = "target/reference/graft_invbin_" + Bucketed.md5hex(
      s"$bin/v1/${Layout.contentKey(spark, bin)}").take(8)
    Staging.ensure(spark, out) { tmp =>
      invoices(spark, bin)
        .select(col("contract"), col("time"),
          col("amount").cast(DecimalType(20, 10)).as("amount"),
          col("consumption"))
        .coalesce(1).write.mode("overwrite").parquet(s"$tmp/fact")
    }
    out
  }

  /** Reference-exact `#.00` amount rendering (`ETL.java:255,266`):
    * half-up to 2 decimals, no leading zero before the point (`.50`,
    * `-.50`, `.00` — `DecimalFormat("#.00")` drops it), locale-stable
    * (the reference's `DecimalFormat` would print `,` under a French
    * default locale; we always print `.`). */
  private[graft] def refAmountFormat(c: Column): Column =
    regexp_replace(format_string("%.2f", round(c, 2)), "^(-?)0\\.", "$1.")

  /** S4: CSV sink with the reference's header, row order and amount
    * rendering (reference `ETL.java:254-270`). `singleFile = true`
    * reproduces the reference's one-ordered-file contract via
    * `coalesce(1)` — fine at reference scale, a driver bottleneck at
    * 100 TB; `singleFile = false` keeps the global sort but writes one
    * file per partition (rows remain totally ordered across the
    * lexicographically-named part files). */
  def writeCsv(cube: DataFrame, outPath: String, singleFile: Boolean = true): Unit = {
    val formatted = cube.withColumn("amount", refAmountFormat(col("amount")))
    (if (singleFile) formatted.coalesce(1) else formatted)
      .write.mode("overwrite").option("header", "true").csv(outPath)
  }
}
