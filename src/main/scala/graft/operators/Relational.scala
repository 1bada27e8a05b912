package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, IntegerType, StructField, StructType}

import graft.Query
import graft.sources.{FixedWidthBinary, Tables}

/** Relational operator catalog — every operator class from SURVEY.md §2
  * (scans S1–S4, pruning P1–P3, joins J1–J2, aggregates A1–A6, ordered
  * output O1) re-expressed over the TPC-H-ish test tables, plus the
  * scale-path variants the reference lacks (shuffle joins, semi/anti,
  * windows, approximate distinct).
  *
  * Each query is a declarative DataFrame plan: Catalyst pushes filters
  * and projections into the parquet scans, chooses broadcast vs
  * sort-merge join by size/AQE, and plans partial→final hash aggregates —
  * the distributed equivalents of the reference's hand-rolled pruning
  * (`ETL.java:101-105`), in-RAM dimension joins (`ETL.java:106-108`) and
  * thread-local partial aggregation (`ETL.java:130-132,181-192`).
  */
object Relational {

  /** Exact decimal sum rendered as double — deterministic across engines
    * and partitionings (see [[graft.Query]] scaladoc). */
  private def dsum(c: Column): Column = sum(c.cast(DecimalType(18, 2))).cast("double")

  /** Small multiplicative factor ((1±discount/tax)-shaped, |v| < 10) as an
    * exact 2-decimal value. Products of one `DECIMAL(18,2)` operand and up
    * to two of these stay within `DECIMAL(28,6)` — no precision loss, so
    * decimal×decimal arithmetic is exact in both Spark and DuckDB and the
    * final double render is bit-identical. Casting the *product of
    * doubles* instead (round 1) hit engine-specific tie-rounding on 186
    * of 60k rows (Spark HALF_UP on the shortest decimal string vs DuckDB
    * rounding the true binary value). */
  private def fac(c: Column): Column = c.cast(DecimalType(4, 2))

  /** `SUM(price * (1 - discount))` with all arithmetic in the exact
    * decimal domain; see [[fac]]. */
  private def dsumProd(price: Column, f1: Column): Column =
    sum(price.cast(DecimalType(18, 2)) * fac(f1)).cast("double")

  private def dsumProd(price: Column, f1: Column, f2: Column): Column =
    sum(price.cast(DecimalType(18, 2)) * fac(f1) * fac(f2)).cast("double")

  /** Value-histogram buckets per group for [[exactPercentiles]]. 4096 keeps
    * the per-(group,bucket) count frame tiny (G×4096 rows) while making the
    * pass-2 candidate set ~targets/4096 of the data. */
  private val PctBuckets = 4096

  /** Distributed EXACT per-group percentiles (linear interpolation,
    * `lo*(1-f)+hi*f` — bit-matches DuckDB `quantile_cont`).
    *
    * Two-pass bucketed rank — the scale-safe exact-quantile plan:
    *   1. `stats`: per-group (n, min, max) — one map-side partial aggregate.
    *   2. `counts`: per-(group, value-bucket) histogram — a second map-side
    *      partial aggregate over the same scan pipeline; only G×B tiny rows
    *      cross the shuffle.
    *   3. Cumulative bucket counts (a window over the TINY counts frame —
    *      ≤B rows per group regardless of data size) locate, for each target
    *      0-based order statistic `r = floor/ceil(p*(n-1))`, the bucket that
    *      contains it and the local rank `r - cum_before` inside it.
    *   4. Pass 2 re-scans, broadcast-semi-joins down to rows in straddling
    *      buckets (≤ 2·|ps| buckets per group), collapses them to
    *      per-distinct-VALUE counts in a map-side-combining aggregate,
    *      and walks the tiny per-bucket value ladder (cumulative counts)
    *      to the straddle values.
    *
    * Every full-data stage is map-only (scan + broadcast join + partial
    * agg); no group — and no tie-dominated bucket — is ever sorted in a
    * single task and the fact table never crosses a shuffle — at 100 TB
    * the cost is two scans plus KB-scale exchanges. Value ties never
    * straddle buckets (equal values share a bucket), and pass 2 ranks
    * distinct values with multiplicities, so tie skew collapses instead
    * of concentrating a bucket into one window task.
    *
    * @param base frame with the group column and a double measure `x`
    * @param grp  group column name
    * @param ps   (fraction, output column name) pairs
    */
  /** Collect a BOUNDED stat frame (G×(B+3) rows at ANY corpus size) and
    * rebuild it as a LocalRelation — the "broadcast the plan" move of
    * guide §8/§5. Round 17 persisted these frames lazily instead; the
    * cached blocks were then materialized concurrently by several AQE
    * query stages of the one consuming action ("Block rdd already
    * exists" races), and the driver bench measured q69 at 60 s vs the
    * 4.6 s pre-change baseline, with monotone per-run escalation. An
    * eager driver-side collect of a provably tiny frame is race-free,
    * pins no cache for the session, and embeds the rows as literals so
    * every downstream reference (and broadcast) is planning-free. */
  private[operators] def localize(df: DataFrame): DataFrame = {
    val rows = df.collect()
    df.sparkSession.createDataFrame(
      java.util.Arrays.asList(rows: _*), df.schema)
  }

  def exactPercentiles(base0: DataFrame, grp: String, ps: Seq[(Double, String)]): DataFrame = {
    // NULL measures are excluded up front (the quantile_cont contract);
    // without this they would inflate n AND land in the top bucket,
    // because least(lit(B-1), floor(null)) skips the null in Spark
    val base = base0.filter(col("x").isNotNull)
    val b = lit(PctBuckets)
    // The tiny stat frames below (`stats` G rows, `cum` ≤ G×B rows,
    // `needed` G×2|ps| rows — bounded at ANY corpus size) are each
    // referenced by SEVERAL downstream subplans. Left lazy, the logical
    // tree re-derives them per reference and the duplication COMPOUNDS
    // (needed dups stats+counts, vals dups needed twice, a second
    // chained round dups the whole first round): the round-16 plan
    // reached 6,617 formatted lines / 932 Exchange nodes on q69 and the
    // measured wall was planning + ~60 sequential AQE stages, not data
    // (guide §7.3's "very large plans" failure mode). Each knot is
    // therefore computed EAGERLY, exactly once, via [[localize]]: the
    // corpus-scan count is unchanged (stats and cum each cost the one
    // scan they always did; `needed` derives from two LocalRelations in
    // milliseconds) and the consuming plan collapses to one scan over
    // broadcast literals per pass.
    val stats = localize(base.groupBy(grp).agg(
      count(lit(1)).as("n"), min("x").as("mn"), max("x").as("mx")))
    // Deterministic value bucket; the min==max (or single-row) group
    // degenerates to bucket 0. x==mx lands on B and is clamped to B-1.
    val bucketed = base.join(broadcast(stats), Seq(grp))
      .withColumn("bkt", when(col("mx") > col("mn"),
        least(lit(PctBuckets - 1),
          floor((col("x") - col("mn")) / (col("mx") - col("mn")) * b).cast("int")))
        .otherwise(0))
      .select(col(grp), col("x"), col("bkt"))
    val counts = bucketed.groupBy(grp, "bkt").agg(count(lit(1)).as("cnt"))
    val cw = Window.partitionBy(grp).orderBy("bkt")
      .rowsBetween(Window.unboundedPreceding, -1)
    val cum = localize(counts
      .withColumn("cum", coalesce(sum("cnt").over(cw), lit(0L)))
      .withColumnRenamed(grp, "c_grp"))
    // 0-based fractional rank of percentile p is pos = p*(n-1); the
    // straddling 0-based order statistics are floor(pos) and ceil(pos).
    def posOf(p: Double): Column = lit(p) * (col("n") - 1).cast("double")
    val targets = stats.select(col(grp), explode(array(ps.flatMap { case (p, name) =>
      Seq(struct(lit(s"lo_$name").as("tag"), floor(posOf(p)).cast("long").as("r")),
        struct(lit(s"hi_$name").as("tag"), ceil(posOf(p)).cast("long").as("r")))
    }: _*)).as("t")).select(col(grp), col("t.tag").as("tag"), col("t.r").as("r"))
    // Which bucket holds rank r — inequality join, but both sides are
    // LocalRelations (G×2|ps| targets vs G×B counts), so eagerly
    // resolving it costs milliseconds and no corpus scan.
    val needed = localize(targets.join(cum,
      col(grp) === col("c_grp") && col("r") >= col("cum") &&
        col("r") < col("cum") + col("cnt"))
      .select(col(grp), col("tag"), col("bkt"), (col("r") - col("cum")).as("lr")))
    // semi-join instead of distinct+inner: the LEFT SEMI keeps each
    // bucketed row at most once however many targets share its bucket
    // — identical row set to the former distinct()+inner join, minus
    // the distinct's own exchange (round 17; the frame is tiny but the
    // stage-count floor is what the small tiers pay for)
    val needBkts = needed.select(grp, "bkt")
    // Rank straddling buckets over DISTINCT values, not rows: the
    // per-(grp,bkt,x) partial aggregate collapses ties map-side, so a
    // value-dominated group (99% one constant — the common real-world
    // skew on score/flag measures) contributes ONE row to the window
    // below instead of re-creating the single-task whole-group sort the
    // bucketing exists to avoid. A local rank lr falls on value x iff
    // cum_before <= lr < cum_before + count(x). (The remaining
    // degenerate shape — millions of DISTINCT values packed into one
    // bucket's value range — would need one recursive re-bucketing
    // level; ties, the case that actually concentrates mass, cannot
    // cause it by construction.)
    val valCounts = bucketed.join(broadcast(needBkts), Seq(grp, "bkt"), "left_semi")
      .groupBy(grp, "bkt", "x").agg(count(lit(1)).as("vcnt"))
    val vw = Window.partitionBy(grp, "bkt").orderBy("x")
      .rowsBetween(Window.unboundedPreceding, -1)
    val vals = valCounts
      .withColumn("vcum", coalesce(sum("vcnt").over(vw), lit(0L)))
      .join(broadcast(needed), Seq(grp, "bkt"))
      .filter(col("lr") >= col("vcum") && col("lr") < col("vcum") + col("vcnt"))
      .select(col(grp), col("tag"), col("x"))
    val aggs = ps.flatMap { case (_, name) => Seq(
      max(when(col("tag") === s"lo_$name", col("x"))).as(s"lo_$name"),
      max(when(col("tag") === s"hi_$name", col("x"))).as(s"hi_$name"))
    }
    vals.groupBy(grp).agg(aggs.head, aggs.tail: _*)
      .join(broadcast(stats.select(col(grp), col("n"))), Seq(grp))
      .select(col(grp) +: ps.map { case (p, name) =>
        // lo*(1-f) + hi*f — bit-matches DuckDB quantile_cont (the
        // lo + (hi-lo)*f variant differs in the last ulp)
        (col(s"lo_$name") * (lit(1.0) - (posOf(p) - floor(posOf(p)))) +
          col(s"hi_$name") * (posOf(p) - floor(posOf(p)))).as(name)
      } :+ col("n"): _*)
  }
  // NOTE (round 17): the former trailing `.orderBy(grp)` moved to the
  // one caller that needs ordered output (the q31 entry). The other
  // callers (q69's two chained rounds, q73's threshold frame) consume
  // this via joins, where the sort was a dead exchange+sort per call.

  val queries: Seq[Query] = Seq(

    Query(
      "q1_agg",
      "A1–A4+P: filtered scan + 2-key hash aggregate with 4 sums (TPC-H Q1 shape). " +
        "Partial aggregation runs map-side; only 6 groups cross the shuffle.",
      (s, dir) => {
        val li = Tables.lineitem(s, dir)
          .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
        li.groupBy("l_returnflag", "l_linestatus")
          .agg(
            dsum(col("l_quantity")).as("sum_qty"),
            dsum(col("l_extendedprice")).as("sum_base_price"),
            dsumProd(col("l_extendedprice"), lit(1) - fac(col("l_discount"))).as("sum_disc_price"),
            dsumProd(col("l_extendedprice"), lit(1) - fac(col("l_discount")), lit(1) + fac(col("l_tax"))).as("sum_charge"),
            count(lit(1)).as("count_order"))
          .orderBy("l_returnflag", "l_linestatus")
      },
      Some("""
        SELECT l_returnflag, l_linestatus,
               CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
               CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
               CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(1 - CAST(l_discount AS DECIMAL(4,2)) AS DECIMAL(4,2))) AS DOUBLE) AS sum_disc_price,
               CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(1 - CAST(l_discount AS DECIMAL(4,2)) AS DECIMAL(4,2)) * CAST(1 + CAST(l_tax AS DECIMAL(4,2)) AS DECIMAL(4,2))) AS DOUBLE) AS sum_charge,
               COUNT(*) AS count_order
        FROM lineitem
        WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        GROUP BY l_returnflag, l_linestatus
        ORDER BY l_returnflag, l_linestatus""")),

    Query(
      "q2_scan_prune",
      "S+P1/P2: projection + predicate pushdown. The parquet scan reads only 5 of 11 " +
        "lineitem columns and `PushedFilters` carries both predicates to the reader " +
        "(the Spark-native form of the reference's positional pruning, ETL.java:101-105,147).",
      (s, dir) =>
        Tables.lineitem(s, dir)
          .filter(col("l_shipdate") > lit("2000-01-01").cast("timestamp") && col("l_quantity") < 5)
          .select("l_orderkey", "l_linenumber", "l_extendedprice")
          .orderBy("l_orderkey", "l_linenumber"),
      Some("""
        SELECT l_orderkey, l_linenumber, l_extendedprice
        FROM lineitem
        WHERE l_shipdate > TIMESTAMP '2000-01-01 00:00:00' AND l_quantity < 5
        ORDER BY l_orderkey, l_linenumber""")),

    Query(
      "q3_join_broadcast",
      "J1: dimension denormalization via broadcast hash joins (customer ⋈ nation ⋈ region) " +
        "— the reference's in-RAM FK lookup join (ETL.java:106-108) distributed: the tiny " +
        "dims replicate to every executor, the big side never shuffles.",
      (s, dir) => {
        val c = Tables.customer(s, dir)
        val n = Tables.nation(s, dir)
        val r = Tables.region(s, dir)
        c.join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
          .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
          .groupBy("r_name", "c_mktsegment")
          .agg(
            count(lit(1)).as("n_cust"),
            dsum(col("c_acctbal")).as("sum_bal"),
            countDistinct(col("c_nationkey")).as("n_nations"))
          .orderBy("r_name", "c_mktsegment")
      },
      Some("""
        SELECT r_name, c_mktsegment, COUNT(*) AS n_cust,
               CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS sum_bal,
               COUNT(DISTINCT c_nationkey) AS n_nations
        FROM customer
        JOIN nation ON c_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        GROUP BY r_name, c_mktsegment
        ORDER BY r_name, c_mktsegment""")),

    Query(
      "q4_hypercube",
      "The flagship shape on the test schema: 3-table join + 5-dim GROUP BY with " +
        "SUM×2, exact COUNT(DISTINCT)×2, COUNT(*) — the direct analog of " +
        "hypercube.sql:1-14. Planned as three chained aggregation levels (order → " +
        "customer → group) around ONE hash repartition on the output dims: the " +
        "order level's partial aggregate combines map-side before the exchange, " +
        "so it ships one row per order key a task saw instead of every line; each " +
        "level's grouping keys are a superset of the partitioning, so no further " +
        "exchange exists, and both exact distincts " +
        "become plain counts with no Expand — the order row structurally carries " +
        "exactly one customer key, the same FD the reference's per-group distinct " +
        "sets exploit (ETL.java:159-174,216-252).",
      (s, dir) => {
        val c = Tables.customer(s, dir)
        val o = Tables.orders(s, dir)
        val l = Tables.lineitem(s, dir)
        val dims = Seq(col("geo"), col("o_orderstatus"),
          col("l_returnflag"), col("l_linestatus"), col("mth"))
        // No broadcast hint on customer: it is a true dimension but grows
        // with scale; Catalyst/AQE broadcasts below the threshold and
        // shuffles above it, which is the plan that survives at 100 TB.
        l.join(o, l("l_orderkey") === o("o_orderkey"))
          .join(c, o("o_custkey") === c("c_custkey"))
          .select(col("c_nationkey").as("geo"), col("o_orderstatus"),
            col("l_returnflag"), col("l_linestatus"),
            month(col("l_shipdate")).as("mth"),
            col("o_orderkey"), col("o_custkey"),
            col("l_quantity").cast(DecimalType(18, 2)).as("qty"),
            col("l_extendedprice").cast(DecimalType(18, 2)).as("price"))
          .repartition(dims: _*)
          .groupBy(dims :+ col("o_orderkey") :+ col("o_custkey"): _*)
          .agg(count(lit(1)).as("pre_nlines"),
            sum("qty").as("pre_qty"), sum("price").as("pre_price"))
          .groupBy(dims :+ col("o_custkey"): _*)
          .agg(count(lit(1)).as("pre_norders"), sum("pre_nlines").as("pre_nlines"),
            sum("pre_qty").as("pre_qty"), sum("pre_price").as("pre_price"))
          .groupBy(dims: _*)
          .agg(
            sum("pre_qty").cast("double").as("sum_qty"),
            sum("pre_price").cast("double").as("sum_price"),
            count(lit(1)).as("nclients"),
            sum("pre_norders").as("norders"),
            sum("pre_nlines").as("nlines"))
          .orderBy("geo", "o_orderstatus", "l_returnflag", "l_linestatus", "mth")
      },
      Some("""
        SELECT c_nationkey AS geo, o_orderstatus, l_returnflag, l_linestatus,
               CAST(month(l_shipdate) AS INT) AS mth,
               CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
               CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
               COUNT(DISTINCT o_custkey) AS nclients,
               COUNT(DISTINCT o_orderkey) AS norders,
               COUNT(*) AS nlines
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        GROUP BY 1, 2, 3, 4, 5
        ORDER BY 1, 2, 3, 4, 5""")),

    Query(
      "q5_topk",
      "O1+LIMIT: global top-k. Spark plans TakeOrderedAndProject — per-partition " +
        "heaps, only k rows per partition reach the driver; no global sort, no full shuffle.",
      (s, dir) =>
        Tables.orders(s, dir)
          .select("o_orderkey", "o_custkey", "o_totalprice")
          .orderBy(desc("o_totalprice"), asc("o_orderkey"))
          .limit(100),
      Some("""
        SELECT o_orderkey, o_custkey, o_totalprice
        FROM orders
        ORDER BY o_totalprice DESC, o_orderkey
        LIMIT 100""")),

    Query(
      "q6_distinct",
      "A5/A6: three exact COUNT(DISTINCT) in one aggregate — Catalyst multi-way " +
        "Expand (each input row replicated per distinct column, then two-level " +
        "aggregate). Exact, like the reference; see q12_approx_distinct for the " +
        "sketch-based 100 TB variant.",
      (s, dir) =>
        Tables.lineitem(s, dir)
          .groupBy("l_returnflag")
          .agg(
            countDistinct(col("l_orderkey")).as("d_orders"),
            countDistinct(col("l_partkey")).as("d_parts"),
            countDistinct(col("l_suppkey")).as("d_supps"),
            count(lit(1)).as("n"))
          .orderBy("l_returnflag"),
      Some("""
        SELECT l_returnflag,
               COUNT(DISTINCT l_orderkey) AS d_orders,
               COUNT(DISTINCT l_partkey) AS d_parts,
               COUNT(DISTINCT l_suppkey) AS d_supps,
               COUNT(*) AS n
        FROM lineitem
        GROUP BY l_returnflag
        ORDER BY l_returnflag""")),

    Query(
      "q7_join_shuffle",
      "J2 scale path: fact ⋈ fact with no broadcast hint — Catalyst/AQE picks " +
        "shuffled hash or sort-merge join on the shuffled key, the plan that " +
        "survives when both sides are too big to broadcast (100 TB case).",
      (s, dir) => {
        val o = Tables.orders(s, dir)
        val l = Tables.lineitem(s, dir)
        l.join(o, l("l_orderkey") === o("o_orderkey"))
          .groupBy(col("o_orderpriority"), year(col("o_orderdate")).as("yr"))
          .agg(
            dsumProd(col("l_extendedprice"), lit(1) - fac(col("l_discount"))).as("revenue"),
            count(lit(1)).as("n"))
          .orderBy("o_orderpriority", "yr")
      },
      Some("""
        SELECT o_orderpriority, CAST(year(o_orderdate) AS INT) AS yr,
               CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(1 - CAST(l_discount AS DECIMAL(4,2)) AS DECIMAL(4,2))) AS DOUBLE) AS revenue,
               COUNT(*) AS n
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        GROUP BY 1, 2
        ORDER BY 1, 2""")),

    Query(
      "q8_window",
      "Window functions (absent in the reference — extension): first 3 orders per " +
        "customer by row_number over a partitioned, deterministically tie-broken sort.",
      (s, dir) => {
        val w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
        Tables.orders(s, dir)
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") <= 3)
          .select("o_custkey", "o_orderkey", "rn")
          .orderBy("o_custkey", "rn")
      },
      Some("""
        SELECT o_custkey, o_orderkey, CAST(rn AS INT) AS rn
        FROM (
          SELECT o_custkey, o_orderkey,
                 ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS rn
          FROM orders) t
        WHERE rn <= 3
        ORDER BY o_custkey, rn""")),

    Query(
      "q9_semi_anti",
      "Semi/anti semantics (absent in the reference — extension): per nation, " +
        "customers with vs without orders, in ONE pass — left join against the " +
        "distinct key set + conditional counts. Equivalent to a left_semi plus a " +
        "left_anti plan but scans orders once instead of twice (the round-1 " +
        "two-pass form was flagged as an efficiency nit).",
      (s, dir) => {
        val c = Tables.customer(s, dir)
        val o = Tables.orders(s, dir).select("o_custkey").distinct()
        c.join(o, c("c_custkey") === o("o_custkey"), "left_outer")
          .groupBy("c_nationkey")
          .agg(
            count(col("o_custkey")).as("n_with"),
            sum(when(col("o_custkey").isNull, 1L).otherwise(0L)).as("n_without"))
          .orderBy("c_nationkey")
      },
      Some("""
        SELECT c_nationkey,
               COUNT(*) FILTER (WHERE o.o_custkey IS NOT NULL) AS n_with,
               COUNT(*) FILTER (WHERE o.o_custkey IS NULL) AS n_without
        FROM customer
        LEFT JOIN (SELECT DISTINCT o_custkey FROM orders) o ON c_custkey = o.o_custkey
        GROUP BY c_nationkey
        ORDER BY c_nationkey""")),

    Query(
      "q10_binary_scan",
      "S3: fixed-width big-endian binary source (the reference's invoices.bin layout, " +
        "README.md:66) via the DSv2 record-aligned reader. Totals over the reference's " +
        "own fact file; golden-checked in ScalaTest against FIXTURES.md. Oracle " +
        "(round-14 upgrade, the q110 staged-fingerprint convention): DuckDB cannot " +
        "read the binary format, so the spec-gated deterministic decode is staged " +
        "once as parquet and the oracle recomputes the totals from it — the " +
        "aggregation becomes a driver-checked hash compare while the decode stays " +
        "golden-gated in ReferenceParitySpec.",
      (s, _) => {
        ReferenceHypercube.binOracleRoot = Some(
          new java.io.File(ReferenceHypercube.invoicesStaged(s)).getAbsolutePath)
        FixedWidthBinary.invoices(s, "/root/reference/data-sample/invoices.bin")
          .agg(
            count(lit(1)).as("n_records"),
            sum("consumption").as("sum_consumption"),
            countDistinct(col("contract")).as("d_contracts"),
            min("time").as("min_time"), max("time").as("max_time"))
      },
      oracleFn = Some(() => ReferenceHypercube.binOracleRoot.map(root => s"""
        SELECT COUNT(*) AS n_records,
               CAST(SUM(consumption) AS BIGINT) AS sum_consumption,
               COUNT(DISTINCT contract) AS d_contracts,
               MIN("time") AS min_time, MAX("time") AS max_time
        FROM read_parquet('$root/fact/*.parquet')"""))),

    Query(
      "q11_hypercube_ref",
      "End-to-end reference parity over the BINARY fact: the full hypercube pipeline " +
        "(S1–S4, J1–J2, A1–A6, P3, O1) over the reference's own data-sample, with the " +
        "fact decoded by the DSv2 binary reader. Oracle (round-14 upgrade — the q110 " +
        "staged-fingerprint + q63 decimal-differential conventions combined): the " +
        "spec-gated deterministic decode is staged once as parquet with amounts " +
        "converted float→exact-DECIMAL at stage time, both engines run the ENTIRE " +
        "34k-group hypercube from the staged fact, and the whole result row-hash-" +
        "compares — upgrading the binary path from golden totals to a per-row " +
        "differential (q63 keeps the CSV twin; the reference's float→double " +
        "accumulation contract stays golden-gated on fromFolder/EtlMain in " +
        "ReferenceParitySpec).",
      (s, _) => {
        val folder = "/root/reference/data-sample"
        val root = ReferenceHypercube.invoicesStaged(s)
        ReferenceHypercube.binOracleRoot =
          Some(new java.io.File(root).getAbsolutePath)
        ReferenceHypercube.hypercube(
          ReferenceHypercube.clients(s, s"$folder/clients.csv"),
          ReferenceHypercube.contracts(s, s"$folder/contracts.csv"),
          s.read.parquet(s"$root/fact"),
          ReferenceHypercube.ReferenceExact, broadcastDim = true)
          // decimal-exact sum rendered as double for engine-portable hashing
          .withColumn("amount", col("amount").cast("double"))
      },
      oracleFn = Some(() => ReferenceHypercube.binOracleRoot.map(root => s"""
        WITH i AS (
          SELECT * FROM read_parquet('$root/fact/*.parquet')
        ), k AS (
          SELECT * FROM read_csv('/root/reference/data-sample/contracts.csv', header=true,
            columns={'id':'INTEGER','id_client':'INTEGER','nature':'INTEGER',
                     'start':'INTEGER','end':'INTEGER'})
        ), c AS (
          SELECT * FROM read_csv('/root/reference/data-sample/clients.csv', header=true,
            columns={'id':'INTEGER','type':'INTEGER','geo':'INTEGER','misc':'INTEGER'})
        )
        SELECT c.geo, c.type, c.misc, k.nature, i."time",
               CAST(SUM(i.consumption) AS BIGINT) AS consumption,
               CAST(SUM(i.amount) AS DOUBLE) AS amount,
               COUNT(DISTINCT k.id_client) AS nclients,
               COUNT(DISTINCT i.contract) AS ncontrats,
               COUNT(*) AS ninvoices
        FROM i
        JOIN k ON k.id = i.contract
        JOIN c ON c.id = k.id_client
        GROUP BY 1, 2, 3, 4, 5
        ORDER BY 1, 2, 3, 4, 5"""))),

    Query(
      "q63_hypercube_ref_csv",
      "Full differential reference parity: the same hypercube pipeline as q11, but " +
        "over the reference's CSV twin of the invoice fact (data-sample/invoices.csv " +
        "— the very input the reference's own PostgreSQL differential check used, " +
        "README.md:80; the .bin adds a 576-record stale prefix the CSV lacks, " +
        "FIXTURES.md). Amounts are read as exact decimals on both engines, so every " +
        "group's sum is bit-stable under any partitioning and the WHOLE 34k-group " +
        "result row-hash-compares against DuckDB — upgrading reference parity from " +
        "golden-total checks to a per-row differential.",
      (s, _) => {
        val folder = "/root/reference/data-sample"
        // schema-first like the other reference scans; amount as exact
        // DECIMAL (the CSV carries full-precision decimal strings — both
        // engines parse the string exactly, no float round-trip)
        val invoiceCsvSchema = StructType(Seq(
          StructField("id", IntegerType, nullable = false),
          StructField("id_contract", IntegerType, nullable = false),
          StructField("time", IntegerType, nullable = false),
          StructField("amount", DecimalType(20, 10), nullable = false),
          StructField("consumption", IntegerType, nullable = false)))
        val inv = s.read.option("header", "true").schema(invoiceCsvSchema)
          .csv(s"$folder/invoices.csv")
          .select(col("id_contract").as("contract"), col("time"),
            col("amount"), col("consumption"))
        ReferenceHypercube.hypercube(
          ReferenceHypercube.clients(s, s"$folder/clients.csv"),
          ReferenceHypercube.contracts(s, s"$folder/contracts.csv"),
          inv, ReferenceHypercube.ReferenceExact, broadcastDim = true)
          // decimal-exact sum rendered as double for engine-portable hashing
          .withColumn("amount", col("amount").cast("double"))
      },
      Some("""
        WITH i AS (
          SELECT * FROM read_csv('/root/reference/data-sample/invoices.csv', header=true,
            columns={'id':'INTEGER','id_contract':'INTEGER','time':'INTEGER',
                     'amount':'DECIMAL(20,10)','consumption':'INTEGER'})
        ), k AS (
          SELECT * FROM read_csv('/root/reference/data-sample/contracts.csv', header=true,
            columns={'id':'INTEGER','id_client':'INTEGER','nature':'INTEGER',
                     'start':'INTEGER','end':'INTEGER'})
        ), c AS (
          SELECT * FROM read_csv('/root/reference/data-sample/clients.csv', header=true,
            columns={'id':'INTEGER','type':'INTEGER','geo':'INTEGER','misc':'INTEGER'})
        )
        SELECT c.geo, c.type, c.misc, k.nature, i."time",
               CAST(SUM(i.consumption) AS BIGINT) AS consumption,
               CAST(SUM(i.amount) AS DOUBLE) AS amount,
               COUNT(DISTINCT k.id_client) AS nclients,
               COUNT(DISTINCT i.id_contract) AS ncontrats,
               COUNT(*) AS ninvoices
        FROM i
        JOIN k ON k.id = i.id_contract
        JOIN c ON c.id = k.id_client
        GROUP BY 1, 2, 3, 4, 5
        ORDER BY 1, 2, 3, 4, 5""")),

    Query(
      "q12_approx_distinct",
      "M4 scale variant of A5/A6: HLL++ approx_count_distinct (rsd=0.01) — one " +
        "pass, no Expand, constant memory per group; the opt-in sketch for 100 TB " +
        "multi-distinct. SELF-VALIDATING: the entry joins the sketch against the " +
        "exact distinct twin (q6's plan) and emits per-group relative errors plus " +
        "a within_3sigma flag computed in-plan — the q52⊇q53 pattern, so every " +
        "run of the query is its own exactness check. The |approx-exact|/exact " +
        "<= 3*rsd bound is asserted in ScalaTest at BOTH sf0.001 and the sf0.01 " +
        "oracle tier (at 100 TB a consumer drops the exact branch and keeps the " +
        "sketch alone). No oracle: the estimates themselves are engine-specific.",
      (s, dir) => {
        val li = Tables.lineitem(s, dir)
        val approx = li
          .groupBy("l_returnflag")
          .agg(
            approx_count_distinct(col("l_orderkey"), 0.01).as("approx_orders"),
            approx_count_distinct(col("l_partkey"), 0.01).as("approx_parts"),
            count(lit(1)).as("n"))
        val exact = li
          .groupBy("l_returnflag")
          .agg(
            countDistinct(col("l_orderkey")).as("exact_orders"),
            countDistinct(col("l_partkey")).as("exact_parts"))
        def relErr(ap: String, ex: String) =
          abs(col(ap) - col(ex)).cast("double") / col(ex).cast("double")
        approx.join(exact, Seq("l_returnflag"))
          .withColumn("err_orders", relErr("approx_orders", "exact_orders"))
          .withColumn("err_parts", relErr("approx_parts", "exact_parts"))
          // HLL++ at rsd 0.01: 3σ = 3% — the published error band
          .withColumn("within_3sigma",
            col("err_orders") <= 0.03 && col("err_parts") <= 0.03)
          .orderBy("l_returnflag")
      }),

    Query(
      "q13_sessionize",
      "Sessionization (gap > 30 min) via window lag + running sum — the batch twin of " +
        "the streaming sessionizer. Per-user event ordering is a single shuffle on " +
        "user_id; no driver-side state.",
      (s, dir) => {
        // ts is epoch nanoseconds (LongType) — see Tables.events.
        val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        Tables.events(s, dir)
          .withColumn("prev_ns", lag(col("ts"), 1).over(w))
          .withColumn("new_sess",
            when(col("prev_ns").isNull ||
              col("ts") - col("prev_ns") > 1800L * 1000000000L, 1L).otherwise(0L))
          .groupBy("user_id")
          .agg(sum("new_sess").as("n_sessions"), count(lit(1)).as("n_events"))
          .orderBy("user_id")
      },
      Some("""
        SELECT user_id, CAST(SUM(new_sess) AS BIGINT) AS n_sessions, COUNT(*) AS n_events
        FROM (
          SELECT user_id,
                 CASE WHEN prev_ns IS NULL OR ns - prev_ns > 1800000000000 THEN 1 ELSE 0 END AS new_sess
          FROM (
            SELECT user_id,
                   epoch_ns(ts) AS ns,
                   LAG(epoch_ns(ts), 1) OVER (PARTITION BY user_id ORDER BY epoch_ns(ts), event_id) AS prev_ns
            FROM events) a) b
        GROUP BY user_id
        ORDER BY user_id""")),

    Query(
      "q30_range_join",
      "Time-range join WITHOUT an inequality cross product: count events within " +
        "±5 min of each event via bucketization — probe side explodes into its " +
        "bucket and both neighbors, build side keys on its own bucket, so the " +
        "range predicate becomes an EQUI-join plus an in-row |Δt| filter. " +
        "Bucket width = window guarantees completeness (|Δt| ≤ w ⟹ bucket " +
        "distance ≤ 1) and each qualifying pair meets in exactly one bucket. " +
        "At scale: shuffle keyed on bucket (3 rows/probe event, 1 row/build " +
        "event); event bursts make hot buckets — the salting of q24 composes. " +
        "Oracle: DuckDB's native inequality join.",
      (s, dir) => {
        val w = 300000000000L // ±5 minutes in nanoseconds
        val e = Tables.events(s, dir).select("event_id", "user_id", "ts")
        val bucket = expr(s"ts div $w")
        val probe = e.select(col("event_id"), col("user_id"), col("ts"),
          explode(array(bucket - 1, bucket, bucket + 1)).as("bucket"))
        val build = e.select(col("event_id").as("rid"), col("ts").as("rts"),
          bucket.as("rbucket"))
        probe.join(build,
            col("bucket") === col("rbucket") && col("rid") =!= col("event_id") &&
              abs(col("rts") - col("ts")) <= lit(w), "left")
          .groupBy("event_id", "user_id")
          .agg(count(col("rid")).as("n_near"))
          .orderBy("event_id")
      },
      Some("""
        SELECT a.event_id, a.user_id, COUNT(b.event_id) AS n_near
        FROM events a LEFT JOIN events b
          ON b.event_id <> a.event_id
         AND abs(epoch_ns(b.ts) - epoch_ns(a.ts)) <= 300000000000
        GROUP BY a.event_id, a.user_id
        ORDER BY a.event_id""")),

    Query(
      "q31_percentiles",
      "Exact per-group percentiles (p25/p50/p75/p95) of the extended price — " +
        "the distribution profiling every data-quality pass needs. " +
        "Bucketed two-pass rank: pass 1 computes per-group count/min/max and " +
        "per-(group,bucket) histogram counts (map-side partial aggregates — " +
        "no full-data shuffle at all); cumulative bucket counts locate the " +
        "bucket holding each target order statistic; pass 2 re-scans, keeps " +
        "only the ~targets/B fraction of rows in straddling buckets, and " +
        "ranks those tiny buckets in parallel. No group's rows ever funnel " +
        "through one task (the round-3 Window.partitionBy(group) form did — " +
        "a single-task sort of tens of GB per group at 100 TB), and unlike a " +
        "global-sort rank the full fact table never crosses a shuffle. " +
        "Interpolation bit-matches DuckDB quantile_cont on the double domain.",
      (s, dir) => Relational.exactPercentiles(
        Tables.lineitem(s, dir)
          .select(col("l_returnflag"), col("l_extendedprice").cast("double").as("x")),
        "l_returnflag",
        Seq(0.25 -> "p25", 0.5 -> "p50", 0.75 -> "p75", 0.95 -> "p95"))
        .orderBy("l_returnflag"),
      Some("""
        SELECT l_returnflag,
               quantile_cont(CAST(l_extendedprice AS DOUBLE), 0.25) AS p25,
               quantile_cont(CAST(l_extendedprice AS DOUBLE), 0.5)  AS p50,
               quantile_cont(CAST(l_extendedprice AS DOUBLE), 0.75) AS p75,
               quantile_cont(CAST(l_extendedprice AS DOUBLE), 0.95) AS p95,
               COUNT(*) AS n
        FROM lineitem
        GROUP BY l_returnflag
        ORDER BY l_returnflag""")),

    Query(
      "q33_approx_percentiles",
      "Sketch-tier percentiles: approx_percentile with accuracy 10000 — a " +
        "mergeable one-pass map-side sketch (rank error ≤ n/accuracy), the " +
        "escape hatch when even q31's sort shuffle is too much at extreme " +
        "scale; the quantile analog of q12's HLL-vs-exact-distinct pairing. " +
        "No oracle (sketch internals are engine-specific); ScalaTest bounds " +
        "its error against the exact q31.",
      (s, dir) =>
        Tables.lineitem(s, dir)
          .select(col("l_returnflag"), col("l_extendedprice").cast("double").as("x"))
          .groupBy("l_returnflag")
          .agg(
            expr("approx_percentile(x, array(0.25, 0.5, 0.75, 0.95), 10000)").as("qs"),
            count(lit(1)).as("n"))
          .select(col("l_returnflag"),
            col("qs")(0).as("p25"), col("qs")(1).as("p50"),
            col("qs")(2).as("p75"), col("qs")(3).as("p95"), col("n"))
          .orderBy("l_returnflag")),

    Query(
      "q32_rollup",
      "ROLLUP aggregate: detail, per-flag subtotal, and grand-total rows in one " +
        "pass (Catalyst Expand + single hash aggregate — the multi-granularity " +
        "form of the hypercube family). grouping() flags disambiguate NULL " +
        "group keys from NULL data; null ordering pinned explicitly (Spark " +
        "defaults NULLS FIRST, DuckDB NULLS LAST).",
      (s, dir) =>
        Tables.lineitem(s, dir)
          .rollup("l_returnflag", "l_linestatus")
          .agg(
            // grouping() only resolves inside the rollup's own agg list
            grouping(col("l_returnflag")).cast("int").as("g_flag"),
            grouping(col("l_linestatus")).cast("int").as("g_status"),
            count(lit(1)).as("n"),
            dsum(col("l_quantity")).as("sum_qty"))
          .select(col("l_returnflag"), col("l_linestatus"), col("g_flag"),
            col("g_status"), col("n"), col("sum_qty"))
          .orderBy(asc_nulls_first("l_returnflag"), asc_nulls_first("l_linestatus")),
      Some("""
        SELECT l_returnflag, l_linestatus,
               CAST(GROUPING(l_returnflag) AS INT) AS g_flag,
               CAST(GROUPING(l_linestatus) AS INT) AS g_status,
               COUNT(*) AS n,
               CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        FROM lineitem
        GROUP BY ROLLUP (l_returnflag, l_linestatus)
        ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST"""))
  )
}
