package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.sampling.Sampling.knuthPriority

/** Round-10 batch five: the SCD2 point-in-time lookup (THE standard
  * warehouse fact-enrichment join), a scan-shared Pearson correlation
  * matrix, a deterministic permutation (randomization) test — the
  * nonparametric complement of ab1's z-test — and the Lorenz curve /
  * Gini coefficient for concentration analysis.
  *
  * Exactness: cor1/gini1 keep moments in exact DECIMAL/long and spend
  * in integer cents; perm1 reuses bs1's replicate-keyed aggregate with
  * knuth-hash label flips; u5's validity predicate is pure timestamp
  * comparison.
  */
object Stats extends QueryModule {

  // ---- u5: SCD2 point-in-time lookup ---------------------------------

  /** Enrich each order with the customer account balance THAT WAS
    * CURRENT on the order date, against a two-version SCD2 dimension
    * (nation < 5 customers re-rated +10% effective 1998-01-01, built
    * by the same [[graft.ops.Ops.scd2Merge]] u2 exercises). The
    * lookup is an equi-join on the dimension KEY with a residual
    * validity-window predicate — NOT a range join: facts co-partition
    * with their dimension versions on custkey, the residual filter
    * runs in place, and the typical 1-3 versions per key make the
    * per-row work O(versions).
    */
  def u5Scd2Lookup(s: SparkSession, d: String): DataFrame = {
    val base = Tables.customer(s, d)
      .select(col("c_custkey"), col("c_acctbal"), col("c_nationkey"))
      .withColumn("valid_from", expr("TIMESTAMP '1994-01-01 00:00:00'"))
      .withColumn("valid_to", lit(null).cast("timestamp"))
    val delta = Tables.customer(s, d)
      .filter(col("c_nationkey") < 5)
      .select(col("c_custkey"), (col("c_acctbal") * 1.1).as("c_acctbal"),
        col("c_nationkey"))
    val dim = graft.ops.Ops.scd2Merge(base, delta, Seq("c_custkey"),
      "valid_from", "valid_to", expr("TIMESTAMP '1998-01-01 00:00:00'"))
    Tables.orders(s, d)
      .join(dim, col("o_custkey") === col("c_custkey") &&
        col("o_orderdate") >= col("valid_from") &&
        (col("valid_to").isNull || col("o_orderdate") < col("valid_to")))
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"),
        round(col("c_acctbal").cast("decimal(18,4)"), 2)
          .cast("double").as("acctbal_at_order"))
  }

  /** The SAME SCD2 point-in-time lookup as [[u5Scd2Lookup]] (same
    * DuckDB oracle), re-expressed as a backward AS-OF join through the
    * custom physical operator: when versions tile the timeline
    * contiguously (scd2Merge closes each old version exactly where the
    * next opens), "the version valid at t" IS "the latest version with
    * valid_from <= t" — no validity-window residual needed, and the
    * exec's declared distribution lets a pre-bucketed dimension serve
    * the lookup with zero added shuffle. The as-of is left outer where
    * u5's window join is inner; orders predating the first version
    * (o_orderdate < 1994) carry a null payload and are filtered, which
    * is exactly the rows u5's `>= valid_from` drops.
    */
  def u6Scd2Asof(s: SparkSession, d: String): DataFrame = {
    val base = Tables.customer(s, d)
      .select(col("c_custkey"), col("c_acctbal"), col("c_nationkey"))
      .withColumn("valid_from", expr("TIMESTAMP '1994-01-01 00:00:00'"))
      .withColumn("valid_to", lit(null).cast("timestamp"))
    val delta = Tables.customer(s, d)
      .filter(col("c_nationkey") < 5)
      .select(col("c_custkey"), (col("c_acctbal") * 1.1).as("c_acctbal"),
        col("c_nationkey"))
    val dim = graft.ops.Ops.scd2Merge(base, delta, Seq("c_custkey"),
      "valid_from", "valid_to", expr("TIMESTAMP '1998-01-01 00:00:00'"))
    val left = Tables.orders(s, d)
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"),
        col("o_orderdate").cast("timestamp").as("__ts"))
    val right = dim.select(col("c_custkey").as("o_custkey"),
      col("valid_from").as("__ts"), col("c_acctbal"))
    graft.ops.AsOfJoin
      .asofJoin(left, right, Seq("o_custkey"), "__ts", "__ts",
        graft.plans.AsOfDir.Backward)
      .filter(col("c_acctbal").isNotNull)
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"),
        round(col("c_acctbal").cast("decimal(18,4)"), 2)
          .cast("double").as("acctbal_at_order"))
  }

  // ---- cor1: Pearson correlation matrix ------------------------------

  /** Pairwise Pearson correlations among four lineitem measures from
    * ONE scan-shared moment aggregate (the Deequ/dq1 pattern: ten
    * DECIMAL-exact sums serve all six pairs). The final r assembles in
    * a fixed single-IEEE-op order, so round(·,6) is engine-exact.
    */
  def cor1CorrelationMatrix(s: SparkSession, d: String): DataFrame = {
    // fan-out below the 14-sum moment aggregate (guide §2): the
    // map-side partials over the whole fact table otherwise run
    // single-core inside a few-row-group scan; no-op at scale
    val li = graft.ops.Ops.fanOutForCompute(
      Tables.lineitem(s, d).select("l_orderkey", "l_quantity",
        "l_extendedprice", "l_discount", "l_tax"), col("l_orderkey"))
    val cols = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
    val moments = li.agg(
      count(lit(1)).as("n"),
      cols.map(c => sum(col(c).cast("decimal(18,2)"))
        .cast("double").as(s"s_$c")) ++
        cols.combinations(2).map { case Seq(a, b) =>
          sum((col(a) * col(b)).cast("decimal(27,4)"))
            .cast("double").as(s"sp_${a}_$b")
        } ++
        cols.map(c => sum((col(c) * col(c)).cast("decimal(27,4)"))
          .cast("double").as(s"sq_$c")): _*)
    val pairs = cols.combinations(2).toSeq.map { case Seq(a, b) =>
      struct(lit(a).as("x"), lit(b).as("y"),
        round((col("n") * col(s"sp_${a}_$b") -
          col(s"s_$a") * col(s"s_$b")) /
          (sqrt(col("n") * col(s"sq_$a") - col(s"s_$a") * col(s"s_$a")) *
            sqrt(col("n") * col(s"sq_$b") - col(s"s_$b") * col(s"s_$b"))),
          6).as("r6"))
    }
    moments.select(explode(array(pairs: _*)).as("p")).select("p.*")
  }

  // ---- perm1: deterministic permutation test -------------------------

  /** Randomization test for "purchase events carry different value
    * than view events": the observed mean difference vs B=32
    * label-reassignment replicates, each relabeling every row by a
    * knuth coin (the Bernoulli randomization form; deterministic and
    * engine-replayable, same contract as bs1). The replicate index is
    * data, as in bs1: each row explodes into 33 copies keyed
    * b = -1..31, where b = -1 keeps the true labels and b = 0..31 flip
    * coins, and ONE groupBy(b) aggregate over one scan gives each
    * replicate's 4 conditional sums. p = (1 + #{|diff_b| >= |obs|}) /
    * (B+1), the standard add-one permutation p-value.
    */
  def perm1PermutationTest(s: SparkSession, d: String): DataFrame = {
    val b = col("b")
    val lab = when(b < 0, col("lab")).otherwise(
      pmod(knuthPriority(col("event_id") * 61 + b, 0L), lit(2L))
        .cast("int"))
    def valueSum(l: Int) = sum(when(lab === l, col("value"))
      .otherwise(lit(0.0)).cast("decimal(18,2)"))
    def labCount(l: Int) = sum(when(lab === l, 1L).otherwise(0L))
    val diff = col("s1").cast("double") / col("c1") -
      col("s0").cast("double") / col("c0")
    Tables.events(s, d)
      .filter(col("event_type").isin("purchase", "view"))
      .select(col("event_id"), col("value"),
        (col("event_type") === "purchase").cast("int").as("lab"))
      .withColumn("b", explode(sequence(lit(-1L), lit(31L))))
      .groupBy(b)
      .agg(
        valueSum(1).as("s1"), labCount(1).as("c1"),
        valueSum(0).as("s0"), labCount(0).as("c0"))
      .agg(
        max(when(b < 0, diff)).as("obs"),
        collect_list(when(b >= 0, diff)).as("diffs"))
      .select(round(col("obs"), 6).as("obs_diff6"),
        size(filter(col("diffs"), x => abs(x) >= abs(col("obs"))))
          .cast("long").as("n_exceed"))
      .withColumn("p_value6",
        round((col("n_exceed") + 1).cast("double") / 33.0, 6))
  }

  // ---- gini1: Lorenz curve + Gini coefficient ------------------------

  /** Revenue concentration: customers ranked ascending by total spend
    * (integer cents; ties by custkey), the Lorenz cumulative-share
    * curve at customer deciles, and the Gini coefficient
    * G = 2·Σ i·x_i / (n·Σx) − (n+1)/n. The rank/prefix-sum runs the
    * pk1-style distributed two-level kernel
    * ([[graft.ops.GlobalRank.rankAndPrefixSum]]) — NOT a global
    * `Window.orderBy`, which would sort the whole per-customer
    * aggregate in one task. The domain here is per-customer, i.e. it
    * scales with the data; at 100x customers the kernel's only
    * driver-side state is one (count, sum) row per partition. All
    * sums are exact integer cents; the Gini assembly is four IEEE ops
    * in fixed order.
    */
  def gini1LorenzGini(s: SparkSession, d: String): DataFrame = {
    val spend = Tables.orders(s, d)
      .groupBy(col("o_custkey"))
      .agg(sum(round(col("o_totalprice") * 100, 0).cast("long"))
        .as("cents"))
    val ranked = graft.ops.GlobalRank.rankAndPrefixSum(
      spend, Seq(col("cents"), col("o_custkey")), col("cents"))
    val tot = spend.agg(count(lit(1)).as("n"), sum(col("cents")).as("sx"))
    val cum = ranked.crossJoin(broadcast(tot))
      // ceil(i*10/n): equal-size deciles 1..10 (floor would make
      // "decile 10" the single top customer)
      .withColumn("decile", expr("(i * 10 + n - 1) div n"))
    val lorenz = cum.groupBy("decile")
      .agg(max(col("csum")).as("csum"), first(col("sx")).as("sx"),
        first(col("n")).as("n"))
      .filter(col("decile") >= 1)
      .select(col("decile"),
        round(col("csum").cast("double") / col("sx").cast("double"), 6)
          .as("cum_share6"))
    val gini = cum.agg(
      sum(col("i") * col("cents")).as("six"),
      first(col("n")).as("n"), first(col("sx")).as("sx"))
      .select(lit(0L).as("decile"),
        round((col("six") * 2).cast("double") /
          (col("n") * col("sx")).cast("double") -
          (col("n") + 1).cast("double") / col("n").cast("double"), 6)
          .as("cum_share6"))
    gini.unionAll(lorenz)
  }

  // ---- registry ------------------------------------------------------

  private val scd2LookupOracle: String =
    """WITH dim AS (
         SELECT c_custkey, c_acctbal,
                TIMESTAMP '1994-01-01 00:00:00' AS valid_from,
                CASE WHEN c_nationkey < 5
                     THEN TIMESTAMP '1998-01-01 00:00:00' END AS valid_to
         FROM customer
         UNION ALL
         SELECT c_custkey, c_acctbal * 1.1,
                TIMESTAMP '1998-01-01 00:00:00', NULL
         FROM customer WHERE c_nationkey < 5)
       SELECT o_orderkey, o_custkey, o_orderdate,
              CAST(round(CAST(c_acctbal AS DECIMAL(18,4)), 2) AS DOUBLE)
                AS acctbal_at_order
       FROM orders JOIN dim ON o_custkey = c_custkey
         AND o_orderdate >= valid_from
         AND (valid_to IS NULL OR o_orderdate < valid_to)"""

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "u5_scd2_lookup" -> (u5Scd2Lookup _),
    "u6_scd2_asof" -> (u6Scd2Asof _),
    "cor1_correlation_matrix" -> (cor1CorrelationMatrix _),
    "perm1_permutation_test" -> (perm1PermutationTest _),
    "gini1_lorenz_gini" -> (gini1LorenzGini _))

  val oracles: Map[String, String] = Map(
    "u5_scd2_lookup" -> scd2LookupOracle,
    // identical semantics via the backward as-of physical operator
    "u6_scd2_asof" -> scd2LookupOracle,
    "cor1_correlation_matrix" ->
      """WITH m AS (SELECT CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS s_q,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS s_p,
           CAST(sum(CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS s_d,
           CAST(sum(CAST(l_tax AS DECIMAL(18,2))) AS DOUBLE) AS s_t,
           CAST(sum(CAST(l_quantity * l_extendedprice AS DECIMAL(27,4)))
                AS DOUBLE) AS sp_qp,
           CAST(sum(CAST(l_quantity * l_discount AS DECIMAL(27,4)))
                AS DOUBLE) AS sp_qd,
           CAST(sum(CAST(l_quantity * l_tax AS DECIMAL(27,4)))
                AS DOUBLE) AS sp_qt,
           CAST(sum(CAST(l_extendedprice * l_discount AS DECIMAL(27,4)))
                AS DOUBLE) AS sp_pd,
           CAST(sum(CAST(l_extendedprice * l_tax AS DECIMAL(27,4)))
                AS DOUBLE) AS sp_pt,
           CAST(sum(CAST(l_discount * l_tax AS DECIMAL(27,4)))
                AS DOUBLE) AS sp_dt,
           CAST(sum(CAST(l_quantity * l_quantity AS DECIMAL(27,4)))
                AS DOUBLE) AS sq_q,
           CAST(sum(CAST(l_extendedprice * l_extendedprice
                AS DECIMAL(27,4))) AS DOUBLE) AS sq_p,
           CAST(sum(CAST(l_discount * l_discount AS DECIMAL(27,4)))
                AS DOUBLE) AS sq_d,
           CAST(sum(CAST(l_tax * l_tax AS DECIMAL(27,4)))
                AS DOUBLE) AS sq_t
           FROM lineitem)
         SELECT 'l_quantity' AS x, 'l_extendedprice' AS y,
                round((n * sp_qp - s_q * s_p) /
                  (sqrt(n * sq_q - s_q * s_q) * sqrt(n * sq_p - s_p * s_p)),
                  6) AS r6 FROM m
         UNION ALL SELECT 'l_quantity', 'l_discount',
                round((n * sp_qd - s_q * s_d) /
                  (sqrt(n * sq_q - s_q * s_q) * sqrt(n * sq_d - s_d * s_d)),
                  6) FROM m
         UNION ALL SELECT 'l_quantity', 'l_tax',
                round((n * sp_qt - s_q * s_t) /
                  (sqrt(n * sq_q - s_q * s_q) * sqrt(n * sq_t - s_t * s_t)),
                  6) FROM m
         UNION ALL SELECT 'l_extendedprice', 'l_discount',
                round((n * sp_pd - s_p * s_d) /
                  (sqrt(n * sq_p - s_p * s_p) * sqrt(n * sq_d - s_d * s_d)),
                  6) FROM m
         UNION ALL SELECT 'l_extendedprice', 'l_tax',
                round((n * sp_pt - s_p * s_t) /
                  (sqrt(n * sq_p - s_p * s_p) * sqrt(n * sq_t - s_t * s_t)),
                  6) FROM m
         UNION ALL SELECT 'l_discount', 'l_tax',
                round((n * sp_dt - s_d * s_t) /
                  (sqrt(n * sq_d - s_d * s_d) * sqrt(n * sq_t - s_t * s_t)),
                  6) FROM m""",
    "perm1_permutation_test" ->
      """WITH ev AS MATERIALIZED (
           SELECT event_id, value,
                  CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS lab
           FROM events WHERE event_type IN ('purchase', 'view')),
         reps AS (SELECT unnest(generate_series(0, 31)) AS b),
         coins AS (SELECT event_id, value, lab, b,
                  CAST(((event_id * 61 + b) * 2654435761 % 4294967296) % 2
                       AS INT) AS coin
                   FROM ev, reps),
         per AS (SELECT b,
                  CAST(sum(CASE WHEN coin = 1 THEN
                    CAST(value AS DECIMAL(18,2)) ELSE 0 END) AS DOUBLE) /
                  CAST(sum(CASE WHEN coin = 1 THEN 1 ELSE 0 END) AS BIGINT)
                  -
                  CAST(sum(CASE WHEN coin = 0 THEN
                    CAST(value AS DECIMAL(18,2)) ELSE 0 END) AS DOUBLE) /
                  CAST(sum(CASE WHEN coin = 0 THEN 1 ELSE 0 END) AS BIGINT)
                    AS diff
                 FROM coins GROUP BY b),
         obs AS (SELECT
                  CAST(sum(CASE WHEN lab = 1 THEN
                    CAST(value AS DECIMAL(18,2)) ELSE 0 END) AS DOUBLE) /
                  CAST(sum(CASE WHEN lab = 1 THEN 1 ELSE 0 END) AS BIGINT)
                  -
                  CAST(sum(CASE WHEN lab = 0 THEN
                    CAST(value AS DECIMAL(18,2)) ELSE 0 END) AS DOUBLE) /
                  CAST(sum(CASE WHEN lab = 0 THEN 1 ELSE 0 END) AS BIGINT)
                    AS od
                 FROM ev),
         ex AS (SELECT CAST(sum(CASE WHEN abs(diff) >= abs(od) THEN 1
                    ELSE 0 END) AS BIGINT) AS n_exceed
                FROM per, obs)
         SELECT round(od, 6) AS obs_diff6, n_exceed,
                round(CAST(n_exceed + 1 AS DOUBLE) / 33.0, 6) AS p_value6
         FROM obs, ex""",
    "gini1_lorenz_gini" ->
      """WITH spend AS MATERIALIZED (
           SELECT o_custkey,
                  CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT))
                       AS BIGINT) AS cents
           FROM orders GROUP BY 1),
         rk AS (SELECT o_custkey, cents,
                  CAST(row_number() OVER (ORDER BY cents, o_custkey)
                       AS BIGINT) AS i,
                  CAST(sum(cents) OVER (ORDER BY cents, o_custkey
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       AS BIGINT) AS csum
                FROM spend),
         tot AS (SELECT CAST(count(*) AS BIGINT) AS n,
                  CAST(sum(cents) AS BIGINT) AS sx FROM spend),
         lorenz AS (
           SELECT CAST((i * 10 + n - 1) // n AS BIGINT) AS decile,
                  round(CAST(max(csum) AS DOUBLE) / sx, 6) AS cum_share6
           FROM rk, tot
           GROUP BY (i * 10 + n - 1) // n, sx
           HAVING (i * 10 + n - 1) // n >= 1),
         gini AS (
           SELECT CAST(0 AS BIGINT) AS decile,
                  round(CAST(sum(i * cents) * 2 AS DOUBLE) /
                        CAST(n * sx AS DOUBLE) -
                        CAST(n + 1 AS DOUBLE) / CAST(n AS DOUBLE), 6)
                    AS cum_share6
           FROM rk, tot GROUP BY n, sx)
         SELECT * FROM gini UNION ALL SELECT * FROM lorenz""")
}
