package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.ops.Ops

/** Round-11 batch nine: Markov-chain multi-touch attribution — the
  * principled alternative to att1's last-touch rule. User journeys
  * (pre-conversion event sequences) become a first-order transition
  * matrix over the BOUNDED state space {start, channels…, conv,
  * null}; conversion probability is 5 rounds of mass propagation,
  * and each channel's removal effect is the drop in conversion when
  * its state is deleted (Anderl et al.'s removal-effect model). All
  * variants (base + one per removed channel) propagate TOGETHER —
  * the variant key rides the frames, so every round is ONE join on
  * the tiny state table regardless of channel count.
  *
  * Exactness: transition probabilities are 9-dp DECIMAL rationals;
  * per-round flows are exact DECIMAL products requantized to 9 dp
  * (the hits1/ppr1 iterative rule), so the truncation at 5 rounds and
  * every intermediate digit agree across engines.
  */
object Journey extends QueryModule {

  def mta1MarkovAttribution(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
    // journey = non-purchase events strictly before the first purchase
    // (all events when the user never purchases); converted flag
    val wu = Window.partitionBy(col("user_id"))
    val evs = ev
      .withColumn("first_purchase",
        min(when(col("event_type") === "purchase",
          struct(col("ts"), col("event_id")))).over(wu))
      .withColumn("converted", col("first_purchase").isNotNull)
      .filter(col("event_type") =!= "purchase" &&
        (col("first_purchase").isNull ||
          struct(col("ts"), col("event_id")) < col("first_purchase")))
    val wSeq = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val steps = evs
      .withColumn("nxt", lead(col("event_type"), 1).over(wSeq))
      .withColumn("rk", row_number().over(wSeq))
    val edges =
      steps.filter(col("rk") === 1)
        .select(lit("start").as("src"), col("event_type").as("dst"))
        .unionAll(steps.filter(col("nxt").isNotNull)
          .select(col("event_type").as("src"), col("nxt").as("dst")))
        .unionAll(steps.filter(col("nxt").isNull)
          .select(col("event_type").as("src"),
            when(col("converted"), lit("conv")).otherwise(lit("null"))
              .as("dst")))
        // users whose first event IS the purchase: start -> conv
        .unionAll(ev.groupBy(col("user_id"))
          .agg(min(when(col("event_type") === "purchase",
              struct(col("ts"), col("event_id")))).as("fp"),
            min(struct(col("ts"), col("event_id"))).as("fe"))
          .filter(col("fp").isNotNull && col("fp") === col("fe"))
          .select(lit("start").as("src"), lit("conv").as("dst")))
    val counts = edges.groupBy(col("src"), col("dst"))
      .agg(count(lit(1)).as("n"))
    val trans = counts
      .join(counts.groupBy(col("src")).agg(sum(col("n")).as("tot")), "src")
      .select(col("src"), col("dst"),
        round(col("n").cast("double") / col("tot"), 9)
          .cast("decimal(18,9)").as("p"))
      .localCheckpoint(true)
    val channels = trans.select(col("src")).filter(
      !col("src").isin("start", "conv", "null")).distinct()
    val variants = channels.select(col("src").as("removed"))
      .select(concat(lit("no_"), col("removed")).as("variant"),
        col("removed"))
      .unionAll(s.range(1).select(lit("base").as("variant"),
        lit("__none__").as("removed")))
    // per-variant transition table: delete the removed state entirely.
    // (the variant key is renamed pvariant so the per-round join below
    // can never silently collapse to a same-attribute trivial predicate)
    val pv = variants.crossJoin(trans)
      .filter(col("src") =!= col("removed") && col("dst") =!= col("removed"))
      .select(col("variant").as("pvariant"), col("src"), col("dst"),
        col("p"))
      .localCheckpoint(true)
    // a round's state is each variant's mass per state; the conversion
    // mass absorbed so far rides along as the variant's `conv` row.
    // Carried mass has 9 dp, so re-rounding it with the round's new
    // inflow leaves every digit as a per-round sum would.
    val init = variants.select(col("variant"), lit("start").as("state"),
      lit(1).cast("decimal(18,9)").as("mass"))
    val last = Ops.iterate(init, 5) { st =>
      st.filter(!col("state").isin("conv", "null"))
        .join(pv, col("variant") === col("pvariant") &&
          col("state") === col("src"))
        .select(col("variant"), col("dst"),
          (col("mass") * col("p")).as("m"))
        .unionAll(st.filter(col("state") === "conv")
          .select(col("variant"), col("state"), col("mass")))
        .groupBy(col("variant"), col("dst").as("state"))
        .agg(round(sum(col("m")), 9).cast("decimal(18,9)").as("mass"))
    }
    // LEFT join against the variant list: a variant whose removal kills
    // every conversion has NO conv row and must still appear with 0
    val conv = variants.select(col("variant"))
      .join(last.filter(col("state") === "conv"), Seq("variant"), "left")
      .select(col("variant"),
        coalesce(col("mass"), lit(0).cast("decimal(18,9)")).as("conv_mass"))
    val base = conv.filter(col("variant") === "base")
      .select(col("conv_mass").as("base_mass"))
    conv.crossJoin(broadcast(base))
      .select(col("variant"),
        round(col("conv_mass").cast("double"), 6).as("conv_prob6"),
        when(col("variant") === "base", lit(null).cast("double"))
          .otherwise(round((col("base_mass") - col("conv_mass"))
            .cast("double") / col("base_mass").cast("double"), 6))
          .as("removal_effect6"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "mta1_markov_attribution" -> (mta1MarkovAttribution _))

  val oracles: Map[String, String] = Map(
    "mta1_markov_attribution" ->
      """WITH fp AS MATERIALIZED (
           SELECT user_id,
                  min(CASE WHEN event_type = 'purchase'
                      THEN row(ts, event_id) END) AS first_purchase,
                  min(row(ts, event_id)) AS first_event
           FROM events GROUP BY 1),
         evs AS MATERIALIZED (
           SELECT e.user_id, e.ts, e.event_id, e.event_type,
                  fp.first_purchase IS NOT NULL AS converted
           FROM events e JOIN fp USING (user_id)
           WHERE e.event_type <> 'purchase'
             AND (fp.first_purchase IS NULL
                  OR row(e.ts, e.event_id) < fp.first_purchase)),
         steps AS MATERIALIZED (
           SELECT user_id, event_type, converted,
                  lead(event_type, 1) OVER (PARTITION BY user_id
                    ORDER BY ts, event_id) AS nxt,
                  row_number() OVER (PARTITION BY user_id
                    ORDER BY ts, event_id) AS rk
           FROM evs),
         edges AS (
           SELECT 'start' AS src, event_type AS dst FROM steps WHERE rk = 1
           UNION ALL
           SELECT event_type, nxt FROM steps WHERE nxt IS NOT NULL
           UNION ALL
           SELECT event_type,
                  CASE WHEN converted THEN 'conv' ELSE 'null' END
           FROM steps WHERE nxt IS NULL
           UNION ALL
           SELECT 'start', 'conv' FROM fp
           WHERE first_purchase IS NOT NULL
             AND first_purchase = first_event),
         counts AS (SELECT src, dst, count(*) AS n
                    FROM edges GROUP BY 1, 2),
         trans AS MATERIALIZED (
           SELECT c.src, c.dst,
                  CAST(round(CAST(n AS DOUBLE) / tot, 9)
                    AS DECIMAL(18,9)) AS p
           FROM counts c JOIN (SELECT src, CAST(sum(n) AS BIGINT) AS tot
                               FROM counts GROUP BY 1) t
             ON c.src = t.src),
         variants AS MATERIALIZED (
           SELECT 'no_' || src AS variant, src AS removed
           FROM (SELECT DISTINCT src FROM trans
                 WHERE src NOT IN ('start', 'conv', 'null'))
           UNION ALL SELECT 'base', '__none__'),
         pv AS MATERIALIZED (
           SELECT variant, src, dst, p
           FROM variants CROSS JOIN trans
           WHERE src <> removed AND dst <> removed),
         p0 AS (SELECT variant, 'start' AS state,
                  CAST(1 AS DECIMAL(18,9)) AS mass FROM variants),
         f1 AS MATERIALIZED (
           SELECT p0.variant, dst,
                  CAST(round(sum(mass * p), 9) AS DECIMAL(18,9)) AS mass
           FROM p0 JOIN pv ON p0.variant = pv.variant
                          AND p0.state = pv.src
           GROUP BY 1, 2),
         a1 AS (SELECT variant, dst AS state, mass FROM f1
                WHERE dst NOT IN ('conv', 'null')),
         f2 AS MATERIALIZED (
           SELECT a1.variant, dst,
                  CAST(round(sum(mass * p), 9) AS DECIMAL(18,9)) AS mass
           FROM a1 JOIN pv ON a1.variant = pv.variant
                          AND a1.state = pv.src
           GROUP BY 1, 2),
         a2 AS (SELECT variant, dst AS state, mass FROM f2
                WHERE dst NOT IN ('conv', 'null')),
         f3 AS MATERIALIZED (
           SELECT a2.variant, dst,
                  CAST(round(sum(mass * p), 9) AS DECIMAL(18,9)) AS mass
           FROM a2 JOIN pv ON a2.variant = pv.variant
                          AND a2.state = pv.src
           GROUP BY 1, 2),
         a3 AS (SELECT variant, dst AS state, mass FROM f3
                WHERE dst NOT IN ('conv', 'null')),
         f4 AS MATERIALIZED (
           SELECT a3.variant, dst,
                  CAST(round(sum(mass * p), 9) AS DECIMAL(18,9)) AS mass
           FROM a3 JOIN pv ON a3.variant = pv.variant
                          AND a3.state = pv.src
           GROUP BY 1, 2),
         a4 AS (SELECT variant, dst AS state, mass FROM f4
                WHERE dst NOT IN ('conv', 'null')),
         f5 AS MATERIALIZED (
           SELECT a4.variant, dst,
                  CAST(round(sum(mass * p), 9) AS DECIMAL(18,9)) AS mass
           FROM a4 JOIN pv ON a4.variant = pv.variant
                          AND a4.state = pv.src
           GROUP BY 1, 2),
         convraw AS (
           SELECT variant, sum(mass) AS cm FROM (
             SELECT variant, mass FROM f1 WHERE dst = 'conv'
             UNION ALL SELECT variant, mass FROM f2 WHERE dst = 'conv'
             UNION ALL SELECT variant, mass FROM f3 WHERE dst = 'conv'
             UNION ALL SELECT variant, mass FROM f4 WHERE dst = 'conv'
             UNION ALL SELECT variant, mass FROM f5 WHERE dst = 'conv')
           GROUP BY 1),
         conv AS (
           SELECT variants.variant,
                  coalesce(cm, CAST(0 AS DECIMAL(18,9))) AS conv_mass
           FROM variants LEFT JOIN convraw
             ON variants.variant = convraw.variant),
         base AS (SELECT conv_mass AS base_mass FROM conv
                  WHERE variant = 'base')
         SELECT variant,
                round(CAST(conv_mass AS DOUBLE), 6) AS conv_prob6,
                CASE WHEN variant = 'base' THEN NULL
                     ELSE round(CAST(base_mass - conv_mass AS DOUBLE) /
                                CAST(base_mass AS DOUBLE), 6) END
                  AS removal_effect6
         FROM conv, base""")
}
