package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * Skew-mitigation operators for the 100 TB path.
 *
 * A hash aggregation over a heavily-skewed key routes one key's entire
 * volume through one reducer. Salting splits each key into `salts`
 * sub-keys for a first partial aggregation, then combines partials in a
 * second (tiny) aggregation — the classic two-phase shape. The result is
 * EXACTLY the plain groupBy result (the registered query's oracle is the
 * unsalted SQL), only the shuffle distribution changes.
 *
 * For skewed JOINS prefer AQE's runtime skew-join splitting
 * (`spark.sql.adaptive.skewJoin.enabled`, on by default here) before
 * reaching for manual key replication.
 *
 * Measured on an injected hot key (SCALE.md r7 `skewjoin`: 9.6M-row fact,
 * HALF the rows on one key, broadcast disabled, sf0.1 ×64): plain SMJ
 * 2.36 s; AQE skew split (fired, `skew=true` in the final plan) 1.89 s;
 * manual salting (salts=8) 1.20 s; salting + AQE 1.22 s. Reading:
 *  - AQE splitting recovers part of the imbalance with ZERO code change,
 *    but only splits the reduce side along advisory-size boundaries and
 *    only fires past its size thresholds
 *    (`skewedPartitionThresholdInBytes`, 256 MB default — the probe
 *    lowers it to fixture scale; a real cluster should NOT, the default
 *    exists to keep the split from churning healthy partitions).
 *  - Salting redistributes at the MAP side — the hot key's rows never
 *    congregate at all, sorts included — which is why it wins here and
 *    why it also composes with aggregation (saltedSumCount). Its price
 *    is salts× dim replication and a schema-visible join-key change.
 * Guidance: leave AQE skew splitting on and reach for saltedJoin only
 * when a named pathological key (null surrogate, "unknown" member) still
 * dominates after AQE — or when the skew is in an AGGREGATION, which AQE
 * splitting does not cover (use saltedSumCount/saltedAvg).
 */
object Skew {

  /** Deterministic salt in [0, salts) — hash of the whole row's key cols
    * plus a spread column would do; xxhash of the key keeps partials
    * co-located per (key, salt). */
  private def salt(spreadCol: Column, salts: Int): Column =
    pmod(xxhash64(spreadCol), lit(salts))

  /**
   * Two-phase salted sum/count: phase 1 aggregates per (keys, salt),
   * phase 2 combines partials per keys. `spreadCol` should be a
   * high-cardinality column (e.g. the fact's primary key) so each salt
   * bucket gets an even share of a hot key's rows.
   */
  def saltedSumCount(df: DataFrame, keys: Seq[String], valueCol: String,
                     spreadCol: String, salts: Int = 16): DataFrame = {
    val partial = df
      .withColumn("__salt", salt(col(spreadCol), salts))
      .groupBy((keys :+ "__salt").map(col): _*)
      .agg(sum(col(valueCol)).as("__psum"), count(lit(1)).as("__pcnt"))
    partial.groupBy(keys.map(col): _*)
      .agg(sum(col("__psum")).as(s"sum_$valueCol"),
        sum(col("__pcnt")).as("n_rows"))
  }

  /** Salted average via the sum/count decomposition (avg of partial avgs
    * would be WRONG — combine the additive pieces, then divide). */
  def saltedAvg(df: DataFrame, keys: Seq[String], valueCol: String,
                spreadCol: String, salts: Int = 16): DataFrame =
    saltedSumCount(df, keys, valueCol, spreadCol, salts)
      .withColumn(s"avg_$valueCol",
        col(s"sum_$valueCol") / col("n_rows"))
      .drop(s"sum_$valueCol")

  /**
   * Manually salted equi-join for a skewed FACT key: the fact side gets a
   * deterministic salt from a high-cardinality spread column, the dim
   * side is replicated once per salt (explode of a `salts`-element
   * array), and the join runs on (key, salt) — a hot fact key's rows now
   * land on `salts` reducers instead of one. Result is EXACTLY the plain
   * `fact JOIN dim ON key` (replication × salting never duplicates or
   * drops a match: each fact row meets each dim row for its key exactly
   * once, at the fact row's own salt).
   *
   * Cost model: the dim side shuffles `salts ×` its size — use only when
   * dim ≪ fact but is too big to broadcast outright (a broadcastable dim
   * never needs salting; an SMJ with AQE skew splitting handles moderate
   * skew without the dim blow-up — this is for the pathological key whose
   * single partition exceeds what AQE splitting can rebalance, e.g. the
   * null-surrogate or "unknown" member of a dimension).
   */
  def saltedJoin(fact: DataFrame, dim: DataFrame, key: String,
                 spreadCol: String, salts: Int = 16,
                 joinType: String = "inner"): DataFrame = {
    val saltedFact = fact.withColumn("__salt", salt(col(spreadCol), salts))
    val saltedDim = dim
      .withColumn("__salt", explode(lit((0 until salts).toArray)))
    saltedFact.join(saltedDim, Seq(key, "__salt"), joinType).drop("__salt")
  }
}
