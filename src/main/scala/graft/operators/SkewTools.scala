package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Skew mitigation for hot-key aggregation.
  *
  * AQE's skew handling covers JOINS; a skewed AGGREGATION key (one
  * key holding a large share of all rows — the "null user_id" /
  * "bot traffic" shape) still lands on one reducer after the
  * exchange, because partial aggregation only collapses values
  * within each map partition. Salting splits the hot key across
  * `salts` reducers in a first stage, then combines the per-salt
  * partials — turning one straggler task into `salts` even ones at
  * the cost of a second (tiny: keys × salts rows) shuffle.
  *
  * The salt must be DETERMINISTIC in row content: a row-position
  * salt (monotonically_increasing_id, rand) changes assignment when
  * a failed map task re-runs, and a partial fetch-failure retry can
  * then double-count or drop rows (the SPARK-23207 failure class) —
  * exactly the environment (task retries at 1000-executor scale)
  * this tool exists for. Callers name `saltByCols`: stable,
  * high-cardinality columns (a row id, an event id) whose hash
  * spreads the hot key's rows. Don't salt by the value being
  * aggregated if it can be constant within the hot key.
  */
object SkewTools {

  /** count + sum of `valCol` per `keyCol`, skew-safe. Output columns:
    * (keyCol, n, sum, maxCols...). Each of `maxCols` is carried
    * through both stages as its `max` under its own name (max of
    * per-salt maxima is the key's max, so the result equals an
    * unsalted `max`).
    */
  def saltedSumCount(df: DataFrame, keyCol: String, valCol: String,
      salts: Int, saltByCols: Seq[String],
      maxCols: Seq[String] = Nil): DataFrame = {
    require(salts > 0, s"salts must be positive, got $salts")
    require(saltByCols.nonEmpty, "need stable columns to derive the salt")
    val maxes = maxCols.map(c => max(col(c)).as(c))
    df
      .withColumn("_salt", pmod(hash(saltByCols.map(col): _*), lit(salts)))
      .groupBy(col(keyCol), col("_salt"))
      .agg(count(lit(1)).as("_c"), sum(col(valCol)).as("_s") +: maxes: _*)
      .groupBy(col(keyCol))
      .agg(sum("_c").cast("long").as("n"), sum("_s").as("sum") +: maxes: _*)
  }

  /** Salted inner equi-join for when AQE can't help: AQE splits a
    * skewed partition only at runtime under its size thresholds;
    * when one key is pathologically hot on the BIG side, salting
    * fixes the layout by construction. Each big-side row gets a
    * deterministic salt in [0, salts) from `saltByCols`; the small
    * side is REPLICATED once per salt value (explode over a
    * `sequence` literal — rows × salts, so keep `small` genuinely
    * small); the join key becomes (key, salt) and the hot key's rows
    * spread over `salts` tasks. Result is row-identical to
    * `big.join(small, keyCol)`.
    *
    * The same determinism rule as [[saltedSumCount]] applies to
    * `saltByCols` — task retries must re-derive the same salt.
    */
  def saltedJoin(big: DataFrame, small: DataFrame, keyCol: String,
      salts: Int, saltByCols: Seq[String]): DataFrame = {
    require(salts > 0, s"salts must be positive, got $salts")
    require(saltByCols.nonEmpty, "need stable columns to derive the salt")
    val b = big.withColumn("_salt",
      pmod(hash(saltByCols.map(col): _*), lit(salts)))
    val s = small.withColumn("_salt",
      explode(expr(s"sequence(0, ${salts - 1})")))
    b.join(s, Seq(keyCol, "_salt")).drop("_salt")
  }
}
