package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Skew mitigation for a key whose skew is known a priori (AQE's
  * runtime skew-join splitting covers the rest): a uniform salt in
  * [0, n) spreads each key's rows over n groups. Results are
  * independent of the salt values, so the nondeterministic `rand` is
  * safe here.
  */
object Salting {

  /** Salted groupBy-sum: two-phase aggregation where the first phase
    * groups on (key, salt) to spread a hot key, the second merges the
    * partials. (Spark's partial aggregation usually makes this
    * unnecessary — it exists for the high-cardinality-accumulator
    * cases, e.g. collect_set, where map-side partials stay huge.)
    */
  def saltedSum(df: DataFrame, key: String, valueCol: String,
      numSalts: Int): DataFrame =
    df.withColumn("_salt", (rand(42) * numSalts).cast("int"))
      .groupBy(col(key), col("_salt"))
      .agg(sum(col(valueCol)).as("_partial"))
      .groupBy(col(key))
      .agg(sum(col("_partial")).as(s"sum_$valueCol"))
}
