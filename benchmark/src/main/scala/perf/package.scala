import org.apache.spark.sql.DataFrame

package object perf {

  /** The timed action: a `noop` write computes every output column, where
    * `count()` would let Catalyst prune the work being measured.
    */
  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
}
