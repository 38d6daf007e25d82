package graft

import org.apache.spark.sql.DataFrame

/** The benchmark stamps each query with the plan fingerprint the library's
  * own bench uses; that rule is package-private, so it is reached from here.
  */
object PerfbenchAccess {
  def planFp(df: DataFrame): String = Bench.planFp(df)
}
