package graft

import org.apache.spark.sql.SparkSession

/** The benchmark's access to graft's own input staging, which is
  * package-private: `Bench.stageResharded` rewrites each large
  * single-file table of a directory into `parts` parquet files and
  * verifies the content unchanged.
  */
object PerfbenchStage {
  def stageResharded(spark: SparkSession, dir: String,
      parts: Int): (String, Double) =
    Bench.stageResharded(spark, dir, parts)
}
