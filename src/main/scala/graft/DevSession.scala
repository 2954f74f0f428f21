package graft

import org.apache.spark.sql.SparkSession

/** The local session of the dev mains (Explain, Profile, AnnBench,
  * PercolateBench): `SPARK_GRAFT_CPUS` cores (default: every core) and as
  * many shuffle partitions, UTC, int64-nanos parquet timestamps read as
  * longs, no UI.
  */
object DevSession {
  def apply(): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", Runtime.getRuntime.availableProcessors.toString)
    val spark = SparkSession
      .builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
