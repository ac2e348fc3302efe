package graft

import org.apache.spark.sql.SparkSession

/** The one session builder of the local mains (`Bench`, `Verify`,
  * `Explain`): `local[cores]`, the given shuffle partitions, UTC session
  * time, no UI, plus the main's own `confs` (AQE, parquet timestamp
  * type, app name). Any other session setting comes from `-Dspark.*` JVM
  * properties, which SparkConf loads; the ones set here win. */
object LocalSession {
  def apply(cores: String, shufflePartitions: String, logLevel: String,
      confs: (String, String)*): SparkSession = {
    val base = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", shufflePartitions)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    val spark = confs.foldLeft(base) { case (b, (k, v)) => b.config(k, v) }
      .getOrCreate()
    spark.sparkContext.setLogLevel(logLevel)
    spark
  }
}
