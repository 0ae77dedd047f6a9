package graft

import org.apache.spark.sql.SparkSession

/** The local SparkSession graft's mains and specs run on. */
object LocalSession {

  /** `SPARK_GRAFT_CPUS`, defaulting to every core on the machine. */
  def cpus: String = sys.env.getOrElse(
    "SPARK_GRAFT_CPUS", Runtime.getRuntime.availableProcessors.toString)

  /** `local[cores]` with `shufflePartitions` shuffle partitions, UTC session
    * time, nanosecond parquet timestamps read as longs (the test data's
    * TIMESTAMP(NANOS) columns) and no UI, plus any `extra` static confs.
    * Log level WARN. */
  def apply(cores: String, shufflePartitions: String,
      extra: (String, String)*): SparkSession = {
    val spark = extra.foldLeft(SparkSession.builder()
        .master(s"local[$cores]")
        .config("spark.sql.shuffle.partitions", shufflePartitions)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.ui.enabled", "false")) { case (b, (k, v)) => b.config(k, v) }
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
