package graft.core

import org.apache.spark.sql.SparkSession

/** The one local-session setup the mains and the specs start from (not
  * `WordCountApp`, whose master is a deployment setting):
  * `cpus` threads and as many shuffle partitions, UTC session time,
  * parquet timestamps read as TIMESTAMP rather than TIMESTAMP_NTZ, UI
  * off. A caller that needs something else (a retry master, fixed
  * partitions, broadcast thresholds) sets it on the returned builder. */
object LocalSession {
  def builder(cpus: Int): SparkSession.Builder = SparkSession.builder()
    .master(s"local[$cpus]")
    .config("spark.sql.shuffle.partitions", cpus.toLong)
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    .config("spark.ui.enabled", "false")
}
