package graft.util

import org.apache.spark.sql.SparkSession

/** The sandbox-tuned local SparkSession of the Bench main:
  *  - shuffle partitions = cores (local mode; the 200 default just adds
  *    scheduling overhead);
  *  - AQE on, but with a small coalesce floor: dedup rows are tiny but
  *    CPU-heavy, and bytes-targeted coalescing would serialize them;
  *  - spark.local.dir on tmpfs: the sandbox block device has erratic
  *    latency (on a real cluster this is fast local NVMe);
  *  - spark.rdd.compress: serialized cache levels push fewer bytes through
  *    the bandwidth-bound block store.
  */
object LocalSession {
  def apply(cpus: Int, appName: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", sys.env.getOrElse("SPARK_GRAFT_AQE", "true"))
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "64kb")
      .config("spark.rdd.compress", "true")
      .config("spark.eventLog.enabled", sys.env.getOrElse("SPARK_GRAFT_EVENTLOG", "false"))
      .config("spark.eventLog.dir", "/tmp/spark-events")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "localhost")
      .config("spark.local.dir", "/dev/shm/graft-spark-tmp")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
