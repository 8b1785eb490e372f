package graft.jobs

import org.apache.spark.sql.SparkSession

/** The one SparkSession builder for every job main (the frozen
  * `graft.Bench` and `graft.Verify` keep their own). Every session runs
  * with the UI off and WARN logs.
  */
object Sessions {

  /** A session on `master` with `shuffle` shuffle partitions plus the
    * extra `conf` pairs.
    */
  def local(master: String, shuffle: String,
      conf: (String, String)*): SparkSession = {
    val builder = SparkSession.builder()
      .master(master)
      .config("spark.sql.shuffle.partitions", shuffle)
      .config("spark.ui.enabled", "false")
    conf.foreach { case (k, v) => builder.config(k, v) }
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** CLI job mains: master from `SPARK_MASTER` (default `local[8]`),
    * shuffle partitions from `SPARK_GRAFT_SHUFFLE` (default 8) unless the
    * main fixes them, UTC session time zone.
    */
  def cli(appName: String,
      shuffle: String = sys.env.getOrElse("SPARK_GRAFT_SHUFFLE", "8"))
      : SparkSession =
    local(sys.env.getOrElse("SPARK_MASTER", "local[8]"), shuffle,
      "spark.app.name" -> appName,
      "spark.sql.session.timeZone" -> "UTC")

  /** Scale benches: `local[SPARK_GRAFT_CPUS]` (default 32) with one
    * shuffle partition per core.
    */
  def scale(): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    local(s"local[$cpus]", cpus)
  }
}
