package graft

import org.apache.spark.sql.SparkSession

/** The engine's session contract, shared by every main but the frozen
  * `Bench`/`Verify`: UTC session time zone, AQE, the RocksDB state-store
  * provider and no UI. `conf` adds to or overrides these. */
object GraftSession {

  /** `cores = Some(n)` runs `local[n]` with `n` shuffle partitions;
    * `None` keeps the master and partitions that spark-submit set. */
  def apply(appName: String, cores: Option[Int], conf: (String, String)*): SparkSession = {
    val b = SparkSession.builder()
      .appName(appName)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      .config("spark.ui.enabled", "false")
    cores.foreach(n => b.master(s"local[$n]").config("spark.sql.shuffle.partitions", n))
    conf.foreach { case (k, v) => b.config(k, v) }
    b.getOrCreate()
  }
}
