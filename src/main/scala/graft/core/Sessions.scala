package graft.core

import org.apache.spark.sql.SparkSession

/** The one place the local session config lives — five mains were
  * hand-rolling (and drifting on) the same block.
  */
object Sessions {
  /** Pre-configured builder: UTC, nanos-as-long (events table), AQE, no
    * UI, and the `file:` scheme on [[LocalFs]]. Callers add master-specific
    * bits and getOrCreate.
    *
    * The `file:` registration lives here so every session gets it: Bench,
    * Verify, the tools, the benchmark's Runner and the tests all build
    * their session through this builder. Without it Hadoop forks a
    * `chmod` per created file and a `readlink` per checkpoint rename, about
    * 390 processes per pass of the streaming and parquet-writing queries.
    */
  def builder(master: String, shufflePartitions: String): SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      .config("spark.sql.shuffle.partitions", shufflePartitions)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config(LocalFs.confs)

  /** Standard local session for the driver-contract mains. */
  def local(cpus: String): SparkSession = {
    val s = builder(s"local[$cpus]", cpus).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Release ALL cross-run execution state: CacheManager entries AND
    * leftover persisted RDDs — which include `localCheckpoint()` blocks
    * the CacheManager does not track (the round-5 warm>cold leak; see
    * Graph.release for the per-frame variant). One definition, shared
    * by Bench/Verify/profiling mains between measured runs, so the
    * sweep semantics cannot drift across call sites.
    */
  def sweepPersistedState(spark: SparkSession): Unit = {
    spark.sharedState.cacheManager.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
  }
}
