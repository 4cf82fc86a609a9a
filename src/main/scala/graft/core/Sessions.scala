package graft.core

import org.apache.spark.sql.SparkSession

/** The one place the local session config lives — five mains were
  * hand-rolling (and drifting on) the same block.
  */
object Sessions {
  /** Generated classes the JVM keeps compiled (`spark.sql.codegen.cache.maxEntries`,
    * Spark's default 100). One pass of the benchmark's `pipeline` queries
    * needs more distinct classes than that (a second pass recompiled
    * 103), so at 100 they evict each other and every pass recompiles.
    */
  val CodegenCacheEntries = 1000

  /** Pre-configured builder: UTC, nanos-as-long (events table), AQE, no
    * UI, the `file:` scheme on [[LocalFs]], and a codegen cache that
    * survives from pass to pass. Callers add master-specific bits and
    * getOrCreate.
    *
    * These settings live here so every session gets them: Bench, Verify,
    * the tools, the benchmark's Runner and the tests all build their
    * session through this builder (a test pins it as the only
    * `SparkSession` builder).
    *
    *  - `file:` on [[LocalFs]]: without it Hadoop forks a `chmod` per
    *    created file and a `readlink` per checkpoint rename, about 390
    *    processes per pass of the streaming and parquet-writing queries.
    *  - `spark.sql.artifact.isolation.enabled=false`: Spark caches a
    *    compiled class keyed by (task context classloader, source). With
    *    isolation on, each streaming gate's cloned session hands its
    *    tasks a fresh classloader, so every run of a gate recompiled its
    *    classes from byte-identical source: 18 for es12 and 7 for p15 per
    *    run. The engine adds no jars or files to a session, so isolation
    *    isolates nothing.
    *  - `spark.sql.codegen.cache.maxEntries` = [[CodegenCacheEntries]]:
    *    with both settings, a second pass over m12, p04, t01, p15 and
    *    es12 at sf0.001 compiles 0 classes (SessionsSpec; m12 can meet
    *    a second AQE join build side once, 2 more classes). Without
    *    either it compiled 103 (m12 36, p04 31, t01 3, p15 11, es12 22),
    *    with only the cache bound 25 (p15 7, es12 18) and with only
    *    isolation off 75.
    *    A compile is wall time, not only CPU: the cache loads each
    *    source once, so the other tasks of a stage that need the class
    *    wait while one of them compiles it.
    *    The bound is a static conf read once per JVM, by the first session.
    */
  def builder(master: String, shufflePartitions: String): SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      .config("spark.sql.shuffle.partitions", shufflePartitions)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.artifact.isolation.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toLong)
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
