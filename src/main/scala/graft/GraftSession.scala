package graft

import org.apache.spark.sql.SparkSession

/** Session factory with the engine's standard conf. Every entry point (the
  * `Bench` and `Verify` mains, the demos, the test session, the benchmark)
  * builds its session here.
  *
  * Scale posture: these settings are tuned for the local[32] harness but the
  * same knobs are the ones that matter on a 1000-executor cluster — AQE for
  * runtime re-planning (skew joins, dynamic coalescing), small shuffle
  * partition count locally (set partitions ~ 2-3x total cores on a real
  * cluster), and broadcast join threshold for dimension tables.
  */
object GraftSession {
  /** Entries of Spark's compiled-class LRU (`spark.sql.codegen.cache.maxEntries`,
    * default 100). One pass of the engine generates more classes than the
    * default holds (measured on local[4]: ~130 for a SAXS tree pass, 111 and
    * 144 for the 10- and 11-query benchmark mixes, ~1,400 for the 135-query
    * suite), so at 100 every repeat pass evicted and re-ran Janino on nearly
    * all of its code. 4096 is over 2.5x the suite plus the SAXS chain. The cache
    * is JVM-wide and sized once, when codegen first runs, so this must be set
    * before the session exists. */
  val CodegenCacheEntries = 4096

  def builder(master: String = "local[32]", shufflePartitions: Int = 32): SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      .appName("graft")
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toString)
      // events.parquet carries TIMESTAMP(NANOS); read as long, normalized
      // in Tables.load (Spark's TimestampType is micros-only).
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
}
