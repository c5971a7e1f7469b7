package graft

import org.apache.spark.sql.SparkSession

/** Session factories with the engine's recommended configuration.
  *
  * `local` mirrors the harness (Verify/Bench/tests). `clusterBuilder`
  * documents the knobs that matter when the same plans run against ~100 TB
  * on a real cluster — the engine's operators are written so that ONLY
  * configuration changes between the two. Both take the engine defaults
  * from `engineDefaults`, so each of those settings has one spelling.
  *
  * Generated-code cache: Spark keeps the classes it compiles for whole-stage
  * and expression codegen in one JVM-wide cache, sized by the static conf
  * `spark.sql.codegen.cache.maxEntries` of the session that first generates
  * code (default 100). One pass of the full 258-query catalog compiles
  * about 3,380 distinct classes, so at 100 entries every warm pass
  * recompiled them all (about 5,050 compiles per pass over sf0.01; 158 at
  * 4096, and the pass took 117 s instead of 232 s on 4 cores). 4096 holds
  * that working set. The measured cost is about 29-32 KB of retained heap
  * per cached class: +95 to +107 MB once the whole catalog has run, about
  * +3 MB for a 13-query subset. A driver that builds its own session keeps
  * the default, so every engine driver goes through `local`.
  */
object Sessions {

  /** Codegen classes the JVM-wide cache keeps (see above). */
  val CodegenCacheEntries = 4096

  private def engineDefaults(b: SparkSession.Builder): SparkSession.Builder =
    b.config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toLong)
      .withExtensions(new graft.functions.GraftExtensions)

  def local(cores: Int, appName: String = "graft"): SparkSession = {
    val s = engineDefaults(SparkSession.builder()
      .master(s"local[$cores]")
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.ui.enabled", "false"))
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Cluster-scale configuration, to be composed with deployment-specific
    * master/resource settings:
    *  - AQE on (default) with skew-join splitting and partition coalescing:
    *    runtime re-planning replaces hand-tuned partition counts.
    *  - shuffle.partitions sized ~2-3x total executor cores; AQE coalesces
    *    down, so err high.
    *  - files.maxPartitionBytes 256m: fewer, fuller input splits at
    *    100 TB (400k splits instead of 800k at the 128m default).
    *  - broadcast threshold stays default (10m): constant-size dims
    *    (nation/region) broadcast; anything scaling with data must not.
    *    It is also the engine's driver budget (`ops/Bounds`): the
    *    connected-components collect (threshold / 16 edges) and the
    *    node-state broadcast hint of the graph algorithms both read it.
    *  - runtime bloom-filter join reduction ON: a selective dim filter
    *    (q3/q5-shaped joins) becomes a bloom filter pushed into the fact
    *    scan, dropping non-joining rows before the shuffle — at 100 TB
    *    that is the difference between shuffling the table and shuffling
    *    the match set.
    *  - from `engineDefaults`: session TZ pinned UTC for deterministic
    *    time semantics, the graft extensions, the codegen cache size.
    *  - RocksDB state store: streaming state (watermarked dedup,
    *    sessionization, stream-stream joins) lives off-heap with
    *    incremental changelog checkpoints — at 100 TB/day the state no
    *    longer needs to fit in executor heap, and recovery replays a
    *    changelog instead of reloading full snapshots.
    */
  def clusterBuilder(appName: String = "graft"): SparkSession.Builder =
    engineDefaults(SparkSession.builder())
      .appName(appName)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.files.maxPartitionBytes", "256m")
      .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
      .config("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      .config("spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled", "true")
}
