package graft

import org.apache.spark.sql.SparkSession

/** Recommended session builder for the graft engine: UTC, AQE on,
  * right-sized shuffle parallelism, custom expressions registered via
  * SparkSessionExtensions, and the nanosecond-parquet legacy read conf.
  *
  * Library code never requires this — every operator also registers its
  * expressions defensively — but it is the one-liner a user switching
  * from the reference starts with.
  */
object GraftSession {

  /** `maxPartitionBytes` sizes scan splits: at 100 TB the default 128m
    * yields ~800k input tasks — fine for a 1000-executor cluster, but
    * raise it (e.g. "512m") when per-row work is light so task-launch
    * overhead doesn't dominate, and lower it when wide rows or heavy
    * per-row kernels (decode, minhash) would blow executor memory.
    * Shuffle partitions should track total cores (AQE coalesces the
    * small ones back down). */
  def builder(master: String = "local[*]",
              shufflePartitions: Int = 32,
              maxPartitionBytes: String = "128m"): SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.files.maxPartitionBytes", maxPartitionBytes)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      // Align Spark's whole-stage-codegen fallback with HotSpot's
      // -XX:DontCompileHugeMethods limit (8000 bytecodes): the default
      // (65535) lets Spark emit one giant consume() method the JIT then
      // REFUSES to compile, and the stage silently runs interpreted —
      // measured as a 10-20x slowdown on a wide probe pipeline
      // (scan + struct build + filter + join + trig residual). At 8000
      // Spark falls back to per-expression codegen units, each of
      // which the JIT compiles. (Clusters that run with
      // -XX:-DontCompileHugeMethods can raise this back.)
      .config("spark.sql.codegen.hugeMethodLimit", "8000")
      // Size Spark's generated-class cache to graft's working set. The
      // default (100) holds ~50 classes: entries are keyed on (context
      // classloader, source), and in local mode each whole-stage class
      // is compiled once on the driver and again under the executor's
      // loader, so it takes two. A whole api_interactive benchmark run
      // fills ~215 entries and llm_curation ~350 in its first pass and
      // ~414 after three, so at 100 the LRU evicted everything between
      // calls and every call recompiled (per timed pass, local[4]:
      // ~135 → 6 compiles on api_interactive, ~365 → 27 on
      // llm_curation; at 1000 neither run evicts anything). Static conf:
      // the JVM's first code generation reads it, so only its first
      // session sets it.
      .config("spark.sql.codegen.cache.maxEntries", "1000")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")

  def getOrCreate(master: String = "local[*]",
                  shufflePartitions: Int = 32,
                  maxPartitionBytes: String = "128m"): SparkSession = {
    val s = builder(master, shufflePartitions, maxPartitionBytes).getOrCreate()
    graft.functions.GraftFunctions.ensureRegistered(s)
    s
  }
}
