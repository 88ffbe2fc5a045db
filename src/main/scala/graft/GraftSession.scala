package graft

import org.apache.spark.sql.SparkSession

/** Session factory with the engine's recommended configuration.
  *
  * Scale posture: AQE on (runtime coalescing + skew-join handling),
  * shuffle partition count from the environment (32 on the local[32]
  * test rig; on a real cluster set it to ~2-3x total cores), UTC
  * everywhere so timestamp semantics are stable across engines.
  */
object GraftSession {
  def defaultParallelism: String =
    sys.env.getOrElse("SPARK_GRAFT_CPUS",
      math.max(Runtime.getRuntime.availableProcessors(), 4).toString)

  def builder(appName: String = "graft"): SparkSession.Builder =
    SparkSession.builder()
      .appName(appName)
      .config("spark.sql.extensions", classOf[GraftExtensions].getName)
      .config("spark.sql.shuffle.partitions", defaultParallelism)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      // AQE coalescing sizes post-shuffle partitions by BYTES; with
      // parallelismFirst (default true) the floor is minPartitionSize,
      // default 1 MB. Stages whose per-row cost dwarfs their bytes —
      // a Levenshtein verify over candidate pairs, hash folds over
      // payloads — shuffle a few MB and were coalesced to 2-5 tasks,
      // serializing minutes of CPU on a 32-core rig (measured:
      // er_fuzzy_pairs ran its whole verify in 8 tasks). A 64 KB
      // floor keeps such stages at ~full parallelism; at production
      // scale partitions are byte-bound (totalBytes/cores >> 64 KB),
      // so the floor is inert there — scale-adaptive by construction.
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "64k")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      // the driver's events table carries TIMESTAMP(NANOS) parquet —
      // read as long and normalize in Tables.events
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      // every stream's offset, commit and state-store files: written
      // in-process on a local path, Spark's default elsewhere
      .config("spark.sql.streaming.checkpointFileManagerClass",
        classOf[graft.streaming.LocalCheckpointFiles].getName)

  /** Local session sized to the test rig. */
  def local(appName: String = "graft"): SparkSession =
    builder(appName).master(s"local[$defaultParallelism]").getOrCreate()
}
