package graft

import org.apache.spark.sql.SparkSession

/** The one SparkSession configuration of the project: the CLI, Bench,
  * Verify, the dev tools and the specs all build their session here, so the
  * configuration users run is the one that was verified and benchmarked. */
object GraftSession {

  /** @param cpus local core count; also the shuffle partition count
    * @param master overrides `local[cpus]` (a cluster master URL) */
  def apply(appName: String, cpus: String, master: Option[String] = None): SparkSession =
    SparkSession.builder()
      .appName(appName)
      .master(master.getOrElse(s"local[$cpus]"))
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      // events.ts may be timestamp[ns] parquet; Spark 4 rejects NANOS unless
      // read as epoch-nanos bigint (TableRegistry.normalizeTs unifies forms)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // openCostInBytes stays at Spark's 4 MB default HERE (r14 verdict
      // #2): a session-wide 128 KB lowered maxSplitBytes' floor for every
      // regular parquet scan — invisible at local[4] but a ~+10% per-key
      // regression at local[32], where bytes-per-core is small and the
      // open cost IS the floor. The many-small-files fix lives scoped in
      // Multimodal.ingestSession (only binaryFile listings see 128 KB).
      //
      // opt-r15: respect AQE's advisory partition size when coalescing
      // instead of stopping at defaultParallelism (the Spark-docs
      // recommendation). With the default parallelismFirst=true every
      // tiny reduce stage keeps ~defaultParallelism partitions, so at 32
      // cores each small shuffle runs 32 micro-tasks of pure scheduling
      // overhead (measured: a uniform per-key tax, e.g.
      // source_overlap_matrix 1.08 s at local[32] vs 0.29 s at local[4]
      // on identical data). At cluster scale the same setting yields the
      // 64 MB-advisory-sized reduce partitions guide §2.2 calls for —
      // this is NOT a local-only tune; map-stage parallelism still scales
      // with cores.
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
      // …with the advisory target parameterised: 8 MB locally (A/B'd —
      // 64 MB over-coalesces medium shuffles to 1 task and costs the keys
      // with real post-shuffle compute their parallelism at 32 cores,
      // e.g. dedup_cluster_lsh 1.74 → 2.40 s; 8 MB keeps KB-sized
      // shuffles at 1 task and ~50-100 MB shuffles at 6-12). On a
      // cluster set SPARK_GRAFT_ADVISORY to 64m-256m per guide §2.2 —
      // the right value tracks executor memory per core, not a laptop.
      .config("spark.sql.adaptive.advisoryPartitionSizeInBytes",
        sys.env.getOrElse("SPARK_GRAFT_ADVISORY", "8m"))
      // opt-r15: preferSortMergeJoin=false (allow shuffled-hash join) was
      // A/B'd with an interleaved full-bench pair at local[32]/sf0.1 and
      // measured WORSE (75.3/76.0 s default vs 78.3/85.0 s with the flag):
      // the surface's joins are broadcast- or tiny-partition-shaped, where
      // SHJ's per-partition hash build only adds overhead. Left at the
      // Spark default.
      .config("spark.ui.enabled", "false")
      .getOrCreate()
}
