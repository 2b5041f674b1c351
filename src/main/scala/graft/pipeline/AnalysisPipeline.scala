package graft.pipeline

import graft.catalog.{TableRegistry, ViewMeta}
import graft.profile.Profiler
import graft.recommend.{Balance, Recommender}
import graft.score.Scoring
import graft.usage.Usage
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** End-to-end advisor pipeline (reference cli.py:11-137 stages 3–8), fully
  * native: discover → profile → parse workload → score → recommend. Each
  * statistic is computed once and reused (the reference recomputed
  * cardinality/performance twice — cli.py:83-89 vs partitioning.py:334-335).
  */
object AnalysisPipeline {

  /** Memoized per-column profiles for every profiled table — the
    * compute-once statistic store every pipeline entry point (and any
    * profile-derived query key) shares. Profiling is the pipeline's only
    * heavy scan, and profiles are deterministic per (sfDir contents,
    * approx), so score_partition / emit_partition_scripts / entry don't
    * re-profile the same fixtures (SURVEY §0's fix for the reference's
    * double stat computation). */
  def profilesFor(spark: SparkSession, sfDir: String,
      approxCardinality: Boolean): Seq[Profiler.ColumnProfile] =
    graft.Memo(spark, s"profiles:$approxCardinality", Seq(sfDir)) {
      computeProfiles(spark, views(spark, sfDir),
        TableRegistry.table(spark, sfDir, _), approxCardinality)
    }

  /** Profile every view via `tableFor` — the un-memoized core shared by the
    * fixture path ([[profilesFor]]) and the catalog path
    * ([[runFromCatalog]]). */
  private def computeProfiles(spark: SparkSession, vs: Seq[ViewMeta],
      tableFor: String => DataFrame,
      approxCardinality: Boolean): Seq[Profiler.ColumnProfile] = {
    // Each per-table profile is two single-row aggregate jobs whose task
    // count is bounded by the table's partition count — far below a big
    // executor's slot count. With spare slots (≥16) submit the per-table
    // jobs concurrently so the scheduler interleaves them (the 1000-
    // executor posture: profiling N tables costs ~the largest table's
    // scan, not the sum). On small executors (local[4]) concurrent jobs
    // oversubscribe and measure ~3× slower — stay serial there.
    if (spark.sparkContext.defaultParallelism >= 16 && vs.size > 1) {
      import scala.concurrent.{Await, ExecutionContext, Future}
      import scala.concurrent.duration.Duration
      // cap the submission pool: threads mostly block on job completion, but
      // one-per-table is unbounded against a warehouse-scale catalog (500
      // tables = 500 driver threads); 32 in-flight jobs saturates any
      // scheduler while keeping the driver's thread count fixed. Composed
      // bound: Profiler.profile caps its own per-column pool at 32 too, so
      // the worst case is 32 × 32 ≈ 1k mostly-blocked driver threads — high
      // but fixed, independent of catalog width
      val pool = java.util.concurrent.Executors.newFixedThreadPool(math.min(vs.size, 32))
      implicit val ec: ExecutionContext = ExecutionContext.fromExecutorService(pool)
      try {
        val fs = vs.map(v => Future(Profiler.profile(spark, v.view,
          tableFor(v.view), approxCardinality)))
        Await.result(Future.sequence(fs), Duration.Inf).flatten
      } finally pool.shutdown()
    } else
      vs.flatMap(v => Profiler.profile(spark, v.view,
        tableFor(v.view), approxCardinality))
  }

  def views(spark: SparkSession, sfDir: String): Seq[ViewMeta] =
    TableRegistry.profiledTables.map { t =>
      val cols = TableRegistry.table(spark, sfDir, t).schema.fieldNames.toSeq
      // query_count defaults to 1 per view, as in the reference (cli.py:31).
      ViewMeta(t, cols, 1L, TableRegistry.viewDdl(t))
    }

  /** Cap on distinct workload texts parsed driver-side per analysis — keeps
    * the driver's footprint metadata-sized against a warehouse-scale query
    * log (texts beyond the N most frequent are dropped with a warning).
    * One shared constant: [[graft.introspect.QueryIntrospector.maxWorkloadTexts]]. */
  val maxWorkloadTexts: Int =
    graft.introspect.QueryIntrospector.maxWorkloadTexts

  /** Workload-derived statistics (usage frequencies, per-column exec-time
    * weights, per-view priorities) are metadata-sized and deterministic per
    * sfDir contents — memoized as collected rows, like the profiles, so
    * repeated pipeline entry points don't rescan the query log. */
  private def workloadFor(spark: SparkSession, sfDir: String)
      : (Seq[(String, Long)], Seq[(String, String, Long)], Seq[(String, Double)]) =
    graft.Memo(spark, "workload", Seq(sfDir)) {
      computeWorkload(spark, views(spark, sfDir),
        TableRegistry.queryLog(spark, sfDir))
    }

  /** The per-distinct-text aggregate STATE every log-derived statistic is
    * linear in: (query, cnt, sum_exec, sum_priority). One scan of the log
    * produces it; usage frequencies, column weights and view priorities are
    * all exact functions of it (see the *FromStats derivations in Usage /
    * Scoring). Because the columns are sums and counts, the state is
    * MERGEABLE: stats(log₁ ∪ log₂) = re-aggregate(stats(log₁) ∪ stats(log₂))
    * — the property the incremental streaming advisor is built on, and the
    * same shape as the count-min cells in [[graft.ext.Sketches.cmsCells]]. */
  def textStatsOf(queryLog: DataFrame): DataFrame =
    queryLog.where(col("query").isNotNull)
      .groupBy("query")
      .agg(count(lit(1)).as("cnt"),
        sum("execution_time_ms").as("sum_exec"),
        sum(when(Scoring.isInteractiveCol, lit(2.0)).otherwise(lit(1.0)))
          .as("sum_priority"))

  /** Workload-stat core over an arbitrary (views, queryLog) pair — shared by
    * the fixture path ([[workloadFor]]) and the catalog path. One full scan
    * of the log (building the per-text state), then metadata-sized work. */
  private def computeWorkload(spark: SparkSession, vs: Seq[ViewMeta],
      rawQueryLog: DataFrame)
      : (Seq[(String, Long)], Seq[(String, String, Long)], Seq[(String, Double)]) =
    computeWorkloadFromStats(spark, vs, textStatsOf(rawQueryLog))

  /** Workload-stat core over per-text aggregate state ([[textStatsOf]]) —
    * the shared tail of the batch path and the incremental streaming path.
    *
    * 100 TB posture: the state DataFrame is one row per distinct text
    * (distributed, never collected whole); only the maxWorkloadTexts
    * most-frequent texts ship to the driver for parsing (heavy-hitter
    * coverage — the advisor's scores are frequency-weighted, so the dropped
    * tail moves them least), and the three derivations are joins against the
    * cached state, not rescans of the log. */
  private[graft] def computeWorkloadFromStats(spark: SparkSession, vs: Seq[ViewMeta],
      textStats: DataFrame)
      : (Seq[(String, Long)], Seq[(String, String, Long)], Seq[(String, Double)]) = {
    val stats = textStats.cache()
    try {
      // heavy-hitter selection straight off the state (it already carries
      // per-text counts) through the ONE shared selector — anything dropped
      // is logged, never silent
      val texts = graft.introspect.QueryIntrospector.topTextsByCount(
        stats, maxWorkloadTexts)
      // one driver-side parse of the capped texts, shared by all three
      // derivations — the reference re-parsed the log per analysis stage
      val parsed = graft.introspect.QueryIntrospector.parseAll(spark, texts)
      val refsDf = Scoring.parsedRefsFrom(spark, parsed).cache()
      try {
        val usage = Usage.weightedFrequencyFromStats(spark, vs, stats, parsed)
          .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
        val (_, colWeights) = Scoring.performanceMetricsFromStats(stats, refsDf)
        val weights = colWeights.collect()
          .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSeq
        val priorities = Scoring.viewPrioritiesFromStats(stats, refsDf)
          .collect().map(r => (r.getString(0), r.getDouble(1))).toSeq
        (usage, weights, priorities)
      } finally refsDf.unpersist()
    } finally stats.unpersist()
  }

  /** Composite partition scores for every (view, column) — all statistics
    * computed once (each memoized at metadata size). */
  def scores(spark: SparkSession, sfDir: String,
      approxCardinality: Boolean = false): DataFrame = {
    import spark.implicits._
    // profile scans and workload derivations touch disjoint inputs — overlap
    // them (cold-cache wall clock becomes max of the two, not the sum)
    val profilesF = {
      import scala.concurrent.{ExecutionContext, Future}
      implicit val ec: ExecutionContext = ExecutionContext.global
      Future(profilesFor(spark, sfDir, approxCardinality))
    }
    val workload = workloadFor(spark, sfDir)
    val profiles = {
      import scala.concurrent.Await
      import scala.concurrent.duration.Duration
      Await.result(profilesF, Duration.Inf)
    }
    assembleScores(spark, profiles, workload)
  }

  /** Collected statistics → composite score DataFrame (shared tail of the
    * fixture and catalog paths). */
  private def assembleScores(spark: SparkSession,
      profiles: Seq[Profiler.ColumnProfile],
      workload: (Seq[(String, Long)], Seq[(String, String, Long)], Seq[(String, Double)]))
      : DataFrame = {
    import spark.implicits._
    val (usageRows, weightRows, priorityRows) = workload
    val usage = usageRows.toDF("name", "weighted_frequency")
    val colWeights = weightRows.toDF("table", "column", "weight")
    val priorities = priorityRows.toDF("table", "avg_priority")
    Scoring.partitionScores(profiles.toDF(), usage, colWeights, priorities)
  }

  /** Catalog-discovery advisor (reference cli.py's real flow: discover from
    * information_schema → profile → score → recommend): runs the whole
    * pipeline against tables REGISTERED IN THE SESSION CATALOG — temp views,
    * a database, any catalog the session resolves — rather than the fixture
    * registry. `spark.table(name)` is the resolver, so Hive/temp/Iceberg
    * tables all work; the query log is caller-supplied (at a real
    * deployment it's the engine's own listener-captured log — see
    * graft.listener.UsageListener).
    *
    * Not memoized: catalog contents are mutable session state, unlike the
    * immutable fixture dirs. */
  def runFromCatalog(spark: SparkSession, queryLog: DataFrame,
      db: Option[String] = None,
      nameFilter: String => Boolean = _ => true,
      approxCardinality: Boolean = false, topN: Int = 3): DataFrame =
    runFromCatalogCore(spark, vs => computeWorkload(spark, vs, queryLog),
      db, nameFilter, approxCardinality, topN)

  /** [[runFromCatalog]] over maintained per-text aggregate state
    * ([[textStatsOf]] shape) instead of a raw log — the incremental path:
    * a streaming advisor merges each micro-batch into the state and
    * re-derives ONLY the scores here, so per-batch work is O(batch + state),
    * never O(accumulated history). Exact equivalence with the batch path is
    * by construction: both funnel through [[computeWorkloadFromStats]]. */
  def runFromCatalogStats(spark: SparkSession, textStats: DataFrame,
      db: Option[String] = None,
      nameFilter: String => Boolean = _ => true,
      approxCardinality: Boolean = false, topN: Int = 3): DataFrame =
    runFromCatalogCore(spark, vs => computeWorkloadFromStats(spark, vs, textStats),
      db, nameFilter, approxCardinality, topN)

  private def runFromCatalogCore(spark: SparkSession,
      workloadOf: Seq[ViewMeta] =>
        (Seq[(String, Long)], Seq[(String, String, Long)], Seq[(String, Double)]),
      db: Option[String],
      nameFilter: String => Boolean,
      approxCardinality: Boolean, topN: Int): DataFrame = {
    val resolved = TableRegistry.fromCatalogResolved(spark, db, nameFilter)
    require(resolved.nonEmpty, "no catalog tables matched — register temp views or pass a db")
    val vs = resolved.map(_._1)
    // profile through the FULLY-QUALIFIED identifier: with db set, the bare
    // name would resolve against temp views / the current database and
    // profile the wrong (or no) table. spark.table is a PARSE site, so it
    // gets the backtick-QUOTED form (third tuple element) — the unquoted
    // label there would break (or resolve wrongly) on any db/table name
    // with a dot, dash, space, or reserved word.
    val parseSafeOf = resolved.map { case (v, _, pq) => v.view -> pq }.toMap
    val profiles = computeProfiles(spark, vs,
      name => spark.table(parseSafeOf(name)), approxCardinality)
    val workload = workloadOf(vs)
    val ranked = Scoring.topNPerView(assembleScores(spark, profiles, workload), topN)
    // emit scripts under the FULLY-QUALIFIED names: an `ALTER TABLE bare`
    // script run from a session on a different current database would hit
    // the wrong (or no) table — the exact class of bug the profiling-side
    // qualification above fixes
    val qmapEntries = resolved.flatMap { case (v, q, _) => Seq(lit(v.view), lit(q)) }
    val qualifiedView = coalesce(element_at(map(qmapEntries: _*), col("view")), col("view"))
    Recommender.scripts(spark,
      ranked.withColumn("view", qualifiedView),
      resolved.map(_._2))
  }

  /** Full run → one recommendation row per profiled view:
    * (view, partition_spec, script).
    *
    * `timeFilter` (a SQL predicate over the query log, e.g.
    * `"ts >= '2026-08-01'"`) scopes the WORKLOAD side of the scoring to a
    * log window — the same filter `ReportExporter.export` applies to the
    * dashboard artifacts, so `Main --time-filter` produces
    * recommendations and artifacts from the SAME window rather than
    * silently scoring the whole history. Profiles are data-side statistics
    * and stay unfiltered (and memoized); a filtered run bypasses the
    * per-sfDir workload memo, which is keyed for the unfiltered log. */
  def run(spark: SparkSession, sfDir: String, approxCardinality: Boolean = false,
      topN: Int = 3, timeFilter: Option[String] = None): DataFrame = {
    val ranked = timeFilter match {
      case None =>
        Scoring.topNPerView(scores(spark, sfDir, approxCardinality), topN)
      case Some(f) =>
        val vs = views(spark, sfDir)
        val workload = computeWorkload(spark, vs,
          TableRegistry.queryLog(spark, sfDir).where(expr(f)))
        val profiles = profilesFor(spark, sfDir, approxCardinality)
        Scoring.topNPerView(assembleScores(spark, profiles, workload), topN)
    }
    Recommender.scripts(spark, ranked, TableRegistry.profiledTables)
  }

  /** [[run]] with the advisor loop CLOSED through its own what-if balance
    * evidence: every ranked candidate's selected transform is evaluated
    * against the actual table (`Balance.evidence` — the
    * `partition_size_report` shape), and candidates whose max/mean skew
    * exceeds `maxSkew` (or that collapse to a single partition) are DEMOTED
    * before script assembly. A view whose candidates are all demoted gets
    * the reference's "no suitable columns" comment — a recommendation that
    * cannot produce balanced partitions is not a recommendation.
    *
    * @return (recommendations — same shape as [[run]], demoted candidates
    *         excluded; evidence — one row per vetted candidate with its
    *         balance numbers and accept/demote decision)
    */
  def runVetted(spark: SparkSession, sfDir: String, maxSkew: Double = 8.0,
      approxCardinality: Boolean = false, topN: Int = 3): (DataFrame, DataFrame) = {
    val ranked = Scoring.topNPerView(scores(spark, sfDir, approxCardinality), topN)
    vetAndScript(spark, sfDir, ranked, maxSkew)
  }

  /** [[runVetted]] over maintained per-text workload state
    * ([[textStatsOf]] shape — e.g. a [[graft.streaming.StreamingAdvisor]]
    * state snapshot) instead of the fixture query log: the DRIFT-TRIGGERED
    * re-analysis path ([[graft.streaming.DriftReanalysis]]), where the
    * advisor's accumulated workload is re-scored and balance-vetted
    * because the data distribution moved, not because the log did.
    * Profiles re-read the advised tables (current contents are what a
    * re-analysis must reflect); equivalence with the batch scoring is by
    * construction — both funnel through [[computeWorkloadFromStats]]. */
  def runVettedFromStats(spark: SparkSession, sfDir: String,
      textStats: DataFrame, maxSkew: Double = 8.0,
      approxCardinality: Boolean = false, topN: Int = 3): (DataFrame, DataFrame) = {
    val vs = views(spark, sfDir)
    val workload = computeWorkloadFromStats(spark, vs, textStats)
    val profiles = profilesFor(spark, sfDir, approxCardinality)
    val ranked = Scoring.topNPerView(assembleScores(spark, profiles, workload), topN)
    vetAndScript(spark, sfDir, ranked, maxSkew)
  }

  /** Shared tail of the vetted paths: what-if balance evidence per ranked
    * candidate, demotion, script assembly. */
  private def vetAndScript(spark: SparkSession, sfDir: String,
      ranked: DataFrame, maxSkew: Double): (DataFrame, DataFrame) = {
    import spark.implicits._
    // candidate list is topN × views — metadata-sized, like the profile rows
    val candidates = Recommender.withSelectedSpec(ranked)
      .select(col("view"), col("column"), col("rank").cast("long"), col("spec"))
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getString(3))).toSeq
    val vetted = Balance.vet(candidates,
      name => TableRegistry.table(spark, sfDir, name), maxSkew)
    val evidence = vetted.toDF()
    val demoted = vetted.filter(!_.accepted).map(v => (v.view, v.column)).toDF("view", "column")
    // drop demoted candidates by identity; broadcast — the demotion list is
    // at most topN × views rows
    val kept = ranked.join(broadcast(demoted), Seq("view", "column"), "left_anti")
    (Recommender.scripts(spark, kept, TableRegistry.profiledTables), evidence)
  }
}
