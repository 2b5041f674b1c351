package perfbench

import graft.catalog.{IcebergMeta, TableRegistry}
import graft.introspect.QueryIntrospector
import graft.pipeline.AnalysisPipeline
import graft.profile.Profiler
import graft.recommend.{Recommender, SpecParser}
import graft.score.Scoring
import graft.usage.Usage
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** The advisor as a fresh `graft.Main --execute` process runs it: discover
  * the tables registered in the session catalog, profile them, read the
  * query log, score, recommend (`AnalysisPipeline.runFromCatalog`, which is
  * not memoized), then apply each recommendation to the parquet tables
  * (`IcebergMeta.splitFragments` → `SpecParser.toColumn` → a `partitionBy`
  * write into a directory of the request's own). */
final class Advisor(spark: SparkSession, conf: Main.Conf) extends Main.Workload {
  import spark.implicits._

  private val tables = Seq("lineitem", "orders", "customer", "part", "supplier")
  tables.foreach { t =>
    spark.read.parquet(s"${conf.data}/$t.parquet").createOrReplaceTempView(t)
  }
  private def queryLog: DataFrame = spark.read.parquet(s"${conf.data}/query_log.parquet")
  private val workDir = new File(new File(conf.results).getParentFile, s"apply-${conf.workload}")
  private var expectedScripts: Seq[String] = Nil

  private def advise(): Array[Row] =
    AnalysisPipeline.runFromCatalog(spark, queryLog).collect()

  /** The untimed set-up request fixes the scripts every timed request must
    * reproduce; for the default seed they must also match the committed
    * expected scripts. In the traced run the traced composition must agree
    * with `runFromCatalog` too. */
  def setup(): Seq[String] = {
    val failures = Seq.newBuilder[String]
    val recs = advise()
    expectedScripts = scriptsOf(recs)
    applyAll(recs, -1, None)
    deleteRecursively(workDir)
    val committed = conf.expected.map(d => Paths.get(d, s"${conf.workload}.scripts"))
    committed.foreach { p =>
      if (conf.record) Files.write(p, expectedScripts.mkString("", "\n", "\n").getBytes(UTF_8))
      else if (Files.exists(p)) {
        val want = new String(Files.readAllBytes(p), UTF_8).split("\n").filter(_.nonEmpty).toSeq
        if (want != expectedScripts) failures += s"${conf.workload}: scripts differ from $p"
      }
    }
    if (conf.trace) {
      val composed = scriptsOf(composition(new Tracer))
      if (composed != expectedScripts)
        failures += s"${conf.workload}: traced composition differs from runFromCatalog"
    }
    failures.result()
  }

  /** An advisor request takes ~10-13 s. */
  def requestsPerRun(seconds: Int): Int = math.max(1, seconds / 10)

  override def artifact: String = s"""{"scripts":${Json.strs(expectedScripts)}}"""

  def request(i: Int, tracer: Option[Tracer]): Unit = {
    val recs = tracer match {
      case None =>
        val r = advise()
        applyAll(r, i, None)
        r
      case Some(tr) => tr.span("request") {
        val r = tr.span("advise")(composition(tr))
        applyAll(r, i, tracer)
        r
      }
    }
    if (scriptsOf(recs) != expectedScripts)
      throw new IllegalStateException(s"${conf.workload}: scripts differ from the set-up request's")
  }

  /** Scripts a request produced, as sorted `view \t spec \t script` lines. */
  private def scriptsOf(rows: Array[Row]): Seq[String] = rows.map { r =>
    Seq("view", "partition_spec", "script").map(c => String.valueOf(r.getAs[Any](c)))
      .mkString("\t").replace("\n", "\\n")
  }.toSeq.sorted

  /** Apply every recommendation into the request's own directory; the
    * traced run records what was written. */
  private def applyAll(recs: Array[Row], i: Int, tracer: Option[Tracer]): Unit = {
    val dir = new File(workDir, s"req-$i")
    def body(): Unit = recs.filter(_.getAs[String]("partition_spec") != null).foreach { r =>
      val view = r.getAs[String]("view")
      val firstSpec = IcebergMeta.splitFragments(r.getAs[String]("partition_spec")).head
      val df = spark.table(view)
      val (colName, partCol) = SpecParser.toColumn(firstSpec, df)
      def write(): Unit = df.withColumn(s"__p_$colName", partCol)
        .write.mode("overwrite").partitionBy(s"__p_$colName")
        .parquet(new File(dir, s"partitioned/$view").getPath)
      tracer.fold(write())(_.span("apply.write")(write()))
    }
    tracer.fold(body())(_.span("apply")(body()))
    tracer.foreach { tr =>
      val files = Files.walk(dir.toPath).iterator().asScala.filter(p => Files.isRegularFile(p))
        .filter(p => p.getFileName.toString.endsWith(".parquet")).toSeq
      tr.count("apply.files_written", files.size)
      tr.count("apply.bytes_written", files.map(Files.size(_)).sum)
    }
  }

  override def afterRequest(i: Int, traced: Boolean): Unit = deleteRecursively(workDir)

  /** `runFromCatalog`'s composition rebuilt from the public functions it
    * calls, with a span around each call. Lazy stages are materialized at
    * their boundary so each span holds the work of its own layer. */
  private def composition(tr: Tracer): Array[Row] = {
    val resolved = tr.span("catalog.discover")(TableRegistry.fromCatalogResolved(spark))
    val vs = resolved.map(_._1)
    val parseSafe = resolved.map { case (v, _, quoted) => v.view -> quoted }.toMap
    val profiles = vs.flatMap { v =>
      val p = tr.span("profile.profile")(
        Profiler.profile(spark, v.view, spark.table(parseSafe(v.view))))
      tr.count("profile.columns", p.size)
      p
    }
    val stats = AnalysisPipeline.textStatsOf(queryLog).cache()
    val (usage, weights, priorities) = try {
      tr.span("pipeline.text_stats")(stats.count())
      val texts = tr.span("introspect.select")(
        QueryIntrospector.topTextsByCount(stats, QueryIntrospector.maxWorkloadTexts))
      val parsed = tr.span("introspect.parse")(QueryIntrospector.parseAll(spark, texts))
      tr.count("introspect.texts", texts.size)
      tr.count("introspect.with_refs", parsed.count(_._2.exists(_.tables.nonEmpty)))
      val refsDf = tr.span("score.refs") {
        val df = Scoring.parsedRefsFrom(spark, parsed).cache()
        df.count()
        df
      }
      try {
        val u = tr.span("usage.frequency")(
          Usage.weightedFrequencyFromStats(spark, vs, stats, parsed).collect()
            .map(r => (r.getString(0), r.getLong(1))).toSeq)
        val w = tr.span("score.weights")(
          Scoring.performanceMetricsFromStats(stats, refsDf)._2.collect()
            .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSeq)
        val p = tr.span("score.priorities")(
          Scoring.viewPrioritiesFromStats(stats, refsDf).collect()
            .map(r => (r.getString(0), r.getDouble(1))).toSeq)
        (u, w, p)
      } finally refsDf.unpersist()
    } finally stats.unpersist()
    val ranked = tr.span("score.rank") {
      val scores = Scoring.partitionScores(profiles.toDF(),
        usage.toDF("name", "weighted_frequency"), weights.toDF("table", "column", "weight"),
        priorities.toDF("table", "avg_priority"))
      val top = Scoring.topNPerView(scores, 3)
      spark.createDataFrame(top.collect().toSeq.asJava, top.schema)
    }
    tr.span("recommend.scripts") {
      val qmap = resolved.flatMap { case (v, q, _) => Seq(lit(v.view), lit(q)) }
      val qualified = coalesce(element_at(map(qmap: _*), col("view")), col("view"))
      val recs = Recommender.scripts(spark, ranked.withColumn("view", qualified),
        resolved.map(_._2)).collect()
      tr.count("recommend.views_with_spec", recs.count(_.getAs[String]("partition_spec") != null))
      recs
    }
  }

  def layers(tr: Tracer, c: Counters, reqs: Seq[Int]): Map[String, Double] = {
    def med(f: Int => Double) = Stats.quantile(reqs.map(f), 0.5)
    def span(n: String) = med(tr.total(_, n))
    def cnt(n: String) = med(r => tr.counts.getOrElse((r, n), 0.0))
    val texts = cnt("introspect.texts")
    Map(
      "catalog.discover_s" -> span("catalog.discover"),
      "profile.profile_s" -> span("profile.profile"),
      "profile.columns" -> cnt("profile.columns"),
      "pipeline.text_stats_s" -> span("pipeline.text_stats"),
      "introspect.select_s" -> span("introspect.select"),
      "introspect.parse_s" -> span("introspect.parse"),
      "introspect.texts" -> texts,
      "introspect.parsed_ratio" -> (if (texts > 0) cnt("introspect.with_refs") / texts else 0.0),
      "score.refs_s" -> span("score.refs"),
      "usage.frequency_s" -> span("usage.frequency"),
      "score.weights_s" -> span("score.weights"),
      "score.priorities_s" -> span("score.priorities"),
      "score.rank_s" -> span("score.rank"),
      "recommend.scripts_s" -> span("recommend.scripts"),
      "recommend.views_with_spec" -> cnt("recommend.views_with_spec"),
      "apply.write_s" -> span("apply.write"),
      "apply.bytes_written" -> cnt("apply.bytes_written"),
      "apply.files_written" -> cnt("apply.files_written"))
  }

  private def deleteRecursively(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(deleteRecursively))
    f.delete()
  }
}
