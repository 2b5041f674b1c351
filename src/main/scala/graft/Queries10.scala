package graft

import graft.catalog.TableRegistry
import graft.ext.{Dedup, ExactMath, QualityModel, TextAnalysis}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Batch-10 — curation-model operators: the "learned filter" tier of an LLM
  * data pipeline layered over the batch-1..9 heuristics. A distilled
  * logistic-regression quality classifier (the fastText-filter shape),
  * containment-based near-superset dedup (the truncation/quote case Jaccard
  * under-scores), per-language tokenizer-fertility diagnostics, and
  * token-budget epoch planning for temperature-scaled mixtures.
  */
object Queries10 {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    TableRegistry.table(s, dir, name)

  /** The α=0.5 mixture allocation plan — (source, n_tokens, w_micros,
    * alloc_tokens) for a 2×-corpus token budget. ONE definition shared by
    * `mixture_epochs` (epoch ratios) and `epoch_repeat_plan` (per-doc
    * repeat counts) so the sqrt-weight/ratioRounded chain cannot drift
    * between the two keys and their oracles. Float enters exactly once
    * (sqrt·1e6 → integer micros); the allocation is integer arithmetic in
    * decimal(38,0) — budget×weight never transits a Long. The per-source
    * token rollup is memoized (persisted O(sources) rows) because it feeds
    * three consumers: the weights, the max scalar and the totals scalar. */
  private[graft] def mixtureAllocPlan(s: SparkSession, dir: String): DataFrame = {
    val d = "decimal(38,0)"
    val ps = Memo.frame(s, Some(dir), "mixture_ps",
      persistUnkeyed = true) {
      t(s, dir, "documents")
        .select(col("source"), size(split(col("text"), " ")).cast("long").as("n_tok"))
        .groupBy("source").agg(sum("n_tok").as("n_tokens"))
    }
    val mx = ps.agg(max("n_tokens").as("max_tokens"))
    val w = ps.crossJoin(broadcast(mx)).select(
      col("source"), col("n_tokens"),
      round(sqrt(col("n_tokens").cast("double") / col("max_tokens")) * 1e6)
        .cast("long").as("w_micros"))
    val tots = w.agg(sum("w_micros").as("sum_w"), sum("n_tokens").as("total_tok"))
    w.crossJoin(broadcast(tots))
      .withColumn("alloc_tokens", ExactMath.ratioRounded(
        lit(2L).cast(d) * col("total_tok").cast(d) * col("w_micros").cast(d),
        col("sum_w"), 0).cast("long"))
      .select(col("source"), col("n_tokens"), col("w_micros"), col("alloc_tokens"))
  }

  /** Chained-CTE replay of [[graft.ext.QualityModel]]'s feature build and
    * canonical training schedule (d → f → w0 → … → w12) — shared by the
    * `doc_quality_logreg` and `quality_calibration` oracles so the two
    * replays cannot drift (the pcaOracleCtes discipline). Feature SQL
    * mirrors QualityModel.features op-for-op, including x3's SEQUENCED
    * sum/n-then-/10 divisions (a fused sum/(10n) rounds differently).
    * Ends after the final weight CTE (name it via [[logregFinalW]]); no
    * trailing comma — callers append `,\n<more CTEs>` or `\nSELECT`. */
  private def logregFinalW: String = s"w${QualityModel.trainSteps}"
  private def logregOracleCtes: String = {
    def step(k: Int, prev: String): String = {
      val z = s"($prev.b0*x0 + $prev.b1*x1 + $prev.b2*x2 + $prev.b3*x3)"
      val sig = s"1/(1 + exp(-$z))"
      (0 to 3).map(j =>
        s"MAX($prev.b$j) + ${QualityModel.trainEta}*AVG((y - $sig)*x$j) AS b$j")
        .mkString(s"w$k AS (SELECT ", ", ", s" FROM f, $prev)")
    }
    val steps = (1 to QualityModel.trainSteps)
      .map(k => step(k, s"w${k - 1}")).mkString(",\n")
    s"""WITH d AS (SELECT doc_id, sp,
       |    ${graft.ext.TextAnalysis.qualityMicrosSql("sp")} AS qm
       |  FROM (SELECT doc_id, string_split(text, ' ') AS sp FROM documents)),
       |f AS (SELECT doc_id,
       |    CASE WHEN qm >= ${QualityModel.labelThresholdMicros} THEN 1.0 ELSE 0.0 END AS y,
       |    1.0 AS x0,
       |    CAST(LEAST(len(sp), 100) AS DOUBLE)/100 AS x1,
       |    CAST(len(list_filter(sp, t -> t = 'the' OR t = 'a')) AS DOUBLE)/GREATEST(len(sp), 1) AS x2,
       |    LEAST(CAST(list_sum(list_transform(sp, t -> CAST(length(t) AS BIGINT))) AS DOUBLE)/GREATEST(len(sp), 1)/10, 1.0) AS x3
       |  FROM d),
       |w0 AS (SELECT 0.0 AS b0, 0.0 AS b1, 0.0 AS b2, 0.0 AS b3),
       |$steps""".stripMargin
  }

  /** Per-language fertility rollup over (doc_id, text, lang, n_chars) —
    * factored out of the QSpec so the multibyte behavior is unit-testable
    * (the fixture corpus is ASCII-only, so bytes_per_char > 1 never
    * occurs there). */
  def tokenizerFertility(docs: DataFrame): DataFrame =
    docs
      .select(col("lang"), col("n_chars"),
        size(split(col("text"), " ")).cast("long").as("n_tok"),
        octet_length(col("text")).cast("long").as("n_bytes"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        sum("n_tok").as("total_tokens"),
        sum("n_chars").as("total_chars"),
        sum("n_bytes").as("total_bytes"))
      .select(col("lang"), col("n_docs"), col("total_tokens"),
        col("total_chars"), col("total_bytes"),
        ExactMath.ratioRounded(col("total_chars"), col("total_tokens"), 6)
          .as("chars_per_token"),
        ExactMath.ratioRounded(col("total_bytes"), col("total_chars"), 6)
          .as("bytes_per_char"))
      .orderBy("lang")

  val specs: Seq[QSpec] = Seq(

    QSpec("doc_quality_logreg",
      // Learned quality filter: distill the integer-exact qualityMicros
      // heuristic (the teacher) into a 4-feature logistic regression via
      // deterministic full-batch gradient descent (w₀=0, the canonical
      // QualityModel schedule). Each step is one scan aggregating 4 means
      // (map-side combine, 4 doubles to the driver) — model cost is
      // O(steps) scans at any corpus size. The surface is the trained
      // model itself (weights, rounded 6) plus its training accuracy,
      // computed from the ROUNDED margin so the correct-count cannot flip
      // on ~1e-15 cross-engine summation jitter. The oracle replays every
      // step as chained CTEs (w0 → … → w12), exactly the
      // embedding_pca_power replay discipline.
      (s, dir) => {
        import s.implicits._
        val feat = Memo.frame(s, Some(dir), "logreg_feat",
          persistUnkeyed = true) {
          QualityModel.features(t(s, dir, "documents"))
        }
        val w = QualityModel.trainCached(s, dir, feat,
          QualityModel.trainSteps, QualityModel.trainEta)
        val acc = feat
          .select(when((round(QualityModel.margin(w), 6) > 0) ===
            (col("y") === 1.0d), 1L).otherwise(0L).as("ok"))
          .agg(sum("ok").as("correct"), count(lit(1)).as("n"))
          .select(ExactMath.ratioRounded(col("correct"), col("n"), 6).as("accuracy"))
        w.zipWithIndex.map { case (x, j) => (j, x) }.toSeq
          .toDF("pos", "w_raw")
          .crossJoin(broadcast(acc))
          .select(col("pos"), round(col("w_raw"), 6).as("weight"), col("accuracy"))
          .orderBy("pos")
      },
      Some {
        val fw = logregFinalW
        logregOracleCtes +
          s""",
             |m AS (SELECT CASE WHEN (ROUND($fw.b0*x0 + $fw.b1*x1 + $fw.b2*x2 + $fw.b3*x3, 6) > 0)
             |      = (y = 1.0) THEN 1 ELSE 0 END AS ok FROM f, $fw),
             |acc AS (SELECT ${ExactMath.ratioRoundedSql("SUM(ok)", "COUNT(*)", 6)} AS accuracy FROM m)
             |SELECT p.pos, ROUND(CASE p.pos WHEN 0 THEN $fw.b0 WHEN 1 THEN $fw.b1
             |    WHEN 2 THEN $fw.b2 ELSE $fw.b3 END, 6) AS weight, acc.accuracy
             |FROM (SELECT unnest([0, 1, 2, 3]) AS pos) p, $fw, acc
             |ORDER BY pos""".stripMargin
      }),

    QSpec("dedup_ngram_containment",
      // Near-superset dedup: containment C(a,b) = |A∩B| / min(|A|,|B|)
      // flags truncations/quotations at 1.0 where Jaccard reads only
      // inter/union (the fixture's prefix-truncated near-dups score
      // containment 1.0 vs jaccard ≈0.97; a 10%-prefix quote scores ≈1.0
      // vs ≈0.1 — the case this metric exists for). Same inverted-index
      // candidate shape as dedup_ngram_jaccard — the shingle frame is
      // Memo-shared with it — and the ratio is integer-exact through
      // ExactMath (count / min(count), a rational that CAN sit on a
      // rounding half-boundary, unlike irrational cosines).
      (s, dir) => Dedup.exactContainment(s, t(s, dir, "documents"),
        shingleW = 3, threshold = 0.5, idCap = 500, cacheKey = Some(dir)),
      Some(
        """WITH sh AS (
          |  SELECT doc_id, list_distinct(CASE WHEN len(sp) < 3 THEN [text]
          |    ELSE list_transform(range(1, len(sp)-1), i -> sp[i] || ' ' || sp[i+1] || ' ' || sp[i+2]) END) AS sh
          |  FROM (SELECT doc_id, text, string_split(text, ' ') AS sp FROM documents WHERE doc_id < 500) d
          |), pairs AS (
          |  SELECT a.doc_id AS a_id, b.doc_id AS b_id,
          |    len(list_intersect(a.sh, b.sh)) AS inter, len(a.sh) AS na, len(b.sh) AS nb
          |  FROM sh a, sh b WHERE a.doc_id < b.doc_id
          |)
          |SELECT a_id, b_id, containment FROM (
          |  SELECT a_id, b_id,
          |    (CAST(((2000000::HUGEINT * inter + LEAST(na, nb)) // (2::HUGEINT * LEAST(na, nb))) AS DOUBLE) / 1000000) AS containment
          |  FROM pairs) c
          |WHERE containment >= 0.5 ORDER BY a_id, b_id""".stripMargin)),

    QSpec("tokenizer_fertility",
      // Per-language tokenizer diagnostics: chars-per-token and
      // bytes-per-char against the table's ground-truth lang label — the
      // fertility table a tokenizer owner reads before committing a vocab
      // (multibyte scripts surface as bytes_per_char > 1, whitespace-poor
      // scripts as high chars_per_token). One grouped aggregation of
      // integer totals; both ratios integer-exact through ExactMath.
      // O(languages) groups at any corpus size.
      (s, dir) => tokenizerFertility(t(s, dir, "documents")),
      Some(
        s"""WITH g AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
           |    CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS total_tokens,
           |    CAST(SUM(n_chars) AS BIGINT) AS total_chars,
           |    CAST(SUM(strlen(text)) AS BIGINT) AS total_bytes
           |  FROM documents GROUP BY lang)
           |SELECT lang, n_docs, total_tokens, total_chars, total_bytes,
           |  ${ExactMath.ratioRoundedSql("total_chars", "total_tokens", 6)} AS chars_per_token,
           |  ${ExactMath.ratioRoundedSql("total_bytes", "total_chars", 6)} AS bytes_per_char
           |FROM g ORDER BY lang""".stripMargin)),

    QSpec("mixture_epochs",
      // Token-budget epoch planning: turn mixture_temperature_weights'
      // α=0.5 weights into an executable plan — per source, how many
      // tokens of a fixed budget (2× the corpus) to draw, and the implied
      // epoch count (repetition factor) over that source. Float enters
      // exactly once (sqrt·1e6, the same IEEE chain on every engine,
      // rounded to integer micros); allocation and epochs are then pure
      // integer arithmetic in decimal(38,0) — the budget×weight product
      // NEVER runs through a Long, so there is no overflow cliff at real
      // corpus scale (100 TB ≈ 2.5e13 tokens × 1e6 micros ≈ 1e19+ > Long).
      // Shapes: one token-count aggregation (O(sources) groups), two
      // broadcast scalars, zero data-proportional shuffles.
      (s, dir) => {
        // the weight/allocation chain is the SHARED mixtureAllocPlan —
        // one definition for this key and epoch_repeat_plan (X52)
        mixtureAllocPlan(s, dir)
          .select(col("source"), col("n_tokens"), col("w_micros"), col("alloc_tokens"),
            ExactMath.ratioRounded(col("alloc_tokens"), col("n_tokens"), 3).as("epochs"))
          .orderBy("source")
      },
      Some(
        s"""WITH ps AS (SELECT source, CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
           |  FROM documents GROUP BY source),
           |mx AS (SELECT MAX(n_tokens) AS max_tokens FROM ps),
           |w AS (SELECT source, n_tokens,
           |    CAST(ROUND(sqrt(CAST(n_tokens AS DOUBLE) / max_tokens) * 1000000) AS BIGINT) AS w_micros
           |  FROM ps, mx),
           |t AS (SELECT CAST(SUM(w_micros) AS BIGINT) AS sum_w,
           |    CAST(SUM(n_tokens) AS BIGINT) AS total_tok FROM w),
           |a AS (SELECT source, n_tokens, w_micros,
           |    CAST(${ExactMath.ratioRoundedSql("2::HUGEINT * total_tok * w_micros", "sum_w", 0)} AS BIGINT) AS alloc_tokens
           |  FROM w, t)
           |SELECT source, n_tokens, w_micros, alloc_tokens,
           |  ${ExactMath.ratioRoundedSql("alloc_tokens", "n_tokens", 3)} AS epochs
           |FROM a ORDER BY source""".stripMargin)),

    QSpec("quality_calibration",
      // Reliability curve of the learned filter (X20) against its teacher:
      // bucket docs by ROUNDED predicted probability (5 equal-width bins;
      // the rounded-margin trick again, so bin membership cannot flip on
      // 1e-15 summation jitter) and report observed positive rate per bin —
      // the calibration table an ML-ops owner reads before trusting the
      // filter's scores as sampling weights. Shares the cached feature
      // frame AND the replayed CTE chain with doc_quality_logreg (one
      // renderer, the pcaOracleCtes discipline). One grouped aggregation
      // over O(bins) groups; pos_rate integer-exact through ExactMath.
      (s, dir) => {
        val feat = Memo.frame(s, Some(dir), "logreg_feat",
          persistUnkeyed = true) {
          QualityModel.features(t(s, dir, "documents"))
        }
        val w = QualityModel.trainCached(s, dir, feat,
          QualityModel.trainSteps, QualityModel.trainEta)
        val p = round(lit(1.0d) / (lit(1.0d) + exp(-QualityModel.margin(w))), 6)
        feat.select(col("y"), p.as("p"))
          .withColumn("bucket", least(floor(col("p") * 5).cast("int"), lit(4)))
          .groupBy("bucket")
          .agg(count(lit(1)).as("n_docs"),
            sum(col("y").cast("long")).as("n_pos"),
            round(avg("p"), 6).as("mean_pred"))
          .select(col("bucket"), col("n_docs"), col("n_pos"), col("mean_pred"),
            ExactMath.ratioRounded(col("n_pos"), col("n_docs"), 6).as("pos_rate"))
          .orderBy("bucket")
      },
      Some {
        val fw = logregFinalW
        logregOracleCtes +
          s""",
             |pr AS (SELECT y,
             |    ROUND(1/(1 + exp(-($fw.b0*x0 + $fw.b1*x1 + $fw.b2*x2 + $fw.b3*x3))), 6) AS p
             |  FROM f, $fw),
             |b AS (SELECT CAST(LEAST(FLOOR(p * 5), 4) AS INT) AS bucket, y, p FROM pr),
             |g AS (SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n_docs,
             |    CAST(SUM(CAST(y AS BIGINT)) AS BIGINT) AS n_pos,
             |    ROUND(AVG(p), 6) AS mean_pred
             |  FROM b GROUP BY bucket)
             |SELECT bucket, n_docs, n_pos, mean_pred,
             |  ${ExactMath.ratioRoundedSql("n_pos", "n_docs", 6)} AS pos_rate
             |FROM g ORDER BY bucket""".stripMargin
      }),

    QSpec("lang_id_confusion",
      // Language-ID evaluation: confusion matrix of the marker-intersect
      // predictor against the table's ground-truth lang label, with each
      // cell's share of its true language (the per-class recall diagonal an
      // evaluation harness reads). Cells are O(langs²) — the grouped count
      // is the only corpus-sized pass; per-lang totals join back broadcast.
      // The oracle re-derives the prediction through the ONE shared argmax
      // renderer (TextAnalysis.langIdCaseSql), so predictor and replay
      // cannot drift.
      (s, dir) => {
        val cells = TextAnalysis.withLangIdIntersect(
          t(s, dir, "documents"), "text", "lang_pred")
          .groupBy(col("lang"), col("lang_pred"))
          .agg(count(lit(1)).as("n_docs"))
        val totals = cells.groupBy("lang").agg(sum("n_docs").as("n_lang"))
        cells.join(broadcast(totals), Seq("lang"))
          .select(col("lang"), col("lang_pred"), col("n_docs"),
            ExactMath.ratioRounded(col("n_docs"), col("n_lang"), 6)
              .as("share_of_lang"))
          .orderBy("lang", "lang_pred")
      },
      Some(
        s"""WITH p AS (SELECT lang, ${TextAnalysis.langIdCaseSql("sp")} AS lang_pred
           |  FROM (SELECT lang, string_split(text, ' ') AS sp FROM documents) d),
           |c AS (SELECT lang, lang_pred, CAST(COUNT(*) AS BIGINT) AS n_docs
           |  FROM p GROUP BY 1, 2),
           |tt AS (SELECT lang, CAST(SUM(n_docs) AS BIGINT) AS n_lang FROM c GROUP BY 1)
           |SELECT c.lang, c.lang_pred, c.n_docs,
           |  ${ExactMath.ratioRoundedSql("c.n_docs", "tt.n_lang", 6)} AS share_of_lang
           |FROM c JOIN tt ON c.lang = tt.lang
           |ORDER BY c.lang, c.lang_pred""".stripMargin)),

    QSpec("curation_attrition",
      // Per-stage attrition of the curation cascade — the funnel
      // observability a pipeline owner reads to see WHERE documents die:
      // stage 1 keeps predicted-English, stage 2 keeps teacher-quality ≥
      // the X20 threshold, stage 3 keeps one doc per exact text. All
      // counts integer-exact; the cascade is ONE scan computing the stage
      // flags plus a distinct-count for the dedup stage (survivor count =
      // COUNT(DISTINCT text) among stage-2 keepers — no join needed for
      // counts), assembled into 3 rows via stack. Both heuristics render
      // through their single shared oracle generators.
      (s, dir) => {
        val flagged = TextAnalysis.withLangIdIntersect(
          t(s, dir, "documents"), "text", "lang_pred")
          .withColumn("qm", TextAnalysis.qualityMicros(col("text"), Seq("the", "a")))
          .select(col("text"),
            (col("lang_pred") === "en").as("k1"),
            (col("lang_pred") === "en" &&
              col("qm") >= QualityModel.labelThresholdMicros).as("k2"))
        flagged.agg(
          count(lit(1)).as("n_total"),
          sum(when(col("k1"), 1L).otherwise(0L)).as("n1"),
          sum(when(col("k2"), 1L).otherwise(0L)).as("n2"),
          countDistinct(when(col("k2"), col("text"))).as("n3"))
          .selectExpr(
            """stack(3,
              |  '1_lang', n_total, n1,
              |  '2_quality', n1, n2,
              |  '3_exact_dup', n2, n3) as (stage, n_in, n_out)""".stripMargin)
          .withColumn("n_dropped", col("n_in") - col("n_out"))
          .select("stage", "n_in", "n_dropped", "n_out")
          .orderBy("stage")
      },
      Some(
        s"""WITH d AS (SELECT text, string_split(text, ' ') AS sp FROM documents),
           |p AS (SELECT text, ${TextAnalysis.langIdCaseSql("sp")} AS lang_pred,
           |    ${TextAnalysis.qualityMicrosSql("sp")} AS qm
           |  FROM d),
           |s AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_total,
           |    CAST(SUM(CASE WHEN lang_pred = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS n1,
           |    CAST(SUM(CASE WHEN lang_pred = 'en' AND qm >= ${QualityModel.labelThresholdMicros} THEN 1 ELSE 0 END) AS BIGINT) AS n2,
           |    CAST(COUNT(DISTINCT CASE WHEN lang_pred = 'en' AND qm >= ${QualityModel.labelThresholdMicros} THEN text END) AS BIGINT) AS n3
           |  FROM p)
           |SELECT stage, n_in, n_in - n_out AS n_dropped, n_out FROM (
           |  SELECT '1_lang' AS stage, n_total AS n_in, n1 AS n_out FROM s
           |  UNION ALL SELECT '2_quality', n1, n2 FROM s
           |  UNION ALL SELECT '3_exact_dup', n2, n3 FROM s) u
           |ORDER BY stage""".stripMargin)),

    QSpec("corpus_diff",
      // Snapshot diff — the dataset-versioning report (what changed between
      // corpus builds): per source, docs added / removed / changed /
      // unchanged between two deterministically-derived snapshots (A drops
      // id%10=3, B drops id%10=7 and revises every id%5=0 text). One
      // full-outer join keyed on doc_id; the engine compares 32-byte sha2
      // digests so document BODIES never ride the diff shuffle at scale —
      // the oracle compares raw texts, which also certifies the digest
      // comparison agrees with text equality on this corpus. All counts
      // integer-exact.
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val a = docs.where(col("doc_id") % 10 =!= 3)
          .select(col("doc_id"), col("source"), sha2(col("text"), 256).as("h"))
        val revised = when(col("doc_id") % 5 === 0,
          concat(col("text"), lit(" rev2"))).otherwise(col("text"))
        val b = docs.where(col("doc_id") % 10 =!= 7)
          .select(col("doc_id").as("doc_id_b"), col("source").as("source_b"),
            sha2(revised, 256).as("hb"))
        a.join(b, col("doc_id") === col("doc_id_b"), "full_outer")
          .select(coalesce(col("source"), col("source_b")).as("source"),
            when(col("doc_id").isNull, 1L).otherwise(0L).as("a"),
            when(col("doc_id_b").isNull, 1L).otherwise(0L).as("r"),
            when(col("doc_id").isNotNull && col("doc_id_b").isNotNull &&
              col("h") =!= col("hb"), 1L).otherwise(0L).as("c"),
            when(col("doc_id").isNotNull && col("doc_id_b").isNotNull &&
              col("h") === col("hb"), 1L).otherwise(0L).as("u"))
          .groupBy("source")
          .agg(sum("a").as("n_added"), sum("r").as("n_removed"),
            sum("c").as("n_changed"), sum("u").as("n_unchanged"))
          .orderBy("source")
      },
      Some(
        """WITH a AS (SELECT doc_id, source, text FROM documents WHERE doc_id % 10 <> 3),
          |b AS (SELECT doc_id, source,
          |    CASE WHEN doc_id % 5 = 0 THEN text || ' rev2' ELSE text END AS text
          |  FROM documents WHERE doc_id % 10 <> 7)
          |SELECT COALESCE(a.source, b.source) AS source,
          |  CAST(SUM(CASE WHEN a.doc_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_added,
          |  CAST(SUM(CASE WHEN b.doc_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_removed,
          |  CAST(SUM(CASE WHEN a.doc_id IS NOT NULL AND b.doc_id IS NOT NULL
          |    AND a.text <> b.text THEN 1 ELSE 0 END) AS BIGINT) AS n_changed,
          |  CAST(SUM(CASE WHEN a.doc_id IS NOT NULL AND b.doc_id IS NOT NULL
          |    AND a.text = b.text THEN 1 ELSE 0 END) AS BIGINT) AS n_unchanged
          |FROM a FULL OUTER JOIN b ON a.doc_id = b.doc_id
          |GROUP BY 1 ORDER BY 1""".stripMargin)),

    QSpec("zipf_fit",
      // Zipf-law fit over the token frequency head: OLS slope/intercept of
      // ln(freq) on ln(rank) for the top-30 types — the sanity dial a
      // corpus owner reads against the ~−1 power law (synthetic or
      // template-heavy corpora bend it). Rank order is made TOTAL
      // (cnt desc, tok asc) so both engines pick identical top-30 rows and
      // identical ranks; ln of integer counts is the same IEEE value
      // everywhere, and the five OLS sums run over 30 rows (round(6)
      // swallows summation-order jitter). Scale shape: one corpus-sized
      // token aggregation, then TakeOrdered 30 rows — the window ranks the
      // CONSTANT-size head, never the vocabulary.
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val top = t(s, dir, "documents")
          .select(explode(split(col("text"), " ")).as("tok"))
          .groupBy("tok").agg(count(lit(1)).as("cnt"))
          .orderBy(col("cnt").desc, col("tok")).limit(30)
          .withColumn("rank",
            row_number().over(Window.orderBy(col("cnt").desc, col("tok"))))
        val sums = top
          .select(log(col("rank").cast("double")).as("x"),
            log(col("cnt").cast("double")).as("yv"))
          .agg(count(lit(1)).cast("double").as("n"),
            sum("x").as("sx"), sum("yv").as("sy"),
            sum(col("x") * col("yv")).as("sxy"),
            sum(col("x") * col("x")).as("sxx"))
        val slope = (col("n") * col("sxy") - col("sx") * col("sy")) /
          (col("n") * col("sxx") - col("sx") * col("sx"))
        sums.select(col("n").cast("int").as("n_tokens"),
          round(slope, 6).as("slope"),
          round((col("sy") - slope * col("sx")) / col("n"), 6).as("intercept"))
      },
      Some(
        """WITH tc AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS cnt
          |  FROM (SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
          |  GROUP BY tok),
          |top AS (SELECT tok, cnt, row_number() OVER (ORDER BY cnt DESC, tok) AS rank
          |  FROM tc ORDER BY cnt DESC, tok LIMIT 30),
          |v AS (SELECT ln(CAST(rank AS DOUBLE)) AS x, ln(CAST(cnt AS DOUBLE)) AS yv FROM top),
          |sagg AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n, SUM(x) AS sx, SUM(yv) AS sy,
          |    SUM(x*yv) AS sxy, SUM(x*x) AS sxx FROM v)
          |SELECT CAST(n AS INT) AS n_tokens,
          |  ROUND((n*sxy - sx*sy)/(n*sxx - sx*sx), 6) AS slope,
          |  ROUND((sy - (n*sxy - sx*sy)/(n*sxx - sx*sx)*sx)/n, 6) AS intercept
          |FROM sagg""".stripMargin))
  )
}
