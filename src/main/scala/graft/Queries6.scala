package graft

import graft.catalog.TableRegistry
import graft.ext.Dedup
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Batch-6 operator surface — corpus-preparation operators a pretraining
  * pipeline runs between raw ingestion and sequence packing:
  *
  *  - cross-document span (bigram) duplication fraction — the boilerplate
  *    signal computed ACROSS docs (quality_repetition is within-doc),
  *  - overlapping fixed-window chunking (RAG / context-window splitting),
  *  - deterministic domain-mixture sampling (per-source target rates),
  *  - vocabulary coverage at candidate vocab sizes (tokenizer sizing),
  *  - incremental dedup of a new shard against an existing corpus index,
  *  - embedding L2-normalization + head-dim truncation (matryoshka prep),
  *  - percentile-based document-length outlier trimming.
  *
  * Oracle-determinism rules as in Queries.scala: integer arithmetic where
  * possible, ROUND(…, 6) on any double that crossed a division, stable
  * ORDER BY on every output.
  */
object Queries6 {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    TableRegistry.table(s, dir, name)

  val specs: Seq[QSpec] = Seq(

    QSpec("bpe_merge_step",
      // One BPE-TRAINING iteration over the corpus: frequency-weighted
      // counts of adjacent character pairs inside whitespace tokens — the
      // argmax row is the merge a tokenizer trainer applies next (the
      // surface's other tokenizer keys all APPLY tokenization; this one
      // drives its induction). Scale shape: the corpus-proportional work
      // is one token-count aggregation; the pair explode then runs over
      // the DISTINCT token table (vocabulary-sized, orders of magnitude
      // below corpus size) weighted by occurrence counts — exactly how a
      // real BPE trainer batches its pair statistics. Top-20 by
      // (weighted count desc, pair asc), fully deterministic.
      (s, dir) => {
        val tokc = t(s, dir, "documents")
          .select(explode(split(col("text"), " ")).as("tok"))
          .groupBy("tok").agg(count(lit(1)).as("cnt"))
        tokc.where(length(col("tok")) >= 2)
          .select(col("cnt"),
            explode(transform(sequence(lit(1), length(col("tok")) - 1),
              i => col("tok").substr(i, lit(2)))).as("pair"))
          .groupBy("pair").agg(sum("cnt").as("weighted_cnt"))
          .orderBy(desc("weighted_cnt"), asc("pair"))
          .limit(20)
      },
      Some(
        """WITH tokc AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS cnt FROM (
          |    SELECT unnest(string_split(text, ' ')) AS tok FROM documents) GROUP BY tok),
          |pairs AS (SELECT cnt,
          |    unnest(list_transform(range(1, length(tok)), i -> tok[i:i+1])) AS pair
          |  FROM tokc WHERE length(tok) >= 2)
          |SELECT pair, CAST(SUM(cnt) AS BIGINT) AS weighted_cnt
          |FROM pairs GROUP BY pair
          |ORDER BY weighted_cnt DESC, pair LIMIT 20""".stripMargin)),

    QSpec("mixture_temperature_weights",
      // Temperature-scaled data-mixture weights (the LLaMA-style α=0.5
      // upsampling math): per source, relative sampling weight
      // sqrt(n_tokens_s / n_tokens_max) — computed against the MAX source
      // rather than the sum, deliberately: max() is order-independent, so
      // the pre-round double is identical on every engine, while a
      // cross-source SUM of sqrt irrationals would accumulate in
      // engine-dependent order. sqrt output is irrational → plain round
      // is safe per the SURVEY §5 rounding rule. One token-count
      // aggregation + a broadcast scalar; no shuffle grows with corpus.
      (s, dir) => {
        val perSource = t(s, dir, "documents")
          .select(col("source"), size(split(col("text"), " ")).cast("long").as("n_tok"))
          .groupBy("source").agg(sum("n_tok").as("n_tokens"))
        val mx = perSource.agg(max("n_tokens").as("max_tokens"))
        perSource.crossJoin(broadcast(mx))
          .select(col("source"), col("n_tokens"),
            round(sqrt(col("n_tokens").cast("double") / col("max_tokens")), 6)
              .as("weight"))
          .orderBy("source")
      },
      Some(
        """WITH ps AS (SELECT source, CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
          |  FROM documents GROUP BY source),
          |mx AS (SELECT MAX(n_tokens) AS max_tokens FROM ps)
          |SELECT source, n_tokens,
          |  ROUND(sqrt(CAST(n_tokens AS DOUBLE) / max_tokens), 6) AS weight
          |FROM ps, mx ORDER BY source""".stripMargin)),

    QSpec("corpus_health_report",
      // The per-source corpus-health rollup a pipeline owner reads before
      // training: doc count, English fraction, mean quality, exact-dup
      // rate — every column built from an already-triple-verified kernel
      // (marker language ID, integer-exact quality micros, sha2 exact
      // dedup) and every ratio rounded through ExactMath (integer
      // half-up), so the whole report is bit-reproducible. Scale shape:
      // one scan for scoring, one sha2-keyed aggregation + join for the
      // dup flags, one grouped rollup — shuffle keys are 32-byte digests
      // and the source, never text bodies.
      (s, dir) => {
        import graft.ext.{ExactMath, TextAnalysis}
        val docs = t(s, dir, "documents")
        val scored = TextAnalysis.withLangIdIntersect(docs, "text", "lang_pred")
          .withColumn("qm", TextAnalysis.qualityMicros(col("text"), Seq("the", "a")))
        val firstIds = docs.groupBy(sha2(col("text"), 256).as("h"))
          .agg(min("doc_id").as("first_id"))
        scored.withColumn("h", sha2(col("text"), 256))
          .join(firstIds, "h")
          .withColumn("is_dup", (col("doc_id") =!= col("first_id")).cast("long"))
          .groupBy("source")
          .agg(count(lit(1)).as("n_docs"),
            sum(when(col("lang_pred") === "en", 1L).otherwise(0L)).as("n_en"),
            sum("qm").as("sum_qm"),
            sum("is_dup").as("n_dup"))
          .select(col("source"), col("n_docs"),
            ExactMath.ratioRounded(col("n_en"), col("n_docs"), 6).as("en_frac"),
            ExactMath.ratioRounded(col("sum_qm"), col("n_docs") * lit(1000000L), 6)
              .as("mean_quality"),
            ExactMath.ratioRounded(col("n_dup"), col("n_docs"), 6).as("dup_rate"))
          .orderBy("source")
      },
      Some {
        import graft.ext.TextAnalysis.{langIdCaseSql, qualityMicrosSql}
        s"""WITH d AS (SELECT doc_id, source, text, string_split(text, ' ') AS sp FROM documents),
           |scored AS (
           |  SELECT doc_id, source, text,
           |    ${langIdCaseSql("sp")} AS lang_pred,
           |    (${qualityMicrosSql("sp")}) AS qm
           |  FROM d),
           |fi AS (SELECT text, MIN(doc_id) AS first_id FROM d GROUP BY text),
           |j AS (SELECT s.source, s.lang_pred, s.qm,
           |    CASE WHEN s.doc_id <> fi.first_id THEN 1 ELSE 0 END AS is_dup
           |  FROM scored s JOIN fi ON s.text = fi.text)
           |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
           |  (CAST(((2000000::HUGEINT * SUM(CASE WHEN lang_pred = 'en' THEN 1 ELSE 0 END) + COUNT(*)) // (2::HUGEINT * COUNT(*))) AS DOUBLE) / 1000000) AS en_frac,
           |  (CAST(((2000000::HUGEINT * SUM(qm) + COUNT(*) * 1000000) // (2::HUGEINT * COUNT(*) * 1000000)) AS DOUBLE) / 1000000) AS mean_quality,
           |  (CAST(((2000000::HUGEINT * SUM(is_dup) + COUNT(*)) // (2::HUGEINT * COUNT(*))) AS DOUBLE) / 1000000) AS dup_rate
           |FROM j GROUP BY source ORDER BY source""".stripMargin
      }),

    QSpec("vocab_growth_curve",
      // Vocabulary growth as the corpus accretes in doc_id order: per doc,
      // how many token TYPES appear for the first time, and the running
      // distinct-type total — the Heaps-law curve a tokenizer/vocab plan
      // reads before fixing a vocab size. Scale shape: first occurrence is
      // a min-aggregation over the (token → first doc) table (vocabulary-
      // sized after the one corpus-proportional grouping); the cumulative
      // sum runs as a TWO-LEVEL prefix sum so no window ever sees the
      // corpus in one partition: per-doc contributions window inside
      // 1024-doc buckets (parallel across buckets), and only the
      // bucket-total prefix — bucket-count-sized, corpus/1024 — runs as a
      // single-partition window. Only docs introducing ≥1 new type emit.
      (s, dir) => {
        val firstDoc = t(s, dir, "documents")
          .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
          .groupBy("tok").agg(min("doc_id").as("first_doc"))
        val perDoc = firstDoc.groupBy(col("first_doc").as("doc_id"))
          .agg(count(lit(1)).as("n_new_types"))
          .withColumn("bkt", expr("doc_id div 1024"))
        val bucketPrefix = perDoc.groupBy("bkt")
          .agg(sum("n_new_types").as("bkt_total"))
          .withColumn("prev_buckets",
            coalesce(sum("bkt_total").over(Window.orderBy("bkt")
              .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
          .select("bkt", "prev_buckets")
        perDoc.join(bucketPrefix, "bkt")
          .withColumn("cum_types",
            col("prev_buckets") + sum("n_new_types").over(
              Window.partitionBy("bkt").orderBy("doc_id")
                .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
          .select("doc_id", "n_new_types", "cum_types")
          .orderBy("doc_id")
      },
      Some(
        """WITH fd AS (SELECT tok, MIN(doc_id) AS first_doc FROM (
          |    SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents)
          |  GROUP BY tok),
          |pd AS (SELECT first_doc AS doc_id, CAST(COUNT(*) AS BIGINT) AS n_new_types
          |  FROM fd GROUP BY first_doc)
          |SELECT doc_id, n_new_types,
          |  CAST(SUM(n_new_types) OVER (ORDER BY doc_id
          |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_types
          |FROM pd ORDER BY doc_id""".stripMargin)),

    QSpec("span_dup_fraction",
      // Cross-doc repeated-span fraction: for each doc, the share of its
      // distinct 4-token shingles that also occur in at least one OTHER
      // document — the classic boilerplate/template signal
      // (quality_repetition is the within-doc counterpart). Scale shape:
      // per-doc dedup happens BEFORE the explode (array_distinct — no
      // shuffle), the cross-doc count is a groupBy(shh).count + join back
      // on the 64-bit shingle hash (shuffle rows are (long,long), never
      // shingle bodies) — the grouped form gets map-side combine, so a hot
      // boilerplate shingle collapses to per-mapper partials before the
      // shuffle, and the join-back is AQE-skew-splittable, where a
      // Window.partitionBy(shh) would put the hot posting on one
      // unsplittable task — and the per-doc rollup is the only other
      // exchange: all linear in corpus size, no pairwise comparison.
      // (the 30-bit poly-hash kernel is NOT usable here: the distinct and
      // the cross-doc count are over shingle IDENTITY, and mod-1e9+7 would
      // merge ~n²/2e9 shingle pairs — xxhash64's 64 bits keep collision
      // odds negligible, matching the string-identity oracle)
      (s, dir) => {
        // Memo.frame: the (doc_id, shh) frame feeds BOTH join branches (the
        // per-shh count and the row side) — unmaterialized, Catalyst
        // inlines the explode+hash pass into each and computes it TWICE
        // (measured 2× the key at sf1); persisted once, both branches
        // read the materialized sketch (the memoizedSignatures discipline)
        val sh = Memo.frame(s, Some(dir), "span_shh") {
          // opt-r15: one-pass DistinctShingleHashes kernel — the former
          // explode(array_distinct(shingles)) + xxhash64(sh) built every
          // distinct window STRING only to hash it at the next projection;
          // values bit-identical (dedup on string identity, then xxhash64)
          t(s, dir, "documents")
            .select(col("doc_id"),
              explode(Dedup.distinctShingleHashes(col("text"), 4)).as("shh"))
        }
        val df = sh.groupBy("shh").agg(count(lit(1)).as("ndocs"))
        sh.join(df, "shh")
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_shingles"),
            sum(when(col("ndocs") > 1, 1L).otherwise(0L)).as("n_shared"))
          .select(col("doc_id"), col("n_shingles"), col("n_shared"),
            graft.ext.ExactMath.ratioRounded(col("n_shared"), col("n_shingles"), 6)
              .as("dup_frac"))
          .orderBy("doc_id")
      },
      Some(
        """WITH sh AS (
          |  SELECT DISTINCT doc_id, sh FROM (
          |    SELECT doc_id, unnest(CASE WHEN len(sp) < 4 THEN [text]
          |      ELSE list_transform(range(1, len(sp) - 2),
          |        i -> sp[i] || ' ' || sp[i+1] || ' ' || sp[i+2] || ' ' || sp[i+3]) END) AS sh
          |    FROM (SELECT doc_id, text, string_split(text, ' ') AS sp FROM documents) d)
          |), c AS (SELECT sh, COUNT(*) AS ndocs FROM sh GROUP BY sh)
          |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_shingles,
          |  CAST(SUM(CASE WHEN ndocs > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_shared,
          |  (CAST(((2000000::HUGEINT * SUM(CASE WHEN ndocs > 1 THEN 1 ELSE 0 END) + COUNT(*)) // (2::HUGEINT * COUNT(*))) AS DOUBLE) / 1000000) AS dup_frac
          |FROM sh JOIN c USING (sh)
          |GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    QSpec("chunk_overlap",
      // Overlapping fixed-window chunking: 32-token windows on a 24-token
      // stride (8-token overlap) — the RAG / context-window splitter. One
      // generate-and-explode pass per doc; chunk starts come from
      // sequence(), so a doc's chunks never leave its partition and the
      // operator is embarrassingly parallel (no shuffle at all).
      (s, dir) => {
        val d = t(s, dir, "documents")
          .select(col("doc_id"), split(col("text"), " ").as("toks"))
          .withColumn("n_tok", size(col("toks")))
        d.select(col("doc_id"), col("toks"),
            explode(sequence(lit(1), col("n_tok"), lit(24))).as("start"))
          .withColumn("chunk", slice(col("toks"), col("start"), lit(32)))
          .select(col("doc_id"),
            expr("(start - 1) div 24").cast("int").as("chunk_idx"),
            col("start").cast("int").as("start"),
            size(col("chunk")).as("chunk_tok"),
            element_at(col("chunk"), 1).as("first_tok"))
          .orderBy("doc_id", "chunk_idx")
      },
      Some(
        """WITH d AS (SELECT doc_id, string_split(text, ' ') AS sp FROM documents),
          |s AS (SELECT doc_id, sp, unnest(range(1, len(sp) + 1, 24)) AS start FROM d)
          |SELECT doc_id, CAST((start - 1) // 24 AS INT) AS chunk_idx,
          |  CAST(start AS INT) AS start,
          |  CAST(len(list_slice(sp, start, least(start + 31, len(sp)))) AS INT) AS chunk_tok,
          |  sp[start] AS first_tok
          |FROM s ORDER BY doc_id, chunk_idx""".stripMargin)),

    QSpec("mixture_sample",
      // Deterministic domain-mixture sampling: each source gets a target
      // keep-rate from its numeric suffix ((n % 5 + 1) × 20%), and a doc is
      // kept iff a Knuth-style integer hash of its id lands under the
      // per-source threshold. Pure integer arithmetic → the same docs are
      // selected on any engine and any run; the selection itself is a
      // stateless map over the scan (no shuffle until the audit rollup).
      // doc_id is pre-reduced mod 1e9+7 BEFORE the Knuth multiply so the
      // product stays < 2^62 for ANY doc_id: without it, Spark (non-ANSI)
      // silently wraps past doc_id ≈ 3.4e9 while DuckDB raises a BIGINT
      // overflow — the engines would diverge exactly at warehouse scale.
      (s, dir) => t(s, dir, "documents")
        .withColumn("srcnum", substring(col("source"), 4, 10).cast("int"))
        .withColumn("thresh", (pmod(col("srcnum"), lit(5)) + 1) * 200)
        .withColumn("keep",
          (pmod(pmod(col("doc_id"), lit(1000000007L)) * lit(2654435761L),
            lit(1000L)) < col("thresh"))
            .cast("long"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_total"), sum("keep").as("n_sampled"),
          round(max(col("thresh")).cast("double") / 1000d, 2).as("target_rate"))
        .orderBy("source"),
      Some(
        """WITH d AS (SELECT source, doc_id,
          |    ((CAST(substr(source, 4) AS INT) % 5) + 1) * 200 AS thresh
          |  FROM documents)
          |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_total,
          |  CAST(SUM(CASE WHEN ((((doc_id % 1000000007) + 1000000007) % 1000000007) * 2654435761) % 1000 < thresh
          |    THEN 1 ELSE 0 END) AS BIGINT) AS n_sampled,
          |  ROUND(MAX(thresh)::DOUBLE / 1000, 2) AS target_rate
          |FROM d GROUP BY source ORDER BY source""".stripMargin)),

    QSpec("vocab_coverage",
      // Tokenizer sizing: what fraction of all corpus token OCCURRENCES is
      // covered by the top-{10,25,50} most frequent token types? The
      // corpus-proportional work is the one token-count aggregation; the
      // ranking window then runs over the VOCABULARY (type counts, not
      // occurrences — bounded far below corpus size), so the single-
      // partition window is metadata-sized by construction.
      (s, dir) => {
        val tc = t(s, dir, "documents")
          .select(explode(split(col("text"), " ")).as("tok"))
          .groupBy("tok").agg(count(lit(1)).as("cnt"))
        val ranked = tc.withColumn("rank",
          row_number().over(Window.orderBy(col("cnt").desc, col("tok").asc)))
        val total = tc.agg(sum("cnt").as("total"))
        val levels = Seq(10, 25, 50)
          .foldLeft(Option.empty[DataFrame]) { (acc, n) =>
            val one = ranked.sparkSession.range(1).select(lit(n).as("n_vocab"))
            Some(acc.fold(one)(_.unionAll(one)))
          }.get
        ranked.join(broadcast(levels), col("rank") <= col("n_vocab"))
          .groupBy("n_vocab").agg(sum("cnt").as("covered"))
          .crossJoin(broadcast(total))
          .select(col("n_vocab"), col("covered"), col("total"),
            graft.ext.ExactMath.ratioRounded(col("covered"), col("total"), 6)
              .as("coverage"))
          .orderBy("n_vocab")
      },
      Some(
        """WITH tok AS (SELECT unnest(string_split(text, ' ')) AS tok FROM documents),
          |tc AS (SELECT tok, COUNT(*) AS cnt FROM tok GROUP BY tok),
          |r AS (SELECT tok, cnt,
          |    ROW_NUMBER() OVER (ORDER BY cnt DESC, tok ASC) AS rank FROM tc),
          |tot AS (SELECT SUM(cnt) AS total FROM tc),
          |lv AS (SELECT unnest([10, 25, 50]) AS n_vocab)
          |SELECT CAST(n_vocab AS INT) AS n_vocab,
          |  CAST(SUM(cnt) AS BIGINT) AS covered, CAST(total AS BIGINT) AS total,
          |  (CAST(((2000000::HUGEINT * SUM(cnt) + total) // (2::HUGEINT * total)) AS DOUBLE) / 1000000) AS coverage
          |FROM r JOIN lv ON rank <= n_vocab, tot
          |GROUP BY n_vocab, total ORDER BY n_vocab""".stripMargin)),

    QSpec("dedup_incremental",
      // Incremental dedup: a new shard (doc_id % 10 >= 7) arrives against
      // an already-ingested corpus index (doc_id % 10 < 7). The content key
      // is a sha2 digest of the first-8-token head fingerprint (the fixture
      // corpus has no byte-exact duplicates, but head fingerprints do
      // collide — same policy a crawler uses against near-identical page
      // heads). New docs whose fingerprint exists in the index are dropped.
      // The join runs on 32-byte digests, never bodies — the shuffle
      // carries hashes, and at real scale the historical index is exactly
      // the dedup-state table a pipeline persists between ingestion runs.
      (s, dir) => {
        val fp = sha2(concat_ws(" ", slice(split(col("text"), " "), 1, 8)), 256)
        val docs = t(s, dir, "documents")
        val hist = docs.where(expr("doc_id % 10 < 7"))
          .select(fp.as("h")).distinct()
          .withColumn("in_index", lit(1))
        docs.where(expr("doc_id % 10 >= 7"))
          .withColumn("h", fp)
          .join(hist, Seq("h"), "left")
          .groupBy("source")
          .agg(count(lit(1)).as("n_new"),
            sum(when(col("in_index").isNull, 1L).otherwise(0L)).as("n_kept"),
            sum(when(col("in_index").isNotNull, 1L).otherwise(0L)).as("n_dropped"))
          .orderBy("source")
      },
      Some(
        """WITH f AS (SELECT doc_id, source,
          |    array_to_string(list_slice(string_split(text, ' '), 1, 8), ' ') AS fp
          |  FROM documents),
          |hist AS (SELECT DISTINCT fp FROM f WHERE doc_id % 10 < 7),
          |nw AS (SELECT * FROM f WHERE doc_id % 10 >= 7)
          |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_new,
          |  CAST(COUNT(*) FILTER (WHERE fp NOT IN (SELECT fp FROM hist)) AS BIGINT) AS n_kept,
          |  CAST(COUNT(*) FILTER (WHERE fp IN (SELECT fp FROM hist)) AS BIGINT) AS n_dropped
          |FROM nw GROUP BY source ORDER BY source""".stripMargin)),

    QSpec("embed_normalize",
      // Embedding L2-normalization + head-dim summary (matryoshka-style
      // truncation prep): per-vector norm and the sum of the first 8
      // normalized dims. Stateless map over the scan — no shuffle, no UDF;
      // the sums are sequential left-folds in BOTH engines (Spark
      // aggregate() and DuckDB list_sum walk the list in index order), so
      // ROUND(…, 6) after the single division is bit-stable.
      (s, dir) => t(s, dir, "embeddings")
        .select(col("vec_id"),
          expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("v"))
        .withColumn("nrm", sqrt(expr("aggregate(v, 0D, (a, x) -> a + x * x)")))
        .select(col("vec_id"), round(col("nrm"), 6).as("l2_norm"),
          round(when(col("nrm") === 0d, lit(0d))
            .otherwise(expr("aggregate(slice(v, 1, 8), 0D, (a, x) -> a + x)") / col("nrm")), 6)
            .as("head8_sum"))
        .orderBy("vec_id"),
      Some(
        """WITH e AS (SELECT vec_id,
          |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
          |n AS (SELECT vec_id, v,
          |    sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm FROM e)
          |SELECT vec_id, ROUND(nrm, 6) AS l2_norm,
          |  ROUND(CASE WHEN nrm = 0 THEN 0
          |    ELSE list_sum(list_slice(v, 1, 8)) / nrm END, 6) AS head8_sum
          |FROM n ORDER BY vec_id""".stripMargin)),

    QSpec("filter_length_outliers",
      // Percentile-based length trimming: keep docs inside the corpus-wide
      // [P05, P95] character-length band. The percentile pair is ONE
      // two-value aggregate broadcast back over the scan (a 1-row
      // BroadcastNestedLoopJoin, not a data-sized cartesian) — the
      // length-outlier pass every curation pipeline runs before packing.
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val q = docs.agg(expr("percentile(n_chars, 0.05D)").as("p05"),
          expr("percentile(n_chars, 0.95D)").as("p95"))
        docs.crossJoin(broadcast(q))
          .groupBy("source")
          .agg(count(lit(1)).as("n_docs"),
            sum(when(col("n_chars").between(col("p05"), col("p95")), 1L)
              .otherwise(0L)).as("n_kept"),
            when(sum(when(col("n_chars").between(col("p05"), col("p95")), 1L)
                .otherwise(0L)) === 0, lit(null))
              .otherwise(graft.ext.ExactMath.ratioRounded(
                sum(when(col("n_chars").between(col("p05"), col("p95")),
                  col("n_chars").cast("long")).otherwise(0L)),
                sum(when(col("n_chars").between(col("p05"), col("p95")), 1L)
                  .otherwise(0L)), 2)).as("avg_kept_chars"))
          .orderBy("source")
      },
      Some(
        """WITH q AS (SELECT quantile_cont(n_chars, 0.05) AS p05,
          |    quantile_cont(n_chars, 0.95) AS p95 FROM documents)
          |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
          |  CAST(COUNT(*) FILTER (WHERE n_chars BETWEEN p05 AND p95) AS BIGINT) AS n_kept,
          |  CASE WHEN COUNT(*) FILTER (WHERE n_chars BETWEEN p05 AND p95) = 0 THEN NULL
          |    ELSE (CAST(((200::HUGEINT * SUM(n_chars) FILTER (WHERE n_chars BETWEEN p05 AND p95)
          |      + COUNT(*) FILTER (WHERE n_chars BETWEEN p05 AND p95))
          |      // (2::HUGEINT * COUNT(*) FILTER (WHERE n_chars BETWEEN p05 AND p95))) AS DOUBLE) / 100)
          |  END AS avg_kept_chars
          |FROM documents, q GROUP BY source ORDER BY source""".stripMargin)))
}
