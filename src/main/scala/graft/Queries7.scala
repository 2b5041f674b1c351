package graft

import graft.catalog.TableRegistry
import graft.ext.{Dedup, Graph, Sketches, SimSearch, TextAnalysis}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Batch-7 operator surface — mergeable sketch summaries over the
  * SQL-reproducible polynomial hash family. Spark's own approximate
  * aggregates (HLL, approx_percentile) can only be rows-only checked
  * because their mixing is engine-internal; these two build the sketch
  * from plain modular arithmetic, so the DuckDB twin replays the sketch
  * CELL-FOR-CELL and the keys are full hash-compared oracles of the whole
  * approximate structure — estimates, collisions, false positives and all.
  */
object Queries7 {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    TableRegistry.table(s, dir, name)

  val specs: Seq[QSpec] = Seq(

    QSpec("cms_token_counts",
      // Count-min sketch (d=4 rows × w=64 cells) over corpus token
      // occurrences, reported as (tok, true_cnt, cms_est) for every token
      // type: est ≥ true always (one-sided error), and at these params the
      // fixture corpus produces real collisions, so the key verifies the
      // sketch's estimates AND its characteristic overestimates. Scale
      // shape: cells are sums → partial aggregation on executors IS the
      // sketch merge; the shuffled state is the O(d·w) cell table, never
      // the token stream.
      (s, dir) => Sketches.cmsTokenCounts(t(s, dir, "documents"), d = 4, w = 64),
      Some(
        """WITH tokc AS (SELECT tok, COUNT(*) AS cnt
          |  FROM (SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
          |  GROUP BY tok),
          |h AS (SELECT tok, cnt, list_reduce(list_prepend(CAST(7 AS BIGINT),
          |    list_transform(range(1, length(tok)+1), i -> CAST(unicode(tok[i]) AS BIGINT))),
          |    (a, c) -> (a * 131 + c) % 1000000007) AS th FROM tokc),
          |rb AS (SELECT tok, cnt, i,
          |    ((((i * 2654435761) % 1000000007) * th
          |      + (i * 40503 + 17) % 1000000007) % 1000000007) % 64 AS bucket
          |  FROM h, range(1, 5) t(i)),
          |sk AS (SELECT i, bucket, SUM(cnt) AS cell FROM rb GROUP BY i, bucket)
          |SELECT tok, CAST(MAX(cnt) AS BIGINT) AS true_cnt,
          |  CAST(MIN(cell) AS BIGINT) AS cms_est
          |FROM rb JOIN sk USING (i, bucket) GROUP BY tok ORDER BY tok""".stripMargin)),

    QSpec("cms_error_curve",
      // Third calibration audit (with lsh_recall_curve / ann_recall_at_k):
      // count-min overestimation as a function of sketch WIDTH — the
      // memory/accuracy dial. Squeezing the fixture's 31 token types into
      // 16 cells/row leaves only 10 exactly-estimated types (max over-
      // estimate ~2.7k); at 64 cells, 26 of 31 are exact. Every number is
      // replayed cell-for-cell by the twin (same polynomial bucket family
      // as cms_token_counts), so the error CURVE itself is hash-checked.
      // Scale shape unchanged: per-width cells are sums — map-side combine
      // IS the merge.
      // opt-r15: the two widths ride ONE corpus pass
      // ([[Sketches.cmsTokenCountsMulti]] — the former per-width unionAll
      // tokenized and counted the corpus once per width; the width is just
      // another explode dimension, which is how the oracle already
      // computes the curve). Rows identical per width by associativity.
      (s, dir) => {
        val docs = t(s, dir, "documents")
        Sketches.cmsTokenCountsMulti(docs, d = 4, ws = Seq(16, 64))
          .groupBy("w")
          .agg(count(lit(1)).as("n_tokens"),
            sum(when(col("cms_est") === col("true_cnt"), 1L).otherwise(0L)).as("n_exact"),
            max(col("cms_est") - col("true_cnt")).as("max_over"),
            sum(col("cms_est") - col("true_cnt")).as("total_over"))
          .orderBy("w")
      },
      Some(
        """WITH tokc AS (SELECT tok, COUNT(*) AS cnt
          |  FROM (SELECT unnest(string_split(text, ' ')) AS tok FROM documents) GROUP BY tok),
          |h AS (SELECT tok, cnt, list_reduce(list_prepend(CAST(7 AS BIGINT),
          |    list_transform(range(1, length(tok)+1), i -> CAST(unicode(tok[i]) AS BIGINT))),
          |    (a, c) -> (a * 131 + c) % 1000000007) AS th FROM tokc),
          |ws AS (SELECT unnest([16, 64]) AS w),
          |rb AS (SELECT ws.w, tok, cnt, i,
          |    ((((i * 2654435761) % 1000000007) * th + (i * 40503 + 17) % 1000000007) % 1000000007) % ws.w AS bucket
          |  FROM h, range(1, 5) t(i), ws),
          |sk AS (SELECT w, i, bucket, SUM(cnt) AS cell FROM rb GROUP BY w, i, bucket),
          |est AS (SELECT w, tok, MAX(cnt) AS true_cnt, MIN(cell) AS cms_est
          |  FROM rb JOIN sk USING (w, i, bucket) GROUP BY w, tok)
          |SELECT CAST(w AS INT) AS w, CAST(COUNT(*) AS BIGINT) AS n_tokens,
          |  CAST(count_if(cms_est = true_cnt) AS BIGINT) AS n_exact,
          |  CAST(MAX(cms_est - true_cnt) AS BIGINT) AS max_over,
          |  CAST(SUM(cms_est - true_cnt) AS BIGINT) AS total_over
          |FROM est GROUP BY w ORDER BY w""".stripMargin)),

    QSpec("bloom_prefilter",
      // Bloom-filter dedup prefilter (m=4096 bits, k=3) in front of the
      // incremental-dedup anti-join: historical head fingerprints set the
      // bits; a new-shard doc is flagged iff all its k positions are set.
      // Reports per-source (n_new, n_flagged, n_dup, n_false_pos) — no
      // false negatives by construction, and the fixture corpus produces
      // real false positives, so the key verifies the filter's soundness
      // AND its error behavior. Scale shape: the bit set is an O(m)
      // broadcast (the filter a pipeline persists between ingestion runs);
      // only flagged docs — a few % — would proceed to the exact
      // anti-join of dedup_incremental.
      (s, dir) => Sketches.bloomPrefilter(t(s, dir, "documents"),
        histPred = expr("doc_id % 10 < 7"), newPred = expr("doc_id % 10 >= 7"),
        headTokens = 8, k = 3, m = 4096),
      Some(
        """WITH f AS (SELECT doc_id, source,
          |    array_to_string(list_slice(string_split(text, ' '), 1, 8), ' ') AS fp
          |  FROM documents),
          |h AS (SELECT doc_id, source, fp, list_reduce(list_prepend(CAST(7 AS BIGINT),
          |    list_transform(range(1, length(fp)+1), i -> CAST(unicode(fp[i]) AS BIGINT))),
          |    (a, c) -> (a * 131 + c) % 1000000007) AS th FROM f),
          |pos AS (SELECT doc_id, source, fp, th, i,
          |    ((((i * 2654435761) % 1000000007) * th
          |      + (i * 40503 + 17) % 1000000007) % 1000000007) % 4096 AS p
          |  FROM h, range(1, 4) t(i)),
          |bits AS (SELECT DISTINCT p FROM pos WHERE doc_id % 10 < 7),
          |histfp AS (SELECT DISTINCT fp FROM h WHERE doc_id % 10 < 7),
          |nw AS (SELECT doc_id, source, fp,
          |    BOOL_AND(p IN (SELECT p FROM bits)) AS maybe_seen
          |  FROM pos WHERE doc_id % 10 >= 7 GROUP BY doc_id, source, fp)
          |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_new,
          |  CAST(SUM(CASE WHEN maybe_seen THEN 1 ELSE 0 END) AS BIGINT) AS n_flagged,
          |  CAST(SUM(CASE WHEN fp IN (SELECT fp FROM histfp) THEN 1 ELSE 0 END) AS BIGINT) AS n_dup,
          |  CAST(SUM(CASE WHEN maybe_seen AND fp NOT IN (SELECT fp FROM histfp)
          |    THEN 1 ELSE 0 END) AS BIGINT) AS n_false_pos
          |FROM nw GROUP BY source ORDER BY source""".stripMargin)),

    QSpec("chunk_cdc",
      // Content-defined chunking: a chunk boundary opens wherever the
      // rolling 4-token shingle hash ≡ 0 (mod 16) — expected chunk ≈ 16
      // spans, but boundaries depend only on CONTENT, so an insertion
      // early in a doc shifts chunk ids, not every chunk's bytes (the
      // property fixed-stride chunk_overlap lacks, and the reason CDC is
      // the dedup-friendly chunker). Per-doc spans go through one window
      // partitioned by doc — the cumulative boundary count IS the chunk id.
      // (An array-domain HOF rewrite was tried and reverted in r7:
      // Catalyst's project collapse inlines each derived array column into
      // its consumers, so the INTERPRETED shingle-hash subtree re-evaluated
      // per reference — 3.5× slower than the shuffle-bearing window form.
      // opt-r16 closes it properly with a CODEGEN kernel instead: the
      // boundary test, the cumulative chunk id (== the window cumsum — the
      // count of boundary windows at or before pos) and the per-chunk
      // run-length stats are one pass over the text inside the scan
      // projection, so the per-SPAN explode (≈ token count × corpus), its
      // window shuffle+sort and the grouped aggregation all disappear —
      // only per-CHUNK rows (~1/16 of spans) ever exist, and the only
      // exchange left is the output orderBy. Oracle (window-form SQL)
      // untouched; hash-identical at sf0.001/0.01/0.1 + skew + sf1.
      (s, dir) => t(s, dir, "documents")
        .select(col("doc_id"),
          explode(Sketches.cdcChunkStats(col("text"), 4, 16)).as("c"))
        .select(col("doc_id"), col("c.chunk_id").as("chunk_id"),
          col("c.n_spans").as("n_spans"), col("c.start_pos").as("start_pos"),
          col("c.end_pos").as("end_pos"))
        .orderBy("doc_id", "chunk_id"),
      Some(
        """WITH sh AS (
          |  SELECT doc_id, CASE WHEN len(sp) < 4 THEN [text]
          |    ELSE list_transform(range(1, len(sp) - 2),
          |      i -> sp[i] || ' ' || sp[i+1] || ' ' || sp[i+2] || ' ' || sp[i+3]) END AS sh
          |  FROM (SELECT doc_id, text, string_split(text, ' ') AS sp FROM documents) d),
          |hs AS (SELECT doc_id, list_transform(sh, g ->
          |    list_reduce(list_prepend(CAST(7 AS BIGINT),
          |      list_transform(range(1, length(g)+1), i -> CAST(unicode(g[i]) AS BIGINT))),
          |      (a, c) -> (a * 131 + c) % 1000000007)) AS hl FROM sh),
          |p AS (SELECT doc_id, u.pos AS pos, u.h AS h FROM (
          |    SELECT doc_id, unnest(list_transform(range(1, len(hl)+1),
          |      i -> {'pos': i - 1, 'h': hl[i]})) AS u FROM hs)),
          |c AS (SELECT doc_id, pos,
          |    SUM(CASE WHEN h % 16 = 0 THEN 1 ELSE 0 END)
          |      OVER (PARTITION BY doc_id ORDER BY pos) AS chunk_id FROM p)
          |SELECT doc_id, CAST(chunk_id AS INT) AS chunk_id,
          |  CAST(COUNT(*) AS BIGINT) AS n_spans,
          |  CAST(MIN(pos) AS INT) AS start_pos, CAST(MAX(pos) AS INT) AS end_pos
          |FROM c GROUP BY doc_id, chunk_id ORDER BY doc_id, chunk_id""".stripMargin)),

    QSpec("graph_pagerank",
      // PageRank over the ANN similarity graph, in 1e-6 fixed point:
      // integer ranks make every contribution sum exact and commutative,
      // so a 5-iteration power method is hash-comparable across engines —
      // a double-based PageRank never could be (shuffle order would flip
      // low bits). Answers the dedup keep-policy question "which doc is
      // most central to its near-dup neighborhood". Scale shape: each
      // iteration is one shuffle join on the src id + one grouped sum;
      // rank state is O(nodes) and lives in executors, never the driver.
      // The edge PAIR SET is memoized (Memo.frame): the rank recurrence
      // references the edge list in every iteration's subtree, and without
      // materialization Catalyst would re-run the ANN join ~2×iters times
      // inside the one final plan.
      (s, dir) => Graph.pagerankFixedPoint(s, SimSearch.annPairsMemo(s, dir),
        iters = 5, cacheKey = Some(dir)),
      Some {
        def step(prev: String): String =
          s"""(SELECT dg.s AS id, dg.deg,
             |    150000 + (850 * c.contrib) // 1000 AS rank
             |  FROM dg JOIN (SELECT ed.d AS id, SUM(r.rank // r.deg) AS contrib
             |    FROM ed JOIN $prev r ON ed.s = r.id GROUP BY ed.d) c ON dg.s = c.id)""".stripMargin
        s"""WITH params AS (SELECT GREATEST(8, LEAST(30, CAST(ceil(log2(GREATEST(CAST(ceil(count(*) / 8.0) AS BIGINT), 1))) AS INT))) AS r FROM embeddings),
           |e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
           |n AS (SELECT vec_id, v, sqrt(list_sum(list_transform(v, x -> x*x))) AS nrm FROM e
           |      WHERE list_sum(list_transform(v, x -> x*x)) > 0),
           |bk AS (SELECT vec_id, band,
           |  CAST(list_sum(list_transform(range(r), j -> CASE WHEN
           |    list_sum(list_transform(range(len(v)), i -> v[i+1] * CAST((i*2654435761 + (band*r+j)*2246822519 + i*(band*r+j)*3266489917) % 1000 - 500 AS DOUBLE))) >= 0
           |    THEN (1 << j) ELSE 0 END)) AS INT) AS bucket
           |  FROM n, params, range(8) bs(band)),
           |cd AS (SELECT DISTINCT a.vec_id AS a_id, b.vec_id AS b_id
           |  FROM bk a JOIN bk b ON a.band = b.band AND a.bucket = b.bucket AND a.vec_id < b.vec_id),
           |pr AS (SELECT a_id, b_id FROM (
           |  SELECT c.a_id, c.b_id,
           |    ROUND(list_sum(list_transform(range(len(x.v)), i -> x.v[i+1]*y.v[i+1])) / (x.nrm*y.nrm), 6) AS cos
           |  FROM cd c JOIN n x ON x.vec_id = c.a_id JOIN n y ON y.vec_id = c.b_id) z
           |  WHERE cos >= 0.25),
           |ed AS (SELECT a_id AS s, b_id AS d FROM pr UNION ALL SELECT b_id, a_id FROM pr),
           |dg AS (SELECT s, COUNT(*) AS deg FROM ed GROUP BY s),
           |r0 AS (SELECT s AS id, deg, CAST(1000000 AS BIGINT) AS rank FROM dg),
           |r1 AS ${step("r0")},
           |r2 AS ${step("r1")},
           |r3 AS ${step("r2")},
           |r4 AS ${step("r3")},
           |r5 AS ${step("r4")}
           |SELECT id AS vec_id, CAST(deg AS BIGINT) AS deg, CAST(rank AS BIGINT) AS rank
           |FROM r5 ORDER BY vec_id""".stripMargin
      }),

    QSpec("rank_fusion_rrf",
      // Hybrid-retrieval fusion: reciprocal rank fusion (k=60) of the exact
      // cosine top-10 and the int8-quantized top-10 for the same query —
      // the standard way to merge rankings from different retrievers
      // without score calibration. Ranks are ints, each 1/(60+r) is one
      // double division, and the two terms add in a fixed order, so the
      // fused scores hash-match. Both input rankings are 10-row TakeOrdered
      // results; the fusion itself is metadata-sized.
      (s, dir) => {
        val ex = SimSearch.topK(s, t(s, dir, "embeddings"), queryVecId = 0, k = 10)
          .withColumn("r_exact",
            row_number().over(Window.orderBy(desc("cos"), asc("vec_id"))))
          .select("vec_id", "r_exact")
        val qu = SimSearch.quantizedTopK(s, t(s, dir, "embeddings"), queryVecId = 0, k = 10)
          .withColumn("r_quant",
            row_number().over(Window.orderBy(desc("qcos"), asc("vec_id"))))
          .select("vec_id", "r_quant")
        ex.join(qu, Seq("vec_id"), "full_outer")
          .select(col("vec_id"),
            round(
              when(col("r_exact").isNotNull, lit(1.0) / (lit(60) + col("r_exact")))
                .otherwise(lit(0.0)) +
              when(col("r_quant").isNotNull, lit(1.0) / (lit(60) + col("r_quant")))
                .otherwise(lit(0.0)), 9).as("rrf"),
            coalesce(col("r_exact"), lit(0)).as("r_exact"),
            coalesce(col("r_quant"), lit(0)).as("r_quant"))
          .orderBy(desc("rrf"), asc("vec_id"))
      },
      Some(
        """WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
          |q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
          |ex AS (SELECT vec_id, CAST(ROW_NUMBER() OVER (ORDER BY cos DESC, vec_id) AS INT) AS r_exact
          |  FROM (SELECT vec_id, ROUND(list_sum(list_transform(range(1, len(v)+1), i -> v[i]*qv[i])) /
          |      (sqrt(list_sum(list_transform(v, x -> x*x))) * sqrt(list_sum(list_transform(qv, x -> x*x)))), 6) AS cos
          |    FROM e, q WHERE vec_id <> 0 ORDER BY cos DESC, vec_id LIMIT 10)),
          |m AS (SELECT vec_id, v, list_max(list_transform(v, x -> abs(x))) AS ma FROM e),
          |qz AS (SELECT vec_id, CASE WHEN ma = 0 THEN list_transform(v, x -> 0.0)
          |    ELSE list_transform(v, x -> floor(x / (ma / 127) + 0.5)) END AS q FROM m),
          |n AS (SELECT vec_id, q, sqrt(list_sum(list_transform(q, x -> x*x))) AS qn FROM qz),
          |qq AS (SELECT q AS qv, qn AS qvn FROM n WHERE vec_id = 0),
          |qu AS (SELECT vec_id, CAST(ROW_NUMBER() OVER (ORDER BY qcos DESC, vec_id) AS INT) AS r_quant
          |  FROM (SELECT vec_id,
          |      ROUND(list_sum(list_transform(range(1, len(q)+1), i -> q[i]*qv[i])) / (qn*qvn), 6) AS qcos
          |    FROM n, qq WHERE vec_id <> 0 ORDER BY qcos DESC, vec_id LIMIT 10))
          |SELECT COALESCE(ex.vec_id, qu.vec_id) AS vec_id,
          |  ROUND(CASE WHEN r_exact IS NOT NULL THEN CAST(1.0 AS DOUBLE)/(60+r_exact) ELSE 0 END
          |    + CASE WHEN r_quant IS NOT NULL THEN CAST(1.0 AS DOUBLE)/(60+r_quant) ELSE 0 END, 9) AS rrf,
          |  COALESCE(r_exact, 0) AS r_exact, COALESCE(r_quant, 0) AS r_quant
          |FROM ex FULL OUTER JOIN qu ON ex.vec_id = qu.vec_id
          |ORDER BY rrf DESC, vec_id""".stripMargin)),

    QSpec("token_cooccurrence",
      // Co-occurrence lift over a ±4-token WINDOW — the association
      // statistic embedding training starts from (word2vec/GloVe build
      // exactly this windowed matrix). BOUNDED at scale by construction
      // (r4 verdict "What's wrong #2" fix): each token position probes only
      // its k=4 successors through an EQUI-join on (doc_id, pos), so pair
      // fan-out is k×tokens — never in-doc vocabulary², which blows up on a
      // 5k-distinct-token document (12.5M pairs) under the whole-doc form
      // (kept as the fixture-scale twin `token_cooccurrence_doc` below).
      // lift = pair_cnt·N/(cnt_a·cnt_b) in decimal(38) integer-exact
      // arithmetic (r8, ExactMath): pair_cnt·n_tok is bounded by k·N² (N =
      // corpus token count), which overflows LONG past N ≈ 2e9 where Spark
      // (non-ANSI) wraps silently and DuckDB raises — decimal(38) (engine)
      // and HUGEINT (oracle) carry the product exactly instead, and the
      // integer half-up rounding removes the ROUND-on-boundary ambiguity;
      // no log/PMI libm drift; top-50 by lift, full lexicographic tiebreak.
      (s, dir) => {
        val docs = t(s, dir, "documents")
        // r13 shape: pair generation is ROW-LOCAL (the WindowPairs codegen
        // kernel emits each position's ≤4 successor pairs straight from
        // the token array), so the k·tokens pair stream feeds partial
        // aggregation in the scan stage — the former probe-explode +
        // (doc_id, pos) self-join shuffled that stream twice before any
        // combining (measured 4.9 s at sf1 for UNCHANGED output). Unigram
        // counts come from one explode pass and the corpus total derives
        // from them (metadata-sized), so no shared frame needs
        // materializing at all.
        def pairKeys(toks: org.apache.spark.sql.Column) = {
          import org.apache.spark.sql.GraftColumnBridge
          GraftColumnBridge.column(graft.functions.WindowPairs(
            GraftColumnBridge.expression(toks), 4))
        }
        val pairs = docs
          .select(explode(pairKeys(split(col("text"), " "))).as("pk"))
          .groupBy("pk").agg(count(lit(1)).as("pair_cnt"))
          .select(substring_index(col("pk"), " ", 1).as("tok_a"),
            substring_index(col("pk"), " ", -1).as("tok_b"),
            col("pair_cnt"))
        // opt-r15: tc feeds three branches (both join sides + the corpus
        // total) and the INITIAL plan shows the explode inlined per branch
        // — but the branches end in byte-identical exchanges, so
        // ReuseExchange computes tc once at runtime; a keyed-persist
        // variant was built and measured exactly FLAT at sf1 (2.50 →
        // 2.51 s), so the plain form stays.
        val tc = docs
          .select(explode(split(col("text"), " ")).as("tok"))
          .groupBy("tok").agg(count(lit(1)).as("cnt"))
        val nt = tc.agg(sum("cnt").as("n_tok"))
        pairs
          .join(tc.select(col("tok").as("tok_a"), col("cnt").as("cnt_a")), "tok_a")
          .join(tc.select(col("tok").as("tok_b"), col("cnt").as("cnt_b")), "tok_b")
          .crossJoin(broadcast(nt))
          .where(col("pair_cnt") >= 5)
          .select(col("tok_a"), col("tok_b"), col("pair_cnt"),
            graft.ext.ExactMath.ratioRounded(
              col("pair_cnt").cast("decimal(38,0)") * col("n_tok").cast("decimal(38,0)"),
              col("cnt_a").cast("decimal(38,0)") * col("cnt_b").cast("decimal(38,0)"), 6)
              .as("lift"))
          .orderBy(desc("lift"), asc("tok_a"), asc("tok_b"))
          .limit(50)
      },
      Some(
        """WITH d AS (SELECT doc_id, string_split(text, ' ') AS sp FROM documents),
          |tp AS (SELECT doc_id, sp, unnest(range(1, len(sp)+1)) AS pos FROM d),
          |tk AS (SELECT doc_id, pos, sp[pos] AS tok FROM tp),
          |pairs AS (SELECT least(a.tok, b.tok) AS tok_a, greatest(a.tok, b.tok) AS tok_b
          |  FROM tk a JOIN tk b ON a.doc_id = b.doc_id AND b.pos > a.pos
          |    AND b.pos <= a.pos + 4 AND a.tok <> b.tok),
          |pc AS (SELECT tok_a, tok_b, CAST(COUNT(*) AS BIGINT) AS pair_cnt FROM pairs GROUP BY 1, 2),
          |tc AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS cnt FROM tk GROUP BY tok),
          |nt AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_tok FROM tk)
          |SELECT tok_a, tok_b, pair_cnt,
          |  (CAST(((2000000::HUGEINT * (pair_cnt::HUGEINT * n_tok) + (ca.cnt::HUGEINT * cb.cnt)) // (2::HUGEINT * (ca.cnt::HUGEINT * cb.cnt))) AS DOUBLE) / 1000000) AS lift
          |FROM pc JOIN tc ca ON pc.tok_a = ca.tok JOIN tc cb ON pc.tok_b = cb.tok, nt
          |WHERE pair_cnt >= 5
          |ORDER BY lift DESC, tok_a, tok_b LIMIT 50""".stripMargin)),

    QSpec("token_cooccurrence_doc",
      // Whole-document co-occurrence (document-frequency lift) — the
      // fixture-scale twin of the windowed key above. Pair counts come from
      // a per-doc self-join over DISTINCT tokens: per-doc pair fan-out is
      // in-doc vocabulary², which the fixture's 31-token vocabulary keeps
      // trivially small but a real corpus does NOT — at scale use
      // `token_cooccurrence` (the ±k window bounds fan-out at k×tokens).
      (s, dir) => {
        val docs = t(s, dir, "documents")
        // NOTE(r13): a WindowPairs(k=MaxValue) row-local rewrite was tried
        // and MEASURED SLOWER here (6.4 s vs 3.7 s at sf1) — at whole-doc
        // fan-out the concatenated-pair-key emission costs more than the
        // doc_id equi-join the windowed twin eliminates, so this
        // fixture-scale form keeps the join
        val tokd = docs.select(col("doc_id"),
          explode(array_distinct(split(col("text"), " "))).as("tok"))
        val df_ = tokd.groupBy("tok").agg(count(lit(1)).as("df"))
        val nDocs = docs.agg(count(lit(1)).as("n_docs"))
        val pairs = tokd.as("a")
          .join(tokd.as("b"),
            col("a.doc_id") === col("b.doc_id") && col("a.tok") < col("b.tok"))
          .groupBy(col("a.tok").as("tok_a"), col("b.tok").as("tok_b"))
          .agg(count(lit(1)).as("pair_docs"))
        pairs
          .join(df_.select(col("tok").as("tok_a"), col("df").as("df_a")), "tok_a")
          .join(df_.select(col("tok").as("tok_b"), col("df").as("df_b")), "tok_b")
          .crossJoin(broadcast(nDocs))
          .where(col("pair_docs") >= 5)
          .select(col("tok_a"), col("tok_b"), col("pair_docs"),
            // decimal(38) exact — pair_docs·n_docs overflows LONG past
            // ~3e9 docs (same class as the windowed key); integer half-up
            graft.ext.ExactMath.ratioRounded(
              col("pair_docs").cast("decimal(38,0)") * col("n_docs").cast("decimal(38,0)"),
              col("df_a").cast("decimal(38,0)") * col("df_b").cast("decimal(38,0)"), 6)
              .as("lift"))
          .orderBy(desc("lift"), asc("tok_a"), asc("tok_b"))
          .limit(50)
      },
      Some(
        """WITH tokd AS (SELECT DISTINCT doc_id, tok FROM (
          |    SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents)),
          |df AS (SELECT tok, COUNT(*) AS df FROM tokd GROUP BY tok),
          |nd AS (SELECT COUNT(*) AS n_docs FROM documents),
          |p AS (SELECT a.tok AS tok_a, b.tok AS tok_b, COUNT(*) AS pair_docs
          |  FROM tokd a JOIN tokd b ON a.doc_id = b.doc_id AND a.tok < b.tok
          |  GROUP BY a.tok, b.tok)
          |SELECT tok_a, tok_b, CAST(pair_docs AS BIGINT) AS pair_docs,
          |  (CAST(((2000000::HUGEINT * (pair_docs::HUGEINT * n_docs) + (da.df::HUGEINT * db.df)) // (2::HUGEINT * (da.df::HUGEINT * db.df))) AS DOUBLE) / 1000000) AS lift
          |FROM p JOIN df da ON p.tok_a = da.tok JOIN df db ON p.tok_b = db.tok, nd
          |WHERE pair_docs >= 5
          |ORDER BY lift DESC, tok_a, tok_b LIMIT 50""".stripMargin)),

    QSpec("lsh_recall_curve",
      // Sketch CALIBRATION — the audit a 100 TB pipeline runs on a sample
      // before trusting LSH parameters corpus-wide: exact-Jaccard ground
      // truth (capped region) vs the banding's candidate set, recall per
      // threshold. With 5 bands × 4 rows, P(candidate | J) = 1−(1−J⁴)⁵ —
      // near-0 at J≈0.05, near-1 at J≥0.7 — and the fixture's bimodal pair
      // distribution makes the curve discriminating (recall ≈0.86 at 0.05,
      // 1.0 from 0.2 up). Reuses the memoized signature sketch and the
      // inverted-index exact join; the DuckDB twin replays signatures,
      // banding AND ground truth, so the whole calibration is hash-exact.
      (s, dir) => {
        import s.implicits._
        val docs = t(s, dir, "documents")
        val ex = Dedup.exactJaccard(s, docs, shingleW = 3, threshold = 0.05,
          idCap = 500, cacheKey = Some(dir))
        val cand = Dedup.bandCandidates(Dedup.bandedBuckets(
            Dedup.memoizedSignatures(s, docs, 3, 20, Some(dir))
              .where(col("doc_id") < 500), 20, 4))
          .withColumn("is_cand", lit(1L))
        val ths = Seq(0.05, 0.2, 0.7).toDF("thresh")
        ex.join(cand, Seq("a_id", "b_id"), "left")
          .crossJoin(broadcast(ths))
          .where(col("jaccard") >= col("thresh"))
          .groupBy("thresh")
          .agg(count(lit(1)).as("n_exact"),
            sum(coalesce(col("is_cand"), lit(0L))).as("n_hit"))
          .select(col("thresh"), col("n_exact"), col("n_hit"),
            graft.ext.ExactMath.ratioRounded(col("n_hit"), col("n_exact"), 6)
              .as("recall"))
          .orderBy("thresh")
      },
      Some(
        """WITH sh AS (
          |  SELECT doc_id, list_distinct(CASE WHEN len(sp) < 3 THEN [text]
          |    ELSE list_transform(range(1, len(sp)-1), i -> sp[i] || ' ' || sp[i+1] || ' ' || sp[i+2]) END) AS sh
          |  FROM (SELECT doc_id, text, string_split(text, ' ') AS sp FROM documents WHERE doc_id < 500) d
          |), hs AS (
          |  SELECT doc_id, sh, list_transform(sh, g ->
          |    list_reduce(list_prepend(CAST(7 AS BIGINT),
          |      list_transform(range(1, length(g)+1), i -> CAST(unicode(g[i]) AS BIGINT))),
          |      (acc, c) -> (acc * 131 + c) % 1000000007)) AS hs
          |  FROM sh
          |), sig AS (
          |  SELECT doc_id, sh, list_transform(range(20), i ->
          |    list_min(list_transform(hs, h ->
          |      (((i+1) * 2654435761 % 1000000007) * h + ((i+1) * 40503 + 17) % 1000000007) % 1000000007))) AS sig
          |  FROM hs
          |), bands AS (
          |  SELECT doc_id, b, sig[b*4+1 : b*4+4] AS key FROM sig, range(5) t(b)
          |), cand AS (
          |  SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
          |  FROM bands a JOIN bands b ON a.b = b.b AND a.key = b.key AND a.doc_id < b.doc_id
          |), ex AS (
          |  SELECT a.doc_id AS a_id, b.doc_id AS b_id,
          |    ROUND(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
          |      (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))), 6) AS j
          |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
          |), th AS (SELECT unnest([0.05::DOUBLE, 0.2::DOUBLE, 0.7::DOUBLE]) AS thresh
          |), jj AS (
          |  SELECT ex.a_id, ex.b_id, ex.j,
          |    CASE WHEN c.a_id IS NOT NULL THEN 1 ELSE 0 END AS is_cand
          |  FROM ex LEFT JOIN cand c ON ex.a_id = c.a_id AND ex.b_id = c.b_id)
          |SELECT thresh, CAST(COUNT(*) AS BIGINT) AS n_exact,
          |  CAST(SUM(is_cand) AS BIGINT) AS n_hit,
          |  (CAST(((2000000::HUGEINT * SUM(is_cand) + COUNT(*)) // (2::HUGEINT * COUNT(*))) AS DOUBLE) / 1000000) AS recall
          |FROM jj, th WHERE jj.j >= thresh GROUP BY thresh ORDER BY thresh""".stripMargin)),

    QSpec("dedup_cluster_lsh",
      // The 100 TB dedup pipeline END-TO-END as the verified path: minhash
      // signatures → band-slice candidates → exact-Jaccard verification on
      // candidates only → star-contraction connected components. This is
      // `dedup_cluster` with the pair source swapped from the capped
      // inverted-index exact join to the LSH candidate path — the shape
      // that scales (pair generation never leaves band buckets). The
      // DuckDB twin replays every stage: polynomial signature arithmetic,
      // raw-slice banding, candidate verification, and recursive-CTE
      // reachability for the components.
      (s, dir) => {
        val docs = t(s, dir, "documents")
        // UNCAPPED (r6 verdict item 5): the whole corpus goes through the
        // verified path — 500 docs at the sf0.01 verify gate, 5000 at the
        // sf0.1 bench. Tractable for the DuckDB twin because candidate
        // generation (banding) bounds the recursive-CTE edge set; only
        // lsh_recall_curve keeps a cap (its oracle is exact all-pairs).
        //
        // r14: rides the distinct-shingle-set collapse (Dedup.
        // groupedSignatures — the dedup_simhash discipline): banding +
        // verification on one rep per distinct set, and since contraction
        // only needs CONNECTIVITY, clone cliques contract through rep→
        // member STAR edges (gsz−1 per group) instead of the clique's
        // all-pairs edge list — same components, same labels, same sizes,
        // so the raw-doc recursive-CTE oracle is untouched, while edge
        // count drops from Σ clique² to Σ clique.
        //
        // r15 (r14 advice): both sides threshold on ROUND(jaccard, 6) ≥ 0.2
        // — the engine inherits the rounded compare from minhashRepPairs,
        // and the oracle's pairs CTE now rounds identically (the
        // dedup_minhash oracle convention), so a borderline pair lands the
        // same side of the threshold on every engine by construction.
        val grp = Dedup.groupedSignatures(s, docs, 3, 20, Some(dir))
        val repPairs = Dedup.minhashRepPairs(s, docs, 3, 20, 4,
            threshold = 0.2, cacheKey = Some(dir))
          .select("a_id", "b_id")
        val starEdges = Dedup.signatureMembers(s, docs, 3, 20, Some(dir))
          .join(grp.select(col("gkey"), col("rid")), Seq("gkey"))
          .where(col("doc_id") =!= col("rid"))
          .select(col("rid").as("a_id"), col("doc_id").as("b_id"))
        Dedup.clusters(s, docs, repPairs.unionAll(starEdges))
      },
      Some(
        """WITH RECURSIVE sh AS (
          |  SELECT doc_id, list_distinct(CASE WHEN len(sp) < 3 THEN [text]
          |    ELSE list_transform(range(1, len(sp)-1), i -> sp[i] || ' ' || sp[i+1] || ' ' || sp[i+2]) END) AS sh
          |  FROM (SELECT doc_id, text, string_split(text, ' ') AS sp FROM documents) d
          |), hs AS (
          |  SELECT doc_id, sh, list_transform(sh, g ->
          |    list_reduce(list_prepend(CAST(7 AS BIGINT),
          |      list_transform(range(1, length(g)+1), i -> CAST(unicode(g[i]) AS BIGINT))),
          |      (acc, c) -> (acc * 131 + c) % 1000000007)) AS hs
          |  FROM sh
          |), sig AS (
          |  SELECT doc_id, sh, list_transform(range(20), i ->
          |    list_min(list_transform(hs, h ->
          |      (((i+1) * 2654435761 % 1000000007) * h + ((i+1) * 40503 + 17) % 1000000007) % 1000000007))) AS sig
          |  FROM hs
          |), bands AS (
          |  SELECT doc_id, b, sig[b*4+1 : b*4+4] AS key FROM sig, range(5) t(b)
          |), cand AS (
          |  SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
          |  FROM bands a JOIN bands b ON a.b = b.b AND a.key = b.key AND a.doc_id < b.doc_id
          |), pairs AS (
          |  SELECT a_id, b_id FROM (
          |    SELECT c.a_id, c.b_id,
          |      ROUND(CAST(len(list_intersect(x.sh, y.sh)) AS DOUBLE) /
          |        (len(x.sh) + len(y.sh) - len(list_intersect(x.sh, y.sh))), 6) AS jaccard
          |    FROM cand c JOIN sig x ON x.doc_id = c.a_id JOIN sig y ON y.doc_id = c.b_id) v
          |  WHERE jaccard >= 0.2
          |), edges AS (
          |  SELECT a_id AS src, b_id AS dst FROM pairs
          |  UNION ALL SELECT b_id, a_id FROM pairs
          |), reach(id, r) AS (
          |  SELECT doc_id, doc_id FROM documents
          |  UNION
          |  SELECT e.dst, reach.r FROM reach JOIN edges e ON e.src = reach.id
          |), lab AS (
          |  SELECT id AS doc_id, MIN(r) AS cluster_id FROM reach GROUP BY id
          |), sz AS (
          |  SELECT cluster_id, CAST(COUNT(*) AS BIGINT) AS cluster_size
          |  FROM lab GROUP BY cluster_id
          |)
          |SELECT lab.doc_id, lab.cluster_id, sz.cluster_size
          |FROM lab JOIN sz USING (cluster_id)
          |ORDER BY doc_id""".stripMargin)),

    QSpec("ann_recall_at_k",
      // The ANN-family calibration twin of lsh_recall_curve: recall@10 of
      // the IVF index against brute-force ground truth, as a function of
      // nProbe — THE accuracy/cost dial an operator tunes before running
      // IVF over a full corpus (fixture: probing 2 of 16 cells already
      // recovers 7–10 of the true top-10; 4 cells 9–10). Both retrievers
      // are independently replayed by the DuckDB twin (same seeding,
      // argmin tie-breaks, ascending folds as simsearch_ivf/_topk), so
      // the measured recall itself is hash-exact. Reuses the memoized IVF
      // index across the two probe settings.
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
        val bruteIds = SimSearch.topK(s, emb, queryVecId = 0, k = 10)
          .select(col("vec_id")).withColumn("hit", lit(1L))
        Seq(2, 4).map { p =>
          SimSearch.ivfTopK(s, emb, queryVecId = 0, k = 10, nCentroids = 16,
              nProbe = p, cacheKey = Some(dir))
            .select(lit(p).as("n_probe"), col("vec_id"))
        }.reduce(_ unionAll _)
          .join(broadcast(bruteIds), Seq("vec_id"), "left")
          .groupBy("n_probe")
          .agg(count(lit(1)).as("k"), sum(coalesce(col("hit"), lit(0L))).as("n_hit"))
          .select(col("n_probe"), col("k"), col("n_hit"),
            graft.ext.ExactMath.ratioRounded(col("n_hit"), col("k"), 6)
              .as("recall"))
          .orderBy("n_probe")
      },
      Some(
        """WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
          |n AS (SELECT vec_id, v, sqrt(list_sum(list_transform(v, x -> x*x))) AS nrm FROM e),
          |cent AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS ci, v AS cv,
          |         list_sum(list_transform(v, x -> x*x)) AS c2 FROM n ORDER BY vec_id LIMIT 16),
          |asg AS (
          |  SELECT vec_id, v, nrm, ci AS cluster FROM (
          |    SELECT n.vec_id, n.v, n.nrm, cent.ci,
          |      row_number() OVER (PARTITION BY n.vec_id ORDER BY
          |        list_sum(list_transform(range(len(n.v)), i -> n.v[i+1]*cent.cv[i+1])) * -2.0 + cent.c2, cent.ci) AS rk
          |    FROM n, cent) r WHERE rk = 1),
          |q AS (SELECT v AS qv, nrm AS qnrm FROM n WHERE vec_id = 0),
          |pr AS (SELECT unnest([2, 4]) AS n_probe),
          |ranked AS (
          |  SELECT cent.ci, row_number() OVER (ORDER BY
          |    list_sum(list_transform(range(len(qv)), i -> (cent.cv[i+1]-qv[i+1])*(cent.cv[i+1]-qv[i+1]))), cent.ci) AS rk
          |  FROM cent, q),
          |probed AS (SELECT pr.n_probe, ranked.ci FROM pr JOIN ranked ON ranked.rk <= pr.n_probe),
          |cand AS (
          |  SELECT pb.n_probe, a.vec_id,
          |    list_sum(list_transform(range(len(a.v)), i -> a.v[i+1]*q.qv[i+1])) / (a.nrm*q.qnrm) AS cos
          |  FROM probed pb JOIN asg a ON a.cluster = pb.ci, q WHERE a.vec_id <> 0),
          |ivf AS (SELECT n_probe, vec_id FROM (
          |    SELECT n_probe, vec_id, row_number() OVER (PARTITION BY n_probe ORDER BY cos DESC, vec_id) AS rk
          |    FROM cand) r WHERE rk <= 10),
          |brute AS (SELECT n.vec_id FROM n, q WHERE n.vec_id <> 0
          |  ORDER BY list_sum(list_transform(range(len(n.v)), i -> n.v[i+1]*q.qv[i+1])) / (n.nrm*q.qnrm) DESC, n.vec_id LIMIT 10)
          |SELECT CAST(n_probe AS INT) AS n_probe, CAST(COUNT(*) AS BIGINT) AS k,
          |  CAST(SUM(CASE WHEN vec_id IN (SELECT vec_id FROM brute) THEN 1 ELSE 0 END) AS BIGINT) AS n_hit,
          |  (CAST(((2000000::HUGEINT * SUM(CASE WHEN vec_id IN (SELECT vec_id FROM brute) THEN 1 ELSE 0 END) + COUNT(*)) // (2::HUGEINT * COUNT(*))) AS DOUBLE) / 1000000) AS recall
          |FROM ivf GROUP BY n_probe ORDER BY n_probe""".stripMargin)),

    QSpec("cluster_keep_policy",
      // The dedup endgame: near-dup clusters (same pairs/labels as
      // dedup_cluster) each keep their HIGHEST-QUALITY member (quality
      // argmax, doc_id tiebreak) instead of the naive min-id — at sf0.01
      // the two policies disagree on 10 of 23 multi-member clusters, so
      // the key verifies the policy, not just the clustering. One window
      // over cluster_id after a metadata-sized label join; the heavy
      // lifting (pair generation, label propagation) reuses the memoized
      // sketch passes the dedup keys already share.
      (s, dir) => {
        val docs = t(s, dir, "documents")
        // same memoized labels frame as dedup_cluster — see
        // Dedup.jaccardClustersMemo (one star-contraction pass, two keys)
        val cl = Dedup.jaccardClustersMemo(s, dir)
        val q = docs.select(col("doc_id"),
          TextAnalysis.qualityScore(col("text"), Seq("the", "a")).as("quality"))
        val w = Window.partitionBy("cluster_id")
          .orderBy(desc("quality"), asc("doc_id"))
        cl.join(q, "doc_id")
          .withColumn("rn", row_number().over(w))
          .where(col("rn") === 1)
          .select(col("cluster_id"), col("doc_id").as("kept_doc_id"),
            col("cluster_size"), col("quality").as("kept_quality"))
          .orderBy("cluster_id")
      },
      Some(
        s"""WITH RECURSIVE sh AS (
          |  SELECT doc_id, list_distinct(CASE WHEN len(sp) < 3 THEN [text]
          |    ELSE list_transform(range(1, len(sp)-1), i -> sp[i] || ' ' || sp[i+1] || ' ' || sp[i+2]) END) AS sh
          |  FROM (SELECT doc_id, text, string_split(text, ' ') AS sp
          |        FROM documents WHERE doc_id < 500) d
          |), pairs AS (
          |  SELECT a_id, b_id FROM (
          |    SELECT a.doc_id AS a_id, b.doc_id AS b_id,
          |      ROUND(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
          |        (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))), 6) AS jaccard
          |    FROM sh a, sh b WHERE a.doc_id < b.doc_id) j
          |  WHERE jaccard >= 0.2
          |), edges AS (
          |  SELECT a_id AS src, b_id AS dst FROM pairs
          |  UNION ALL SELECT b_id, a_id FROM pairs
          |), reach(id, r) AS (
          |  SELECT doc_id, doc_id FROM documents WHERE doc_id < 500
          |  UNION
          |  SELECT e.dst, reach.r FROM reach JOIN edges e ON e.src = reach.id
          |), lab AS (
          |  SELECT id AS doc_id, MIN(r) AS cluster_id FROM reach GROUP BY id
          |), sz AS (
          |  SELECT cluster_id, CAST(COUNT(*) AS BIGINT) AS cluster_size
          |  FROM lab GROUP BY cluster_id
          |), q AS (
          |  SELECT doc_id,
          |    CAST(${graft.ext.TextAnalysis.qualityMicrosSql("sp")} AS DOUBLE) / 1000000 AS quality
          |  FROM (SELECT doc_id, string_split(text, ' ') AS sp FROM documents WHERE doc_id < 500) d
          |), r AS (
          |  SELECT lab.cluster_id, lab.doc_id, sz.cluster_size, q.quality,
          |    ROW_NUMBER() OVER (PARTITION BY lab.cluster_id ORDER BY q.quality DESC, lab.doc_id) AS rn
          |  FROM lab JOIN sz USING (cluster_id) JOIN q USING (doc_id))
          |SELECT cluster_id, doc_id AS kept_doc_id, cluster_size, quality AS kept_quality
          |FROM r WHERE rn = 1 ORDER BY cluster_id""".stripMargin)))
}
