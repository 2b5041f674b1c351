package graft.ext

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** X60: byte-pair-encoding MERGE TRAINING over the corpus's pretoken
  * counts — the missing half of X56 (`pretokenize_bpe_regex` measures
  * fertility against a vocabulary the engine never built; this builds it).
  * Classic BPE (Sennrich et al. 2016, arXiv:1508.07909 — the GPT-2
  * training shape): start from pretokens as character-symbol sequences
  * weighted by pretoken frequency, repeatedly merge the highest-count
  * adjacent symbol pair (ties broken lexicographically on (left, right)),
  * emitting one merge-table row per round.
  *
  * Scale design — the reason BPE training fits a 100 TB engine at all:
  * after ONE corpus scan collapses the corpus to (pretoken, count), every
  * round works on the VOCABULARY-sized frame (the thing HF/GPT-2 trainers
  * exploit single-node; here it stays a distributed frame, so a 100M-row
  * web vocabulary never lands on the driver). Per round: one pair-count
  * aggregation (map-side combine — the pair stream collapses per mapper
  * before the O(pairs-vocab) exchange), one single-row argmax collect (the
  * merge decision is driver state by definition, like [[SimSearch]]'s
  * k-means centroids), one per-row merge application, and one O(1)-row
  * total. The vocab lineage is checkpoint-truncated every round
  * ([[Dedup.truncate]]) — the memoize-without-truncate lesson: a 10-round
  * chain would otherwise re-analyze a 10-deep plan per consumer.
  *
  * Numeric/cross-engine discipline: symbols are restricted to PRINTABLE
  * ASCII pretokens (`^[ -~]+$`, the X50 range rule) so character
  * splitting, lexicographic tie-breaks (UTF-8 binary = code-point = byte
  * order) and the merge-application replace are engine-identical; all
  * surfaced numbers are exact integer counts. Symbol sequences travel as a
  * single U+001F-delimited string (`␟sym␟␟sym␟` — the separator is
  * outside printable ASCII so it can never collide with symbol bytes, and
  * wrapping EVERY symbol in separators makes the pair pattern
  * `␟l␟␟r␟` full-symbol-anchored), and greedy left-to-right
  * non-overlapping merge application is exactly the semantics of
  * `replace` in Spark, DuckDB, and python alike — the oracle replays the
  * whole loop as chained CTEs on the same representation.
  */
object Bpe {

  /** The X56 GPT-2-shape pretokenizer (see Queries13's
    * `pretokenize_bpe_regex` for the ASCII-explicit / lookahead-free
    * rationale) — merge training runs over the same pretoken stream the
    * fertility key counts. */
  val pretokenPattern: String =
    "'s|'t|'re|'ve|'m|'ll|'d| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9 ]+| +"

  /** Unit separator: the one byte guaranteed outside every symbol. */
  private val SEP = "\u001F"
  private val SEP2 = SEP + SEP

  /** Strip the outer separators and split a symbol string back to its
    * symbol array (split's pattern is a regex, but U+001F carries no
    * metacharacters). */
  private def symbols(s: org.apache.spark.sql.Column) =
    split(s.substr(lit(2), length(s) - 2), SEP2)

  /** (pretoken, count) → wrapped single-character symbol string. */
  private def wrap(p: org.apache.spark.sql.Column) =
    concat(lit(SEP),
      array_join(regexp_extract_all(p, lit("."), lit(0)), SEP2), lit(SEP))

  /** (merge table, final (p, n_syms) vocabulary) of one training run —
    * the loop is a deterministic driver-side fold over vocab-sized jobs, so
    * the train key and the encode key (X63) share ONE run per (session,
    * corpus, nMerges) through [[graft.Memo]] instead of each paying the
    * full loop. */
  private def trained(spark: SparkSession, docs: DataFrame, nMerges: Int,
      cacheKey: Option[String]): (DataFrame, DataFrame) =
    cacheKey.fold(trainLoop(spark, docs, nMerges))(k =>
      graft.Memo(spark, s"bpe_train:$nMerges", Seq(k))(trainLoop(spark, docs, nMerges)))

  private def trainLoop(spark: SparkSession, docs: DataFrame, nMerges: Int)
      : (DataFrame, DataFrame) = {
    var vocab = Dedup.truncate(
      docs.select(explode(
          regexp_extract_all(col("text"), lit(pretokenPattern), lit(0))).as("p"))
        .where(col("p").rlike("^[ -~]+$"))
        .groupBy("p").agg(count(lit(1)).as("cnt"))
        .select(col("p"), wrap(col("p")).as("s"), col("cnt")))
    // ONE action per merge round (r14 verdict #5 — was two: argmax + total).
    // The folded identity: a round's frequency-weighted total symbol count
    // is total_r = Σ_p cnt_p · len_r(p), and the NEXT round's pair stream
    // carries cnt_p exactly (len_r(p) − 1) times per pretoken, so
    // Σ pairs_{r+1} = total_r − Σ cnt — round r+1's pair aggregation hands
    // back round r's corpus_symbols for the constant price of Σ cnt
    // (pretoken frequencies never change; ONE O(1)-row job before the
    // loop). Only the final round's total needs its own pass after the
    // loop — the loop itself runs nMerges actions, not 2·nMerges.
    val totalCnt = vocab.select(sum("cnt")).collect()(0).getLong(0)
    val merges = scala.collection.mutable.ArrayBuffer[(Int, String, String, Long)]()
    val totals = new Array[Long](nMerges)
    (1 to nMerges).foreach { rank =>
      // argmax + global pair mass in one aggregation: min of
      // struct(−pcnt, l, r) IS the (pcnt desc, l asc, r asc) top-1 (struct
      // ordering compares fields left to right; U+001F-free ASCII symbols
      // make Spark's UTF8 binary order the oracle's lexicographic order)
      val row = vocab
        .select(col("cnt"), symbols(col("s")).as("tk"))
        .where(size(col("tk")) >= 2)
        .select(col("cnt"), explode(expr(
          "transform(sequence(1, size(tk) - 1), " +
            "j -> struct(element_at(tk, j) AS l, element_at(tk, j + 1) AS r))"))
          .as("pr"))
        .groupBy(col("pr.l").as("l"), col("pr.r").as("r"))
        .agg(sum("cnt").as("pcnt"))
        .agg(min(struct((-col("pcnt")).as("np"), col("l"), col("r"))).as("top"),
          sum("pcnt").as("tp"))
        .collect()(0)
      require(!row.isNullAt(0),
        s"BPE merge round $rank: no adjacent pairs left — corpus fully merged " +
          s"before nMerges=$nMerges (lower nMerges for this corpus)")
      val top = row.getStruct(0)
      val (l, r, pcnt) = (top.getString(1), top.getString(2), -top.getLong(0))
      // this round's pair mass is the PREVIOUS round's post-merge total
      if (rank >= 2) totals(rank - 2) = row.getLong(1) + totalCnt
      vocab = Dedup.truncate(vocab.select(col("p"),
        replace(col("s"), lit(SEP + l + SEP2 + r + SEP), lit(SEP + l + r + SEP)).as("s"),
        col("cnt")))
      merges += ((rank, l, r, pcnt))
    }
    totals(nMerges - 1) = vocab
      .select(sum(col("cnt") * size(symbols(col("s")))).as("t"))
      .collect()(0).getLong(0)
    import spark.implicits._
    val table = merges.toSeq
      .map { case (rank, l, r, pcnt) => (rank, l, r, pcnt, totals(rank - 1)) }
      .toDF("merge_rank", "left_sym", "right_sym", "pair_count", "corpus_symbols")
    (table, vocab.select(col("p"), col("s"),
      size(symbols(col("s"))).as("n_syms")))
  }

  /** Train `nMerges` BPE merges over `docs.text`; returns the merge table
    * (merge_rank, left_sym, right_sym, pair_count, corpus_symbols) where
    * corpus_symbols is the frequency-weighted total symbol count AFTER
    * applying that round's merge — the compression trajectory a tokenizer
    * team actually reads off a training run. */
  def trainMerges(spark: SparkSession, docs: DataFrame, nMerges: Int,
      cacheKey: Option[String] = None): DataFrame =
    trained(spark, docs, nMerges, cacheKey)._1

  /** X63 — APPLY the trained vocabulary: per-source whitespace tokens,
    * ASCII pretokens, and the token count the `nMerges`-merge vocab
    * actually encodes the source to, with encoded-per-ws-token as the
    * post-training budget dial (X56's fertility measured the PRE-merge
    * stream; this is the number a trained tokenizer produces). Scale
    * shape: the per-source pretoken counts join the vocabulary-sized
    * (p, n_syms) frame — the encode step never touches symbol strings,
    * only multiplies counts; one grouped rollup per side, one
    * vocab-keyed join. Sources whose every pretoken is non-ASCII (outside
    * the trained range) encode to zero, kept by the left join. */
  def encodeFertility(spark: SparkSession, docs: DataFrame, nMerges: Int,
      cacheKey: Option[String] = None): DataFrame = {
    val vocabSyms = trained(spark, docs, nMerges, cacheKey)._2
    val perSource = docs
      .select(col("source"), explode(
        regexp_extract_all(col("text"), lit(pretokenPattern), lit(0))).as("p"))
      .where(col("p").rlike("^[ -~]+$"))
      .groupBy("source", "p").agg(count(lit(1)).as("cnt"))
      .join(vocabSyms, "p")
      .groupBy("source")
      .agg(sum("cnt").as("ascii_pretokens"),
        sum(col("cnt") * col("n_syms")).as("encoded_tokens"))
    docs.groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(size(split(col("text"), " ")).cast("long")).as("ws_tokens"))
      .join(perSource, Seq("source"), "left")
      .select(col("source"), col("n_docs"), col("ws_tokens"),
        coalesce(col("ascii_pretokens"), lit(0L)).as("ascii_pretokens"),
        coalesce(col("encoded_tokens"), lit(0L)).as("encoded_tokens"),
        ExactMath.ratioRounded(
          coalesce(col("encoded_tokens"), lit(0L)), col("ws_tokens"), 6)
          .as("encoded_per_ws"))
      .orderBy("source")
  }

  /** X65 — TOKENIZE the corpus under the trained vocabulary and compose
    * with the deterministic shard assignment (the `shard_manifest` hash
    * family): per document, the greedy-merge token-id sequence the trained
    * tokenizer produces, surfaced as scalar columns — token count and an
    * order-pinning polynomial hash of the id sequence — plus the murmur3
    * shard the tokenized-shard writer would route the document to. This is
    * the LAST stage of the data pipeline: X60 trains the vocabulary, X63
    * budgets with it, this key emits the ids a trainer actually ingests.
    *
    * Scale shape: tokenization is a per-document LOOKUP, not a re-merge —
    * the final vocabulary already carries every pretoken's fully-merged
    * symbol string, so encoding = pretoken stream ⋈ vocab (broadcast:
    * vocabularies are ~100k rows at any corpus size) ⋈ symbol-id table
    * (broadcast, same bound), then ONE groupBy(doc_id) whose state is a
    * single document's token list. Token ids are the 1-based rank of the
    * symbol in lexicographic order — at 100 TB the id table is an offline
    * artifact exactly like an IVF codebook, here derived in-plan from the
    * memoized training run. The hash is the exact-integer fold
    * h ← (h·131 + id) mod 1e9+7 over (pretoken_pos, symbol_pos) order
    * (every term < 2^63: h < 1e9+7, ·131 + id < 2^40), replayed by both
    * oracles; docs with zero in-range pretokens keep the empty-fold seed 7
    * so they stay visible in the manifest. */
  def tokenizeShards(spark: SparkSession, docs: DataFrame, nMerges: Int,
      nShards: Int, cacheKey: Option[String] = None): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val vocab = trained(spark, docs, nMerges, cacheKey)._2 // (p, s, n_syms)
    // the vocab-sized window is an index-build step, not a corpus window
    val symIds = graft.Memo.frame(spark, cacheKey, s"bpe_symids:$nMerges") {
      vocab.select(explode(symbols(col("s"))).as("sym")).distinct()
        .withColumn("tok_id",
          row_number().over(Window.orderBy("sym")).cast("long"))
    }
    val perDoc = docs
      .select(col("doc_id"), posexplode(
        regexp_extract_all(col("text"), lit(pretokenPattern), lit(0)))
        .as(Seq("pt_pos", "p")))
      .where(col("p").rlike("^[ -~]+$"))
      .join(broadcast(vocab.select(col("p"), col("s"))), Seq("p"))
      .select(col("doc_id"), col("pt_pos"),
        posexplode(symbols(col("s"))).as(Seq("sym_pos", "sym")))
      .join(broadcast(symIds), Seq("sym"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"),
        aggregate(
          transform(
            sort_array(collect_list(
              struct(col("pt_pos"), col("sym_pos"), col("tok_id")))),
            x => x.getField("tok_id")),
          lit(7L),
          (a, x) => (a * lit(131L) + x) % lit(1000000007L)).as("token_hash"))
    docs
      .select(col("doc_id"),
        pmod(hash(col("doc_id")), lit(nShards)).cast("int").as("shard"))
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"), col("shard"),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        coalesce(col("token_hash"), lit(7L)).as("token_hash"))
      .orderBy("doc_id")
  }

  /** X65's oracle: the same training chain, then the symbol-id table and
    * the per-doc ordered fold — DuckDB's `list(… ORDER BY pos)` +
    * `list_reduce` replay the engine's sort_array + aggregate exactly, and
    * the murmur3 shard rides [[graft.Queries.murmurCte]] (the
    * shard_manifest oracle). */
  def tokenizeShardsOracleSql(nMerges: Int, nShards: Int): String = {
    val pat = pretokenPattern.replace("'", "''")
    val sep = "chr(31)"
    val sep2 = s"$sep || $sep"
    s"""${trainCtes(nMerges)},
       |${graft.Queries.murmurCte("documents", "doc_id", 42).stripPrefix("WITH ").stripSuffix("\n")
          // the murmur chain's m1..m12 stage CTEs collide with the training
          // chain's m1..m10 merge CTEs — rename just the numeric m-stages
          // (mbase/mblk/mf0../msigned are collision-free)
          .replaceAll("\\bm([0-9]+)\\b", "mm$1")},
       |syms AS (SELECT DISTINCT unnest(string_split(s[2:length(s) - 1], $sep2)) AS sym FROM v$nMerges),
       |sid AS (SELECT sym, CAST(row_number() OVER (ORDER BY sym) AS BIGINT) AS tok_id FROM syms),
       |dpt AS (SELECT doc_id, j AS pt_pos, pts[j] AS p FROM (
       |    SELECT doc_id, pts, unnest(range(1, len(pts) + 1)) AS j FROM (
       |      SELECT doc_id, regexp_extract_all(text, '$pat') AS pts FROM documents))
       |  WHERE regexp_matches(pts[j], '^[ -~]+$$')),
       |dsym AS (SELECT doc_id, pt_pos, k AS sym_pos, tk[k] AS sym FROM (
       |    SELECT doc_id, pt_pos, tk, unnest(range(1, len(tk) + 1)) AS k FROM (
       |      SELECT d.doc_id, d.pt_pos, string_split(v.s[2:length(v.s) - 1], $sep2) AS tk
       |      FROM dpt d JOIN v$nMerges v ON d.p = v.p))),
       |dtok AS (SELECT doc_id, pt_pos, sym_pos, tok_id FROM dsym JOIN sid USING (sym)),
       |dh AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
       |    list_reduce(list_prepend(CAST(7 AS BIGINT), list(tok_id ORDER BY pt_pos, sym_pos)),
       |      (acc, c) -> (acc * 131 + c) % 1000000007) AS token_hash
       |  FROM dtok GROUP BY doc_id)
       |SELECT d.doc_id, CAST(((sh % $nShards) + $nShards) % $nShards AS INT) AS shard,
       |  CAST(COALESCE(dh.n_tokens, 0) AS BIGINT) AS n_tokens,
       |  CAST(COALESCE(dh.token_hash, 7) AS BIGINT) AS token_hash
       |FROM documents d JOIN msigned ON msigned.v = d.doc_id
       |LEFT JOIN dh ON dh.doc_id = d.doc_id
       |ORDER BY d.doc_id""".stripMargin
  }

  /** The DuckDB oracle: the WHOLE training loop replayed as `nMerges`
    * chained CTE blocks over the identical U+001F representation (the
    * doc_quality_logreg replayed-chained-CTE discipline) — an independent
    * second implementation, not a dump of the engine's answer. */
  /** The chained training CTEs shared by both oracles: `pre` → `v0` …
    * `v$nMerges` (each carrying the pretoken `p`, its U+001F symbol string
    * `s`, and `cnt`), plus per-round `p$i`/`m$i`/`t$i`. */
  private def trainCtes(nMerges: Int): String = {
    // '' doubles the quotes for SQL embedding of the pretoken pattern
    val pat = pretokenPattern.replace("'", "''")
    val sep = "chr(31)"
    val sep2 = s"$sep || $sep"
    val header =
      s"""WITH pre AS (SELECT u.p AS p FROM (
         |    SELECT unnest(regexp_extract_all(text, '$pat')) AS p FROM documents) u
         |  WHERE regexp_matches(u.p, '^[ -~]+$$')),
         |v0 AS (SELECT p, $sep || array_to_string(regexp_extract_all(p, '.'), $sep2) || $sep AS s,
         |    CAST(COUNT(*) AS BIGINT) AS cnt FROM pre GROUP BY p)""".stripMargin
    val rounds = (1 to nMerges).map { i =>
      val prev = s"v${i - 1}"
      s"""p$i AS (SELECT tk[j] AS l, tk[j + 1] AS r, SUM(cnt) AS pcnt FROM (
         |    SELECT tk, cnt, unnest(range(1, len(tk))) AS j FROM (
         |      SELECT string_split(s[2:length(s) - 1], $sep2) AS tk, cnt FROM $prev))
         |  GROUP BY 1, 2),
         |m$i AS (SELECT l, r, pcnt FROM p$i ORDER BY pcnt DESC, l, r LIMIT 1),
         |v$i AS (SELECT p, replace(s, $sep || l || $sep2 || r || $sep,
         |    $sep || l || r || $sep) AS s, cnt FROM $prev, m$i),
         |t$i AS (SELECT SUM(cnt * len(string_split(s[2:length(s) - 1], $sep2))) AS total FROM v$i)""".stripMargin
    }.mkString(",\n")
    s"$header,\n$rounds"
  }

  /** The DuckDB oracle: the WHOLE training loop replayed as `nMerges`
    * chained CTE blocks over the identical U+001F representation (the
    * doc_quality_logreg replayed-chained-CTE discipline) — an independent
    * second implementation, not a dump of the engine's answer. */
  def trainMergesOracleSql(nMerges: Int): String = {
    val rows = (1 to nMerges).map { i =>
      s"SELECT CAST($i AS INT) AS merge_rank, l AS left_sym, r AS right_sym, " +
        s"CAST(pcnt AS BIGINT) AS pair_count, " +
        s"CAST((SELECT total FROM t$i) AS BIGINT) AS corpus_symbols FROM m$i"
    }.mkString("\nUNION ALL\n")
    s"${trainCtes(nMerges)}\n$rows\nUNION ALL\n${oracleGuardArm(nMerges,
      "CAST(NULL AS INT), error('BPE oracle: corpus fully merged before " +
        s"nMerges=$nMerges — the engine aborts loudly here; the oracle must " +
        "not return a truncated merge table'), CAST(NULL AS VARCHAR), " +
        "CAST(NULL AS BIGINT), CAST(NULL AS BIGINT)")}\nORDER BY merge_rank"
  }

  /** Failure-parity guard (r14 advice item 4): the engine's trainLoop
    * THROWS when the corpus fully merges before `nMerges`, but an empty
    * p$i would silently empty every later CTE in the oracle's chain and
    * return a truncated merge table. This zero-row-when-healthy UNION arm
    * fires DuckDB's error() exactly when the LAST round's argmax CTE is
    * empty (any earlier round emptying cascades into it), so an
    * oracle-only run fails loudly like the engine instead of diverging.
    * error() is evaluated per-row at runtime — with the WHERE false it
    * emits nothing and is never constant-folded (verified against the
    * driver's DuckDB). */
  private def oracleGuardArm(nMerges: Int, nullRow: String): String =
    s"SELECT $nullRow WHERE (SELECT COUNT(*) FROM m$nMerges) = 0"

  /** X63's oracle: the same training chain, then the per-source encode
    * rollup against the final vocabulary `v$nMerges`. */
  def encodeFertilityOracleSql(nMerges: Int): String = {
    val pat = pretokenPattern.replace("'", "''")
    val sep = "chr(31)"
    val sep2 = s"$sep || $sep"
    s"""${trainCtes(nMerges)},
       |vs AS (SELECT p, len(string_split(s[2:length(s) - 1], $sep2)) AS n_syms FROM v$nMerges),
       |pre2 AS (SELECT source, u.p AS p FROM (
       |    SELECT source, unnest(regexp_extract_all(text, '$pat')) AS p FROM documents) u
       |  WHERE regexp_matches(u.p, '^[ -~]+$$')),
       |sc AS (SELECT source, p, CAST(COUNT(*) AS BIGINT) AS cnt FROM pre2 GROUP BY 1, 2),
       |enc AS (SELECT source, SUM(cnt) AS ascii_pretokens,
       |    SUM(cnt * n_syms) AS encoded_tokens FROM sc JOIN vs USING (p) GROUP BY source),
       |ws AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
       |    CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS ws_tokens
       |  FROM documents GROUP BY source)
       |SELECT ws.source AS source, n_docs, ws_tokens,
       |  CAST(COALESCE(ascii_pretokens, 0) AS BIGINT) AS ascii_pretokens,
       |  CAST(COALESCE(encoded_tokens, 0) AS BIGINT) AS encoded_tokens,
       |  ${ExactMath.ratioRoundedSql("COALESCE(encoded_tokens, 0)", "ws_tokens", 6)} AS encoded_per_ws
       |FROM ws LEFT JOIN enc ON ws.source = enc.source
       |UNION ALL
       |${oracleGuardArm(nMerges,
          "error('BPE oracle: corpus fully merged before nMerges=" + nMerges +
            " — refusing to encode against a truncated vocabulary'), " +
            "CAST(NULL AS BIGINT), CAST(NULL AS BIGINT), " +
            "CAST(NULL AS BIGINT), CAST(NULL AS BIGINT), CAST(NULL AS DOUBLE)")}
       |ORDER BY source""".stripMargin
  }
}
