package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Winnowing fingerprint selection (Schleimer, Wilkerson, Aiken, SIGMOD
  * 2003) — the shared core of the `fingerprint_winnowing` key (X55) and
  * its randomized PropertySpec guarantee check. See Queries13.scala for
  * the operator-level contract and scale commentary.
  */
object Winnow {

  /** Distinct winnowed fingerprints per doc: one row (doc_id, source, fp)
    * per distinct window-minimum of the doc's `k`-token shingle polyhash
    * stream under a `w`-hash winnowing window. Docs shorter than w hashes
    * keep position 0's truncated window (min of all hashes), so every doc
    * carries ≥ 1 fingerprint. Guarantee: any shared token run of
    * ≥ w + k − 1 tokens yields a shared fp VALUE on both sides. */
  def fingerprintFrame(docs: DataFrame, k: Int = 4, w: Int = 4): DataFrame = {
    val h = docs
      .select(col("doc_id"), col("source"),
        Sketches.shingleHashes(col("text"), k).as("hl"))
      .select(col("doc_id"), col("source"),
        posexplode(col("hl")).as(Seq("pos", "h")))
    val byDoc = Window.partitionBy("doc_id")
    val winfrm = Window.partitionBy("doc_id").orderBy("pos")
      .rowsBetween(Window.currentRow, w - 1)
    h.withColumn("n", count(lit(1)).over(byDoc))
      .withColumn("wmin", min("h").over(winfrm))
      .where(col("pos") <= greatest(lit(0L), col("n") - w))
      .select(col("doc_id"), col("source"), col("wmin").as("fp"))
      .distinct()
  }

  /** [[fingerprintFrame]] materialized through Memo.frame keyed by the corpus
    * dir: the index feeds BOTH `fingerprint_winnowing` (the audit rollup)
    * and [[matchSpans]] (candidate pairs) — without the memo each key
    * re-runs the shingle+winnow pass over the full corpus (the
    * shared-frame discipline of Dedup.memoizedSignatures). */
  def fingerprintFrameMemo(spark: org.apache.spark.sql.SparkSession,
      dir: String, docs: DataFrame, k: Int = 4, w: Int = 4): DataFrame =
    graft.Memo.frame(spark, Some(dir), s"winnow_fp:$k:$w") {
      fingerprintFrame(docs, k, w)
    }

  /** Fingerprint-verified maximal shared token runs — the operator-level
    * core of `winnow_match_spans` (X57) and `dedup_span_removal` (X58);
    * see Queries13.scala for the full contract and scale commentary.
    * Returns one row (a_id, b_id, a_start, b_start, run_tokens) per
    * maximal shared run of ≥ `minRun` tokens between docs sharing a
    * winnowed fingerprint with document frequency in [2, dfCap], with
    * a_id < b_id; UNORDERED (declared keys sort). Memoized per
    * (session, dir) — the span frame feeds both the audit key and the
    * removal key. */
  def matchSpans(spark: org.apache.spark.sql.SparkSession, dir: String,
      docs: DataFrame, k: Int = 4, w: Int = 4, minRun: Int = 7,
      dfCap: Int = 16): DataFrame =
    graft.Memo.frame(spark, Some(dir), s"winnow_spans:$k:$w:$minRun:$dfCap") {
      val fp = fingerprintFrameMemo(spark, dir, docs, k, w)
        .select("doc_id", "fp")
      val fpOk = fp.groupBy("fp").agg(count(lit(1)).as("df"))
        .where(col("df") >= 2 && col("df") <= dfCap)
        .select("fp")
      val cand = fp.join(fpOk, "fp")
      val pairs = cand.select(col("fp"), col("doc_id").as("a_id"))
        .join(cand.select(col("fp"), col("doc_id").as("b_id")), "fp")
        .where(col("a_id") < col("b_id"))
        .select("a_id", "b_id").distinct()
      // Memo.frame: the positional gram frame feeds BOTH verification join
      // sides (a and b) — unmaterialized, the shingle+hash pass runs
      // twice (the memoizedSignatures double-compute trap; measured 2×
      // the key at sf1); persisted once, both sides read it
      val grams = graft.Memo.frame(spark, Some(dir), s"winnow_grams:$k:$minRun") {
        // opt-r15: positional per-window xxhash64 in ONE codegen pass —
        // the former shingles() + posexplode + xxhash64(g) materialized
        // every window string only to hash it (values bit-identical:
        // ShingleHashes == transform(shingles, xxhash64), positions kept)
        docs
          .select(col("doc_id"), Dedup.shingleHashes64(col("text"), k).as("gs"))
          .where(size(col("gs")) >= minRun - k + 1)
          .select(col("doc_id"), posexplode(col("gs")).as(Seq("p", "gh")))
      }
      val pts = pairs
        .join(grams.select(col("doc_id").as("a_id"), col("p").as("pa"), col("gh")),
          Seq("a_id"))
        .join(grams.select(col("doc_id").as("b_id"), col("p").as("pb"), col("gh")),
          Seq("b_id", "gh"))
        .withColumn("diag", col("pb") - col("pa"))
      val byDiag = Window.partitionBy("a_id", "b_id", "diag").orderBy("pa")
      pts
        .withColumn("brk",
          when(col("pa") - lag("pa", 1).over(byDiag) === 1, 0L).otherwise(1L))
        .withColumn("seg", sum("brk").over(byDiag.rowsBetween(
          Window.unboundedPreceding, Window.currentRow)))
        .groupBy("a_id", "b_id", "diag", "seg")
        .agg(min("pa").as("a_start"), min("pb").as("b_start"),
          (count(lit(1)) + (k - 1)).as("run_tokens"))
        .where(col("run_tokens") >= minRun)
        .select(col("a_id"), col("b_id"),
          col("a_start").cast("int").as("a_start"),
          col("b_start").cast("int").as("b_start"),
          col("run_tokens"))
    }

  /** Distinct covered token positions of each LATER doc under the
    * keep-first policy (Lee et al., arXiv:2107.06499: the duplicated
    * substring is removed from the later occurrence): one (doc_id, pos)
    * row per token position inside any of the doc's b-side verified runs —
    * the union over runs, so overlapping runs on different diagonals never
    * double-count a position. Shared by `dedup_span_removal` (attrition
    * accounting) and `dedup_span_clean` (cleaned-corpus emission);
    * memoized so the explode+distinct runs once per (session, dir). The
    * position explode is bounded by covered-token count ≤ doc length. */
  def coveredPositions(spark: org.apache.spark.sql.SparkSession, dir: String,
      docs: DataFrame, k: Int = 4, w: Int = 4, minRun: Int = 7,
      dfCap: Int = 16): DataFrame =
    graft.Memo.frame(spark, Some(dir), s"winnow_cov:$k:$w:$minRun:$dfCap") {
      matchSpans(spark, dir, docs, k, w, minRun, dfCap)
        .select(col("b_id").as("doc_id"),
          explode(sequence(col("b_start").cast("long"),
            col("b_start").cast("long") + col("run_tokens") - 1L)).as("pos"))
        .distinct()
    }
}
