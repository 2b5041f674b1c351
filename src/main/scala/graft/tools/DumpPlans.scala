package graft.tools

import org.apache.spark.sql.execution.FormattedMode

/** Dev tool: dump formatted physical plans, built on the [[graft.GraftSession]]
  * configuration at sf0.001 (`SPARK_GRAFT_SF_DIR` overrides; plan shape is
  * scale-independent apart from AQE runtime stats), so plan quality
  * (pushdown, pruning, broadcast, codegen spans) is reviewable without
  * running anything.
  *
  * Usage:
  *   sbt "runMain graft.tools.DumpPlans"  — representative queries → PLANS.md
  *   sbt "runMain graft.tools.DumpPlans <outDir> <suffix> k1,k2,..."
  *     — one file per key, <outDir>/<key>_<suffix>.txt, so before/after plan
  *     evidence can be committed beside optimization notes
  *     (e.g. `plans/r15 before q18_large_orders,q21_waiting`)
  */
object DumpPlans {
  private val picks = Seq(
    "q1_agg" -> "flagship aggregate — pruned scan, partial/final hash agg, codegen",
    "filter_conjunctive" -> "pushed filters reach the parquet scan",
    "join_broadcast_left" -> "explicit broadcast dimension join",
    "window_topn_per_view" -> "single window + rank filter",
    "simsearch_topk" -> "broadcast query vector, codegen VectorDot, TakeOrdered",
    "agg_weighted_frequency" -> "metadata union + broadcast ref join + hash agg",
    "q5_region" -> "6-way join: broadcast dims, shuffled fact joins, AQE",
    "simsearch_ivf" -> "IVF probe: literal centroids + literal query vector — single scan, cluster-pruned, no join",
    "simjoin_exact" -> "capped exact self-join: vec_id bound pushed to both scan sides",
    "corpus_curate" -> "curation composite: scan-stage predicates, sha2 dedup shuffle, left-semi keeper join",
    "pack_sequences" -> "per-shard window running sum — one shuffle on the shard key, no global sort",
    "decontaminate_ngram" -> "eval-shingle broadcast LEFT SEMI — contamination check with no corpus-sized shuffle",
    "simsearch_quant" -> "int8-quantized brute top-k: codegen quantize + VectorDot, broadcast query codes",
    "join_bucketed_colocated" -> "bucketed saveAsTable join — co-located, no exchange under the join (AQE may broadcast at fixture scale)",
    "chunk_overlap" -> "overlapping window chunking — generate+explode inside one codegen stage, zero Exchange",
    "chunk_cdc" -> "content-defined chunking — one-pass ShingleHashPoly kernel feeds the per-doc boundary window",
    "span_dup_fraction" -> "cross-doc span duplication — count-over-window on 64-bit shingle hashes, no join, linear in corpus",
    "q19_disjunctive" -> "OR-of-ANDs across join sides — pushed equi-key join, disjunction as post-join filter, no cross product",
    "q21_waiting" -> "double EXISTS/NOT-EXISTS decorrelated to per-order distinct counts — no correlated re-scan",
    "token_cooccurrence" -> "±4-token windowed co-occurrence — pair generation is an equi-join on (doc_id, pos), fan-out k×tokens, never vocabulary²",
    "decontaminate_embedding" -> "semantic decontamination — eval side broadcast (norms precomputed), one corpus scan, shuffle only for the per-label rollup",
    "ngram_topk" -> "corpus top trigrams — per-row transform, partial-heap TakeOrderedAndProject, no global sort",
    "cohort_retention" -> "cohort matrix — distinct pairs, window over user partition (no self-join), cell rollup",
    "cdc_merge_upsert" -> "latest-wins keyed merge — ONE shuffle by the merge key serves both windows",
    "embedding_abtt" -> "all-but-the-top retrieval — codegen HOF transform vs literal mean/direction, broadcast-query TakeOrdered",
    "shard_manifest" -> "export planning — murmur3 shard assignment, O(shards) groups, broadcast totals for the balance ratio",
    "kmeans_iterate" -> "E-step literal-centroid assignment (codegen VectorDot, post-r10 fix it COMPILES non-nullable), M-step O(k×dim) shuffle",
    "doc_quality_logreg" -> "learned quality filter surface — one feature scan feeds the rounded-margin accuracy aggregate, weights as a 4-row literal cross-joined broadcast",
    "mixture_epochs" -> "token-budget planning — O(sources) groups, two broadcast scalar stages, decimal(38,0) allocation arithmetic, zero data-proportional shuffles",
    "simsearch_hamming" -> "binary-code retrieval — SignPack+XOR+popcount fused in one codegen scan, TakeOrdered(50) candidates, exact re-rank post-limit",
    "simsearch_matryoshka" -> "prefix-dim retrieval — 32-of-64-dim codegen dot, integer-micro stage-1 TakeOrdered(100), full-dim re-rank post-limit",
    "drift_ks" -> "two-sample KS — one grouped count, window over DISTINCT lengths only, decimal cross-multiplied gaps, TakeOrdered(1)",
    "dedup_exact_normalized" -> "normalization-aware dedup — NFC+casefold+collapse feed sha2 in the scan stage, digest-only shuffle",
    "fingerprint_winnowing" -> "winnowed fingerprint index — text dropped at the first projection, per-doc min-window rides the doc_id shuffle, global min-doc/df is ONE window by fingerprint (no pair join)",
    "bloom_partition_index" -> "partition Bloom index — one scan, (month,key) distinct map-side combined, ×k bit explode on DISTINCT keys only, single month rollup, no join",
    "decontaminate_eval" -> "per-doc decontamination manifest — eval shingle set broadcast, train side one scan → explode → broadcast-hash probe → map-side-combined per-doc fold",
    "range_partition_bounds" -> "adaptive range bounds — two-level cumsum: the only global window rides the coarse-group subtotal frame, per-key cumsum partitioned by group, offsets broadcast back")

  def main(args: Array[String]): Unit = {
    require(args.isEmpty || args.length == 3, "usage: DumpPlans [<outDir> <suffix> k1,k2,...]")
    val spark = graft.GraftSession("DumpPlans", "4")
    spark.sparkContext.setLogLevel("ERROR")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    def plan(name: String): String =
      graft.Queries.queries(name)(spark, sfDir).queryExecution.explainString(FormattedMode)
    if (args.isEmpty) {
      val md = new StringBuilder
      md.append("# PLANS — formatted physical plans of representative queries\n\n")
      md.append("Generated by `graft.tools.DumpPlans` at sf0.001 (plans are\n")
      md.append("scale-independent apart from AQE runtime stats). What to look\n")
      md.append("for: `PushedFilters`/`ReadSchema` on scans, `BroadcastHashJoin`\n")
      md.append("for dimension joins, codegen `*(n)` prefixes, single Exchange\n")
      md.append("per aggregation.\n")
      picks.foreach { case (name, note) =>
        md.append(s"\n## $name — $note\n\n```\n${plan(name)}```\n")
      }
      java.nio.file.Files.writeString(java.nio.file.Paths.get("PLANS.md"), md.toString)
      println(s"wrote PLANS.md (${md.length} chars)")
    } else {
      val outDir = java.nio.file.Paths.get(args(0))
      java.nio.file.Files.createDirectories(outDir)
      args(2).split(",").map(_.trim).filter(_.nonEmpty).foreach { name =>
        if (!graft.Queries.queries.contains(name))
          System.err.println(s"[dumpplans] unknown key: $name")
        else {
          val out = outDir.resolve(s"${name}_${args(1)}.txt")
          val txt = plan(name)
          java.nio.file.Files.writeString(out, txt)
          println(s"wrote $out (${txt.length} chars)")
        }
      }
    }
    spark.stop()
  }
}
