package graft.ext

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** X1/X2: document deduplication family for training-data pipelines.
  *
  * Scale design notes:
  *  - exact: hash-groupBy on the text (or its sha2) — one shuffle, map-side
  *    combine; at 100 TB group on sha2(text) so shuffle keys are 32 bytes,
  *    not document bodies.
  *  - minhash: per-doc signature (narrow, one pass), explode to (band,
  *    bucket) keys, shuffle groups only docs sharing a band bucket —
  *    candidate pairs ≪ n²; exact Jaccard re-check on candidates only.
  *  - simhash: 64-bit signature per doc from token hashes; near-dup iff
  *    hamming distance ≤ k on band-bucketed candidates.
  */
object Dedup {

  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** Per-round lineage truncation for iterative loops — materializes the
    * round AND cuts the logical plan back to a leaf (see
    * [[starContractionLabels]] for why that is load-bearing).
    *
    * Mechanism selection (cluster posture): `localCheckpoint` blocks live
    * in executor storage and DIE WITH THEIR EXECUTOR — fine on local[n],
    * fatal mid-loop under dynamic allocation or preemption. When the
    * context has a reliable checkpoint dir (`sc.setCheckpointDir`, e.g.
    * HDFS/S3), rounds are written there instead, surviving executor loss
    * at the cost of a filesystem round-trip per round. Override with
    * `spark.graft.iterative.reliableCheckpoint = true|false|auto`
    * (runtime conf; auto = reliable iff a checkpoint dir is set).
    *
    * Reliable-mode mechanics: the round is persisted BEFORE
    * `checkpoint(eager)` — the eager materialization populates the cache
    * and the checkpoint write then reads from it; unpersisted, Spark runs
    * the plan twice (once to count, once to write the files). The cache is
    * dropped right after. CHECKPOINT FILE LIFETIME: Spark only deletes
    * reliable checkpoint files for garbage-collected RDDs when
    * `spark.cleaner.referenceTracking.cleanCheckpoints=true` (a STARTUP
    * conf, default false) — set it on any cluster running deep clustering
    * loops, or the ~log₂(n) per-loop round files accumulate in the
    * checkpoint dir until application exit. */
  private[graft] def truncate(df: DataFrame): DataFrame = {
    val sess = df.sparkSession
    val dirSet = sess.sparkContext.getCheckpointDir.isDefined
    val reliable =
      sess.conf.get("spark.graft.iterative.reliableCheckpoint", "auto") match {
        case "true"  =>
          require(dirSet, "spark.graft.iterative.reliableCheckpoint=true " +
            "requires sparkContext.setCheckpointDir")
          true
        case "false" => false
        case _       => dirSet
      }
    if (reliable) {
      val cached = df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try cached.checkpoint(true) finally { cached.unpersist(); () }
    } else df.localCheckpoint(true)
  }

  /** [[truncate]] for a frame whose caller runs an action on it
    * IMMEDIATELY (the iterative-loop convergence counts): on the local
    * path the checkpoint is lazy, so the caller's own action does the
    * materializing — one job per loop round instead of two (opt-r15;
    * measured on the star-contraction loop, which runs checkpoint+count
    * per round). Lineage truncation is identical once materialized.
    * Reliable-checkpoint mode keeps the eager [[truncate]]: its
    * persist/checkpoint/unpersist lifecycle requires the materialization
    * to happen while the persist is live. */
  private[graft] def truncateBeforeAction(df: DataFrame): DataFrame = {
    val sess = df.sparkSession
    val dirSet = sess.sparkContext.getCheckpointDir.isDefined
    val reliable =
      sess.conf.get("spark.graft.iterative.reliableCheckpoint", "auto") match {
        case "true"  => true
        case "false" => false
        case _       => dirSet
      }
    if (reliable) truncate(df) else df.localCheckpoint(false)
  }

  /** Exact dedup keyed on content hash: keeps min(doc_id) per text. */
  def exact(docs: DataFrame): DataFrame =
    docs.groupBy(sha2(col("text"), 256).as("text_hash"))
      .agg(min("doc_id").as("doc_id"), count(lit(1)).as("dup_count"))
      .select("doc_id", "dup_count")

  /** Word-shingle array (w consecutive tokens joined). opt-r15: runs as the
    * one-pass codegen [[graft.functions.ShingleArray]] kernel — the former
    * `transform(sequence(…), i -> concat_ws(" ", slice(toks, i, w)))` form
    * evaluated the per-window lambda INTERPRETED (HOFs are CodegenFallback)
    * and allocated every window string; bit-identical (ShinglerSpec pins
    * the HOF form as the executable spec). */
  def shingles(text: Column, w: Int): Column = {
    import org.apache.spark.sql.GraftColumnBridge
    GraftColumnBridge.column(
      graft.functions.ShingleArray(GraftColumnBridge.expression(text), w))
  }

  /** `array_distinct(shingles(text, w))` as one codegen pass (opt-r15). */
  def distinctShingles(text: Column, w: Int): Column = {
    import org.apache.spark.sql.GraftColumnBridge
    GraftColumnBridge.column(
      graft.functions.DistinctShingles(GraftColumnBridge.expression(text), w))
  }

  /** `transform(array_distinct(shingles(text, w)), xxhash64)` as one
    * codegen pass — dedup on string identity, then one xxhash64 per
    * distinct window; no shingle strings ever materialize (opt-r15). */
  def distinctShingleHashes(text: Column, w: Int): Column = {
    import org.apache.spark.sql.GraftColumnBridge
    GraftColumnBridge.column(
      graft.functions.DistinctShingleHashes(GraftColumnBridge.expression(text), w))
  }

  /** `transform(shingles(text, w), xxhash64)` — positional per-window
    * hashes for the winnowing verification frame (opt-r15). */
  def shingleHashes64(text: Column, w: Int): Column = {
    import org.apache.spark.sql.GraftColumnBridge
    GraftColumnBridge.column(
      graft.functions.ShingleHashes(GraftColumnBridge.expression(text), w))
  }

  /** `size(array_distinct(shingles(text, w)))` with zero materialization
    * (opt-r15; Gopher duplicate-bigram rule / repetition ratio). */
  def distinctShingleCount(text: Column, w: Int): Column = {
    import org.apache.spark.sql.GraftColumnBridge
    GraftColumnBridge.column(
      graft.functions.DistinctShingleCount(GraftColumnBridge.expression(text), w))
  }

  /** MinHash signature: each shingle string is hashed ONCE to a 64-bit
    * value; the k hash functions are cheap seeded re-mixes of that long
    * (xxhash64(h, i)) — 10× cheaper than re-hashing the string k times,
    * same LSH property. The k-minima pass runs as the codegen'd
    * [[graft.functions.MinHashSig]] kernel (bit-identical to the former
    * k-fold HOF form, one pass instead of k interpreted folds). */
  def minhashSignature(sh: Column, k: Int): Column = {
    import org.apache.spark.sql.GraftColumnBridge
    GraftColumnBridge.column(
      graft.functions.MinHashSig(GraftColumnBridge.expression(sh), k))
  }

  /** MinHash signature over the polynomial prime-field family — same
    * codegen single-pass shape as [[minhashSignature]], but every step is
    * plain modular arithmetic, so the DuckDB oracle replays the signature
    * (and therefore the banding candidates and the final pair set) exactly.
    * This is what upgrades `dedup_minhash` from a rows-only check to a full
    * hash-compared oracle. */
  def minhashPolySignature(sh: Column, k: Int): Column = {
    import org.apache.spark.sql.GraftColumnBridge
    GraftColumnBridge.column(
      graft.functions.MinHashPolySig(GraftColumnBridge.expression(sh), k))
  }

  /** LSH band→bucket projection of a signature frame (`doc_id`, `sig`):
    * one (doc_id, band, bucket, bslice) row per band, bucket = xxhash64 of
    * the band's signature slice, `bslice` = the raw slice itself. THE
    * banding rule — shared by the batch candidate join ([[minhashNearDups]])
    * and the streaming near-dup flagger (graft.streaming.StreamingUsage),
    * so the two can never use different bucket families.
    *
    * The candidate joins shuffle/equi-join on the 8-byte `bucket` and then
    * require `bslice` equality on the matched rows: shuffle keys stay
    * scalar-cheap, while an xxhash64 collision (two different slices, one
    * bucket) can no longer smuggle in a spurious candidate — candidate
    * membership is exactly raw-slice equality, which is what the DuckDB
    * twins replay. (The streaming flagger keys its state by (band, bucket)
    * alone; it is an approximate early-warning flag and documents the
    * hash-bucket semantics.) */
  def bandedBuckets(sh: DataFrame, k: Int, rows: Int): DataFrame = {
    val nBands = k / rows
    sh.select(col("doc_id"),
      posexplode(transform(sequence(lit(0), lit(nBands - 1)),
        b => struct(b.as("band"),
          xxhash64(slice(col("sig"), b * rows + 1, lit(rows))).as("bucket"),
          slice(col("sig"), b * rows + 1, lit(rows)).as("bslice")))))
      .select(col("doc_id"), col("col.band"), col("col.bucket"), col("col.bslice"))
  }

  /** Distinct candidate pairs (a_id < b_id) from a [[bandedBuckets]] frame:
    * equi-join on (band, bucket), then exact raw-slice equality. */
  def bandCandidates(banded: DataFrame): DataFrame = {
    val a = banded.select(col("band"), col("bucket"),
      col("doc_id").as("a_id"), col("bslice").as("bslice_a"))
    val b = banded.select(col("band"), col("bucket"),
      col("doc_id").as("b_id"), col("bslice").as("bslice_b"))
    a.join(b, Seq("band", "bucket"))
      .where(col("a_id") < col("b_id") && col("bslice_a") === col("bslice_b"))
      .select("a_id", "b_id").distinct()
  }

  /** (doc_id, sig) signature frame for [[bandedBuckets]] — the sketch pass
    * shared with the streaming flagger (no memoization; streaming callers
    * build it per micro-batch over batch-sized input). */
  def signatureFrame(docs: DataFrame, shingleW: Int, k: Int): DataFrame =
    docs.select(col("doc_id"),
      distinctShingles(col("text"), shingleW).as("sh"))
      .withColumn("sig", minhashPolySignature(col("sh"), k))

  /** [[signatureFrame]] materialized through Memo.frame: the k-aggregate
    * signature projection typically feeds several branches (band self-join
    * sides, verification joins, recall audits); without materialization
    * Catalyst inlines it into each branch and recomputes it ~10× —
    * measured 61 s vs 4 s on sf0.1. With a cacheKey, repeated builds over
    * the same corpus share ONE persisted sketch; at cluster scale this is
    * the classic "materialize the sketch pass" step. */
  def memoizedSignatures(spark: SparkSession, docs: DataFrame, shingleW: Int,
      k: Int, cacheKey: Option[String]): DataFrame =
    graft.Memo.frame(spark, cacheKey, s"minhash_sh:$shingleW:$k",
      persistUnkeyed = true) {
      signatureFrame(docs, shingleW, k)
    }

  /** Injective group key of a distinct-shingle-set array: sha2 over a
    * LENGTH-PREFIXED join — a separator-only join could be spoofed by a
    * token containing the separator; with each element prefixed by its
    * length, equal keys mean equal arrays short of a SHA-256 collision
    * (the corpus_curate dedup contract). */
  private def shingleSetKey(sh: Column): Column = {
    // opt-r15: one-pass codegen digest — the HOF form ran interpreted and
    // allocated a length-prefixed copy of every shingle plus the joined
    // string per doc (ShinglerSpec pins bit-equality to that form)
    import org.apache.spark.sql.GraftColumnBridge
    GraftColumnBridge.column(
      graft.functions.ShingleSetKey(GraftColumnBridge.expression(sh)))
  }

  /** Distinct-shingle-set pre-collapse (r14 — the r13 `dedup_simhash`
    * discipline applied to the minhash family): exact-duplicate texts
    * (identical distinct-shingle SETS — what a crawl's clone mass is by
    * construction, and what the sf1 stress fixture plants 10 copies of)
    * carry identical signatures, band slices, and Jaccard against EVERY
    * partner, so banding + verifying them individually does clique² work
    * to rediscover facts group membership already states. One rep row
    * (min doc_id) per distinct set rides the banding; [[minhashNearDups]]
    * expands members arithmetically afterwards. Returns
    * (gkey, rid, gsz, sh, sig). */
  def groupedSignatures(spark: SparkSession, docs: DataFrame, shingleW: Int,
      k: Int, cacheKey: Option[String]): DataFrame =
    graft.Memo.frame(spark, cacheKey, s"minhash_grp:$shingleW:$k",
      persistUnkeyed = true) {
      memoizedSignatures(spark, docs, shingleW, k, cacheKey)
        .withColumn("gkey", shingleSetKey(col("sh")))
        .groupBy("gkey")
        // sh/sig are group-constant (identical arrays), so first() is
        // deterministic in VALUE; the rep id is the group minimum
        .agg(min("doc_id").as("rid"), count(lit(1)).as("gsz"),
          first("sh").as("sh"), first("sig").as("sig"))
    }

  /** (doc_id, gkey) membership of [[groupedSignatures]]'s groups. */
  def signatureMembers(spark: SparkSession, docs: DataFrame, shingleW: Int,
      k: Int, cacheKey: Option[String]): DataFrame =
    graft.Memo.frame(spark, cacheKey, s"minhash_mem:$shingleW:$k",
      persistUnkeyed = true) {
      memoizedSignatures(spark, docs, shingleW, k, cacheKey)
        .select(col("doc_id"), shingleSetKey(col("sh")).as("gkey"))
    }

  /** Verified near-dup REP pairs (ga, gb, jaccard) over the collapsed
    * groups: banding + exact-Jaccard verification runs on one row per
    * distinct shingle set — clone masses cost d² (d = distinct sets, which
    * SATURATES as clones accumulate), never n². Shared by
    * [[minhashNearDups]] (which expands to the full pair list — the pair
    * LIST is that key's output) and the cluster key (which only needs
    * connectivity and expands to rep→member star edges instead). */
  def minhashRepPairs(spark: SparkSession, docs: DataFrame, shingleW: Int,
      k: Int, rows: Int, threshold: Double,
      cacheKey: Option[String]): DataFrame = {
    val grp = groupedSignatures(spark, docs, shingleW, k, cacheKey)
    val repSh = grp.select(col("rid").as("doc_id"), col("sh"), col("sig"))
    // band join carries only (band, bucket, slice, rep_id) — shingle arrays
    // would multiply the shuffle by the document size; they're joined back
    // onto the (small) candidate-pair set for verification instead.
    bandCandidates(bandedBuckets(repSh, k, rows))
      .join(grp.select(col("rid").as("a_id"), col("sh").as("sha"),
        col("gkey").as("ga")), Seq("a_id"))
      .join(grp.select(col("rid").as("b_id"), col("sh").as("shb"),
        col("gkey").as("gb")), Seq("b_id"))
      .withColumn("inter", size(array_intersect(col("sha"), col("shb"))))
      .withColumn("jaccard", round(col("inter") /
        (size(col("sha")) + size(col("shb")) - col("inter")), 6))
      .where(col("jaccard") >= threshold)
      .select("ga", "gb", "a_id", "b_id", "jaccard")
  }

  /** Candidate pairs via LSH banding: signature split into bands of `rows`
    * hashes; docs sharing any band bucket become candidates; candidates are
    * verified with exact shingle-set Jaccard. Returns
    * (a_id, b_id, jaccard) with a_id < b_id and jaccard ≥ threshold.
    *
    * Output is IDENTICAL to the former band-all-docs form (so the raw-doc
    * DuckDB oracle is untouched), derived through the [[groupedSignatures]]
    * collapse: a within-group pair has identical signatures (always a
    * candidate) and Jaccard exactly 1 ≥ any threshold ≤ 1, so it emits
    * arithmetically; a cross-group pair is a candidate iff its REPS share
    * a band slice (signatures are group-level facts) and carries the reps'
    * Jaccard verbatim. */
  def minhashNearDups(spark: SparkSession, docs: DataFrame, shingleW: Int = 3,
      k: Int = 20, rows: Int = 4, threshold: Double = 0.7,
      cacheKey: Option[String] = None): DataFrame = {
    val mem = signatureMembers(spark, docs, shingleW, k, cacheKey)
    val cross = minhashRepPairs(spark, docs, shingleW, k, rows, threshold, cacheKey)
      .select("ga", "gb", "jaccard")
      .join(mem.select(col("gkey").as("ga"), col("doc_id").as("x")), Seq("ga"))
      .join(mem.select(col("gkey").as("gb"), col("doc_id").as("y")), Seq("gb"))
      .select(least(col("x"), col("y")).as("a_id"),
        greatest(col("x"), col("y")).as("b_id"), col("jaccard"))
    val within = mem.select(col("gkey"), col("doc_id").as("a_id"))
      .join(mem.select(col("gkey"), col("doc_id").as("b_id")), Seq("gkey"))
      .where(col("a_id") < col("b_id") && lit(1.0) >= lit(threshold))
      .select(col("a_id"), col("b_id"), lit(1.0).as("jaccard"))
    cross.unionAll(within)
      .select("a_id", "b_id", "jaccard")
      .orderBy("a_id", "b_id")
  }

  /** Cross-run incremental MinHash dedup (X69) — the text-tier sibling of
    * [[graft.ext.SimSearch.incrementalKeepers]]: a NEW document batch is
    * screened against the KEPT docs of an already-deduped BASE corpus under
    * the `dedup_minhash` family (same shingles, same polynomial signature,
    * same 5×4 banding, same rounded-Jaccard threshold), and the base
    * manifest never changes (keep-first across runs). Within-batch dups of
    * other NEW docs are deliberately NOT dropped — that is the batch key's
    * job; this key is the per-arriving-batch ingest gate.
    *
    * Scale shape: both sides ride the [[groupedSignatures]] collapse. The
    * base keeper set needs NO pair expansion: a base doc is kept iff it is
    * its group's min (rid) AND no banding-adjacent group (rep-verified
    * jaccard ≥ threshold) has a smaller rid — the dedup_semantic d1 policy
    * derived from O(distinct-set) group facts, Σ clique never Σ clique².
    * Kept base docs are inherently clone-free (a clone mass keeps ~1 rep),
    * so the cross band join is ~|new distinct sets| × bucket occupancy; a
    * NEW-side clone mass verifies once per distinct set and expands its
    * verdict arithmetically. Returns (doc_id, kept) for every new doc. */
  def minhashIncrementalKeepers(spark: SparkSession, newDocs: DataFrame,
      baseDocs: DataFrame, shingleW: Int = 3, k: Int = 20, rows: Int = 4,
      threshold: Double = 0.7, cacheKey: Option[String] = None): DataFrame = {
    val baseKey = cacheKey.map(_ + "#incbase")
    val newKey = cacheKey.map(_ + "#incnew")
    val bg = groupedSignatures(spark, baseDocs, shingleW, k, baseKey)
    // rep-level near-group adjacency, symmetrized: neighMin(g) = the
    // smallest member id (= rid) over groups verified near g
    val rp = minhashRepPairs(spark, baseDocs, shingleW, k, rows, threshold,
      baseKey).select("ga", "gb")
    val adj = rp.select(col("ga").as("g"), col("gb").as("o"))
      .unionAll(rp.select(col("gb").as("g"), col("ga").as("o")))
      .join(bg.select(col("gkey").as("o"), col("rid").as("orid")), Seq("o"))
      .groupBy("g").agg(min("orid").as("neigh_min"))
    val keptBase = bg.join(adj.withColumnRenamed("g", "gkey"), Seq("gkey"), "left")
      .where(col("neigh_min").isNull || col("neigh_min") > col("rid"))
      .select(col("rid").as("doc_id"), col("sh"), col("sig"))
    val ng = groupedSignatures(spark, newDocs, shingleW, k, newKey)
    val nReps = ng.select(col("rid").as("doc_id"), col("sig"))
    val a = bandedBuckets(nReps, k, rows).select(col("band"), col("bucket"),
      col("doc_id").as("n_id"), col("bslice").as("sa"))
    val b = bandedBuckets(keptBase.select("doc_id", "sig"), k, rows)
      .select(col("band"), col("bucket"), col("doc_id").as("k_id"),
        col("bslice").as("sb"))
    // bucket equi-join, raw-slice equality, then exact-Jaccard verification
    // against the kept doc's shingle set (shingle arrays join the small
    // candidate set, never the band shuffle)
    val hits = a.join(b, Seq("band", "bucket"))
      .where(col("sa") === col("sb"))
      .select("n_id", "k_id").distinct()
      .join(ng.select(col("rid").as("n_id"), col("sh").as("shn"),
        col("gkey")), Seq("n_id"))
      .join(keptBase.select(col("doc_id").as("k_id"), col("sh").as("shk")),
        Seq("k_id"))
      .withColumn("inter", size(array_intersect(col("shn"), col("shk"))))
      .where(round(col("inter") /
        (size(col("shn")) + size(col("shk")) - col("inter")), 6) >= threshold)
      .select("gkey").distinct()
    signatureMembers(spark, newDocs, shingleW, k, newKey)
      .join(hits.withColumn("hit", lit(1)), Seq("gkey"), "left")
      .select(col("doc_id"),
        when(col("hit").isNull, 1).otherwise(0).cast("int").as("kept"))
      .orderBy("doc_id")
  }

  /** Exact n-gram Jaccard self-join via an inverted index: explode to
    * (shingle, doc_id), equi-join on the shingle, and count co-occurrences
    * per pair — |A∩B| as one codegen'd hash aggregation. Identical output to
    * the naive crossJoin + array_intersect (pairs sharing no shingle have
    * J = 0 < threshold), but the pair generation shuffles on shingle keys
    * instead of materializing the O(n²) cross product — the 100 TB shape
    * (the id cap bounds the verified region at any sf; the oracle twin
    * stays the declarative set-intersect form). */
  def exactJaccard(spark: SparkSession, docs: DataFrame, shingleW: Int,
      threshold: Double, idCap: Long, cacheKey: Option[String] = None): DataFrame = {
    val sh = graft.Memo.frame(spark, cacheKey, s"jaccard_sh:$shingleW:$idCap",
      persistUnkeyed = true) {
      docs.where(col("doc_id") < idCap)
        .select(col("doc_id"), distinctShingles(col("text"), shingleW).as("sh"))
        .withColumn("n", size(col("sh")))
    }
    val inv = sh.select(col("doc_id"), col("n"), explode(col("sh")).as("g"))
    val a = inv.select(col("g"), col("doc_id").as("a_id"), col("n").as("na"))
    val b = inv.select(col("g"), col("doc_id").as("b_id"), col("n").as("nb"))
    val out = a.join(b, Seq("g"))
      .where(col("a_id") < col("b_id"))
      .groupBy("a_id", "b_id", "na", "nb")
      .agg(count(lit(1)).as("inter"))
      .withColumn("jaccard", round(col("inter") /
        (col("na") + col("nb") - col("inter")), 6))
      .where(col("jaccard") >= threshold)
      .select("a_id", "b_id", "jaccard")
      .orderBy("a_id", "b_id")
    out
  }

  /** Near-superset containment dedup: C(a,b) = |A∩B| / min(|A|,|B|) over
    * distinct w-shingles — a truncation or embedded quotation scores 1.0
    * where Jaccard divides by the union and under-reads it (the fixture's
    * prefix-truncated near-dups: containment 1.0 vs jaccard ≈0.97; a
    * 10%-prefix quote: ≈1.0 vs ≈0.1). Candidate generation is the same
    * inverted-index equi-join as [[exactJaccard]] — never all-pairs — and
    * deliberately shares its Memo.frame key, so a pipeline running both
    * metrics pays for ONE shingle pass. Unlike the irrational cosines,
    * count/min(count) is a rational that can sit exactly on a rounding
    * half-boundary, so the ratio goes through [[ExactMath.ratioRounded]],
    * not float round. Same id-cap bounded-verification contract as
    * [[exactJaccard]]. */
  def exactContainment(spark: SparkSession, docs: DataFrame, shingleW: Int,
      threshold: Double, idCap: Long, cacheKey: Option[String] = None): DataFrame = {
    val sh = graft.Memo.frame(spark, cacheKey, s"jaccard_sh:$shingleW:$idCap",
      persistUnkeyed = true) {
      docs.where(col("doc_id") < idCap)
        .select(col("doc_id"), distinctShingles(col("text"), shingleW).as("sh"))
        .withColumn("n", size(col("sh")))
    }
    val inv = sh.select(col("doc_id"), col("n"), explode(col("sh")).as("g"))
    val a = inv.select(col("g"), col("doc_id").as("a_id"), col("n").as("na"))
    val b = inv.select(col("g"), col("doc_id").as("b_id"), col("n").as("nb"))
    a.join(b, Seq("g"))
      .where(col("a_id") < col("b_id"))
      .groupBy("a_id", "b_id", "na", "nb")
      .agg(count(lit(1)).as("inter"))
      .withColumn("containment",
        ExactMath.ratioRounded(col("inter"), least(col("na"), col("nb")), 6))
      .where(col("containment") >= threshold)
      .select("a_id", "b_id", "containment")
      .orderBy("a_id", "b_id")
  }

  /** Embedding-cosine near-dedup: a row is a duplicate iff an
    * earlier-id row has cosine ≥ threshold; survivors are returned. Exact
    * within an id cap (the oracle-able form); at scale the pair generation
    * step swaps in the LSH/IVF candidate path from SimSearch. */
  def embeddingNearDups(spark: SparkSession, emb: DataFrame,
      threshold: Double, idCap: Long): DataFrame = {
    val capped = emb.where(col("vec_id") < idCap)
    val dupIds = SimSearch.exactSelfJoin(spark, capped, threshold)
      .select(col("b_id").as("vec_id")).distinct()
    capped.select("vec_id", "label")
      .join(dupIds, Seq("vec_id"), "left_anti")
      .orderBy("vec_id")
  }

  /** Connected components over a near-dup pair list: every document gets the
    * minimum doc_id reachable through dup edges as its `cluster_id` (the
    * canonical representative a corpus-dedup pass would keep), plus the
    * component size. Documents in no pair are singleton clusters of
    * themselves.
    *
    * Algorithm: alternating large-star/small-star contraction (Kiveris et
    * al., "Connected Components in MapReduce and Beyond", SoCC 2014) —
    * O(log n) rounds on ANY graph, including the adversarial long chains
    * where min-label propagation needs O(diameter) rounds (see
    * [[propagationLabels]], kept as the diameter-bounded comparison point
    * and proven slower on a chain in ExtSpec). Each round is two
    * grouped-min aggregations + two equi-joins over the CURRENT edge set
    * (which only shrinks toward a star forest); edges/labels live in
    * executors, the driver sees only convergence metadata. */
  /** The (doc_id, cluster_id, cluster_size) labels of the capped
    * n-gram-Jaccard near-dup graph (shingleW 3, threshold 0.2, id < 500 —
    * dedup_ngram_jaccard's parameters), memoized per (session, dir):
    * `dedup_cluster` surfaces it directly and `cluster_keep_policy` ranks
    * within it, so ONE iterative star-contraction pass serves both keys. */
  def jaccardClustersMemo(spark: SparkSession, dir: String): DataFrame =
    graft.Memo.frame(spark, Some(dir), "jaccclusters") {
      val docs = graft.catalog.TableRegistry.table(spark, dir, "documents")
      val pairs = exactJaccard(spark, docs, shingleW = 3,
        threshold = 0.2, idCap = 500, cacheKey = Some(dir)).select("a_id", "b_id")
      clusters(spark, docs.where(col("doc_id") < 500), pairs)
    }

  def clusters(spark: SparkSession, nodes: DataFrame, pairs: DataFrame,
      maxIters: Int = 50): DataFrame = {
    val (labels, rounds, converged) = starContractionLabels(nodes, pairs, maxIters)
    if (!converged)
      // labels are still per-node deterministic on a bailout (groupBy-min),
      // but they may not be component minima — don't let that pass silently
      log.warn(s"star contraction did NOT converge within $rounds rounds; " +
        "cluster ids may be component-local, not component minima")
    val sizes = labels.groupBy(col("label").as("cluster_id"))
      .agg(count(lit(1)).as("cluster_size"))
    labels.select(col("id").as("doc_id"), col("label").as("cluster_id"))
      .join(sizes, Seq("cluster_id"))
      .select("doc_id", "cluster_id", "cluster_size")
      .orderBy("doc_id")
  }

  /** One large-star round: every node `u` connects its STRICTLY GREATER
    * neighbors to m(u) = min(Γ(u) ∪ {u}). Input/output edges are canonical
    * (lo < hi) distinct pairs. */
  def largeStar(edges: DataFrame): DataFrame = {
    val sym = edges.select(col("lo").as("u"), col("hi").as("v"))
      .unionAll(edges.select(col("hi").as("u"), col("lo").as("v")))
    val m = sym.groupBy("u").agg(min("v").as("mv"))
      .select(col("u"), least(col("u"), col("mv")).as("m"))
    sym.join(m, Seq("u"))
      .where(col("v") > col("u"))
      .select(col("m").as("lo"), col("v").as("hi"))
      .distinct()
  }

  /** One small-star round: every node `u` (the `hi` side — all its
    * neighbors here are smaller) connects those neighbors and itself to
    * m(u) = min of them. Canonical in, canonical out. */
  def smallStar(edges: DataFrame): DataFrame = {
    val m = edges.groupBy("hi").agg(min("lo").as("m"))
    val attach = edges.join(m, Seq("hi"))
      .where(col("lo") =!= col("m"))
      .select(col("m").as("lo"), col("lo").as("hi"))
    val self = m.select(col("m").as("lo"), col("hi"))
    attach.unionAll(self).distinct()
  }

  /** Star-contraction driver: returns (labels(id, label), rounds,
    * converged). At the fixpoint the edge set is a star forest — every edge
    * connects a node directly to its component's minimum id.
    *
    * LINEAGE TRUNCATION IS LOAD-BEARING. `largeStar` references the incoming
    * edge set twice (`sym` = edges ∪ reversed) and joins it against an
    * aggregate derived from itself, so the *logical plan* of round N embeds
    * several copies of round N−1's plan — geometric growth with round count.
    * `persist()` caches data but keeps the whole plan tree; by ~16 rounds
    * merely rendering the plan string exhausts the driver heap, independent
    * of data size (a deep dup-chain component at 100 TB kills the driver on
    * plan metadata alone). `localCheckpoint(eager = true)` materializes the
    * round AND cuts the plan back to a leaf, so plan depth is O(1) per
    * round. Prior rounds' checkpoint RDDs become unreferenced when `edges`
    * is rebound and the ContextCleaner unpersists them — no cache
    * accumulation across invocations. On a cluster with dynamic allocation
    * / executor loss, swap in reliable `checkpoint()` (HDFS-backed via
    * spark.checkpoint.dir): localCheckpoint blocks die with their executor;
    * the loop shape is identical.
    *
    * Convergence probe: star contraction never grows the canonical edge
    * count, so a round that changed the count certainly changed the set —
    * the exact (shuffling) `exceptAll` equality check runs only on count
    * ties, and the count itself is a cheap scan of the just-checkpointed
    * round. */
  def starContractionLabels(nodes: DataFrame, pairs: DataFrame,
      maxIters: Int = 50): (DataFrame, Int, Boolean) = {
    // opt-r15: lazy checkpoints — the convergence count right below each
    // checkpoint does the materializing, halving the loop's job count
    // (see [[truncateBeforeAction]]).
    var edges = pairs
      .select(least(col("a_id"), col("b_id")).as("lo"),
        greatest(col("a_id"), col("b_id")).as("hi"))
      .where(col("lo") =!= col("hi"))
      .distinct()
      .transform(truncateBeforeAction)
    var prevCount = edges.count()
    var rounds = 0
    var converged = prevCount == 0L
    while (!converged && rounds < maxIters) {
      val next = truncateBeforeAction(smallStar(largeStar(edges)))
      val nNext = next.count()
      converged = nNext == prevCount && next.exceptAll(edges).isEmpty
      edges = next
      prevCount = nNext
      rounds += 1
    }
    // star forest → labels; the groupBy-min keeps labels valid (per-node
    // deterministic) even on a maxIters bailout before full convergence.
    // Checkpointed LAZILY (opt-r15): callers read labels multiple times
    // (sizes join + projection), but the checkpoint materializes once at
    // their first action — lineage truncation is identical and the loop's
    // final edge round is freed then; an eager job here bought nothing.
    val lab = edges.select(col("hi").as("id"), col("lo").as("label"))
    val labels = nodes.select(col("doc_id").as("id"))
      .join(lab, Seq("id"), "left")
      .groupBy("id")
      .agg(min(coalesce(col("label"), col("id"))).as("label"))
      .transform(truncateBeforeAction)
    (labels, rounds, converged)
  }

  /** Min-label propagation (the pre-round-6 `clusters` engine), kept as the
    * O(component diameter) comparison point: each round every node takes the
    * min of its own and its neighbors' labels. Returns (labels, rounds
    * actually run — equals `maxIters` when the fixpoint wasn't reached).
    * Identical labels to [[starContractionLabels]] once converged; on long
    * chains it needs Θ(diameter) rounds where star contraction needs
    * O(log n) (asserted in ExtSpec). */
  def propagationLabels(nodes: DataFrame, pairs: DataFrame,
      maxIters: Int = 50): (DataFrame, Int) = {
    // same lineage-truncation discipline as [[starContractionLabels]]: each
    // round's plan references the prior labels twice (via nbrMin and the
    // left join), so without per-round localCheckpoint the plan tree grows
    // geometrically with iteration count
    val edges = truncate(
      pairs.select(col("a_id").as("src"), col("b_id").as("dst"))
        .union(pairs.select(col("b_id").as("src"), col("a_id").as("dst"))))
    var labels = truncate(
      nodes.select(col("doc_id").as("id"), col("doc_id").as("label")))
    var iter = 0
    var converged = false
    while (!converged && iter < maxIters) {
      val nbrMin = edges.join(labels.withColumnRenamed("id", "src"), Seq("src"))
        .groupBy(col("dst").as("id")).agg(min("label").as("nbr_label"))
      val next = labels.join(nbrMin, Seq("id"), "left")
        .select(col("id"),
          least(col("label"), coalesce(col("nbr_label"), col("label"))).as("label"))
        .transform(truncate)
      val changed = labels.withColumnRenamed("label", "prev")
        .join(next, Seq("id")).where(col("prev") =!= col("label")).count()
      converged = changed == 0
      labels = next
      iter += 1
    }
    (labels, iter)
  }

  /** SimHash from whitespace tokens: bit b of the signature is the sign of
    * Σ_tokens (bit b of tokenHash61(token) ? +1 : −1). Token hashes are the
    * 61-bit polynomial family (SQL-reproducible — the `dedup_simhash`
    * DuckDB oracle replays signatures exactly), so the assembled value
    * stays non-negative under Spark 4's ANSI overflow checking. */
  def simhash(text: Column): Column =
    simhashFromHashes(tokenHashes61(split(text, " ")))

  /** Per-token 61-bit polynomial hashes (codegen single pass). */
  def tokenHashes61(tokens: Column): Column = {
    import org.apache.spark.sql.GraftColumnBridge
    GraftColumnBridge.column(
      graft.functions.TokenHash61(GraftColumnBridge.expression(tokens)))
  }

  /** Signature from a pre-materialized token-hash array, computed by the
    * codegen'd [[graft.functions.SimHashSig]] kernel: one pass over the
    * hashes for all 63 bit-sums (the former per-bit HOF folds re-walked the
    * array 63×, interpreted). Bit semantics unchanged: bit b set iff
    * Σ_h (bit b of h ? +1 : −1) > 0. */
  def simhashFromHashes(hashes: Column): Column = {
    import org.apache.spark.sql.GraftColumnBridge
    GraftColumnBridge.column(
      graft.functions.SimHashSig(GraftColumnBridge.expression(hashes)))
  }

  /** SimHash near-dups: hamming(sig_a, sig_b) ≤ maxDist, candidates bucketed
    * by 16-bit band equality (a near-dup within ≤3 bits must agree on at
    * least one of four 16-bit bands — pigeonhole, Manku et al. WWW 2007).
    *
    * Scale shape (r13): identical signatures are COLLAPSED before banding.
    * The 4×16-bit bands are a FIXED 2^16 keyspace per band, so banding raw
    * docs makes bucket population grow ∝ n and candidate work ∝ n²/2^16 —
    * and exact-duplicate cliques (the common case in crawled corpora) land
    * every member in every band bucket, squaring the clique inside the
    * join. Banding only DISTINCT signatures bounds candidate work by
    * d²/2^16 (d = distinct sigs, which saturates as clones accumulate);
    * same-sig pairs are emitted arithmetically as dist-0 cliques and
    * cross-sig survivors are expanded back through the membership frame.
    * The residual d²/2^16 bound is structural to 16-bit bands — 4 bands is
    * the MINIMUM for the dist≤3 pigeonhole, so the next lever would be a
    * wider signature, not wider bands.
    *
    * Semantics are unchanged: a same-sig pair shares all four bands and has
    * dist 0; a cross-sig pair with dist ≤ 3 < 4 bands shares at least one
    * band by pigeonhole, so the band filter never rejects a true pair —
    * the output is exactly {pairs with hamming ≤ maxDist}, which is what
    * the DuckDB oracle (still the raw-doc banding form) computes. */
  def simhashNearDups(spark: SparkSession, docs: DataFrame, maxDist: Int = 3,
      cacheKey: Option[String] = None): DataFrame = {
    val sigs = graft.Memo.frame(spark, cacheKey, "simhash_sigs", persistUnkeyed = true) {
      docs
        .select(col("doc_id"), tokenHashes61(split(col("text"), " ")).as("hashes"))
        .select(col("doc_id"), simhashFromHashes(col("hashes")).as("sig"))
    }
    // band only the distinct signatures: candidate pairs are SIG pairs
    val distinctSigs = sigs.select("sig").distinct()
    val banded = distinctSigs.select(col("sig"),
      explode(array((0 until 4).map(b =>
        struct(lit(b).as("band"),
          shiftright(col("sig"), b * 16).bitwiseAND(0xFFFF).as("bucket"))): _*)))
      .select(col("sig"), col("col.band"), col("col.bucket"))
    val sa = banded.select(col("band"), col("bucket"), col("sig").as("siga"))
    val sb = banded.select(col("band"), col("bucket"), col("sig").as("sigb"))
    val sigPairs = sa.join(sb, Seq("band", "bucket"))
      .where(col("siga") < col("sigb"))
      .select("siga", "sigb").distinct()
      .withColumn("dist", bit_count(col("siga").bitwiseXOR(col("sigb"))))
      .where(col("dist") <= maxDist)
    // expand cross-sig survivors through the membership frame; each doc
    // pair appears once (a doc has exactly one sig, and sig pairs are
    // value-ordered) — least/greatest restores the a_id < b_id contract
    val ma = sigs.select(col("sig").as("siga"), col("doc_id").as("da"))
    val mb = sigs.select(col("sig").as("sigb"), col("doc_id").as("db"))
    val cross = sigPairs.join(ma, "siga").join(mb, "sigb")
      .select(least(col("da"), col("db")).as("a_id"),
        greatest(col("da"), col("db")).as("b_id"), col("dist"))
    // same-sig cliques: dist 0 by definition, no banding or XOR needed —
    // output-driven quadratic (the pair set ITSELF is the clique's edges)
    val clones = sigs.select(col("sig"), col("doc_id").as("a_id"))
      .join(sigs.select(col("sig"), col("doc_id").as("b_id")), Seq("sig"))
      .where(col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"),
        lit(0).cast("int").as("dist"))
    clones.unionByName(cross)
      .select("a_id", "b_id", "dist")
      .orderBy("a_id", "b_id")
  }
}
