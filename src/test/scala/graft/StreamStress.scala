package graft

import graft.streaming.{StreamingAdvisor, StreamingDrift, StreamingUsage}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** sf1 streaming stress gate (r10 verdict #5): the batch surface is gated at
  * sf1 on two oracles every round, but the streaming components only ran at
  * fixture scale. This harness drives all three stateful streaming surfaces
  * over the sf1 stress fixture's full event volume and prints ONE JSON line
  * with per-batch wall times and state-size stamps for ROUND<N>.md:
  *
  *   - StreamingUsage.windowedDistinctUsers over 1M events / 15k distinct
  *     users in 4 micro-batches, 1-day windows so each (window, type)
  *     sketch's distinct count (~4-7k) crosses the datasketches sparse→HLL
  *     promotion (k/4 = 4096 coupons at lgK=14) — proving state stays
  *     sketch-BYTES-sized in DENSE mode and the 4-batch merge still equals
  *     the one-pass batch twin exactly.
  *   - StreamingAdvisor over a 15k-distinct-text synthesized workload
  *     (one text per sf1 user), stateCap=2000 + durableTail — past
  *     saturation, so the cap-sized head / durable-tail split is exercised
  *     where it matters — with compactEvery=4 so the delta path runs too.
  *   - StreamingDrift.monitor over sf1 documents (50k rows) in 4 batches,
  *     final PSI checked EXACTLY against the batch histogram's PSI.
  *
  * Run: sbt "Test/runMain graft.StreamStress [sf1Dir]"
  * (test sources: this is a gate harness like the specs, not library code).
  */
object StreamStress {

  private def timed[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = f
    (a, (System.nanoTime() - t0) / 1e9)
  }

  def main(args: Array[String]): Unit = {
    val sf1 = args.headOption.getOrElse("/tmp/graft_stress/sf1")
    // drift reference corpus: second arg / env override, like sf1Dir —
    // a different host layout must not fail the gate on a path concern
    val refDir = args.drop(1).headOption
      .orElse(sys.env.get("SPARK_GRAFT_REF_DIR"))
      .getOrElse("/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = GraftSession("StreamStress", cpus)
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    val loadavg = scala.io.Source.fromFile("/proc/loadavg").mkString.trim
      .split(" ").head
    val events = graft.catalog.TableRegistry.table(spark, sf1, "events")
    val out = scala.collection.mutable.LinkedHashMap[String, Any]()
    out += "sf_dir" -> sf1
    out += "loadavg_at_start" -> loadavg

    // ---- leg 1: windowed HLL distinct users, dense-mode sketches ---------
    {
      val rows = events.select(col("ts"), col("user_id"), col("event_type"))
        .as[(Long, Long, String)].collect().toSeq
      val stream = MemoryStream[(Long, Long, String)]
      val streamed = StreamingUsage.windowedDistinctUsers(
        stream.toDF().toDF("ts", "user_id", "event_type"),
        withWatermarkCol = true, windowWidth = "1 day")
      val qname = "stress_hll"
      val query = streamed.writeStream
        .format("memory").queryName(qname).outputMode("complete").start()
      val batchSecs = scala.collection.mutable.ArrayBuffer[Double]()
      val stateRows = scala.collection.mutable.ArrayBuffer[Long]()
      val stateBytes = scala.collection.mutable.ArrayBuffer[Long]()
      try {
        rows.grouped(rows.size / 4 + 1).foreach { b =>
          val (_, s) = timed { stream.addData(b); query.processAllAvailable() }
          batchSecs += s
          val ops = Option(query.lastProgress).toSeq.flatMap(_.stateOperators)
          stateRows += ops.map(_.numRowsTotal).sum
          stateBytes += ops.map(_.memoryUsedBytes).sum
        }
        val got = spark.table(qname)
          .collect().map(r => ((r.getLong(0), r.getString(1)), (r.getLong(2), r.getLong(3)))).toMap
        val want = StreamingUsage.windowedDistinctUsersBatchTwin(events, "1 day")
          .collect().map(r => ((r.getLong(0), r.getString(1)), (r.getLong(2), r.getLong(3)))).toMap
        require(want.nonEmpty && got.keySet == want.keySet,
          s"4-batch merge group set != batch twin (${got.size} vs ${want.size} rows)")
        // dense-mode contract (see windowedDistinctUsers scaladoc): COUNTS
        // exactly equal; ESTIMATES within the sketch band of each other
        // (HIP re-seeding at the sparse→HLL promotion makes them merge-tree
        // dependent — the gate that found this is this gate)
        var maxRel = 0.0
        want.foreach { case (k, (wApprox, wCnt)) =>
          val (gApprox, gCnt) = got(k)
          require(gCnt == wCnt, s"group $k count: stream $gCnt != batch $wCnt")
          maxRel = math.max(maxRel, math.abs(gApprox - wApprox).toDouble / wApprox)
        }
        require(maxRel <= 0.01,
          s"stream-vs-batch estimate divergence $maxRel past the 1% dense-mode band")
        // dense-mode proof: heapify one per-group sketch and read its CurMode
        // (package-private getter — reflection; the size fingerprint below
        // corroborates: HLL_8 dense compact size is FIXED at k + 40 header,
        // and stands in as the proof when reflection breaks)
        val sk = events
          .withColumn("event_time", timestamp_micros(expr("ts div 1000")))
          .groupBy(window(col("event_time"), "1 day"), col("event_type"))
          .agg(expr("hll_sketch_agg(user_id, 14)").as("sk"),
            countDistinct("user_id").as("exact"))
          .select(length(col("sk")).as("bytes"), col("exact"), col("sk"))
          .collect()
        val modes = sk.map { r =>
          val bytes = r.getAs[Array[Byte]]("sk")
          try {
            val s = org.apache.datasketches.hll.HllSketch.heapify(bytes)
            val m = classOf[org.apache.datasketches.hll.HllSketch]
              .getDeclaredMethod("getCurMode")
            m.setAccessible(true)
            m.invoke(s).toString
          } catch { case scala.util.control.NonFatal(_) => "UNKNOWN" }
        }
        // dense-mode requirement, two tiers: the reflective CurMode read is
        // the direct proof, but it rides a package-private datasketches
        // method — a library upgrade turning it UNKNOWN must not fail the
        // gate on a reflection concern. Fallback: Spark's hll_sketch_agg
        // builds HLL_8, whose dense-compact serialization is FIXED-size
        // (k one-byte registers + 40-byte header = 16424 at lgK=14, no aux
        // — the value every r11 sketch measured), while sparse/coupon
        // encodings are occupancy-sized — the byte fingerprint alone
        // proves promotion.
        val denseCompactBytes = (1 << 14) + 40
        val reflectionOk = modes.forall(_ != "UNKNOWN")
        out += "hll" -> scala.collection.immutable.ListMap(
          "input_rows" -> rows.size,
          "batches_sec" -> batchSecs.map(s => math.round(s * 100) / 100.0).toSeq,
          "state_rows" -> stateRows.toSeq,
          "state_bytes" -> stateBytes.toSeq,
          "groups" -> sk.length,
          "exact_distinct_min" -> sk.map(_.getAs[Long]("exact")).min,
          "exact_distinct_max" -> sk.map(_.getAs[Long]("exact")).max,
          "sketch_bytes_max" -> sk.map(_.getAs[Int]("bytes")).max,
          "cur_modes" -> modes.distinct.sorted.toSeq,
          "counts_eq_batch" -> true,
          "max_rel_stream_vs_batch" -> math.round(maxRel * 1e6) / 1e6)
        if (reflectionOk)
          require(modes.forall(_ == "HLL"),
            s"expected every sketch past sparse mode, got ${modes.distinct.mkString(",")}")
        else
          require(sk.forall(_.getAs[Int]("bytes") == denseCompactBytes),
            s"CurMode reflection unavailable AND sketch sizes " +
              s"${sk.map(_.getAs[Int]("bytes")).distinct.mkString(",")} != " +
              s"dense-compact $denseCompactBytes — cannot prove promotion")
      } finally query.stop()
    }

    // ---- leg 2: advisor past stateCap saturation, durable tail, deltas ---
    {
      graft.catalog.TableRegistry.table(spark, sf1, "supplier")
        .createOrReplaceTempView("supplier")
      // one distinct text per sf1 user (15k >> stateCap=2000): the workload
      // shape that saturates the heavy-hitter cap while staying parseable
      val logRows = events
        .select(col("user_id"), floor(col("value") * 100).cast("long").as("exec_ms"))
        .as[(Long, Long)].collect().toSeq
      val stream = MemoryStream[(Long, Long)]
      val logStream = stream.toDF()
        .select(
          concat(lit("SELECT s_name FROM supplier WHERE s_suppkey = "),
            col("_1")).as("query"),
          col("_2").as("execution_time_ms"))
      val root = java.nio.file.Files.createTempDirectory("graft_stress_adv").toString
      val snaps = new java.util.concurrent.ConcurrentLinkedQueue[StreamingAdvisor.Snapshot]()
      val stateCap = 2000
      val query = StreamingAdvisor.start(spark, logStream, Set("supplier"),
        s"$root/log", snaps, stateCap = stateCap,
        checkpointDir = Some(s"$root/ckpt"), approxCardinality = true,
        durableTail = true, compactEvery = 4)
      val batchSecs = scala.collection.mutable.ArrayBuffer[Double]()
      try {
        // FIVE batches (ids 0–4) so a NON-batch-0 compaction actually fires
        // at stress scale: batch 0 always compacts (no base), 1–3 ride the
        // delta path, batch 4 hits batchId − baseId ≥ compactEvery and
        // compacts base + 3 pending deltas — the exact path the r10
        // verdict #3 work added. (4 batches with compactEvery=4 never
        // recompacts, and the old gate read batch 0's state as "the tail",
        // which only held the full keyspace by generator coincidence.)
        logRows.grouped(logRows.size / 5 + 1).foreach { b =>
          val (_, s) = timed { stream.addData(b); query.processAllAvailable() }
          batchSecs += s
        }
        val stateRoot = new Path(s"$root/log_state")
        val fs = stateRoot.getFileSystem(spark.sessionState.newHadoopConf())
        def dirsOf(prefix: String): Array[Path] = fs.listStatus(stateRoot)
          .filter(s => s.isDirectory && s.getPath.getName.startsWith(prefix))
          .map(_.getPath).sortBy(_.getName.drop(1).toLong)
        // the durable tail is the LATEST version — retention deliberately
        // keeps the previous version too (replay source), so summing v*
        // would double-count
        val vLatest = dirsOf("v").last
        val tailRows = spark.read.parquet(vLatest.toString).count()
        val tailBytes = fs.getContentSummary(vLatest).getLength
        val hLatest = dirsOf("h").last
        val headRows = spark.read.parquet(hLatest.toString).count()
        val headBytes = fs.getContentSummary(hLatest).getLength
        val nDeltas = dirsOf("d").length
        val distinctTexts = logRows.map(_._1).distinct.size
        val last = {
          import scala.jdk.CollectionConverters._
          snaps.asScala.toSeq.maxBy(_.batchId)
        }
        require(last.recs.map(_._1) == Seq("supplier") && last.recs.head._2.nonEmpty,
          s"final snapshot must advise supplier: ${last.recs}")
        require(vLatest.getName == "v4",
          s"batch 4 must have recompacted (base + 3 deltas): latest = ${vLatest.getName}")
        require(tailRows == distinctTexts,
          s"durable tail must retain the full keyspace: $tailRows != $distinctTexts")
        require(headRows == stateCap,
          s"advice head must be cap-sized: $headRows != $stateCap")
        require(nDeltas >= 1, "delta path never exercised")
        out += "advisor" -> scala.collection.immutable.ListMap(
          "input_rows" -> logRows.size,
          "distinct_texts" -> distinctTexts,
          "state_cap" -> stateCap,
          "batches_sec" -> batchSecs.map(s => math.round(s * 100) / 100.0).toSeq,
          "tail_state_rows" -> tailRows, "tail_state_bytes" -> tailBytes,
          "head_rows" -> headRows, "head_bytes" -> headBytes,
          "deltas_on_disk" -> nDeltas,
          "snapshots" -> snaps.size)
      } finally query.stop()
    }

    // ---- leg 3: drift monitor, exact PSI parity at 50k docs --------------
    {
      val docs = spark.read.parquet(s"$sf1/documents.parquet")
      val ref = StreamingDrift.histogram(
        spark.read.parquet(s"$refDir/documents.parquet"))
      val rows = docs.select(col("doc_id"), col("n_chars"))
        .as[(Long, Long)].collect().toSeq
      val stream = MemoryStream[(Long, Long)]
      val ckpt = java.nio.file.Files.createTempDirectory("graft_stress_drift").toString
      val psis = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Double)]()
      val query = StreamingDrift.monitor(
        stream.toDF().toDF("doc_id", "n_chars"), ref, s"$ckpt/ck") {
        (id, psi) => psis.add(id -> psi); ()
      }
      val batchSecs = scala.collection.mutable.ArrayBuffer[Double]()
      try {
        rows.grouped(rows.size / 4 + 1).foreach { b =>
          val (_, s) = timed { stream.addData(b); query.processAllAvailable() }
          batchSecs += s
        }
        val finalPsi = {
          import scala.jdk.CollectionConverters._
          psis.asScala.toSeq.maxBy(_._1)._2
        }
        val batchPsi = StreamingDrift.psi(ref, StreamingDrift.histogram(docs))
        require(finalPsi == batchPsi,
          s"streamed PSI $finalPsi != batch PSI $batchPsi")
        out += "drift" -> scala.collection.immutable.ListMap(
          "input_rows" -> rows.size,
          "batches_sec" -> batchSecs.map(s => math.round(s * 100) / 100.0).toSeq,
          "psi" -> math.round(finalPsi * 1e6) / 1e6,
          "eq_batch" -> true)
      } finally query.stop()
    }

    def js(v: Any): String = v match {
      case m: scala.collection.Map[_, _] =>
        m.map { case (k, x) => s""""$k":${js(x)}""" }.mkString("{", ",", "}")
      case s: Seq[_] => s.map(js).mkString("[", ",", "]")
      case s: String =>
        "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
      case b: Boolean => b.toString
      case n => n.toString
    }
    println("STREAMSTRESS " + js(out))
    spark.stop()
  }
}
