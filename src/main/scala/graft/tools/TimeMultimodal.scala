package graft.tools

import org.apache.spark.sql.functions._

/** Dev tool (opt-r16): break the multimodal keys' cost into (listing, raw
  * scan, decode, downstream) so optimization effort lands where the time is.
  * Usage: SPARK_GRAFT_SF_DIR=<dir> sbt "runMain graft.tools.TimeMultimodal"
  */
object TimeMultimodal {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = graft.GraftSession("TimeMultimodal", cpus)
    spark.sparkContext.setLogLevel("ERROR")
    import graft.ext.Multimodal
    val docs = graft.catalog.TableRegistry.table(spark, sfDir, "documents")
    def time[A](label: String)(f: => A): A = {
      val t0 = System.nanoTime()
      val r = f
      println(f"TIME $label%-28s ${(System.nanoTime() - t0) / 1e9}%8.3f s")
      r
    }
    val fx = time("fixture ensure")(Multimodal.PngFixtures.ensure(docs, sfDir))
    val media = time("listing (first)")(Multimodal.mediaFromBinaryFiles(spark, fx, "*.png"))
    time("scan count (len only)")(media.select(length(col("media")).as("l")).agg(sum("l")).collect())
    time("scan count again")(media.select(length(col("media")).as("l")).agg(sum("l")).collect())
    time("decode features noop")(
      Multimodal.extractFeatures(media).write.format("noop").mode("overwrite").save())
    time("decode features noop 2")(
      Multimodal.extractFeatures(media).write.format("noop").mode("overwrite").save())
    time("dhash noop")(
      Multimodal.dHashes(media).write.format("noop").mode("overwrite").save())
    time("phash manifest full")(
      Multimodal.dHashKeepManifest(media, 10).write.format("noop").mode("overwrite").save())
    time("resize stats noop")(
      Multimodal.resizeStats(media, 16, 16).write.format("noop").mode("overwrite").save())
    spark.stop()
  }
}
