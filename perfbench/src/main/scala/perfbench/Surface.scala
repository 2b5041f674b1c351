package perfbench

import graft.SparkEntry
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.util.concurrent.{Callable, Executors}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** The operator surface: each request runs one `SparkEntry.queries` key to
  * its full result (a `noop` write, so no output column is pruned away).
  * Keys run in an order shuffled by the seed, in whole passes.
  * Set-up runs every key once, which leaves the library's process-global
  * memos warm, so the timed requests measure the steady state. */
final class Surface(spark: SparkSession, conf: Main.Conf, cores: Int, counters: Counters)
    extends Main.Workload {
  private val keys: Seq[String] = {
    val listed = Surface.keyList(conf)
    new scala.util.Random(conf.seed).shuffle(listed)
  }
  private val setupDigests = mutable.LinkedHashMap.empty[String, String]
  private val setupRecords = mutable.ArrayBuffer.empty[String]
  private val perRequest = mutable.ArrayBuffer.empty[String]

  private def key(i: Int): String = keys(i % keys.size)

  /** Whole passes over the keys; a pass of 16 keys takes ~8-10 s. */
  def requestsPerRun(seconds: Int): Int = keys.size * math.max(1, seconds / 10)

  private def build(k: String): DataFrame = SparkEntry.queries(k)(spark, conf.data)

  /** Runs every key once through a pool of at most `cores` threads and
    * checks each key's order-insensitive full-result digest against the
    * committed digests (default seed only: other seeds have other inputs). */
  def setup(): Seq[String] = {
    val pool = Executors.newFixedThreadPool(cores)
    val results = try {
      pool.invokeAll(keys.map { k =>
        new Callable[(String, Either[String, String])] {
          def call(): (String, Either[String, String]) = k -> (try {
            val t0 = System.nanoTime()
            val df = build(k)
            df.write.format("noop").mode("overwrite").save()
            val secs = (System.nanoTime() - t0) / 1e9
            val d = Surface.digest(df)
            setupRecords.synchronized {
              setupRecords += f"""{"key":${Json.str(k)},"setup_s":$secs%.6f,"digest":"$d"}"""
            }
            Right(d)
          } catch { case e: Throwable => Left(e.toString.take(300)) })
        }
      }.asJava).asScala.map(_.get()).toSeq
    } finally pool.shutdown()
    val failures = mutable.ArrayBuffer.empty[String]
    results.foreach {
      case (k, Right(d)) => setupDigests(k) = d
      case (k, Left(e)) => failures += s"$k: $e"
    }
    val path = conf.expected.map(d => Paths.get(d, "operator_surface.digests"))
    path.foreach { p =>
      if (conf.record)
        Files.write(p, setupDigests.toSeq.sortBy(_._1).map { case (k, d) => s"$k\t$d" }
          .mkString("", "\n", "\n").getBytes(UTF_8))
      else if (Files.exists(p)) {
        val want = new String(Files.readAllBytes(p), UTF_8).split("\n").filter(_.nonEmpty)
          .map(_.split("\t")).map(a => a(0) -> a(1)).toMap
        keys.filter(setupDigests.contains).foreach { k =>
          if (!want.get(k).contains(setupDigests(k)))
            failures += s"$k: full-result digest ${setupDigests(k)} != " +
              s"expected ${want.getOrElse(k, "none")}"
        }
      }
    }
    failures.toSeq
  }

  def request(i: Int, tracer: Option[Tracer]): Unit = {
    val k = key(i)
    if (!setupDigests.contains(k)) throw new IllegalStateException(s"$k failed in set-up")
    perRequest += s"""{"request":$i,"key":${Json.str(k)}}"""
    tracer match {
      case None =>
        val df = build(k)
        counters.buildDone()
        df.write.format("noop").mode("overwrite").save()
      case Some(tr) =>
        tr.span("request") {
          val df = tr.span("surface.build")(build(k))
          counters.buildDone()
          tr.span("surface.write")(df.write.format("noop").mode("overwrite").save())
        }
    }
  }

  /** The traced run re-checks each traced key's output against set-up. */
  override def afterRequest(i: Int, traced: Boolean): Unit = if (traced) {
    val k = key(i)
    if (Surface.digest(build(k)) != setupDigests(k))
      throw new IllegalStateException(s"$k: full-result digest changed since set-up")
  }

  override def artifact: String =
    s"""{"setup":${setupRecords.mkString("[", ",", "]")},""" +
      s""""requests":${perRequest.mkString("[", ",", "]")}}"""

  def layers(tr: Tracer, c: Counters, reqs: Seq[Int]): Map[String, Double] = {
    def med(f: Int => Double) = Stats.quantile(reqs.map(f), 0.5)
    val plan = (r: Int) => c.byRequest.get(r).map(_.planMs / 1e3).getOrElse(0.0)
    Map(
      "surface.build_s" -> med(tr.total(_, "surface.build")),
      "surface.build_jobs" -> med(r => c.byRequest.get(r).map(_.buildJobs.toDouble).getOrElse(0.0)),
      "surface.plan_s" -> med(plan),
      "surface.exec_s" -> med(r => tr.total(r, "surface.write") - plan(r)))
  }
}

object Surface {
  /** The keys to run: the `--keys` file, one key a line, `#` comments. */
  def keyList(conf: Main.Conf): Seq[String] = {
    val path = Paths.get(conf.keys.getOrElse(throw new IllegalArgumentException("missing --keys")))
    new String(Files.readAllBytes(path), UTF_8).split("\n").map(_.trim)
      .filter(l => l.nonEmpty && !l.startsWith("#")).toSeq.sorted
  }

  /** Order-insensitive digest of a full result: row count plus the sums of
    * two independent 64/32-bit row hashes (summed as decimals, so they
    * cannot overflow). Columns are renamed by position first, so duplicate
    * output names hash too. */
  def digest(df: DataFrame): String = {
    val d = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    val cols = d.columns.map(col)
    val r = d.select(xxhash64(cols: _*).as("x"), hash(cols: _*).as("m"))
      .agg(count(lit(1)), sum(col("x").cast("decimal(38,0)")),
        sum(col("m").cast("decimal(38,0)")))
      .head()
    s"${r.getLong(0)}:${r.get(1)}:${r.get(2)}"
  }
}
