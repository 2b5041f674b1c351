package graft

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel

import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.{CompletableFuture, CompletionException, ConcurrentHashMap}

/** The one compute-once store of the library: column profiles, workload
  * statistics, table handles, persisted sketch frames, trained models and
  * collected index parameters all live here, under one policy.
  *
  * KEY: (session, tag, input paths) plus the DATA IDENTITY of those paths
  * ([[fingerprint]]: every file's name, size and mtime). A tag carries the
  * operator and its parameters. An input rewritten at the same path changes
  * the fingerprint, so the next lookup rebuilds instead of serving a result
  * for data that has changed. An input path may end in `#label` to name a
  * subset of the data at the path (e.g. one batch of a corpus): the label
  * is part of the key, the fingerprint is the path's.
  *
  * BUILD: single flight, outside the map lock. The first caller of a key
  * builds; concurrent callers of the same key wait for that build; a build
  * that throws is not cached, so the next caller retries. Builds may look
  * up other keys (memoized operators compose). The map lock is held only to
  * install a cell, never while a build runs Spark jobs: a
  * `computeIfAbsent` mapping function that touches the map dies with
  * "Recursive update" whenever a nested key lands in the outer key's hash
  * bin, and bins depend on the session's identity hash, so that failure
  * is intermittent across JVMs.
  *
  * CLEANUP: entries of stopped sessions are swept on every miss (their
  * cached blocks died with the context, but the static map would pin the
  * session object forever). [[clear]] drops one live session's entries and
  * unpersists every frame the registry persisted. A stale entry is
  * released before its replacement builds: CacheManager matches cached
  * data by logical plan, and a re-read of a rewritten file has the same
  * plan as the old read, so a still-cached old frame would be served for
  * the new one. */
object Memo {

  private final case class Key(spark: SparkSession, tag: String, inputs: Seq[String])

  private final class Cell(val fingerprint: String, val persisted: Boolean) {
    val result = new CompletableFuture[Any]()
    @volatile var builder: Thread = Thread.currentThread()
  }

  private val cells = new ConcurrentHashMap[Key, Cell]()

  /** `build`'s result, computed once per (session, tag, inputs) and data
    * identity of `inputs`. With no inputs the key is (session, tag). */
  def apply[T](spark: SparkSession, tag: String, inputs: Seq[String])(build: => T): T =
    lookup(spark, tag, inputs, persisted = false)(build)

  /** A frame persisted (MEMORY_AND_DISK: memory pressure evicts blocks, never
    * correctness) once per (session, tag, corpus), so repeated builds of one
    * sketch pass share one cached frame instead of stacking a `persist()`
    * per call. `corpus` is the input path the frame derives from; without
    * one the plain plan comes back, persisted only when `persistUnkeyed`
    * (a sketch read by several branches of one query: CacheManager dedups
    * identical plans, so repeated calls share storage). */
  def frame(spark: SparkSession, corpus: Option[String], tag: String,
      persistUnkeyed: Boolean = false)(build: => DataFrame): DataFrame = corpus match {
    case Some(c) => lookup(spark, tag, Seq(c), persisted = true)(persist(build))
    case None if persistUnkeyed => persist(build)
    case None => build
  }

  private def persist(df: DataFrame): DataFrame = df.persist(StorageLevel.MEMORY_AND_DISK)

  private def lookup[T](spark: SparkSession, tag: String, inputs: Seq[String],
      persisted: Boolean)(build: => T): T = {
    val key = Key(spark, tag, inputs)
    val mine = new Cell(fingerprint(spark, inputs), persisted)
    var stale: Cell = null
    val cell = cells.compute(key, (_, cur) =>
      if (cur != null && cur.fingerprint == mine.fingerprint) cur
      else { stale = cur; mine })
    if (cell ne mine) {
      if (cell.builder eq Thread.currentThread())
        throw new IllegalStateException(s"memo build of '$tag' looked itself up")
      try cell.result.join().asInstanceOf[T]
      catch { case e: CompletionException => throw e.getCause }
    } else {
      if (stale != null) release(stale)
      sweepStopped()
      try {
        val v = build
        mine.result.complete(v)
        v
      } catch {
        case e: Throwable =>
          cells.remove(key, mine)
          mine.result.completeExceptionally(e)
          throw e
      } finally mine.builder = null
    }
  }

  private def release(cell: Cell): Unit =
    if (cell.persisted) cell.result.thenAccept(v => v.asInstanceOf[DataFrame].unpersist())

  private def sweepStopped(): Unit =
    cells.keySet().removeIf(_.spark.sparkContext.isStopped)

  /** Drop every entry of `spark` and unpersist the frames they persisted. */
  def clear(spark: SparkSession): Unit =
    cells.entrySet().removeIf { e =>
      val owned = e.getKey.spark eq spark
      if (owned) release(e.getValue)
      owned
    }

  /** Data identity of `paths`: a digest over every file under each path
    * (recursively) with its size and modification time. A path that cannot
    * be listed (absent, or not a filesystem path) contributes nothing. A
    * `#label` suffix is not part of the listed path. */
  private def fingerprint(spark: SparkSession, paths: Seq[String]): String = {
    val conf = spark.sparkContext.hadoopConfiguration
    val listing = new StringBuilder
    def visit(fs: FileSystem, p: Path): Unit =
      fs.listStatus(p).sortBy(_.getPath.getName).foreach { st =>
        if (st.isDirectory) visit(fs, st.getPath)
        else listing ++= s"${st.getPath}:${st.getLen}:${st.getModificationTime}\n"
      }
    paths.foreach { raw =>
      val p = new Path(raw.takeWhile(_ != '#'))
      try visit(p.getFileSystem(conf), p)
      catch { case _: java.io.IOException | _: IllegalArgumentException => }
    }
    java.util.HexFormat.of().formatHex(
      java.security.MessageDigest.getInstance("SHA-256").digest(listing.toString.getBytes(UTF_8)))
  }
}
