package graft

import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Dataset, GraftSql, SparkSession}
import org.apache.spark.storage.StorageLevel

/** The one store of artifacts derived from a table snapshot: resolved
  * parquet schemas ([[Tables]]), persisted relations (pair graphs, ANN
  * indexes, edge relations, drop-sets) and driver-side models
  * (centroids, codebooks, BPE merges, counts, blocklists). Derive once
  * per data snapshot, then reuse — at 100 TB the same rule holds. Every
  * build is deterministic in (snapshot, params), so a hit saves work and
  * can never change results.
  *
  * Lifecycle:
  *  - Key. One entry per (session, kind, table path). It holds one
  *    snapshot: the table's [[fingerprint]] plus `params → artifact`. A
  *    new session never sees another session's frames.
  *  - Superseded data. A call that sees a new fingerprint for its key
  *    releases every artifact of the old snapshot, whatever its params,
  *    so a rewritten table never leaves blocks pinned behind the new
  *    entry.
  *  - Stopped sessions. Entries whose session's SparkContext is stopped
  *    are dropped on the next call (their blocks died with the context),
  *    so the store pins no stopped session.
  *  - Release, one rule for every entry: a stored DataFrame is uncached
  *    when it is a cached relation (`storageLevel` set), else its
  *    `LogicalRDD` leaf (a `GraftSql.sizedView`) is unpersisted; any
  *    other value (a driver-side model) needs no release.
  *  - Builds nest (`curationDrops` builds `jaccardPairs`; every relation
  *    build reads through [[Tables]], hence through this store), so a
  *    build never runs inside the shared map's `compute`: the map holds a
  *    lazy cell, forced by the caller outside the map. Concurrent callers
  *    of one key wait for that one build and get the same object.
  *
  * Only metadata and derived artifacts live here, never a table's
  * DataFrame: each [[Tables.readParquet]] call builds a fresh plan with
  * fresh expression IDs, so self-joins of two reads stay unambiguous
  * (caching the DataFrame made events⋈events trip
  * DetectAmbiguousSelfJoin). */
private[graft] object Artifacts {

  /** Releases one artifact; `blocking` applies to cached relations. */
  private def release(artifact: Any, blocking: Boolean): Unit =
    artifact match {
      case ds: Dataset[_] if ds.storageLevel != StorageLevel.NONE =>
        ds.unpersist(blocking)
      case ds: Dataset[_] => GraftSql.unpersistCheckpoint(ds.toDF())
      case _ => ()
    }

  /** An artifact built at most once, by the first caller that forces it.
    * A released value is kept: a caller still holding the cell reads a
    * frame that recomputes from its lineage instead of building an
    * orphan. */
  private final class Cell(build: () => Any) {
    private var value: Option[Any] = None
    def force(): Any = synchronized {
      if (value.isEmpty) value = Some(build())
      value.get
    }
    def release(blocking: Boolean): Unit =
      synchronized(value.foreach(Artifacts.release(_, blocking)))
  }

  private final class Snapshot(val fp: String) {
    val cells = new ConcurrentHashMap[Any, Cell]()
    def release(blocking: Boolean): Unit =
      cells.values.asScala.foreach(_.release(blocking))
  }

  private val entries =
    new ConcurrentHashMap[(SparkSession, String, String), Snapshot]()

  private def dropStopped(): Unit =
    entries.keySet.asScala.filter(_._1.sparkContext.isStopped)
      .foreach(entries.remove)

  private def releaseWhere(drop: ((SparkSession, String, String)) => Boolean,
      blocking: Boolean): Unit = {
    dropStopped()
    entries.keySet.asScala.filter(drop).foreach(k =>
      Option(entries.remove(k)).foreach(_.release(blocking)))
  }

  /** The `kind` artifact of the table at `path` under `params`: served
    * from this session's snapshot of the table if its fingerprint still
    * matches, else built once by `build`. */
  def apply[A](s: SparkSession, kind: String, path: String, params: Any = ())(
      build: => A): A = {
    dropStopped()
    val fp = fingerprint(s, path)
    var superseded: Option[Snapshot] = None
    val snap = entries.compute((s, kind, path), (_, cur) =>
      if (cur != null && cur.fp == fp) cur
      else {
        superseded = Option(cur)
        new Snapshot(fp)
      })
    superseded.foreach(_.release(blocking = false))
    snap.cells.computeIfAbsent(params, _ => new Cell(() => build))
      .force().asInstanceOf[A]
  }

  /** Blocking release of this session's entries of `kinds`, so the next
    * call pays the full build — cold-build timing (ScaleProbe's
    * `cold_builds` rows): the blocks are gone before the timer starts. */
  def evict(s: SparkSession, kinds: Set[String]): Unit =
    releaseWhere(k => (k._1 eq s) && kinds(k._2), blocking = true)

  /** Release every entry derived from `path`, in every session. */
  def invalidate(path: String): Unit =
    releaseWhere(_._3 == path, blocking = false)

  /** Cheap content fingerprint: a recursive Hadoop-FS listing of
    * (path, length, mtime), so it sees `file:`/`hdfs:`/`s3a:` URIs and
    * plain paths alike. One listing instead of a footer open + schema
    * inference. File count and every per-file length are part of the
    * string, so adding, removing or resizing a part file always
    * invalidates; a same-size rewrite is seen through its mtime, except
    * one that lands within the filesystem's mtime granularity (1 s on
    * some filesystems, ms on ext4) — writers that rewrite a path they
    * just read in the same process call [[Tables.invalidateCache]], or
    * write a fresh snapshot directory (immutable snapshots never need
    * invalidation). */
  private def fingerprint(spark: SparkSession, path: String): String = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(p)) return "absent"
    def walk(q: Path, depth: Int): Seq[String] = {
      val st = fs.getFileStatus(q)
      if (!st.isDirectory) Seq(s"$q:${st.getLen}:${st.getModificationTime}")
      else if (depth > 10) Seq(s"$q:dir")
      else fs.listStatus(q).sortBy(_.getPath.getName)
        .flatMap(e => walk(e.getPath, depth + 1)).toSeq
    }
    walk(p, 0).mkString(",")
  }
}
