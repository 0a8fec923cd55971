package graft

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.schema.LogicalTypeAnnotation
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Parquet loader used both for the driver testdata (`/root/testdata/sf*`,
  * see TESTDATA.md) and for arbitrary user parquet paths via
  * [[graft.sources.FeatureSource]].
  *
  * One quirk: some files (e.g. `events.parquet`) store timestamps as parquet
  * TIMESTAMP(NANOS), which Spark's vectorized reader rejects outright. We
  * detect NANOS columns from the parquet footer (schema-driven — no
  * file-name heuristics), read them as longs
  * (`spark.sql.legacy.parquet.nanosAsLong`) and convert to microsecond
  * `TimestampType` with integer division — the same truncation DuckDB
  * applies when casting TIMESTAMP_NS → TIMESTAMP, so oracle comparisons
  * agree to the microsecond.
  *
  * Scale note: because the repaired column is DERIVED, timestamp
  * predicates on it cannot reach the parquet scan's PushedFilters (plain
  * µs/ms timestamp columns push down fine — verified on lineitem). For
  * 100 TB NANOS sources, partition the files by a date column and filter
  * on that (partition pruning still applies); better, write µs parquet.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings")

  def read(spark: SparkSession, dir: String, name: String): DataFrame =
    readParquet(spark, s"$dir/$name.parquet")

  /** Resolve the raw schema + NANOS column list for `path`, once per
    * table snapshot ([[Artifacts]] kind `schema`). Resolving a parquet
    * source costs a footer open (the NANOS probe) plus Spark's schema
    * inference — ~0.1 s per call, measured as HALF the wall-clock of the
    * scan-shaped bench queries (s1/s2), and pure metadata overhead. Only
    * metadata is stored, never the DataFrame. Shared by the batch and
    * streaming readers so both see identical column types. */
  private def resolveMeta(spark: SparkSession, path: String)
      : (org.apache.spark.sql.types.StructType, Seq[String]) = {
    // Pin tz-naive parquet timestamps (isAdjustedToUTC=false) to LTZ
    // TIMESTAMP, not TIMESTAMP_NTZ. Spark 4 infers NTZ for such columns by
    // default, which poisons every downstream unix_micros/cast/interval
    // expression with a type the rest of the engine (and the DuckDB
    // oracle, which reads naive micros as plain TIMESTAMP under a UTC
    // session) doesn't speak. Set BEFORE schema inference so the cached
    // rawSchema is LTZ and the scan itself carries LTZ — a post-read cast
    // would block parquet predicate pushdown on the timestamp column.
    // Sessions here run in UTC, so LTZ and NTZ denote the same instants.
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    Artifacts(spark, "schema", path) {
      val nanos = nanosTimestampColumns(spark, path)
      if (nanos.nonEmpty)
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      (spark.read.parquet(path).schema, nanos)
    }
  }

  /** Apply the NANOS→µs repair columns to a (batch or streaming) scan. */
  private def repairNanos(df: DataFrame, nanosCols: Seq[String]): DataFrame =
    nanosCols.foldLeft(df) { (d, c) =>
      // `div` (integer division) is essential: epoch-nanos ≈ 1.7e18
      // exceeds the 2^53 exact-double range, so `/` would corrupt low bits.
      d.withColumn(c, timestamp_micros(expr(s"`$c` div 1000")))
    }

  /** Read a parquet file/directory, transparently repairing any
    * TIMESTAMP(NANOS) columns into microsecond timestamps. */
  def readParquet(spark: SparkSession, path: String): DataFrame = {
    val (rawSchema, nanosCols) = resolveMeta(spark, path)
    if (nanosCols.isEmpty) spark.read.schema(rawSchema).parquet(path)
    else {
      // The conf must be live on EVERY read of a NANOS file (schema
      // conversion consults it at scan build), not just at cache fill.
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      repairNanos(spark.read.schema(rawSchema).parquet(path), nanosCols)
    }
  }

  /** Streaming twin of [[read]]: a parquet FILE-SOURCE stream over the
    * same table with the same NANOS repair and the same memoized schema
    * resolution, so streaming twins see identical column types to their
    * batch counterparts. */
  def readStream(spark: SparkSession, dir: String, name: String): DataFrame =
    readStreamParquet(spark, s"$dir/$name.parquet")

  /** Streaming twin of [[readParquet]]. `maxFilesPerTrigger` bounds each
    * micro-batch (0 = all available files in one batch). */
  def readStreamParquet(spark: SparkSession, path: String,
      maxFilesPerTrigger: Int = 0): DataFrame = {
    val (rawSchema, nanosCols) = resolveMeta(spark, path)
    if (nanosCols.nonEmpty)
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    var reader = spark.readStream.schema(rawSchema)
    if (maxFilesPerTrigger > 0)
      reader = reader.option("maxFilesPerTrigger", maxFilesPerTrigger.toString)
    // FileStreamSource force-sets basePath to the load path whenever the
    // path is NOT a glob, and then requires basePath to be a DIRECTORY —
    // which rejects single-file tables (the driver testdata layout). A
    // `{name}` brace-glob matches the file literally, suppresses that
    // override, and lets the explicit parent-directory basePath below
    // govern partition inference instead.
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    val loadPath =
      if (fs.exists(p) && !fs.getFileStatus(p).isDirectory) {
        reader = reader.option("basePath", p.getParent.toString)
        s"${p.getParent}/{${p.getName}}"
      } else path
    repairNanos(reader.parquet(loadPath), nanosCols)
  }

  /** Explicitly drop everything derived from `path` (every session and
    * artifact kind) — the escape hatch for the one blind spot of
    * mtime-based fingerprinting (see [[Artifacts]]): an in-process
    * rewrite that lands the SAME file lengths within the filesystem's
    * mtime granularity would otherwise serve stale schemas and
    * artifacts. */
  def invalidateCache(path: String): Unit = Artifacts.invalidate(path)

  /** Top-level column names declared TIMESTAMP(NANOS) in the parquet footer
    * of `path` (a single file or a directory of part files). */
  private def nanosTimestampColumns(
      spark: SparkSession, path: String): Seq[String] = {
    val hconf = spark.sessionState.newHadoopConf()
    val p = new Path(path)
    val fs = p.getFileSystem(hconf)
    if (!fs.exists(p)) return Nil
    // Recursive: partitioned layouts keep part files in subdirectories
    // (dir/date=…/part-*.parquet) — one footer anywhere suffices.
    def firstParquet(dir: Path, depth: Int): Option[Path] = {
      if (depth > 10) return None
      val entries = fs.listStatus(dir).filterNot(_.getPath.getName.startsWith("_"))
      entries.find(e => !e.isDirectory && e.getPath.getName.endsWith(".parquet"))
        .map(_.getPath)
        .orElse(entries.filter(_.isDirectory).sortBy(_.getPath.getName)
          .iterator.flatMap(d => firstParquet(d.getPath, depth + 1))
          .nextOption())
    }
    val file =
      if (fs.getFileStatus(p).isDirectory) firstParquet(p, 0)
      else Some(p)
    file.toSeq.flatMap { f =>
      val reader = ParquetFileReader.open(HadoopInputFile.fromPath(f, hconf))
      try {
        reader.getFooter.getFileMetaData.getSchema.getFields.asScala.collect {
          case fld if fld.isPrimitive && (fld.getLogicalTypeAnnotation match {
            case t: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation =>
              t.getUnit == LogicalTypeAnnotation.TimeUnit.NANOS
            case _ => false
          }) => fld.getName
        }.toSeq
      } finally reader.close()
    }
  }
}
