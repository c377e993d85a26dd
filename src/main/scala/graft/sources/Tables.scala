package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Parquet source layer for the driver test tables (TESTDATA.md).
  *
  * The reference's source layer is CSV scans with manual positional
  * projection (`/root/reference/scripts/build_db.py:104-108` and 17 more
  * sites); here scans are declarative parquet reads and column pruning /
  * filter pushdown are delegated to Catalyst (`PushedFilters` /
  * `ReadSchema` visible in `.explain("formatted")`).
  *
  * Scale note: each table is a single parquet file locally, but nothing
  * here assumes that — at 100 TB these paths are directories of many
  * row-group-sized files and the same `spark.read.parquet` call
  * parallelizes by `spark.sql.files.maxPartitionBytes`.
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def path(dir: String, name: String): String = s"$dir/$name.parquet"

  /** Session confs the fixture read layer REQUIRES. Apply at session
    * BUILD time (every entry point in this repo does, through
    * [[localSession]]): `nanosAsLong` makes a TIMESTAMP(NANOS) fixture
    * regeneration readable as a BIGINT instead of a reader error, and
    * [[truncateNanosCols]] then repairs exactly the footer-annotated
    * columns. A library must not mutate its host session's global
    * conf from inside a read path (r9 verdict item 5), so `Tables`
    * never calls `spark.conf.set` — a session missing this conf fails
    * loudly with a pointer here if (and only if) it meets a nanos-era
    * fixture.
    *
    * `checkpointFileManagerClass` makes every streaming query rename
    * its checkpoint files (offsets, commits, sink logs, state deltas
    * and checksums) with `FileSystem.rename`. Spark's default manager
    * renames through Hadoop `FileContext`, whose local file system,
    * without the native Hadoop library, forks a `readlink` process
    * about five times per rename to resolve a symlink that is never
    * there. The files written, their `.crc` sidecars, the
    * temp-file-then-atomic-rename protocol and the refusal to rename
    * onto an existing file are the same under both managers. A rename
    * asked to overwrite (state deltas and snapshots) is best effort:
    * under Spark's Hive jars `file:` is Hive's `ProxyLocalFileSystem`,
    * whose rename keeps an existing target. */
  val sessionConfs: Map[String, String] = Map(
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    "spark.sql.streaming.checkpointFileManagerClass" ->
      ("org.apache.spark.sql.execution.streaming.checkpointing." +
        "FileSystemBasedCheckpointFileManager"))

  /** Apply [[sessionConfs]] to a session builder — the one-liner every
    * entry point (and an embedder) uses at session build time. */
  def withSessionConfs(b: SparkSession.Builder): SparkSession.Builder =
    sessionConfs.foldLeft(b) { case (bb, (k, v)) => bb.config(k, v) }

  /** The session every entry point (Verify, Bench, Smoke, Explain,
    * JobCount, ScaleGen, the test base spec) runs on:
    * [[sessionConfs]], `local[cpus]` with as many shuffle partitions,
    * UTC (the events ts normalization casts TIMESTAMP_NTZ via the
    * session TZ, so an unpinned session on a non-UTC host reads
    * shifted timestamps), no UI, WARN logging. */
  def localSession(cpus: Int): SparkSession = {
    val spark = withSessionConfs(SparkSession.builder())
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Parquet read that upgrades Spark's opaque TIMESTAMP(NANOS)
    * schema error into an actionable one naming [[sessionConfs]]. */
  private def readParquet(spark: SparkSession, p: String): DataFrame =
    try spark.read.parquet(p)
    catch {
      case e: Throwable
          if String.valueOf(e.getMessage).contains("NANOS") &&
            spark.conf.get(
              "spark.sql.legacy.parquet.nanosAsLong", "false") != "true" =>
        throw new IllegalStateException(
          s"$p uses TIMESTAMP(NANOS); build the SparkSession with " +
            "graft.sources.Tables.sessionConfs applied " +
            "(spark.sql.legacy.parquet.nanosAsLong=true)", e)
    }

  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    if (name == "events") loadEvents(spark, dir)
    else truncateNanosCols(spark, dir, name,
      readParquet(spark, path(dir, name)))

  /** Columns whose PARQUET logical type is TIMESTAMP(NANOS), from the
    * file footer (memoized per (path, footer-file identity) — a
    * metadata-only read). Under `nanosAsLong` Spark surfaces these as
    * BIGINT, which is indistinguishable from a legitimate BIGINT in
    * the Spark schema alone — only the footer can tell them apart.
    * The cache key includes the footer file's length + mtime so an
    * in-place fixture regeneration (the documented drift scenario)
    * invalidates the entry instead of mis-truncating under a stale
    * column set. */
  private val nanosColsCache =
    new java.util.concurrent.ConcurrentHashMap[String, Set[String]]()
  private def nanosTimestampCols(
      spark: SparkSession, tablePath: String): Set[String] = {
    val conf = spark.sessionState.newHadoopConf()
    val p = new org.apache.hadoop.fs.Path(tablePath)
    val fs = p.getFileSystem(conf)
    val file = // a table may be one file locally or a directory at scale
      if (fs.getFileStatus(p).isDirectory)
        fs.listStatus(p).map(_.getPath)
          .find(_.getName.endsWith(".parquet"))
          .getOrElse(throw new IllegalStateException(
            s"no parquet file under $tablePath"))
      else p
    val st = fs.getFileStatus(file)
    val key = s"$tablePath@${st.getLen}:${st.getModificationTime}"
    nanosColsCache.computeIfAbsent(key, { _ =>
      import org.apache.parquet.schema.LogicalTypeAnnotation
      val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(file, conf))
      try {
        import scala.jdk.CollectionConverters._
        reader.getFileMetaData.getSchema.getFields.asScala.collect {
          case f if f.isPrimitive &&
            (f.getLogicalTypeAnnotation match {
              case t: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation =>
                t.getUnit == LogicalTypeAnnotation.TimeUnit.NANOS
              case _ => false
            }) => f.getName
        }.toSet
      } finally reader.close()
    })
  }

  /** Repair any column a testdata regeneration shipped as
    * TIMESTAMP(NANOS): truncate the nanos BIGINT to micros (DuckDB's
    * own behavior, so oracle values agree) and retype as TimestampType.
    * The footer is only consulted when the Spark schema has a BIGINT
    * column at all — the common all-good path does no metadata read. */
  private def truncateNanosCols(spark: SparkSession, dir: String,
      name: String, raw: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.{expr, timestamp_micros}
    import org.apache.spark.sql.types.LongType
    val longCols = raw.schema.fields
      .filter(_.dataType == LongType).map(_.name)
    if (longCols.isEmpty) raw
    else {
      val nanos = nanosTimestampCols(spark, path(dir, name))
      longCols.filter(nanos).foldLeft(raw) { (df, c) =>
        df.withColumn(c, timestamp_micros(expr(s"`$c` div 1000")))
      }
    }
  }

  /** Schema-adaptive events read. The fixture's `ts` physical type has
    * drifted across testdata generations — TIMESTAMP(NANOS) (which
    * Spark's vectorized reader rejects, so it must be read as a nanos
    * BIGINT and truncated) vs plain `timestamp[us]` (which reads
    * directly). Rather than hardcode either era, branch on the parquet
    * footer the read already resolves: LongType ⇒ nanos→micros
    * truncation (what DuckDB does internally, so oracle values agree);
    * any timestamp type ⇒ normalize to session-TZ TimestampType (the
    * session TZ is UTC everywhere in this repo, so an NTZ cast is
    * value-identical micros). Every other shape fails loudly. */
  private def loadEvents(spark: SparkSession, dir: String): DataFrame =
    normalizeEventsTs(readParquet(spark, path(dir, "events")))

  /** Normalize whatever physical shape `events.ts` arrived in to
    * session-TZ TimestampType with microsecond values identical to
    * DuckDB's read of the same file (DuckDB's TIMESTAMP is naive
    * microseconds, so with the session TZ pinned to UTC all three
    * arms agree bit-for-bit). Any other shape fails loudly rather
    * than silently mis-typing 15 downstream queries. */
  private[sources] def normalizeEventsTs(raw: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr, timestamp_micros}
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    raw.schema("ts").dataType match {
      case LongType =>
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampNTZType =>
        raw.withColumn("ts", col("ts").cast(TimestampType))
      case TimestampType => raw
      case other => throw new IllegalStateException(
        s"events.ts has unsupported type $other; expected nanos BIGINT " +
          "(legacy fixture) or a timestamp type — check the testdata generation")
    }
  }

  /** Streaming twin of [[load]]: the same table as a file-source
    * stream (schema inferred from a batch footer read — the file
    * stream source requires an explicit schema). Shares the events
    * `ts` normalization with [[load]] so a streaming plan over the
    * fixture is value-identical to the batch frame the DuckDB oracle
    * checks. At scale the path is a directory micro-batched by
    * arrival. */
  def loadStream(spark: SparkSession, dir: String, name: String): DataFrame = {
    // The file stream source requires a DIRECTORY base path. Two
    // fixture layouts exist: locally a table is one FILE inside the
    // shared sf dir (base = the sf dir, scoped by pathGlobFilter on
    // the leaf name), while at scale — and in ScaleGen rehearsal
    // dirs — a table is its own DIRECTORY of part files (base = that
    // directory, NO filter: pathGlobFilter matches leaf file names,
    // so `events.parquet` would exclude every `part-*.parquet` inside
    // the directory and the stream would silently read zero rows —
    // caught by the r9 sf1 rehearsal).
    val p = path(dir, name)
    val hp = new org.apache.hadoop.fs.Path(p)
    val isDir = hp.getFileSystem(spark.sessionState.newHadoopConf())
      .getFileStatus(hp).isDirectory
    def stream(schema: org.apache.spark.sql.types.StructType) =
      if (isDir) spark.readStream.schema(schema).parquet(p)
      else spark.readStream.schema(schema)
        .option("pathGlobFilter", s"$name.parquet").parquet(dir)
    if (name == "events")
      normalizeEventsTs(
        stream(readParquet(spark, path(dir, "events")).schema))
    else truncateNanosCols(spark, dir, name,
      stream(readParquet(spark, path(dir, name)).schema))
  }

  /** Register every test table as a temp view — the analog of DuckDB's
    * replacement scan resolving Python-local frames inside SQL
    * (`scripts/build_db.py:72-84`): a name in SQL text resolves to a
    * lazily-planned DataFrame. */
  def registerAll(spark: SparkSession, dir: String): Unit =
    all.foreach(n => load(spark, dir, n).createOrReplaceTempView(n))
}
