package graft.sources

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FileStatus, Path => HPath}
import org.apache.parquet.hadoop.{Footer, ParquetFileReader}
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.schema.LogicalTypeAnnotation
import org.apache.spark.sql.{DataFrame, GraftBridge, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.types.StructType

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
    * onto an existing file are the same under both managers.
    *
    * `fs.file.impl` makes [[ForklessLocalFileSystem]] the `file:` file
    * system. Hadoop's own local file system, without the native
    * library, forks a `chmod` process for every permission it sets:
    * each checkpoint temp file and directory and each parquet part
    * file of every write. The graft one sets the same rwx bits in
    * process and is otherwise Hadoop's checksummed `LocalFileSystem`
    * (it also replaces the `ProxyLocalFileSystem` that Spark's Hive
    * jars register for `file:`). A checkpoint rename asked to overwrite
    * (state deltas and snapshots) replaces the existing target.
    * Hadoop caches one `file:` file system per JVM and user, so a JVM
    * gets this one when its first `file:` access comes from a session
    * built with these confs.
    *
    * `codegen.cache.maxEntries` sizes the JVM-wide LRU cache of the
    * classes Janino compiles for whole-stage codegen, projections and
    * predicates. The product reruns the same passes, and a pass asks
    * for its classes in the same order every time: an LRU cache
    * smaller than that cycle evicts each class just before the pass
    * asks for it again, so it hits 0 times and every warm pass
    * recompiles everything, at about 30 ms a class. Spark's default
    * holds 100 in 4 segments of 25 that evict on their own, so even a
    * pass of fewer than 100 classes misses. Measured at 1024 with the
    * setting below (4 cores, perfbench inputs of seed 3): a
    * `worldcup_elt` pass compiles 118 classes cold and 0 in each of 13
    * warm passes, a `corpus_pipeline` pass 72 cold and 0 in each of 5;
    * at Spark's defaults each warm pass recompiled 80 and 61. 1024
    * holds either pass 8 times over. It does not hold the whole
    * catalog: one `graft.Verify` run over all 211 entries at sf0.01
    * has 2,529 distinct classes and compiles 2,667 at 1024. The cache
    * is a static SQL conf: Spark builds it once per JVM, on the first
    * codegen, from the session active then, so an embedder must set it
    * when building the session, as for `fs.file.impl`.
    *
    * `codegen.useIdInClassName` off names every whole-stage class
    * `GeneratedIterator` instead of suffixing its stage id. The cache
    * is keyed by source text, and AQE numbers the pipelines of a query
    * as it re-plans, in the order its query stages finish, so the
    * same pipeline came back under another id, as a new class, in
    * some runs: the PK/FK check of a validated load compiled 2 to 4
    * classes again in 3 of 13 warm `worldcup_elt` passes. Without the
    * id the same pipeline is the same class, and pipelines that
    * differ only in their id share one class in a cold pass too. A
    * stack trace then shows `GeneratedIterator` where it showed the
    * stage number.
    *
    * `spark.sql.extensions` installs graft's Catalyst functions
    * (`rolling_hash`, `array_dot`, `top_bigram_frac`, `top_k_pairs`)
    * once per session through [[graft.functions.GraftExtensions]]. */
  val sessionConfs: Map[String, String] = Map(
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    "spark.sql.streaming.checkpointFileManagerClass" ->
      ("org.apache.spark.sql.execution.streaming.checkpointing." +
        "FileSystemBasedCheckpointFileManager"),
    "spark.hadoop.fs.file.impl" -> classOf[ForklessLocalFileSystem].getName,
    "spark.sql.codegen.cache.maxEntries" -> "1024",
    "spark.sql.codegen.useIdInClassName" -> "false",
    "spark.sql.extensions" -> classOf[graft.functions.GraftExtensions].getName)

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

  /** The visible `*.parquet` data files of a table path in name
    * order: the path itself when it is a file (a local fixture), else
    * the part files of its directory (a table at scale, a scratch
    * table) and of its `k=v` partition directories; none when the path
    * does not exist. */
  private[graft] def parquetFiles(spark: SparkSession, p: String): Seq[FileStatus] = {
    val hp = new HPath(p)
    val fs = hp.getFileSystem(spark.sessionState.newHadoopConf())
    def under(st: FileStatus): Seq[FileStatus] =
      if (!st.isDirectory) Seq(st)
      else fs.listStatus(st.getPath).toSeq.sortBy(_.getPath.getName).filter { f =>
        val n = f.getPath.getName
        !n.startsWith(".") && !n.startsWith("_") &&
          (if (f.isDirectory) n.contains("=") else n.endsWith(".parquet"))
      }.flatMap(under)
    if (fs.exists(hp)) under(fs.getFileStatus(hp)) else Nil
  }

  /** One parquet file's schema as `spark.read.parquet` infers it (the
    * session's footer converter, every field nullable), and the columns
    * its footer annotates TIMESTAMP(NANOS): one footer read in this
    * process, no Spark job. Under `nanosAsLong` Spark reads those
    * columns as BIGINT, which the Spark schema alone cannot tell from a
    * real BIGINT. Without `nanosAsLong` Spark cannot read them at all,
    * and the error names [[sessionConfs]]. */
  private[graft] def footer(spark: SparkSession,
      file: FileStatus): (StructType, Set[String]) = {
    val reader = ParquetFileReader.open(HadoopInputFile.fromStatus(file,
      spark.sessionState.newHadoopConf()))
    try {
      val meta = reader.getFooter
      val schema =
        try ParquetFileFormat.readSchemaFromFooter(
          new Footer(file.getPath, meta),
          new ParquetToSparkSchemaConverter(spark.sessionState.conf))
        catch {
          case e: Throwable
              if String.valueOf(e.getMessage).contains("NANOS") &&
                spark.conf.get(
                  "spark.sql.legacy.parquet.nanosAsLong", "false") != "true" =>
            throw new IllegalStateException(
              s"${file.getPath} uses TIMESTAMP(NANOS); build the SparkSession " +
                "with graft.sources.Tables.sessionConfs applied " +
                "(spark.sql.legacy.parquet.nanosAsLong=true)", e)
        }
      val nanos = meta.getFileMetaData.getSchema.getFields.asScala.collect {
        case f if f.isPrimitive && (f.getLogicalTypeAnnotation match {
            case t: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation =>
              t.getUnit == LogicalTypeAnnotation.TimeUnit.NANOS
            case _ => false
          }) => f.getName
      }.toSet
      (GraftBridge.asNullable(schema), nanos)
    } finally reader.close()
  }

  /** [[footer]] of a table path's first data file. */
  private def tableFooter(spark: SparkSession,
      p: String): (StructType, Set[String]) =
    footer(spark, parquetFiles(spark, p).headOption.getOrElse(
      throw new IllegalStateException(s"no parquet file under $p")))

  /** `spark.read.parquet(p)` without its schema-inference job: the
    * data columns are read from the first data file's footer
    * ([[footer]]); Spark still discovers the partition columns of a
    * `k=v` layout from the directory names. A path with no data file
    * to read (missing, or an empty directory) is left to
    * `spark.read.parquet`, so it fails with Spark's own error. */
  def readParquet(spark: SparkSession, p: String): DataFrame =
    parquetFiles(spark, p).headOption match {
      case Some(f) => spark.read.schema(footer(spark, f)._1).parquet(p)
      case None => spark.read.parquet(p)
    }

  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    val p = path(dir, name)
    val (schema, nanos) = tableFooter(spark, p)
    normalizeTs(name, nanos, spark.read.schema(schema).parquet(p))
  }

  /** The events `ts` normalization for `events`, the nanos truncation
    * for every other table. */
  private def normalizeTs(name: String, nanos: Set[String],
      raw: DataFrame): DataFrame =
    if (name == "events") normalizeEventsTs(raw)
    else truncateNanosCols(raw, nanos)

  /** Repair any column a testdata regeneration shipped as
    * TIMESTAMP(NANOS) (`nanos`, from the footer): truncate the nanos
    * BIGINT to micros (DuckDB's own behavior, so oracle values agree)
    * and retype as TimestampType. */
  private def truncateNanosCols(raw: DataFrame,
      nanos: Set[String]): DataFrame = {
    import org.apache.spark.sql.functions.{expr, timestamp_micros}
    raw.schema.fields.map(_.name).filter(nanos).foldLeft(raw) { (df, c) =>
      df.withColumn(c, timestamp_micros(expr(s"`$c` div 1000")))
    }
  }

  /** Schema-adaptive events `ts`. The fixture's `ts` physical type
    * has drifted across testdata generations — TIMESTAMP(NANOS) (which
    * Spark's vectorized reader rejects, so it is read as a nanos BIGINT)
    * vs plain `timestamp[us]` (which reads directly). Rather than
    * hardcode either era, branch on the type the footer gives `ts`:
    * LongType ⇒ nanos→micros truncation (what DuckDB does internally,
    * so oracle values agree); any timestamp type ⇒ normalize to
    * session-TZ TimestampType (the session TZ is UTC everywhere in this
    * repo, so an NTZ cast is value-identical micros, and all three arms
    * agree bit-for-bit with DuckDB's naive-micros TIMESTAMP). Any other
    * shape fails loudly rather than silently mis-typing 15 downstream
    * queries. */
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
    * stream (schema from the same footer read — the file stream source
    * requires an explicit schema). Shares the events
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
    val hp = new HPath(p)
    val isDir = hp.getFileSystem(spark.sessionState.newHadoopConf())
      .getFileStatus(hp).isDirectory
    val (schema, nanos) = tableFooter(spark, p)
    normalizeTs(name, nanos,
      if (isDir) spark.readStream.schema(schema).parquet(p)
      else spark.readStream.schema(schema)
        .option("pathGlobFilter", s"$name.parquet").parquet(dir))
  }

  /** Register every test table as a temp view — the analog of DuckDB's
    * replacement scan resolving Python-local frames inside SQL
    * (`scripts/build_db.py:72-84`): a name in SQL text resolves to a
    * lazily-planned DataFrame. */
  def registerAll(spark: SparkSession, dir: String): Unit =
    all.foreach(n => load(spark, dir, n).createOrReplaceTempView(n))
}
