package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** Multi-dimensional data layout: Z-order (Morton-curve) clustering,
  * the standard lakehouse answer to "this table is filtered on TWO
  * columns and I can only sort by one" (Delta Lake OPTIMIZE ZORDER,
  * Iceberg sort orders; Morton 1966).
  *
  * A linear sort on x gives perfect file-level min/max pruning on x
  * and ZERO pruning on y (every file spans y's full range). Z-order
  * interleaves the bits of both keys, so consecutive z-values are
  * points of one small (x, y) tile — every file then covers a tight
  * box in BOTH dimensions, and parquet row-group/file min-max stats
  * prune selective filters on x, y, or both. At 100 TB this is the
  * difference between a box query reading one file and reading the
  * whole table; the write is one range-exchange + in-partition sort,
  * exactly what a single-column sort already costs.
  *
  * The z-value is pure bit arithmetic (shift/and/or), identical in
  * Spark and DuckDB — [[zValueSql]] is the oracle twin, and
  * `LayoutSpec` proves the per-file box-tightness claim against a
  * linear-sort baseline.
  */
object Layout {

  /** Morton z-value of two non-negative integer keys, interleaving
    * the low `bits` bits of each (x bit i → z bit 2i, y bit i → z bit
    * 2i+1). `2*bits` must stay ≤ 62 so the value fits a signed long.
    * Keys wider than `bits` bits lose their high bits (same cells
    * collide — size `bits` to the key domain). */
  def zValue(x: Column, y: Column, bits: Int): Column = {
    require(bits >= 1 && bits <= 31, s"bits must be in [1,31], got $bits")
    val xl = x.cast("long")
    val yl = y.cast("long")
    (0 until bits).map { i =>
      shiftleft(shiftright(xl, i).bitwiseAND(lit(1L)), 2 * i)
        .bitwiseOR(shiftleft(shiftright(yl, i).bitwiseAND(lit(1L)), 2 * i + 1))
    }.reduceLeft(_ bitwiseOR _)
  }

  /** DuckDB twin of [[zValue]] over SQL expressions `x` and `y`. */
  def zValueSql(x: String, y: String, bits: Int): String =
    (0 until bits).map { i =>
      s"((((CAST($x AS BIGINT) >> $i) & 1) << ${2 * i}) | " +
        s"(((CAST($y AS BIGINT) >> $i) & 1) << ${2 * i + 1}))"
    }.mkString("(", " | ", ")")

  /** Write `df` as parquet clustered on the z-order of (`colX`,
    * `colY`): one range-exchange on the z-value into `nFiles`
    * z-contiguous partitions, each sorted by z within, so every
    * output file covers a tight (x, y) box and carries min/max stats
    * that prune on either column. The z column is dropped before the
    * write (it is a layout device, not data — and dropping after the
    * sort is a narrow projection that keeps the order). Returns the
    * written location.
    *
    * `bits = 0` (the default) derives the interleave width from the
    * actual key domain with one metadata-cheap two-column max pass —
    * results stay CORRECT with any width (the z column is dropped),
    * but keys wider than `bits` silently collide cells and degrade
    * clustering, the failure mode a hardcoded width hits the first
    * time a larger SF runs. An explicit too-narrow `bits` fails
    * loudly here instead of silently losing pruning. */
  def saveZOrdered(df: DataFrame, dirName: String, colX: String,
      colY: String, bits: Int = 0, nFiles: Int): String = {
    require(bits >= 0 && bits <= 31, s"bits must be in [0,31], got $bits")
    val spark = df.sparkSession
    def bitsFor(m: Long): Int =
      math.max(1, 64 - java.lang.Long.numberOfLeadingZeros(math.max(0L, m)))
    val maxes = df.agg(max(col(colX).cast("long")),
      max(col(colY).cast("long"))).head()
    val needed =
      if (maxes.isNullAt(0) || maxes.isNullAt(1)) 1
      else math.min(31,
        math.max(bitsFor(maxes.getLong(0)), bitsFor(maxes.getLong(1))))
    val useBits = if (bits == 0) needed else bits
    require(bits == 0 || bits >= needed,
      s"bits=$bits truncates keys needing $needed bits " +
        s"(max($colX), max($colY)) = $maxes — z-cells would collide " +
        "and clustering silently degrade; pass bits=0 to auto-derive")
    val loc = new org.apache.hadoop.fs.Path(
      spark.conf.get("spark.sql.warehouse.dir"), dirName)
    loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .delete(loc, true)
    df.withColumn("__z", zValue(col(colX), col(colY), useBits))
      .repartitionByRange(nFiles, col("__z"))
      .sortWithinPartitions(col("__z"))
      .drop("__z")
      .write.mode("overwrite").parquet(loc.toString)
    loc.toString
  }

  /** Compact a fragmented parquet directory into ~`targetRowsPerFile`
    * files, clustered and sorted on `sortCol` — the maintenance job
    * every streaming/incremental ingest needs: micro-batches and
    * per-partition writers leave thousands of KB-scale files whose
    * open/footer overhead dominates scans and whose per-file min/max
    * stats are useless (every tiny file spans a wide range). One
    * range exchange + in-partition sort restores both scan efficiency
    * and stats-based pruning on the sort column.
    *
    * File count is sized from an exact row-count pass here (cheap:
    * parquet count() is metadata-only); a 100 TB deployment would
    * size from file-length metadata instead — the rewrite shape is
    * identical. Returns the written location. */
  def compact(spark: org.apache.spark.sql.SparkSession, srcDir: String,
      dirName: String, targetRowsPerFile: Long, sortCol: String): String = {
    require(targetRowsPerFile > 0, "targetRowsPerFile must be positive")
    val df = Tables.readParquet(spark, srcDir)
    val n = df.count()
    val nFiles = math.max(1L,
      (n + targetRowsPerFile - 1) / targetRowsPerFile).toInt
    val loc = new org.apache.hadoop.fs.Path(
      spark.conf.get("spark.sql.warehouse.dir"), dirName)
    loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .delete(loc, true)
    df.repartitionByRange(nFiles, col(sortCol))
      .sortWithinPartitions(col(sortCol))
      .write.mode("overwrite").parquet(loc.toString)
    loc.toString
  }

  /** Deterministic GLOBAL SHUFFLE + sharded write — the layout step
    * that turns a curated corpus into servable pretraining data. A
    * training run needs the corpus in pseudo-random order (no
    * source/time locality inside a batch) split into N shards that
    * loaders consume independently; `ORDER BY rand()` is neither
    * reproducible nor incremental. Here every row gets a 60-bit
    * md5-derived `shuffle_key` from (`idCol`, `salt`) — a different
    * permutation per salt, reproducible across runs, engines and
    * cluster layouts, and STABLE UNDER GROWTH (a row's shard and
    * relative position never change as the corpus grows, so an
    * incremental re-run only appends) — then `shard = shuffle_key %
    * nShards` and rows land in their shard's directory sorted by
    * `shuffle_key`: reading any shard start-to-finish IS the shuffled
    * order. One range exchange on (shard, key), one in-partition sort;
    * at 100 TB that is the cost floor for any global permutation.
    *
    * Writer parallelism is decoupled from shard count: `nFiles`
    * (default `nShards`) sizes the range exchange, so one shard can
    * span MANY parallel writers — a hash exchange on the shard id
    * would funnel each shard through a single task, a non-starter
    * when a shard is corpus/nShards of 100 TB. Because the exchange
    * ranges over (shard, key), a multi-file shard's files hold
    * DISJOINT key ranges: a loader restores the shard's total order
    * by sorting files on their parquet footer min(shuffle_key) —
    * no overlap, no merge.
    *
    * Returns the written location (`shard=K/` hive layout; the key is
    * kept in the data so the order is externally auditable). */
  def saveShuffledShards(df: DataFrame, dirName: String, idCol: String,
      nShards: Int, nFiles: Int = 0, salt: String = ""): String = {
    require(nShards > 0, s"nShards must be positive, got $nShards")
    require(nFiles >= 0, s"nFiles must be >= 0, got $nFiles")
    val files = if (nFiles == 0) nShards else nFiles
    val spark = df.sparkSession
    val loc = new org.apache.hadoop.fs.Path(
      spark.conf.get("spark.sql.warehouse.dir"), dirName)
    loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .delete(loc, true)
    df.withColumn("shuffle_key", graft.functions.HashFunctions.md5Hash60(
        concat(col(idCol).cast("string"), lit("|"), lit(salt))))
      .withColumn("shard", (col("shuffle_key") % nShards).cast("int"))
      .repartitionByRange(files, col("shard"), col("shuffle_key"))
      .sortWithinPartitions(col("shard"), col("shuffle_key"))
      .write.mode("overwrite").partitionBy("shard").parquet(loc.toString)
    loc.toString
  }

  /** Parquet bloom-filter layout for needle-in-100 TB point lookups.
    * Min/max row-group stats only prune a SORTED key; the standard
    * access path for point lookups on a key the layout is NOT sorted
    * by (doc ids, URL hashes, order keys in an arrival-ordered lake)
    * is a split-block bloom filter per row group
    * (`parquet.bloom.filter.enabled#<col>`): the reader hashes the
    * probe key and skips every row group whose filter says
    * "definitely absent" — IO proportional to the handful of row
    * groups that might match, not the table.
    *
    * The writer hash-distributes on the key (deliberately: min/max
    * stats become useless, isolating the bloom filter as the only
    * skip mechanism) and bounds `parquet.block.size` so files hold
    * multiple row groups — the skip granularity. `expectedNdv` sizes
    * the filter per row group (over-sizing wastes footer bytes,
    * under-sizing inflates false positives). */
  def saveBloomFiltered(df: DataFrame, dirName: String, keyCol: String,
      nFiles: Int, expectedNdv: Long = 0L,
      blockBytes: Long = 1L << 20): String = {
    require(nFiles > 0, s"nFiles must be positive, got $nFiles")
    val spark = df.sparkSession
    val loc = new org.apache.hadoop.fs.Path(
      spark.conf.get("spark.sql.warehouse.dir"), dirName)
    loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .delete(loc, true)
    val w = df.repartition(nFiles, col(keyCol))
      .write.mode("overwrite")
      .option(s"parquet.bloom.filter.enabled#$keyCol", "true")
      // parquet-mr SKIPS the bloom filter for a fully dict-encoded
      // chunk (the dictionary already prunes exactly). Small fixtures
      // keep the key dictionary-viable artificially; at 100 TB a
      // high-cardinality key blows the dictionary anyway — pin that
      // regime so the written layout is the one being rehearsed.
      .option(s"parquet.enable.dictionary#$keyCol", "false")
      .option("parquet.block.size", blockBytes.toString)
    (if (expectedNdv > 0)
       w.option(s"parquet.bloom.filter.expected.ndv#$keyCol",
         expectedNdv.toString)
     else w).parquet(loc.toString)
    loc.toString
  }

  /** Row-group skip evidence for a point lookup over a
    * [[saveBloomFiltered]] layout, read from the WRITTEN files'
    * footers (the artifact, not the plan): returns (row groups,
    * row groups carrying a bloom filter on `keyCol`, row groups whose
    * filter says `probe` MIGHT be present). A reader with bloom
    * filtering on touches only the candidates; `total - candidates`
    * is the skipped IO. */
  def bloomPointLookupStats(spark: org.apache.spark.sql.SparkSession,
      dir: String, keyCol: String, probe: Long): (Int, Int, Int) = {
    import scala.jdk.CollectionConverters._
    val conf = spark.sparkContext.hadoopConfiguration
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(conf)
    var total = 0
    var withBloom = 0
    var candidates = 0
    fs.listStatus(p).iterator
      .filter(f => f.getPath.getName.startsWith("part-") &&
        f.getPath.getName.endsWith(".parquet"))
      .foreach { f =>
        val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
          org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
            f.getPath, conf))
        try reader.getFooter.getBlocks.asScala.foreach { block =>
          total += 1
          block.getColumns.asScala
            .find(_.getPath.toDotString == keyCol)
            .foreach { cc =>
              val bf = reader.getBloomFilterDataReader(block)
                .readBloomFilter(cc)
              if (bf != null) {
                withBloom += 1
                if (bf.findHash(bf.hash(probe))) candidates += 1
              }
            }
        } finally reader.close()
      }
    (total, withBloom, candidates)
  }

  /** Data-file count of a parquet directory (part-files only). */
  def parquetFileCount(spark: org.apache.spark.sql.SparkSession,
      dir: String): Int = {
    val p = new org.apache.hadoop.fs.Path(dir)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .listStatus(p).count(f => f.getPath.getName.endsWith(".parquet"))
  }
}
