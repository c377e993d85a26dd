package graft.sources

import java.io.IOException
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.sql.SparkSession

/** Where graft writes its own files, and how an old copy is replaced:
  * every location is emptied by the call that hands it out, so a write
  * into it never meets a previous run's files. Two kinds:
  *
  *  - [[run]]: `target/run/<applicationId>/<name>`, for intermediates
  *    no one reads after the JVM exits (scratch tables, streaming gate
  *    sinks and checkpoints, ingest quarantines, fixture dumps). One
  *    application's locations share one root, so two graft JVMs on one
  *    host never touch each other's files, and one shutdown hook
  *    removes the root at JVM exit ([[reclaim]]).
  *  - [[warehouse]]: `<spark.sql.warehouse.dir>/<name>`, for artifacts
  *    that must outlive the JVM (layouts, indexes, exports that an
  *    oracle reads after the run). Every JVM on the same warehouse dir
  *    shares them.
  */
object Locations {
  private val hooked = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  /** The root of this application's run locations. The first call for
    * a root registers the shutdown hook that [[reclaim]]s it, so a run
    * that never asks for a location pays nothing. */
  def runRoot(spark: SparkSession): String = {
    val root = Paths.get("target", "run", spark.sparkContext.applicationId)
      .toAbsolutePath.toString
    if (hooked.add(root))
      Runtime.getRuntime.addShutdownHook(
        new Thread(() => { reclaim(root); () }, "graft-run-cleanup"))
    root
  }

  /** The root of the warehouse locations, `spark.sql.warehouse.dir`. */
  def warehouseRoot(spark: SparkSession): String =
    spark.conf.get("spark.sql.warehouse.dir")

  /** The empty run location `name` (may contain `/`). */
  def run(spark: SparkSession, name: String): String =
    emptied(spark, s"${runRoot(spark)}/$name")

  /** The empty warehouse location `name` (may contain `/`). */
  def warehouse(spark: SparkSession, name: String): String =
    emptied(spark, s"${warehouseRoot(spark)}/$name")

  private def emptied(spark: SparkSession, loc: String): String = {
    val p = new HPath(loc)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    loc
  }

  /** Delete `root` and everything under it, print the bytes its files
    * held on a `[graft-scratch]` line and return them. Stdout, not a
    * logger: at JVM exit log4j may already have shut down. */
  def reclaim(root: String): Long =
    if (!Files.exists(Paths.get(root))) 0L
    else {
      val walk = Files.walk(Paths.get(root))
      val paths =
        try walk.sorted(java.util.Comparator.reverseOrder()).iterator().asScala.toList
        finally walk.close()
      val bytes = paths.map(p =>
        try { if (Files.isRegularFile(p)) Files.size(p) else 0L }
        catch { case _: IOException => 0L }).sum
      paths.foreach(p =>
        try Files.deleteIfExists(p) catch { case _: IOException => () })
      println(s"[graft-scratch] reclaimed $root ($bytes bytes)")
      bytes
    }
}
