package graft
import org.apache.spark.sql.{DataFrame, SparkSession}
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {

  /** Dump-time boundary lints — HARD failures since r14 (a DECIMAL
    * output or a missing/non-resolvable top-level ORDER BY is a
    * comparator-nondeterminism defect, r12's s14b/s22; the r12
    * incident shipped red while logging green precisely because these
    * were stderr warnings nobody read). CatalogSpec additionally runs
    * the data-side tie check; the dump keeps to the cheap shape
    * checks so a full Verify pass stays one execution per entry. */
  def boundaryViolations(name: String, df: DataFrame): Seq[String] = {
    val decs = graft.queries.CatalogChecks.decimalColumns(df)
    val dec =
      if (decs.isEmpty) Nil
      else Seq(s"$name returns DECIMAL column(s) ${decs.mkString(",")}")
    val ord = graft.queries.CatalogChecks.totalOrderCheck(df) match {
      case Left(reason) =>
        Seq(s"$name has no name-resolvable top-level ORDER BY: $reason")
      case Right(_) => Nil
    }
    dec ++ ord
  }

  /** Runs the dump over `queries`; returns the boundary-violation
    * count (the process exit code). Everything still dumps and
    * oracle_sql.json still writes before the verdict, so a violating
    * run leaves the driver complete per-query artifacts — the failure
    * is the exit status plus a stderr summary, not a truncated dump. */
  def dump(spark: SparkSession, sfDir: String, outDir: String,
      keep: String => Boolean,
      queries: Map[String, (SparkSession, String) => DataFrame],
      oracleSql: (String => Boolean) => Map[String, String]): Int = {
    new java.io.File(outDir).mkdirs()
    val violations = scala.collection.mutable.ArrayBuffer.empty[String]
    queries.foreach { case (name, fn) =>
      if (keep(name))
        try {
          val df = fn(spark, sfDir)
          violations ++= boundaryViolations(name, df)
          df.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
        } catch { case e: Throwable =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
        }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = oracleSql(keep)
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    violations.foreach(v => System.err.println(s"[verify] VIOLATION $v"))
    if (violations.nonEmpty) System.err.println(
      s"[verify] FAILED: ${violations.size} boundary violation(s) — " +
        "DECIMAL at the comparator or a non-total ORDER BY flaps the " +
        "hash gate (see CatalogChecks)")
    violations.size
  }

  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional 3rd arg: comma-separated name prefixes — dump only
    // matching queries (local iteration; the driver always passes 2).
    // A filtered run CLEARS outDir first: stale parquet from an
    // earlier full dump next to a filtered oracle_sql.json would let
    // a subset check read as full parity.
    val keep: String => Boolean = args.lift(2) match {
      case Some(pfx) =>
        val root = Paths.get(args(1))
        if (Files.exists(root)) {
          import scala.jdk.CollectionConverters._
          Files.walk(root).sorted(java.util.Comparator.reverseOrder())
            .iterator().asScala.foreach(Files.delete)
        }
        val ps = pfx.split(","); name => ps.exists(name.startsWith)
      case None => _ => true
    }
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    val spark = graft.sources.Tables.localSession(cpus)
    val nViolations = dump(spark, sfDir, outDir, keep,
      SparkEntry.queries, SparkEntry.oracleSqlFiltered)
    spark.stop()
    if (nViolations > 0) sys.exit(1)
  }
}
