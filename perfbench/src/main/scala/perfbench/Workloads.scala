package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.catalog.Warehouse
import graft.etl.WorldCup
import graft.queries.Catalog
import graft.sources.Tables

/** Marks the phases of one op. Each phase's jobs carry its name as a
  * local property, so the trace can tell planning-time jobs from the
  * final write's. */
final class Marks(spark: SparkSession) {
  val phases = scala.collection.mutable.ArrayBuffer.empty[(String, Long, Long)]
  def phase[A](name: String)(body: => A): A = {
    spark.sparkContext.setLocalProperty(Recorder.PhaseProp, name)
    val t0 = System.currentTimeMillis()
    try body
    finally {
      phases += ((name, t0, System.currentTimeMillis()))
      spark.sparkContext.setLocalProperty(Recorder.PhaseProp, null)
    }
  }
}

/** One timed operation of a pass. `after` runs untimed once the op is
  * done and returns counters the trace reports for it. */
final case class Op(name: String, layer: String, body: Marks => Unit,
    after: () => Map[String, Double] = () => Map.empty)

/** One output to compare with its DuckDB oracle: `frame` is written
  * untimed and `oracle` names the catalog entry whose SQL is the
  * reference. `sortRows` compares as a multiset, for frames with no
  * ORDER BY of their own. */
final case class Check(oracle: String, frame: () => DataFrame, sortRows: Boolean)

trait Workload {
  /** Source registration: the part of set-up that belongs to the engine. */
  def setup(spark: SparkSession): Unit
  def ops(spark: SparkSession, pass: Int): Seq[Op]
  def checks(spark: SparkSession): Seq[Check]
}

object Workload {
  def apply(name: String, data: String, work: String, seed: Long): Workload =
    name match {
      case "worldcup_elt" => new WorldCupElt(data, work)
      case "corpus_pipeline" => new CatalogQueries(data, seed, CorpusEntries)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

  val CorpusEntries: Seq[String] = Seq("x2b_dedup_levenshtein",
    "x48_streaming_interval_join")

  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** Bytes of the regular files under `dir`. */
  def treeBytes(dir: Path): Long =
    if (!Files.exists(dir)) 0L
    else {
      val s = Files.walk(dir)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally s.close()
    }

  def deleteTree(dir: Path): Unit =
    if (Files.exists(dir)) {
      val s = Files.walk(dir)
      try s.sorted(java.util.Comparator.reverseOrder()).iterator().asScala
        .foreach(Files.delete)
      finally s.close()
    }
}

/** Catalog entries over the generated corpus tables: each op plans
  * the entry (`build`) and drains it into the noop sink (`exec`). The
  * seed shuffles the entry order of every pass. */
final class CatalogQueries(data: String, seed: Long, names: Seq[String])
    extends Workload {
  def setup(spark: SparkSession): Unit = Tables.registerAll(spark, data)

  def ops(spark: SparkSession, pass: Int): Seq[Op] =
    new scala.util.Random(seed * 7919L + pass).shuffle(names).map { n =>
      Op(n, "queries", m => {
        val df = m.phase("build")(Catalog.byName(n).run(spark, data))
        m.phase("exec")(Workload.noop(df))
      })
    }

  def checks(spark: SparkSession): Seq[Check] =
    names.map(n => Check(n, () => Catalog.byName(n).run(spark, data), sortRows = false))
}

/** The one-shot ELT: build all 27 table frames from the generated CSVs,
  * load six of them with PK/FK validation in dependency order, export the
  * database, import it back, query information_schema and preview every
  * loaded table. */
final class WorldCupElt(data: String, work: String) extends Workload {
  private var src: String => DataFrame = _
  private var tables: Map[String, DataFrame] = Map.empty

  def setup(spark: SparkSession): Unit = src = WorldCup.csvSources(spark, data)

  private def exportDir(pass: Int): Path = Paths.get(work, "export", s"pass$pass")

  def ops(spark: SparkSession, pass: Int): Seq[Op] = {
    // a pass reads the tables the previous pass imported, so only the
    // export two passes back is free to go
    Workload.deleteTree(exportDir(pass - 2))
    val dir = exportDir(pass)
    val build = Op("build", "etl.build", _ => tables = WorldCup.build(spark, src))
    val loads = ElTables.map { name =>
      Op(s"load:$name", "catalog.load", _ => {
        val v = Warehouse.load(spark, tables(name), WorldCup.metas(name))
        if (v.nonEmpty) throw new IllegalStateException(s"constraint violations: $v")
      })
    }
    val export = Op("export", "catalog.export",
      _ => Warehouse.exportDatabase(spark, dir.toString),
      () => Map("catalog.export_bytes" -> Workload.treeBytes(dir).toDouble))
    val imp = Op("import", "catalog.import", _ => {
      val n = Warehouse.importDatabase(spark, dir.toString).size
      if (n != ElTables.size) throw new IllegalStateException(s"imported $n tables")
    })
    val introspect = Op("information_schema", "catalog.introspect", _ => {
      val rows = spark.sql("SELECT table_name, count(*) AS n_columns " +
        "FROM information_schema_columns GROUP BY table_name").collect()
      if (rows.length != ElTables.size)
        throw new IllegalStateException(s"information_schema lists ${rows.length} tables")
    })
    val previews = ElTables.map { t =>
      Op(s"preview:$t", "catalog.introspect", _ => {
        val n = Warehouse.preview(spark, t).collect().length
        if (n == 0) throw new IllegalStateException(s"empty preview of $t")
      })
    }
    (build +: loads) ++ Seq(export, imp, introspect) ++ previews
  }

  def checks(spark: SparkSession): Seq[Check] =
    ElTables.map(t => Check(ElOracles(t), () => spark.table(t), sortRows = true))

  /** The loaded tables, parents before children as `WorldCup.metas`'
    * FKs require: the FK closure of `tournament_team`, plus `stage`. */
  private val ElTables: Seq[String] = Seq("confederation", "federation",
    "team", "stage", "tournament", "tournament_team")

  /** The e-entry whose DuckDB oracle rebuilds each table from the CSVs. */
  private val ElOracles: Map[String, String] = Map(
    "confederation" -> "e13_worldcup_confederation",
    "federation" -> "e10_worldcup_federation", "team" -> "e21_worldcup_team",
    "stage" -> "e20_worldcup_stage", "tournament" -> "e6_worldcup_tournament",
    "tournament_team" -> "e7_worldcup_tournament_team")
}
