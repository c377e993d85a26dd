package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one JVM-wide session; suites
  * run sequentially under sbt's single test JVM). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  /** Resolve a test-data dir: a bare name resolves under the
    * read-only driver testdata root; an ABSOLUTE path passes through
    * untouched — the deep-scale sweeps (GRAFT_CATALOG_SF=/tmp/sf1
    * over a ScaleGen output) run the same specs against generated
    * dirs the read-only root cannot hold. */
  def sf(dir: String = "sf0.001"): String =
    if (dir.startsWith("/")) dir else s"/root/testdata/$dir"
}

object SparkSpec {
  lazy val session: SparkSession = {
    // GRAFT_TEST_CPUS widens the default 4-thread test session for
    // deep-scale sweeps (CatalogSpec at sf1 is IO/CPU bound; 4
    // threads would turn a boundary sweep into hours). Default stays
    // 4 so `sbt test` keeps its measured concurrency envelope.
    val cpus = sys.env.get("GRAFT_TEST_CPUS")
      .map(v => v.trim.toIntOption.filter(_ > 0).getOrElse(
        throw new IllegalArgumentException(
          s"GRAFT_TEST_CPUS must be a positive int, got '$v'")))
      .getOrElse(4)
    graft.sources.Tables.localSession(cpus)
  }
}
