package graft

import java.nio.file.{Files, Paths}

import graft.queries.Catalog
import graft.sources.Locations
import graft.streaming.Streams

/** Where graft writes its own files: one run root per application,
  * locations emptied by the call that hands them out, and the root
  * reclaimed with its bytes reported. */
class LocationsSpec extends SparkSpec {

  test("one application's run locations share one root named by its " +
      "application id") {
    val root = Paths.get(Locations.runRoot(spark))
    assert(root.isAbsolute)
    assert(root.getFileName.toString == spark.sparkContext.applicationId)
    assert(root.getParent == Paths.get("target", "run").toAbsolutePath)
    Seq("a", "b/c").foreach(n =>
      assert(Locations.run(spark, n) == root.resolve(n).toString))
    assert(Streams.gateCheckpoint(spark, "q") ==
      root.resolve("stream_gate/q/ckpt").toString)
  }

  test("run and warehouse locations are emptied on each call") {
    val name = s"locations_spec_${System.nanoTime()}"
    Seq[String => String](Locations.run(spark, _),
        Locations.warehouse(spark, _)).foreach { location =>
      val loc = location(name)
      spark.range(3).write.parquet(loc)
      assert(spark.read.parquet(loc).count() == 3)
      assert(location(name) == loc)
      val dir = Paths.get(new org.apache.hadoop.fs.Path(loc).toUri.getPath)
      assert(!Files.exists(dir), s"$loc still holds the previous write")
    }
    assert(Locations.warehouse(spark, name) ==
      s"${Locations.warehouseRoot(spark)}/$name")
  }

  test("reclaim removes the root and reports the bytes of its files") {
    val root = Files.createTempDirectory("graft-run-root")
    Files.createDirectories(root.resolve("a/b"))
    Files.write(root.resolve("a/b/f1"), new Array[Byte](10))
    Files.write(root.resolve("a/f2"), new Array[Byte](20))
    val out = new java.io.ByteArrayOutputStream()
    val bytes = Console.withOut(out)(Locations.reclaim(root.toString))
    assert(bytes == 30)
    assert(!Files.exists(root))
    assert(out.toString.trim == s"[graft-scratch] reclaimed $root (30 bytes)")
    assert(Locations.reclaim(root.toString) == 0)
  }

  test("x76, x81, x54 and s19 write their files under the run root") {
    val root = Paths.get(Locations.runRoot(spark))
    val sfName = Paths.get(sf()).getFileName.toString
    Seq("x76_wet_roundtrip", "x81_streaming_wet_ingest",
        "x54_streaming_exactly_once_sink", "s19_ingest_quarantine")
      .foreach(n => assert(Catalog.byName(n).run(spark, sf()).count() > 0, n))
    Seq(s"wet_docs_$sfName", s"wet_stream_$sfName",
        "stream_gate/x81_out/out", "stream_gate/x81_out/ckpt/commits",
        "x54/sink", "x54/ckpt", "ingest/s19_fixture", "ingest/s19/parsed",
        "ingest/s19/quarantine")
      .foreach(p => assert(Files.isDirectory(root.resolve(p)), p))
  }
}
