package graft

import org.scalatest.funsuite.AnyFunSuite

/** Bench command surface (`bench/_cli.py` analog): prepare dumps a
  * parseable FeatureCollection, run appends one JSON record per timed
  * load, report aggregates them — end-to-end on a 1-scene workload —
  * plus `RasterBench`'s analytics mode and its scene writer. */
class BenchCliSpec extends AnyFunSuite {
  private lazy val spark = GraftSpark.spark
  private lazy val tmp =
    java.nio.file.Files.createTempDirectory("graft_benchcli").toString

  test("prepare writes a FeatureCollection with one feature per scene") {
    val f = s"$tmp/site.geojson"
    val fc = BenchCli.prepare(4, f)
    assert(new java.io.File(f).isFile)
    val node = new com.fasterxml.jackson.databind.ObjectMapper().readTree(fc)
    assert(node.get("type").asText() == "FeatureCollection")
    assert(node.get("features").size() == 4)
    assert(node.get("features").get(0).get("assets").size() ==
      RasterBench.Mosaic.bands.size)
  }

  test("run appends records; report aggregates them per config") {
    val results = s"$tmp/results.jsonl"
    val recs = BenchCli.runBench(spark, nScenes = 1, mode = "paste",
      ntimes = 2, resultsFile = results)
    assert(recs.size == 2 && recs.forall(r => r.npix > 0 && r.elapsed > 0))
    val rep = BenchCli.report(results)
    val row = rep.linesIterator.toSeq.find(_.startsWith("paste"))
    assert(row.isDefined, s"no paste row in:\n$rep")
    assert(row.get.trim.split("\\s+")(3) == "2", s"runs != 2 in: ${row.get}")
  }

  test("analytics mode returns one raster_scale line: four positive times") {
    val line = RasterBench.run(spark,
      Array("--mode", "analytics", "--scenes", "4", "--grid", "1"))
    val node = new com.fasterxml.jackson.databind.ObjectMapper().readTree(line)
    assert(node.get("metric").asText() == "raster_scale", line)
    assert(node.get("scenes").asInt() == 4 && node.get("grid").asInt() == 1 &&
      node.get("days").asInt() == 4, line)
    val q = node.get("queries")
    val keys = Seq("composite_median", "geomedian", "focal_mean", "zonal_stats")
    assert(q.size() == keys.size, line)
    keys.foreach(k => assert(q.get(k).asDouble() > 0, s"$k in $line"))
  }

  test("scene writer: a scene left without its completion marker is rewritten") {
    import java.nio.file.Files
    val shape = RasterBench.Depth
    RasterBench.writeScenes(shape, 2, grid = 1)
    val done = RasterBench.scenePath(shape, 1, 0, shape.bands.head)
    val cut = RasterBench.scenePath(shape, 1, 1, shape.bands.head)
    val marker = cut.resolveSibling("s1.ok")
    val (doneAt, good) = (Files.getLastModifiedTime(done), Files.readAllBytes(cut))
    // a write killed midway: truncated payload, no marker stamped yet
    Files.write(cut, good.take(good.length / 2))
    Files.delete(marker)
    RasterBench.writeScenes(shape, 2, grid = 1)
    assert(Files.readAllBytes(cut).sameElements(good))
    assert(Files.exists(marker))
    assert(Files.getLastModifiedTime(done) == doneAt, "a finished scene was rewritten")
  }

  test("report round-trips the exact numbers it was given") {
    val f = s"$tmp/fixed.jsonl"
    java.nio.file.Files.writeString(java.nio.file.Paths.get(f),
      """{"mode":"warp","threads":4,"scenes":9,"plan_s":0.5,"exec_s":1.5,"npix":100000000,"mpx_per_s":50.0}
        |{"mode":"warp","threads":4,"scenes":9,"plan_s":0.5,"exec_s":3.5,"npix":100000000,"mpx_per_s":25.0}
        |""".stripMargin)
    val rep = BenchCli.report(f)
    val row = rep.linesIterator.toSeq.find(_.startsWith("warp")).get
    val cols = row.trim.split("\\s+")
    // mode thr scn runs min mean max mpx/s
    assert(cols(3) == "2" && cols(4) == "2.000" && cols(5) == "3.000" &&
      cols(6) == "4.000", row)
    assert(math.abs(cols(7).toDouble - 37.5) < 0.01, row)
  }
}
