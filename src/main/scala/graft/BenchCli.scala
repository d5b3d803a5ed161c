package graft

import org.apache.spark.sql.SparkSession

/** Bench command surface, mirroring the reference's `odc-stac-bench`
  * CLI (`bench/_cli.py:26-234`): `prepare` materializes the benchmark
  * dataset and dumps its items as a GeoJSON FeatureCollection (the
  * local-fixture analog of its STAC-search `dump_site` — the sandbox
  * has no network, so S16's remote dump stays out of scope), `run`
  * executes the timed load N times appending one JSON line per run to
  * a results file (its `run_bench` + `results_file`), and `report`
  * aggregates a results file into the fixed-width summary table its
  * `render_timing_info` prints per run (`_run.py:425-485`).
  *
  * Usage (sbt):
  *   runMain graft.BenchCli prepare --scenes 9
  *   runMain graft.BenchCli run --ntimes 3 --mode warp --scenes 9 \
  *     --results /tmp/rbench.jsonl
  *   runMain graft.BenchCli report --results /tmp/rbench.jsonl
  */
object BenchCli {

  private def opt(args: Array[String], name: String): Option[String] = {
    val i = args.indexOf(s"--$name")
    if (i >= 0 && i + 1 < args.length) Some(args(i + 1)) else None
  }

  /** Materialize scenes + dump the item set as a FeatureCollection. */
  def prepare(nScenes: Int, outFile: String): String = {
    val jsons = RasterBench.writeScenes(nScenes)
    val fc = jsons.mkString(
      """{"type": "FeatureCollection", "features": [""", ",", "]}")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(outFile), fc)
    fc
  }

  /** One run's record — flat JSON line, schema stable across rounds. */
  final case class Rec(mode: String, threads: Int, scenes: Int,
                       planSec: Double, execSec: Double, npix: Long) {
    def elapsed: Double = planSec + execSec
    def mpxs: Double = npix / 1e6 / elapsed
    def json: String =
      f"""{"mode":"$mode","threads":$threads,"scenes":$scenes,""" +
        f""""plan_s":$planSec%.4f,"exec_s":$execSec%.4f,"npix":$npix,""" +
        f""""mpx_per_s":$mpxs%.3f}"""
  }

  def runBench(spark: SparkSession, nScenes: Int, mode: String,
               ntimes: Int, resultsFile: String): Seq[Rec] = {
    import spark.implicits._
    val jsons = RasterBench.writeScenes(nScenes)
    val (ds, schemas) = graft.stac.StacParse.parseItems(
      spark, spark.createDataset(jsons))
    val items = ds.collect().toSeq.sortBy(_.id)
    val threads = spark.sparkContext.defaultParallelism
    RasterBench.loadOnce(spark, items, schemas, mode == "warp") // warmup
    val recs = (1 to ntimes).map { i =>
      val s = RasterBench.loadOnce(spark, items, schemas, mode == "warp")
      val r = Rec(mode, threads, nScenes, s.planSec, s.execSec, s.npix)
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(resultsFile), r.json + "\n",
        java.nio.file.StandardOpenOption.CREATE,
        java.nio.file.StandardOpenOption.APPEND)
      println(f"run $i%2d | plan ${r.planSec}%8.3f s | exec " +
        f"${r.execSec}%8.3f s | ${r.mpxs}%8.2f Mpx/s")
      r
    }
    recs
  }

  /** Aggregate a results file: per (mode, threads, scenes) min/mean/max
    * of elapsed and throughput, fixed-width like `render_timing_info`. */
  def report(resultsFile: String): String = {
    val lines = scala.jdk.CollectionConverters.ListHasAsScala(
      java.nio.file.Files.readAllLines(
        java.nio.file.Paths.get(resultsFile))).asScala
      .filter(_.trim.nonEmpty).toSeq
    def field(j: String, k: String): String = {
      val m = (s""""$k":\\s*"?([^",}]+)"?""").r
      m.findFirstMatchIn(j).map(_.group(1)).getOrElse(
        throw new IllegalArgumentException(s"missing $k in: $j"))
    }
    val recs = lines.map { j =>
      Rec(field(j, "mode"), field(j, "threads").toInt,
        field(j, "scenes").toInt, field(j, "plan_s").toDouble,
        field(j, "exec_s").toDouble, field(j, "npix").toLong)
    }
    val sb = new StringBuilder
    sb.append(f"${"mode"}%-8s ${"thr"}%4s ${"scn"}%4s ${"runs"}%5s " +
      f"${"min_s"}%8s ${"mean_s"}%8s ${"max_s"}%8s ${"mpx/s"}%9s\n")
    recs.groupBy(r => (r.mode, r.threads, r.scenes)).toSeq.sortBy(_._1)
      .foreach { case ((mode, thr, scn), rs) =>
        val es = rs.map(_.elapsed)
        val mpxs = rs.map(_.mpxs)
        sb.append(f"$mode%-8s $thr%4d $scn%4d ${rs.size}%5d " +
          f"${es.min}%8.3f ${es.sum / es.size}%8.3f ${es.max}%8.3f " +
          f"${mpxs.sum / mpxs.size}%9.2f\n")
      }
    sb.result()
  }

  def main(args: Array[String]): Unit = args.headOption match {
    case Some("prepare") =>
      val n = opt(args, "scenes").map(_.toInt).getOrElse(9)
      val out = opt(args, "out").getOrElse(
        s"${sys.props("java.io.tmpdir")}/graft_rbench_site.geojson")
      prepare(n, out)
      println(s"""{"scenes":$n,"bands":${RasterBench.Bands.size},""" +
        s""""scene_px":${RasterBench.SceneW * RasterBench.SceneH},""" +
        s""""site_file":"$out"}""")
    case Some("run") =>
      val n = opt(args, "scenes").map(_.toInt).getOrElse(9)
      val mode = opt(args, "mode").getOrElse("paste")
      require(mode == "paste" || mode == "warp", s"bad --mode $mode")
      val ntimes = opt(args, "ntimes").map(_.toInt).getOrElse(3)
      val results = opt(args, "results").getOrElse(
        s"${sys.props("java.io.tmpdir")}/graft_rbench_results.jsonl")
      val spark = Harness.session(Harness.cpus)
      try runBench(spark, n, mode, ntimes, results) finally spark.stop()
      println(s"""{"results_file":"$results","ntimes":$ntimes}""")
    case Some("report") =>
      val results = opt(args, "results").getOrElse(
        s"${sys.props("java.io.tmpdir")}/graft_rbench_results.jsonl")
      print(report(results))
    case _ =>
      System.err.println(
        "usage: graft.BenchCli prepare [--scenes N] [--out F] | " +
          "run [--scenes N] [--mode paste|warp] [--ntimes N] [--results F] | " +
          "report [--results F]")
      sys.exit(2)
  }
}
