package perfbench

import java.nio.file.{Files, Path}

/** Per-layer metric: the median over traced ops of a per-op value.
  * `exact` marks counts that should repeat exactly from op to op, and
  * `repeats` whether they did in this run. */
final case class Layer(name: String, value: Double, unit: String,
    exact: Boolean = false, repeats: Boolean = true)

/** Per-layer metrics and self times, derived from the spans of a traced
  * run after it ends. */
object Layers {
  private val MB = 1048576.0

  def derive(spans: Seq[Span], recs: Seq[Main.OpRec], heapPeakMb: Double,
      threads: Int): Seq[Layer] = {
    val byOp = spans.filter(_.op >= 0).groupBy(_.op)
    val traced = recs.filter(r => r.traced && r.ok && byOp.contains(r.i))
    val perOp: Seq[Map[String, Double]] = traced.map { r =>
      val ss = byOp(r.i)
      def named(n: String) = ss.filter(_.name == n)
      def one(n: String) = named(n).headOption
      val parse = one("stac.parse")
      val exec = one("load.exec")
      val jobs = named("spark.job")
      val jobIds = jobs.map(_.id).toSet
      val stages = named("spark.stage").filter(s => jobIds(s.parent))
      val stageIds = stages.map(_.id).toSet
      val tasks = named("spark.task").filter(t => stageIds(t.parent))
      val reads = named("raster.read")
      val execJobs = jobs.filter(j => exec.exists(_.id == j.parent)).map(_.id).toSet
      val execStages = stages.filter(s => execJobs(s.parent)).map(_.id).toSet
      val execTasks = tasks.filter(t => execStages(t.parent))
      val readTasks = reads.map(_.parent).toSet
      val pixelStages = tasks.filter(t => readTasks(t.id)).map(_.parent).toSet
      val shuffleStages = execTasks.filter(_.n3 > 0).map(_.parent).toSet
      def runS(ts: Seq[Span]) = ts.map(_.n6).sum / 1e3
      val readS = reads.map(_.dur).sum / 1e9
      val filled = reads.map(_.n1).sum
      val bins = reads.map(_.n3).sum
      val execS = exec.fold(0.0)(_.dur / 1e9)
      Map(
        "stac.parse_s" -> parse.fold(0.0)(_.dur / 1e9),
        "stac.parse_jobs" -> jobs.count(j => parse.exists(_.id == j.parent)).toDouble,
        "planner.grid_s" -> one("planner.grid").fold(0.0)(_.dur / 1e9),
        "planner.group_s" -> one("planner.group").fold(0.0)(_.dur / 1e9),
        "load.plan_s" -> one("load.plan").fold(0.0)(_.dur / 1e9),
        "load.bins" -> bins.toDouble,
        "load.exec_s" -> execS,
        "load.sources_per_bin" -> reads.size.toDouble / math.max(1L, bins),
        "raster.reads" -> reads.size.toDouble,
        "raster.read_s" -> readS,
        "raster.read_ns_per_px" -> readS * 1e9 / math.max(1L, filled),
        "raster.read_us_per_source" -> readS * 1e6 / math.max(1, reads.size),
        "raster.wasted_read_frac" ->
          reads.count(_.n1 == 0).toDouble / math.max(1, reads.size),
        "raster.read_failed" -> reads.map(_.n2).sum.toDouble,
        "fuse.self_s" -> (runS(tasks.filter(t => pixelStages(t.parent))) - readS),
        "composite.task_s" -> runS(execTasks.filter(t => shuffleStages(t.parent))),
        "spark.shuffle_write_mb" -> tasks.map(_.n4).sum / MB,
        "spark.shuffle_read_mb" -> tasks.map(_.n3).sum / MB,
        "spark.spill_mb" -> tasks.map(_.n5).sum / MB,
        "spark.jobs" -> jobs.size.toDouble,
        "spark.stages" -> stages.size.toDouble,
        "spark.tasks" -> tasks.size.toDouble,
        "spark.task_run_s" -> runS(tasks),
        "spark.task_cpu_s" -> tasks.map(_.n1).sum / 1e9,
        "spark.deser_s" -> tasks.map(_.n2).sum / 1e3,
        "spark.slot_idle_frac" ->
          (1 - runS(execTasks) / math.max(1e-9, execS * threads)),
        "io.rchar_mb" -> r.rcharBytes / MB,
        "jvm.gc_s" -> r.gcMs / 1e3)
    }
    def m(name: String, unit: String, exact: Boolean = false): Layer = {
      val xs = perOp.map(_(name))
      Layer(name, Stats.median(xs), unit, exact, xs.distinct.size <= 1)
    }
    val untracedS = recs.filter(r => !r.traced && r.ok).map(_.secs)
    val tracedS = traced.map(_.secs)
    Seq(
      m("stac.parse_s", "s"), m("stac.parse_jobs", "count", exact = true),
      m("planner.grid_s", "s"), m("planner.group_s", "s"), m("load.plan_s", "s"),
      m("load.bins", "count", exact = true), m("load.exec_s", "s"),
      m("load.sources_per_bin", "count"),
      m("raster.reads", "count", exact = true), m("raster.read_s", "s"),
      m("raster.read_ns_per_px", "ns"), m("raster.read_us_per_source", "us"),
      m("raster.wasted_read_frac", "ratio", exact = true),
      m("raster.read_failed", "count"), m("fuse.self_s", "s"),
      m("composite.task_s", "s"),
      m("spark.shuffle_write_mb", "MB", exact = true), m("spark.shuffle_read_mb", "MB"),
      m("spark.spill_mb", "MB"),
      m("spark.jobs", "count", exact = true), m("spark.stages", "count", exact = true),
      m("spark.tasks", "count", exact = true),
      m("spark.task_run_s", "s"), m("spark.task_cpu_s", "s"), m("spark.deser_s", "s"),
      m("spark.slot_idle_frac", "ratio"), m("io.rchar_mb", "MB"), m("jvm.gc_s", "s"),
      Layer("jvm.heap_peak_mb", heapPeakMb, "MB"),
      Layer("trace.ops", tracedS.size.toDouble, "count"),
      Layer("trace.overhead_s", Stats.median(tracedS) - Stats.median(untracedS), "s"))
  }

  /** Self time per span name, averaged over traced ops: each span's
    * duration minus the part of it its children cover. */
  def selfTimes(spans: Seq[Span]): Seq[(String, Double)] = {
    val kids = spans.groupBy(_.parent)
    val nOps = math.max(1, spans.filter(_.name == "op").size)
    spans.groupBy(_.name).toSeq.map { case (name, ss) =>
      name -> ss.map(s => s.dur - covered(s, kids.getOrElse(s.id, Nil))).sum / 1e9 / nOps
    }.sortBy(-_._2)
  }

  /** Length of the union of the children's intervals, clipped to `s`. */
  private def covered(s: Span, children: Seq[Span]): Long = {
    var total = 0L
    var end = s.start
    children.map(c => (math.max(c.start, s.start), math.min(c.end, s.end)))
      .filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
        if (b > end) { total += b - math.max(a, end); end = b }
      }
    total
  }

  def writeSpans(path: Path, spans: Seq[Span]): Unit = {
    Files.createDirectories(path.getParent)
    val lines = spans.sortBy(_.start).map { s =>
      s"""{"id": "${s.id}", "name": "${s.name}", "start_ns": ${s.start}, """ +
        s""""end_ns": ${s.end}, "parent": "${s.parent}", "op": ${s.op}, """ +
        s""""n": [${s.n1}, ${s.n2}, ${s.n3}, ${s.n4}, ${s.n5}, ${s.n6}]}"""
    }
    Files.write(path, lines.mkString("", "\n", "\n").getBytes("UTF-8"))
  }
}
