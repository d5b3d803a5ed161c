package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import graft.geo.GeoBox
import graft.model.{RasterLoadParams, RasterSource}
import graft.raster.{AutoReader, RasterReader}
import org.apache.spark.TaskContext
import org.apache.spark.scheduler._

/** One traced interval. Times are epoch nanoseconds; `parent` is the id
  * of the span that caused it ("" for none); `op` is the op it belongs to.
  * `n1`..`n6` carry the span's counts (see [[Trace]] for their meaning). */
final case class Span(id: String, name: String, start: Long, end: Long,
    parent: String, op: Int, n1: Long = 0, n2: Long = 0, n3: Long = 0,
    n4: Long = 0, n5: Long = 0, n6: Long = 0) {
  def dur: Long = end - start
}

/** In-memory span store for the traced run. Spans are kept until the run
  * ends and written out then.
  *
  * Counts by span name:
  *   - raster.read: n1 = pixels filled, n2 = 1 if the read threw, n3 = 1
  *     if it started a new output bin;
  *   - spark.task: n1 = cpu ns, n2 = deserialize ms, n3 = shuffle bytes
  *     read, n4 = shuffle bytes written, n5 = bytes spilled, n6 = run ms;
  *   - spark.stage: n1 = task count. */
object Trace {
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new java.util.concurrent.atomic.AtomicLong()
  /** Op the raster reads of the current tasks belong to; -1 = untraced. */
  @volatile var currentOp: Int = -1

  private val epochOffset: Long = {
    val i = java.time.Instant.now()
    i.getEpochSecond * 1000000000L + i.getNano - System.nanoTime()
  }
  def now(): Long = System.nanoTime() + epochOffset

  def add(s: Span): Unit = spans.add(s)
  def all: Seq[Span] = spans.asScala.toSeq
  def nextId(prefix: String): String = prefix + ids.incrementAndGet()

  /** Run `f(id)` as span `name` under `parent`, recorded when `op` is
    * traced (>= 0). Spark jobs it starts carry the span id and op as local
    * properties so the listener can parent them. */
  def span[T](spark: org.apache.spark.sql.SparkSession, name: String,
      parent: String, op: Int)(f: String => T): T = {
    val id = nextId("s")
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty(SpanProp)
    sc.setLocalProperty(SpanProp, id)
    sc.setLocalProperty(OpProp, op.toString)
    val t0 = now()
    try {
      val r = f(id)
      if (op >= 0) add(Span(id, name, t0, now(), parent, op))
      r
    } finally sc.setLocalProperty(SpanProp, prev)
  }

  val SpanProp = "perfbench.span"
  val OpProp = "perfbench.op"

  /** Records jobs, stages and tasks of traced ops as spans. */
  final class Listener extends SparkListener {
    private val jobOf = new java.util.concurrent.ConcurrentHashMap[Int, (String, Int)]()
    private val stageStart = new java.util.concurrent.ConcurrentHashMap[Int, java.lang.Long]()
    private val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String, Int)]()

    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val p = Option(e.properties)
      val op = p.flatMap(x => Option(x.getProperty(OpProp))).fold(-1)(_.toInt)
      val parent = p.flatMap(x => Option(x.getProperty(SpanProp))).getOrElse("")
      if (op >= 0) {
        jobStart.put(e.jobId, (e.time * 1000000L, parent, op))
        e.stageIds.foreach(s => jobOf.putIfAbsent(s, (s"j${e.jobId}", op)))
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobStart.remove(e.jobId)).foreach { case (t0, parent, op) =>
        add(Span(s"j${e.jobId}", "spark.job", t0, e.time * 1000000L, parent, op))
      }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      stageStart.put(e.stageInfo.stageId,
        e.stageInfo.submissionTime.fold(Trace.now())(_ * 1000000L))
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val si = e.stageInfo
      Option(jobOf.get(si.stageId)).foreach { case (job, op) =>
        val t0 = Option(stageStart.remove(si.stageId)).fold(Trace.now())(_.longValue)
        add(Span(s"st${si.stageId}", "spark.stage", t0,
          si.completionTime.fold(Trace.now())(_ * 1000000L), job, op,
          n1 = si.numTasks))
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(jobOf.get(e.stageId)).foreach { case (_, op) =>
        val m = Option(e.taskMetrics)
        val ti = e.taskInfo
        add(Span(s"t${ti.taskId}", "spark.task", ti.launchTime * 1000000L,
          ti.finishTime * 1000000L, s"st${e.stageId}", op,
          n1 = m.fold(0L)(_.executorCpuTime),
          n2 = m.fold(0L)(_.executorDeserializeTime),
          n3 = m.fold(0L)(_.shuffleReadMetrics.totalBytesRead),
          n4 = m.fold(0L)(_.shuffleWriteMetrics.bytesWritten),
          n5 = m.fold(0L)(x => x.memoryBytesSpilled + x.diskBytesSpilled),
          n6 = m.fold(0L)(_.executorRunTime)))
      }
  }

  /** Waits until every queued listener event has been delivered. */
  def drain(spark: org.apache.spark.sql.SparkSession): Unit = {
    val bus = spark.sparkContext.getClass.getMethod("listenerBus")
      .invoke(spark.sparkContext)
    bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
  }
}

/** Passed as `Load.load(reader = ...)` in traced ops: delegates to the
  * default reader and records one `raster.read` span per `readInto`. */
object TracedReader extends RasterReader {
  // the tile geobox is built once per bin, so a new instance on this
  // thread marks the first read of a new bin
  private val lastBin = new ThreadLocal[GeoBox]()

  def read(src: RasterSource, cfg: RasterLoadParams, dstGeobox: GeoBox,
      dstNodata: Double) = AutoReader.read(src, cfg, dstGeobox, dstNodata)

  override def readInto(src: RasterSource, cfg: RasterLoadParams,
      dstGeobox: GeoBox, dstNodata: Double, out: Array[Double]): Long = {
    val newBin = if (lastBin.get() ne dstGeobox) { lastBin.set(dstGeobox); 1L } else 0L
    val t0 = Trace.now()
    var filled = -1L
    try {
      filled = AutoReader.readInto(src, cfg, dstGeobox, dstNodata, out)
      filled
    } finally {
      val tc = TaskContext.get()
      Trace.add(Span(Trace.nextId("r"), "raster.read", t0, Trace.now(),
        if (tc == null) "" else s"t${tc.taskAttemptId()}", Trace.currentOp,
        n1 = math.max(filled, 0L), n2 = if (filled < 0) 1L else 0L, n3 = newBin))
    }
  }
}
