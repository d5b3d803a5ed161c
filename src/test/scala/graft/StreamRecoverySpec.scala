package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import java.nio.file.{Files, StandardCopyOption}

/** Checkpoint recovery — the exactly-once property the streaming family
  * rests on at 100 TB/day: a query killed mid-stream and restarted with
  * the same checkpoint must resume from the recorded offsets AND the
  * recorded watermark, emitting every closed window exactly once across
  * both incarnations, never reprocessing consumed files.
  *
  * Simulated here the way a landing zone actually behaves: half the
  * time-ranged source files exist for run 1 (AvailableNow drains them
  * and terminates, persisting offsets + watermark), the rest land
  * while the query is DOWN, and run 2 restarts from the checkpoint.
  */
class StreamRecoverySpec extends AnyFunSuite {
  import GraftSpark.{spark, sf}

  test("restart from checkpoint: offsets + watermark resume, windows emit exactly once") {
    val root = Files.createTempDirectory("graft_recovery")
    val src = root.resolve("src"); Files.createDirectories(src)
    val sink = root.resolve("sink").toString
    val chk = root.resolve("chk").toString

    // 4 time-range-sorted source files (strictly increasing mtimes pin
    // the batch order), staged but published in two halves
    val ev = Tables.load(spark, sf, "events")
      .selectExpr("CAST(ts AS TIMESTAMP) AS ts", "event_type", "value")
    val bounds = ev.selectExpr(
      "percentile(unix_seconds(ts), array(0.25, 0.5, 0.75)) AS q")
      .head().getSeq[Double](0)
    val lo = Seq(Long.MinValue) ++ bounds.map(_.toLong)
    val hi = bounds.map(_.toLong) ++ Seq(Long.MaxValue)
    val staged = lo.zip(hi).zipWithIndex.map { case ((a, b), k) =>
      val tmp = Files.createTempDirectory("graft_rec_part")
      ev.where(expr(s"unix_seconds(ts) >= ${a}L AND unix_seconds(ts) < ${b}L"))
        .coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = new java.io.File(tmp.toString).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      (part.toPath, k)
    }
    def publish(k: Int): Unit = {
      val dst = src.resolve(f"events_$k%02d.parquet")
      Files.copy(staged(k)._1, dst, StandardCopyOption.REPLACE_EXISTING)
      Files.setLastModifiedTime(dst,
        java.nio.file.attribute.FileTime.fromMillis(1000000L + k * 60000L))
    }
    val schema = spark.read.parquet(staged.head._1.toString).schema

    def runOnce(): Unit = {
      val q = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(src.toString)
        .withWatermark("ts", "1 day")
        .groupBy(window(col("ts"), "1 day"), col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(expr("CAST(ROUND(value * 100) AS BIGINT)")).as("v_cents"))
        .select(col("window.start").cast("date").cast("string").as("d"),
          col("event_type"), col("n"), col("v_cents"))
        .writeStream
        .format("parquet").option("path", sink)
        .option("checkpointLocation", chk)
        .outputMode("append")
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }

    publish(0); publish(1)
    runOnce()
    val afterRun1 = spark.read.parquet(sink).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3)))
    assert(afterRun1.nonEmpty, "run 1 must close at least one window")

    publish(2); publish(3)
    runOnce()
    val finalRows = spark.read.parquet(sink).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3)))

    // exactly-once: no (day, type) key emitted twice across the restart
    val dup = finalRows.groupBy(r => (r._1, r._2)).filter(_._2.length > 1)
    assert(dup.isEmpty, s"windows emitted twice across restart: ${dup.keys}")
    // run-1 emissions are final — the restart must not contradict them
    assert(afterRun1.toSet.subsetOf(finalRows.toSet))
    assert(finalRows.length > afterRun1.length,
      "run 2 must close the windows that arrived while the query was down")

    // end-state equality with the batch spelling of the same append
    // semantics: every day-window whose end the final watermark passed
    val maxTs = ev.agg(max(col("ts"))).head().getTimestamp(0)
    val expected = ev
      .groupBy(col("ts").cast("date").as("d0"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(expr("CAST(ROUND(value * 100) AS BIGINT)")).as("v_cents"))
      .where(col("d0").cast("timestamp") + expr("INTERVAL 1 DAY")
        <= lit(maxTs) - expr("INTERVAL 1 DAY"))
      .select(col("d0").cast("string").as("d"), col("event_type"),
        col("n"), col("v_cents"))
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3)))
    assert(finalRows.toSet == expected.toSet,
      s"restarted stream end-state != batch: missing ${expected.toSet -- finalRows.toSet}, extra ${finalRows.toSet -- expected.toSet}")
  }

  /** The standing-composite state commit (streamComposite's foreachBatch
    * seam): at-least-once microbatch retries must not double-merge, and
    * a crash between the two swap renames must leave a recoverable
    * state dir — the replay contract of a Delta MERGE-on-batchId. */
  test("commitMerge: batchId replay is a no-op and mid-swap crash recovers") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft_commit_merge")
    val statePath = root.resolve("state").toString

    val fold = new load.Composite.PixelComposite
    def buf(b: String, s: Double, c: Int) =
      Seq((b, 0, 0, load.PixelFold.Buf(Array(c, c),
        Array(Array(s, s), Array(s, s), Array(s, s)), 2, 1))).toDS()
    def sums(): Map[String, (Double, Int)] =
      spark.read.parquet(statePath)
        .select(col("band"), expr("buf.planes[0][0]"), expr("buf.n[0]"))
        .collect().map(r => r.getString(0) ->
          (r.getDouble(1), r.getInt(2))).toMap

    rasterops.RasterQueries.commitMerge(spark, statePath, 0L,
      buf("red", 10.0, 1), fold)
    assert(sums() == Map("red" -> (10.0, 1)))
    assert(rasterops.RasterQueries.lastMergedBatch(statePath) == 0L)

    // a RETRIED batch 0 (at-least-once delivery) must not double-merge
    rasterops.RasterQueries.commitMerge(spark, statePath, 0L,
      buf("red", 10.0, 1), fold)
    assert(sums() == Map("red" -> (10.0, 1)),
      "replayed batchId double-merged into the standing buffers")

    rasterops.RasterQueries.commitMerge(spark, statePath, 1L,
      buf("red", 5.0, 2), fold)
    assert(sums() == Map("red" -> (15.0, 3)))

    // crash between the two swap renames: state moved aside to _old,
    // _next never promoted — the next read must restore _old, keeping
    // batch 1's merge, and accept batch 2
    val stateDir = new java.io.File(statePath)
    assert(stateDir.renameTo(new java.io.File(statePath + "_old")))
    assert(rasterops.RasterQueries.lastMergedBatch(statePath) == 1L,
      "mid-swap crash did not recover the standing state from _old")
    assert(sums() == Map("red" -> (15.0, 3)))
    rasterops.RasterQueries.commitMerge(spark, statePath, 2L,
      buf("red", 1.0, 1), fold)
    assert(sums() == Map("red" -> (16.0, 4)))
    assert(!new java.io.File(statePath + "_old").exists(),
      "recovery dir must be cleared after a successful commit")
  }

  /** The standing peak-argmax merge (streamPhenology's sink) is the
    * batch fold's own merge: larger value wins, ties to the smaller
    * day, the NaN "no valid obs" sentinel always loses to a real value
    * — and the merge is order-invariant, so any batch arrival order
    * lands the same standing state. */
  test("peak fold merge: argmax semantics, NaN sentinel, order-invariance") {
    import spark.implicits._
    val none = Double.NaN
    val fold = new load.Phenology.PixelPeak

    def buf(vd: Seq[(Double, Double)], c: Int) =
      Seq(("red", 0, 0, load.PixelFold.Buf(Array.fill(vd.length)(c),
        Array(vd.map(_._1).toArray, vd.map(_._2).toArray), vd.length, 1)))
        .toDS()
    // NaN-safe view of a pixel: None for the sentinel value
    def view(vd: Seq[(Double, Double)]) =
      vd.map { case (v, d) => (Option(v).filterNot(_.isNaN), d) }
    def state(path: String): (Seq[(Double, Double)], Seq[Int]) = {
      val b = spark.read.parquet(path)
        .as[(String, Int, Int, load.PixelFold.Buf)].head()._4
      (b.planes(0).toSeq.zip(b.planes(1)), b.n.toSeq)
    }

    // px0: b wins on value; px1: tie -> smaller day (a); px2: a is the
    // sentinel -> b's real value wins; px3: both sentinel -> stays
    val a = Seq((10.0, 5.0), (7.0, 2.0), (none, -1.0), (none, -1.0))
    val b = Seq((12.0, 9.0), (7.0, 8.0), (3.0, 4.0), (none, -1.0))
    val want = Seq((12.0, 9.0), (7.0, 2.0), (3.0, 4.0), (none, -1.0))

    for ((first, second, name) <- Seq((a, b, "ab"), (b, a, "ba"))) {
      val root = Files.createTempDirectory(s"graft_peak_merge_$name")
      val path = root.resolve("state").toString
      rasterops.RasterQueries.commitMerge(spark, path, 0L,
        buf(first, 1), fold)
      rasterops.RasterQueries.commitMerge(spark, path, 1L,
        buf(second, 2), fold)
      val (bd, cnt) = state(path)
      assert(view(bd) == view(want), s"order $name: $bd != $want")
      assert(cnt == Seq(3, 3, 3, 3), s"order $name: cnt $cnt")
    }
  }
}
