package graft.streaming

import graft.model.CollectionMetadata
import graft.stac.StacParse
import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.streaming.Trigger

/** Streaming STAC ingest (SURVEY §2.10): items land as JSON files, and
  * each microbatch widens the per-collection schemas incrementally — the
  * streaming analog of the reference's `_CMDAssembler.update` over an
  * item stream (`_mdtools.py:571-617`), run through `foreachBatch` as
  * SURVEY prescribes for schema evolution in a Structured Streaming sink.
  *
  * Each microbatch (bounded by `maxFilesPerTrigger`) is collected and
  * parsed on the driver, so a batch's items must fit in driver memory;
  * its items are folded into the accumulated schemas and parsed against
  * them. Parsed items append to a parquet sink: landing dir ->
  * readStream.text -> parse/widen -> parquet item table.
  */
object StacIngest {

  final case class IngestResult(items: DataFrame,
                                schemas: Map[String, CollectionMetadata],
                                nBatches: Int)

  /** Run an AvailableNow ingest over a landing dir of one-line item JSON
    * files. `maxFilesPerTrigger` forces multi-batch runs so widening
    * across batches is real, not incidental. */
  def ingest(spark: SparkSession, landingDir: String, outDir: String,
             maxFilesPerTrigger: Int = 2): IngestResult = {
    import spark.implicits._
    var schemas = Map.empty[String, CollectionMetadata]
    var batches = 0
    val q = spark.readStream
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .text(landingDir)
      .writeStream
      .foreachBatch { (batch: Dataset[Row], _: Long) =>
        val jsons = batch.select("value").as[String].collect().toSeq
        // earlier batches seed the fold, so first-seen metadata wins
        val (items, widened) = StacParse.parseItems(jsons, known = schemas)
        schemas = widened
        batches += 1
        items
          .map(i => (i.id, i.collection, i.bands.size,
            i.nominalDatetime.toInstant.toString))
          .toDF("id", "collection", "n_bands", "datetime")
          .write.mode("append").parquet(outDir)
        ()
      }
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    IngestResult(spark.read.parquet(outDir), schemas, batches)
  }
}
