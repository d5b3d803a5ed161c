package graft.streaming

import graft.model.CollectionMetadata
import graft.stac.StacParse
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.streaming.Trigger

/** Streaming STAC ingest (SURVEY §2.10): items land as JSON files, each
  * microbatch parses them DISTRIBUTEDLY and widens the per-collection
  * schema cache incrementally — the streaming analog of the reference's
  * `_CMDAssembler.update` over an item stream (`_mdtools.py:571-617`),
  * run through `foreachBatch` exactly as SURVEY prescribes for schema
  * evolution in a Structured Streaming sink.
  *
  * Scale shape: each batch's items are parsed executor-side against the
  * accumulated broadcast schema; only the (tiny) per-collection schema
  * deltas hit the driver. Parsed items append to a parquet sink — at
  * 100 TB/day of scene metadata this is the standing ingest topology:
  * landing dir -> readStream.text -> parse/widen -> parquet item table
  * that `Load.load` plans against.
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
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], _: Long) =>
        val jsons = batch.select("value").as[String]
        // distributed parse; schema inference runs on executors, only the
        // per-collection metadata (bytes) reaches the driver
        val (parsed, batchSchemas) = StacParse.parseItems(spark, jsons)
        schemas = (schemas.keySet ++ batchSchemas.keySet).map { k =>
          k -> ((schemas.get(k), batchSchemas.get(k)) match {
            // merge is left-biased (a.copy(bands = b.bands ++ a.bands)):
            // accumulated schema first => first-seen metadata wins, new
            // assets from the batch still widen in
            case (Some(a), Some(b)) => StacParse.merge(a, b)
            case (Some(a), None) => a
            case (None, Some(b)) => b
            case _ => throw new IllegalStateException
          })
        }.toMap
        batches += 1
        parsed
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
