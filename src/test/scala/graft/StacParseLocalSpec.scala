package graft

import com.fasterxml.jackson.databind.{ObjectMapper, SerializationFeature}
import graft.model.{BandKey, ParsedItem}
import graft.raster.Fixtures
import graft.stac.StacParse
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.scalatest.funsuite.AnyFunSuite

/** The one driver-side STAC parse: the standing-schema parse the raster
  * streams use per microbatch, the `Dataset` adapter, the first-seen-wins
  * schema fold, and the Spark jobs a parse fires (none). */
class StacParseLocalSpec extends AnyFunSuite {
  import GraftSpark.spark
  import spark.implicits._

  private lazy val jsons = Fixtures.writeScenes(4).map(_.replaceAll("\n", " "))

  private val mapper = new ObjectMapper()
    .configure(SerializationFeature.ORDER_MAP_ENTRIES_BY_KEYS, true)

  // ParsedItem carries Arrays (affine, geometry rings), so case-class
  // equality is reference equality — compare by-value through the
  // Dataset encoder's JSON rendering instead, with map keys sorted
  // (a Map's iteration order is not part of its value)
  private def canon(items: Seq[ParsedItem]): Seq[String] =
    spark.createDataset(items).toJSON.collect().toSeq.map(j =>
      mapper.writeValueAsString(mapper.readValue(j, classOf[java.util.Map[_, _]])))
      .sorted

  // parseItemsLocal is now parseWithSchemas; the test keeps its name
  test("parseItemsLocal parses per-batch slices identically (the stream shape)") {
    val (items, schemas) = StacParse.parseItems(jsons)
    // one item per "microbatch", as maxFilesPerTrigger=1 delivers them
    val perBatch = jsons.flatMap(j => StacParse.parseWithSchemas(Seq(j), schemas))
    assert(canon(perBatch) == canon(items))
  }

  test("the Dataset adapter equals the Seq parse on a local and a text-file input") {
    val (items, schemas) = StacParse.parseItems(jsons)
    val (local, localSchemas) = StacParse.parseItems(spark, spark.createDataset(jsons))
    assert(canon(local.collect().toSeq) == canon(items))
    assert(localSchemas == schemas)
    val dir = java.nio.file.Files.createTempDirectory("graft_parse_text")
    jsons.zipWithIndex.foreach { case (j, i) =>
      java.nio.file.Files.writeString(dir.resolve(f"item_$i%03d.json"), j)
    }
    val (text, textSchemas) = StacParse.parseItems(spark,
      spark.read.textFile(dir.toString))
    assert(canon(text.collect().toSeq) == canon(items))
    assert(textSchemas == schemas)
  }

  test("parsing a local input fires no Spark job, in either spelling") {
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    Harness.drainListeners(spark)
    spark.sparkContext.addSparkListener(listener)
    try {
      assert(StacParse.parseItems(jsons)._1.size == jsons.size)
      // the spelling of the load benchmark (perfbench/)
      assert(StacParse.parseItems(spark, spark.createDataset(jsons))._1
        .collect().length == jsons.size)
      Harness.drainListeners(spark)
      assert(jobs.get == 0)
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("the first item of a collection wins where two items disagree") {
    def withRedNodata(j: String, nodata: Int): String = {
      val item = mapper.readTree(j)
      item.at("/assets/red/raster:bands/0")
        .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
        .put("nodata", nodata)
      item.toString
    }
    val a = withRedNodata(jsons(0), 0)
    val b = withRedNodata(jsons(1), 255)
    def redNodata(order: Seq[String]): (Option[Double], Seq[Option[Double]]) = {
      val (items, schemas) = StacParse.parseItems(order)
      (schemas(Fixtures.CollectionId).bands(BandKey("red", 1)).nodata,
        items.map(_.bands("red").nodata))
    }
    assert(redNodata(Seq(a, b)) == ((Some(0.0), Seq(Some(0.0), Some(0.0)))))
    assert(redNodata(Seq(b, a)) == ((Some(255.0), Seq(Some(255.0), Some(255.0)))))
  }

  test("an item whose collection has no standing schema is named in the error") {
    val (_, schemas) = StacParse.parseItems(jsons.take(1))
    val stray = jsons(1).replace(
      s""""collection": "${Fixtures.CollectionId}"""", """"collection": "other"""")
    assert(stray != jsons(1), "fixture layout changed")
    val e = intercept[IllegalArgumentException] {
      StacParse.parseWithSchemas(Seq(stray), schemas)
    }
    assert(e.getMessage.contains("scene-1") && e.getMessage.contains("'other'"),
      e.getMessage)
  }
}
