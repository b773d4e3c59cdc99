package graft.streaming

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark.spark

/** FIXTURES §1/§6: the from_json ingest path — fixed-schema parse drops
  * undeclared producer fields, cleansing + imputation, partition layout. */
class IngestSpec extends AnyFunSuite {
  import spark.implicits._

  private val clock = Some(java.sql.Timestamp.valueOf("2025-12-04 03:00:00"))

  private val fullMsg =
    """{"job_id":"a1b2c3d4e5f60718","scraped_at":"2025-12-04T02:13:45.123456",
      |"scraper_version":"1.0","country":"Côte d'Ivoire",
      |"title":"Développeur   Python    Senior","company":"NSIA  Banque",
      |"location":"Abidjan","description":"desc","requirements":"req",
      |"salary":{"amount":800000,"currency":"FCFA","period":"month",
      |"original_text":"800 000 FCFA/MOIS"},"contract_type":"CDI",
      |"experience_level":"Senior","industry":"Technologie",
      |"skills":["Python","Sql"],"source":"macarrierepro_net",
      |"source_url":"https://example.net/offre/123","html_content":"<html/>",
      |"posted_date":"2025-12-01","remote_option":true,
      |"seniority_level":"senior"}""".stripMargin.replace("\n", "")

  private val sparseMsg =
    """{"job_id":"ffff000011112222","scraped_at":"2025-12-04T01:00:00",
      |"title":"Offre","company":"X","location":"Bouaké","salary":null,
      |"source":"educarriere"}""".stripMargin.replace("\n", "")

  test("fixed-schema parse drops undeclared fields; enrich cleanses and imputes") {
    val parsed = IngestTransform.parseJsonValue(Seq(fullMsg, sparseMsg).toDF("value"))
    assert(!parsed.columns.contains("posted_date")) // silently dropped
    val out = IngestTransform.enrich(parsed, clock)
    val full = out.where($"job_id" === "a1b2c3d4e5f60718").first()
    assert(full.getAs[String]("title") == "Développeur Python Senior") // ws collapsed
    assert(full.getAs[String]("company") == "NSIA Banque")
    assert(full.getAs[java.sql.Date]("scraped_date").toString == "2025-12-04")
    assert(full.getAs[Int]("salary_amount") == 800000)
    val sparse = out.where($"job_id" === "ffff000011112222").first()
    assert(sparse.getAs[String]("contract_type") == "Non spécifié") // imputed
    assert(sparse.getAs[String]("experience_level") == "Non spécifié")
    assert(sparse.getAs[String]("industry") == "Autre")
    assert(sparse.isNullAt(sparse.fieldIndex("salary_amount")))
  }

  test("parseKafka decodes the binary key and parses the value by the fixed schema") {
    import java.nio.charset.StandardCharsets.UTF_8
    val extraMsg = """{"job_id":"0123456789abcdef","title":"Comptable","bonus":"x"}"""
    // the Kafka source's shape: binary key/value plus topic coordinates
    val kafka = Seq(("k-full", fullMsg), ("k-extra", extraMsg), ("k-bad", "{not json"))
      .zipWithIndex.map { case ((k, v), i) =>
        (k.getBytes(UTF_8), v.getBytes(UTF_8), "jobs_raw", 0, i.toLong)
      }
      .toDF("key", "value", "topic", "partition", "offset")
    val parsed = IngestTransform.parseKafka(kafka)
    // exactly the key plus the 17 declared fields: undeclared producer
    // fields (bonus, posted_date, ...) and the topic coordinates drop
    assert(parsed.columns.toSeq ==
      "kafka_key" +: graft.model.Schemas.jobOfferRaw.fieldNames.toSeq)
    val byKey = parsed.collect().map(r => r.getAs[String]("kafka_key") -> r).toMap
    assert(byKey.keySet == Set("k-full", "k-extra", "k-bad"))
    val full = byKey("k-full")
    assert(full.getAs[String]("job_id") == "a1b2c3d4e5f60718")
    assert(full.getAs[String]("title") == "Développeur   Python    Senior") // raw: enrich cleanses
    assert(full.getAs[org.apache.spark.sql.Row]("salary").getAs[Int]("amount") == 800000)
    assert(full.getSeq[String](full.fieldIndex("skills")) == Seq("Python", "Sql"))
    val extra = byKey("k-extra")
    assert(extra.getAs[String]("job_id") == "0123456789abcdef")
    assert(extra.getAs[String]("title") == "Comptable")
    assert(extra.isNullAt(extra.fieldIndex("company")))
    // a malformed value keeps its row and key, every declared field null
    val bad = byKey("k-bad")
    assert((1 until bad.length).forall(bad.isNullAt), bad)
  }

  test("ingest dedup drops replayed job_ids within the watermark horizon") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-dedup-stream").toString
    // the same message replayed (at-least-once) plus one distinct offer
    Seq(fullMsg, fullMsg, sparseMsg).toDF("value").coalesce(1)
      .write.mode("overwrite").text(s"$tmp/in")
    val streamIn = spark.readStream.schema("value STRING").text(s"$tmp/in")
    val deduped = IngestTransform.withIngestDedup(
      IngestTransform.enrich(IngestTransform.parseJsonValue(streamIn), clock))
    val q = deduped.writeStream
      .format("parquet").option("path", s"$tmp/out")
      .option("checkpointLocation", s"$tmp/chk")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination()
    val back = spark.read.parquet(s"$tmp/out")
    assert(back.count() == 2)
    assert(back.select("job_id").distinct().count() == 2)
  }

  test("ingest dedup passes distinct null-job_id offers through uncollapsed") {
    // two genuinely different offers whose JSON lacks job_id: from_json
    // nulls the field, and dropDuplicates treats null keys as EQUAL —
    // without the null passthrough one real offer silently vanishes
    val noId1 = """{"title":"Offre A","company":"X","source":"s"}"""
    val noId2 = """{"title":"Offre B","company":"Y","source":"s"}"""
    val out = IngestTransform.withIngestDedup(
      IngestTransform.enrich(
        IngestTransform.parseJsonValue(Seq(noId1, noId2, fullMsg, fullMsg).toDF("value")),
        clock))
    assert(out.count() == 3) // 2 null-id offers + 1 deduped real id
    assert(out.where($"job_id".isNull).count() == 2)
  }

  test("streaming file source lands partitioned parquet like the reference sink") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-stream").toString
    Seq(fullMsg, sparseMsg).toDF("value").coalesce(1)
      .write.mode("overwrite").text(s"$tmp/in")

    val streamIn = spark.readStream.schema("value STRING").text(s"$tmp/in")
    val enriched = IngestTransform.enrich(IngestTransform.parseJsonValue(streamIn), clock)
    val q = StreamingIngest.parquetSink(enriched, s"$tmp/out", s"$tmp/chk",
      org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination()

    val back = spark.read.parquet(s"$tmp/out")
    assert(back.count() == 2)
    val dirs = new java.io.File(s"$tmp/out").listFiles().map(_.getName).filter(_.startsWith("scraped_date="))
    assert(dirs.contains("scraped_date=2025-12-04"))
    val sourceDirs = new java.io.File(s"$tmp/out/scraped_date=2025-12-04").listFiles()
      .map(_.getName).toSet
    assert(sourceDirs == Set("source=macarrierepro_net", "source=educarriere"))
  }
}
