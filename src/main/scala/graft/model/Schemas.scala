package graft.model

import org.apache.spark.sql.types._

/** Canonical schemas of the job-matching domain.
  *
  * [[jobOfferRaw]] is the system's one explicitly-declared wire schema
  * (consume_jobs.py:39-75): 17 top-level fields; producer fields not
  * listed here are silently dropped by from_json — schema-on-read with
  * a fixed schema, a semantic we preserve.
  */
object Schemas {

  val salaryStruct: StructType = StructType(Seq(
    StructField("amount", IntegerType),
    StructField("currency", StringType),
    StructField("period", StringType),
    StructField("original_text", StringType)))

  val jobOfferRaw: StructType = StructType(Seq(
    StructField("job_id", StringType),
    StructField("scraped_at", StringType), // ISO-8601 string on the wire
    StructField("scraper_version", StringType),
    StructField("country", StringType),
    StructField("title", StringType),
    StructField("company", StringType),
    StructField("location", StringType),
    StructField("description", StringType),
    StructField("requirements", StringType),
    StructField("salary", salaryStruct),
    StructField("contract_type", StringType),
    StructField("experience_level", StringType),
    StructField("industry", StringType),
    StructField("skills", ArrayType(StringType)),
    StructField("source", StringType),
    StructField("source_url", StringType),
    StructField("html_content", StringType)))
}
