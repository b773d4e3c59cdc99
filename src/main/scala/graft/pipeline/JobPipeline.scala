package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.operators.Scratch
import graft.sources.ParquetWarehouse
import graft.stages._

/** Orchestration replacing the reference's Airflow DAG within scope:
  * the ordered stage chain (processing_spark_dag.py:159) with per-stage
  * parquet materialization + the DAG's data-presence checks as
  * assertions (processing_spark_dag.py:55-88).
  *
  * In-memory chaining (one SparkSession, stages fused by Catalyst) is
  * the default; `materialize = true` reproduces the reference's
  * stage-per-process restartability contract: each stage lands in the
  * lake at `lakeRoot/<stage>` partitioned by `source` (each DAG task is
  * a fresh spark-submit reading the previous stage's directory) and is
  * read back through [[Scratch.writeBack]] — by its written schema, so
  * the stage's one Spark job is its write; the presence check counts
  * the written footers.
  */
class JobPipeline(spark: SparkSession, lakeRoot: String,
    clock: Option[java.sql.Timestamp] = None) {

  private def checkpoint(df: DataFrame, name: String, materialize: Boolean): DataFrame =
    if (!materialize) df
    else {
      val back = Scratch.writeBack(df, s"$lakeRoot/$name")(_.partitionBy("source"))
      require(Scratch.footerCount(back) > 0, s"stage $name produced no rows")
      back
    }

  /** Full batch chain: blobs -> parse -> skills -> salary -> dedup ->
    * sectors; returns the enriched offers frame. */
  def enrich(blobs: DataFrame, materialize: Boolean = false): DataFrame = {
    val parsed = checkpoint(Parse(blobs, clock), "jobs_parsed", materialize)
    val skilled = checkpoint(ExtractSkills(parsed, clock), "jobs_enriched_skills", materialize)
    val salaried = checkpoint(ExtractSalary(skilled, clock), "jobs_enriched_salary", materialize)
    val deduped = checkpoint(Deduplicate(salaried, clock = clock), "jobs_deduplicated", materialize)
    checkpoint(ClassifySectors(deduped, clock), "jobs_enriched_sectors", materialize)
  }

  /** Warehouse load (fact + 3 dims + Dim_Secteur), parquet layout. */
  def loadWarehouse(enriched: DataFrame, warehouseRoot: String): Unit = {
    val wh = new ParquetWarehouse(warehouseRoot)
    wh.write(StarSchema.factOffres(enriched, clock), "Fact_OffresEmploi",
      Some("date_publication"), Seq("entreprise_id", "localisation_id", "secteur_id"))
    wh.write(StarSchema.dimEntreprise(enriched, clock), "Dim_Entreprise", None, Nil)
    wh.write(StarSchema.dimLocalisation(enriched, clock), "Dim_Localisation", None, Nil)
    wh.write(StarSchema.dimCompetence(enriched, clock), "Dim_Competence", None, Nil)
    wh.write(ClassifySectors.dimSecteur(enriched, clock), "Dim_Secteur", None, Nil)
  }
}
