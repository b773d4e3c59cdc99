package graft.stages

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.textkit._

/** The six batch pipeline stages of the reference, each a
  * `DataFrame => DataFrame` transformer chained by the pipeline runner.
  * Stage order (processing_spark_dag.py:159): parse -> skills -> salary
  * -> dedup -> sectors -> warehouse load.
  *
  * Scale design: parse/skills/salary/sectors are shuffle-FREE map
  * stages (pure projections — they pipeline into the scan and write
  * back out partitioned by source). Dedup is the only shuffling stage:
  * one exchange on the blocking key for the self-join + one window.
  */
object Stages {

  /** Injectable clock so outputs are deterministic under test
    * (replaces the reference's current_timestamp() sprinkling). */
  def processedAt(clock: Option[java.sql.Timestamp]): Column =
    clock.map(ts => lit(ts).cast("timestamp")).getOrElse(current_timestamp())
}

/** Parse stage (parse_jobs.py): whole-file "metadata\n\nhtml" blobs ->
  * typed jobs_parsed rows. NB the reference reads line-oriented text
  * against this multi-line format (latent bug, SURVEY §2.11.2); we read
  * whole files — the `value` column here is one blob per row. */
object Parse {

  def apply(blobs: DataFrame, clock: Option[java.sql.Timestamp] = None): DataFrame = {
    val parts = split(col("value"), "\n\n", 2)
    // try_element_at: a malformed blob (no blank-line separator) must
    // degrade to nulls + defaults, not kill the batch under ANSI mode
    val withMeta = blobs
      .withColumn("metadata_json", try_element_at(parts, lit(1)))
      .withColumn("html_content", try_element_at(parts, lit(2)))
      .withColumn("job_id",
        regexp_extract(col("metadata_json"), "\"job_id\"\\s*:\\s*\"([^\"]+)\"", 1))
      .withColumn("source",
        regexp_extract(col("metadata_json"), "\"source\"\\s*:\\s*\"([^\"]+)\"", 1))

    // ONE pageUdf invocation per row instead of seven per-field UDFs —
    // the per-field form decoded the html blob from UTF8String (and
    // paid UDF invocation overhead) seven times per row; pageUdf
    // composes the identical kernel functions (HtmlExtract scaladoc;
    // q60 has run this shape since the kernel gate landed — r17
    // optimization brings the pipeline stage in line). The struct
    // stays in its own projection so CollapseProject cannot duplicate
    // the non-cheap UDF across the seven field extractions.
    val paged = withMeta.select(col("*"),
      HtmlExtract.pageUdf(col("html_content")).as("__page"))
    val parsed = paged
      .select(col("*"),
        col("__page.title").as("parsed_title"),
        col("__page.company").as("parsed_company"),
        col("__page.description").as("parsed_description"),
        col("__page.requirements").as("parsed_requirements"),
        col("__page.location").as("parsed_location"),
        col("__page.salary_text").as("parsed_salary_text"),
        col("__page.contract_type").as("parsed_contract_type"))
      .drop("__page")
      .withColumn("extracted_skills", Skills.extractSkills(
        coalesce(col("parsed_description"), col("parsed_requirements"))))

    parsed
      .withColumn("title", coalesce(col("parsed_title"), lit("Titre non disponible")))
      .withColumn("company", coalesce(col("parsed_company"), lit("Entreprise confidentielle")))
      .withColumn("description", coalesce(col("parsed_description"), lit("Description non disponible")))
      .withColumn("requirements", coalesce(col("parsed_requirements"), lit("Exigences non spécifiées")))
      .withColumn("location", coalesce(col("parsed_location"), lit("Côte d'Ivoire")))
      .withColumn("contract_type", coalesce(col("parsed_contract_type"), lit("Non spécifié")))
      .withColumn("skills", coalesce(col("extracted_skills"), array().cast("array<string>")))
      .withColumn("parsed_at", Stages.processedAt(clock))
      .withColumn("parsing_quality_score",
        (when(col("parsed_title").isNotNull, 1).otherwise(0) +
          when(col("parsed_company").isNotNull, 1).otherwise(0) +
          when(col("parsed_description").isNotNull, 1).otherwise(0) +
          when(size(col("extracted_skills")) > 0, 1).otherwise(0)) / 4.0)
      .select("job_id", "source", "title", "company", "description",
        "requirements", "location", "parsed_salary_text", "contract_type",
        "skills", "parsed_at", "parsing_quality_score", "html_content")
  }
}

/** Skills-enrichment stage (extract_skills.py:290-348). The reference's
  * `col + " " + col` string concat is numeric addition in Spark (yields
  * null — SURVEY §2.11.4); we implement the intent with concat_ws. */
object ExtractSkills {

  def apply(jobs: DataFrame, clock: Option[java.sql.Timestamp] = None): DataFrame = {
    val context = concat_ws(" ",
      coalesce(col("description"), lit("")), coalesce(col("requirements"), lit("")))
    jobs
      .withColumn("nlp_extracted_skills", Skills.extractSkillsNlp(context))
      .withColumn("all_skills", array_union(
        coalesce(col("skills"), array().cast("array<string>")),
        coalesce(col("nlp_extracted_skills"), array().cast("array<string>"))))
      // array_union is already duplicate-free, so the reference's
      // array_distinct(all_skills) (extract_skills.py:306) is a no-op —
      // alias instead of recomputing per row
      .withColumn("unique_skills", col("all_skills"))
      .withColumn("skills_with_metadata",
        when(size(col("unique_skills")) > 0,
          transform(col("unique_skills"), s => struct(
            s.as("skill"),
            Skills.classifySkillCategory(s).as("category"),
            Skills.skillConfidence(s, context).as("confidence"))))
          .otherwise(array().cast(
            "array<struct<skill:string,category:string,confidence:double>>")))
      .withColumn("skills_extracted_at", Stages.processedAt(clock))
      .drop("all_skills", "nlp_extracted_skills")
      .withColumn("skills", col("unique_skills"))
      .drop("unique_skills")
  }
}

/** Salary-enrichment stage (extract_salary.py:337-394): parse ->
  * infer-when-unparsed -> normalize -> flatten. */
object ExtractSalary {

  def apply(jobs: DataFrame, clock: Option[java.sql.Timestamp] = None): DataFrame = {
    val parsed = jobs.withColumn("raw_salary_extracted",
      Salary.parseComprehensiveUdf(
        col("parsed_salary_text"), col("description"), col("title")))
    val inferred = parsed.withColumn("salary_with_inference",
      when(col("raw_salary_extracted.confidence") === 0.0f,
        Salary.inferRangeUdf(col("title"), col("location"), col("contract_type")))
        .otherwise(col("raw_salary_extracted")))
    inferred
      .withColumn("normalized_salary", Salary.normalized(col("salary_with_inference")))
      .withColumn("salary_min_fcfa", col("normalized_salary.salary_min_fcfa"))
      .withColumn("salary_max_fcfa", col("normalized_salary.salary_max_fcfa"))
      .withColumn("salary_avg_fcfa", col("normalized_salary.salary_avg_fcfa"))
      .withColumn("salary_currency_original", col("normalized_salary.currency_original"))
      .withColumn("salary_period", col("normalized_salary.period_normalized"))
      .withColumn("salary_confidence", col("normalized_salary.confidence_score"))
      .withColumn("salary_source", col("normalized_salary.data_source"))
      .withColumn("salary_processed_at", Stages.processedAt(clock))
      .drop("raw_salary_extracted", "salary_with_inference", "normalized_salary")
  }
}

/** Deduplication stage. Blocking + scoring follow deduplicate.py
  * (similarity key -> same-key pairs -> weighted score >= 0.7), but the
  * pair comparison is the idiomatic self-JOIN (one shuffle on the
  * blocking key) instead of the reference's collect_list + O(n^2)
  * Python UDF (deduplicate.py:236-270) — same pairs, bounded memory,
  * AQE-splittable skew.
  *
  * Survivor selection implements the reference's *intended* keep-best
  * semantics (its dead select_best_offer helper + "Conservation
  * meilleure version", PLAN_REALISATION.md:324-329): within each
  * blocking key, every offer flagged in a >= 0.7 pair except the best
  * (completeness desc, parsed_at desc, source priority desc) is
  * dropped. The reference as written drops BOTH pair members (SURVEY
  * §2.11.1) — divergence documented and tested.
  */
object Deduplicate {

  def prepare(jobs: DataFrame): DataFrame = jobs
    .withColumn("similarity_key",
      Normalize.similarityKey(col("title"), col("company"), col("location")))
    .withColumn("completeness_score", Normalize.completenessScore(
      col("title"), col("company"), col("description"),
      col("location"), col("skills"), col("parsed_salary_text")))
    .withColumn("normalized_title", Normalize.normText(col("title")))
    .withColumn("normalized_company", Normalize.normText(col("company")))
    .withColumn("normalized_location", Normalize.normText(col("location")))

  /** Similar same-key pairs (job_id_1 < job_id_2, score >= threshold).
    * Normalization happens once per row (reusing prepare()'s normalized
    * columns); the per-pair work after the blocked self-join is only
    * array intersection + string equality. */
  def duplicatePairs(prepared: DataFrame, threshold: Double = 0.7): DataFrame = {
    // derived from the RAW title via the shared kernel — equivalent to
    // re-splitting normalized_title but with no hidden invariant about
    // how that column was produced
    val toks = Normalize.simTokensHashed(col("title"))
    val side = prepared.select(
      col("similarity_key"), col("job_id"),
      toks.as("toks"), col("normalized_company").as("cn"),
      col("normalized_location").as("ln"),
      Normalize.simOk(col("title"), col("company"), col("location")).as("ok"))
    val a = side.select(col("similarity_key"), col("job_id").as("job_id_1"),
      col("toks").as("toks1"), col("cn").as("cn1"), col("ln").as("ln1"), col("ok").as("ok1"))
    val b = side.select(col("similarity_key"), col("job_id").as("job_id_2"),
      col("toks").as("toks2"), col("cn").as("cn2"), col("ln").as("ln2"), col("ok").as("ok2"))
    a.join(b, Seq("similarity_key"))
      .where(col("job_id_1") < col("job_id_2"))
      .withColumn("similarity_score", Normalize.similarityScorePrepped(
        col("toks1"), col("cn1"), col("ln1"), col("ok1"),
        col("toks2"), col("cn2"), col("ln2"), col("ok2")))
      .where(col("similarity_score") >= threshold)
      .select("similarity_key", "job_id_1", "job_id_2", "similarity_score")
  }

  def apply(jobs: DataFrame, threshold: Double = 0.7,
      clock: Option[java.sql.Timestamp] = None): DataFrame = {
    // staged ONCE (the Matching.score idiom): this frame feeds the
    // pair self-join (both sides), the flag join-back, and the
    // keep-best ranking — left lazy, the prepare() UDF cascade
    // (HTML/NLP/salary kernels when materialize=false upstream)
    // re-executes ~6x in one action
    val prepared = graft.operators.Scratch.stage(prepare(jobs), "graft-dedup-prep")
    val pairs = duplicatePairs(prepared, threshold)
    val flagged = pairs.select(explode(array(col("job_id_1"), col("job_id_2"))).as("job_id"))
      .distinct()
    val withFlag = prepared.join(flagged.withColumn("is_dup", lit(true)), Seq("job_id"), "left")
    // keep-best ranks only WITHIN the flagged duplicate cluster — an
    // unrelated (unflagged) offer in the same block must not outrank
    // and wipe the cluster
    val keepers = withFlag.where(col("is_dup").isNull)
    val w = Window.partitionBy(col("similarity_key"))
      .orderBy(col("completeness_score").desc, col("parsed_at").desc,
        Normalize.sourcePriority(col("source")).desc, col("job_id"))
    val bestDups = withFlag.where(col("is_dup") === true)
      .withColumn("rn", row_number().over(w))
      .where(col("rn") === 1)
      .drop("rn")
    keepers.unionByName(bestDups)
      .withColumn("deduplicated_at", Stages.processedAt(clock))
      .drop("is_dup")
  }
}

/** Sector-classification stage (extract_sectors.py:379-461). */
object ClassifySectors {

  def apply(jobs: DataFrame, clock: Option[java.sql.Timestamp] = None): DataFrame =
    jobs
      .withColumn("sector_classification", Sectors.classifyUdf(
        col("title"), col("company"), col("description"), col("location")))
      .withColumn("secteur_id", col("sector_classification.secteur_id"))
      .withColumn("secteur_nom", col("sector_classification.secteur_nom"))
      .withColumn("categorie_parent", col("sector_classification.categorie_parent"))
      .withColumn("sector_confidence", col("sector_classification.confidence"))
      .withColumn("sector_processed_at", Stages.processedAt(clock))
      .drop("sector_classification")

  /** Dim_Secteur rows (extract_sectors.py:402-410). */
  def dimSecteur(classified: DataFrame, clock: Option[java.sql.Timestamp] = None): DataFrame =
    classified
      .select("secteur_id", "secteur_nom", "categorie_parent")
      .distinct()
      .withColumn("description",
        when(col("secteur_id") === "SECT_INCONNU", "Secteur non classifié")
          .otherwise(concat_ws(" - ", col("secteur_nom"), col("categorie_parent"))))
      .withColumn("created_at", Stages.processedAt(clock))
      .filter(col("secteur_id").isNotNull)
      .dropDuplicates("secteur_id")
}

/** Warehouse star-schema build (load_to_bigquery.py:156-249): one fact
  * projection + three dimension extractions, all via the native ID
  * generators. The physical sink is pluggable (BigQuery online,
  * partitioned parquet offline — see WarehouseWriter). */
object StarSchema {

  def factOffres(jobs: DataFrame, clock: Option[java.sql.Timestamp] = None): DataFrame =
    jobs.select(
      col("job_id").as("offre_id"),
      trim(col("title")).as("titre_poste"),
      Ids.entrepriseId(col("company")).as("entreprise_id"),
      Ids.localisationId(col("location")).as("localisation_id"),
      coalesce(col("secteur_id"), lit("SECT_INCONNU")).as("secteur_id"),
      col("contract_type").as("type_contrat"),
      Ids.inferExperienceLevel(col("title"), col("description")).as("niveau_experience"),
      lit(false).as("teletravail"),
      lit(0).as("taux_teletravail"),
      Ids.parseSalaryAmount(col("parsed_salary_text")).as("salaire_min"),
      Ids.parseSalaryAmount(col("parsed_salary_text")).as("salaire_max"),
      lit("FCFA").as("devise"),
      col("skills").as("competences"),
      transform(col("skills"), s => Ids.competenceId(s)).as("competences_ids"),
      col("source").as("source_site"),
      lit(null).cast("string").as("url_offre"),
      to_date(col("parsed_at")).as("date_publication"),
      lit(null).cast("date").as("date_expiration"),
      col("parsed_at").as("scraped_at"),
      Stages.processedAt(clock).as("last_updated"),
      lit("ACTIVE").as("statut"),
      lit(0L).as("nombre_vues"),
      lit(0L).as("nombre_candidatures"))

  def dimEntreprise(jobs: DataFrame, clock: Option[java.sql.Timestamp] = None): DataFrame =
    jobs.select("company").distinct()
      .withColumn("entreprise_id", Ids.entrepriseId(col("company")))
      .withColumn("nom_entreprise", col("company"))
      .withColumn("secteur_id", lit("SECT_INCONNU"))
      .withColumn("taille_entreprise", lit("Non spécifiée"))
      .withColumn("site_web", lit(null).cast("string"))
      .withColumn("created_at", Stages.processedAt(clock))
      .withColumn("updated_at", Stages.processedAt(clock))
      .filter(col("company").isNotNull)
      .dropDuplicates("entreprise_id")
      .drop("company")

  def dimLocalisation(jobs: DataFrame, clock: Option[java.sql.Timestamp] = None): DataFrame =
    jobs.select("location").distinct()
      .withColumn("localisation_id", Ids.localisationId(col("location")))
      .withColumn("ville", col("location"))
      .withColumn("code_postal", lit(null).cast("string"))
      .withColumn("region", lit("Côte d'Ivoire"))
      .withColumn("departement", lit(null).cast("string"))
      .withColumn("pays", lit("Côte d'Ivoire"))
      .withColumn("latitude", lit(null).cast("float"))
      .withColumn("longitude", lit(null).cast("float"))
      .withColumn("created_at", Stages.processedAt(clock))
      .filter(col("location").isNotNull)
      .dropDuplicates("localisation_id")
      .drop("location")

  def dimCompetence(jobs: DataFrame, clock: Option[java.sql.Timestamp] = None): DataFrame =
    jobs.select("skills")
      .filter(col("skills").isNotNull)
      .withColumn("skill", explode(col("skills")))
      .select("skill").distinct()
      .withColumn("competence_id", Ids.competenceId(col("skill")))
      .withColumn("nom_competence", col("skill"))
      .withColumn("categorie", lit("Technique"))
      .withColumn("niveau_demande", lit("Non spécifié"))
      .withColumn("popularite_score", lit(1.0))
      .withColumn("created_at", Stages.processedAt(clock))
      .filter(col("competence_id").isNotNull)
      .dropDuplicates("competence_id")
      .drop("skill")
}
