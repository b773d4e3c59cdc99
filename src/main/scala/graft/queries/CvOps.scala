package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Engine.table
import graft.streaming.CvIngest

/** q105 — the CV ingest leg (`consume_cvs.py`, declared but absent in
  * the reference; reconstructed in [[graft.streaming.CvIngest]] against
  * the Fact_CVs shape, create_tables.sql:98-128) oracle-gated through
  * REAL MicroBatchExecution (round-15 verdict item 5). Until now the
  * leg was spec-only (CvIngestSpec); its output feeds
  * [[graft.matching.Matching.score]], so this row pins the
  * envelope-parse → structure-extraction contract the matching join
  * consumes: JSON-lines envelopes synthesized from `customer` are
  * landed in a scratch dir, streamed through parse → Fact_CVs
  * structure → the partitioned checkpointed parquet sink
  * (Trigger.AvailableNow), read back, and compared against a DuckDB
  * re-derivation from `customer` built on the same catalogs
  * (F8 parse-skill catalog, F21 sector fold, F22-F25 id/salary
  * kernels).
  *
  * Corpus (k = c_custkey over the `% 5 = 0` subset; j = k div 5 is
  * the DENSE branch index — round-15 ADVICE: k itself is ≡ 0 mod 5,
  * so every `k % 5` branch was degenerate (education always doctorat,
  * one skill stack, salary always present, k%25 five-valued) and the
  * k%5=4 miss paths were dead on BOTH sides. Every branch modulus now
  * takes j, mirroring PipelineOps' `o_orderkey div 10`; k remains the
  * stable id (cv_id/url). Every branch replayable analytically or
  * from the shared catalogs):
  *  - `Localisation : <city>` line (j%6), ASCII cities only — the
  *    city-capture regex and the dedup-grade normalizations sit on the
  *    RE2-ASCII/(?U) seam for accented names (see PipelineOps);
  *  - `<n> ans d'expérience` (j%4), education keyword (j%5 — all four
  *    catalog levels plus the absent/'Non spécifié' branch now live),
  *    contract keyword (j%6), q61's skill-stack suffixes (j%5, all
  *    five), `salaire souhaité: <A> fcfa` (j%5 — the j%5=4 F25 miss
  *    path emits NO salary line), language/certification/remote/
  *    immédiatement markers (j%3, j%7, j%2, j%8);
  *  - j%2 alternates the document seam: text_content vs base64 bytes
  *    through `decode(unbase64(...))` — both must land identically;
  *  - j%11 = 7 ships a malformed scraped_at: try_to_timestamp must
  *    null it (and the sink must land it in the null-date partition),
  *    not kill the stream;
  *  - `scrum master` certification rows (j%7=0) now co-occur with
  *    every education level INCLUDING absent (j≡14 mod 35) and
  *    bac+5/Master (j≡21 mod 35), so the F-education blanking quirk —
  *    a scrum-master CV must not read Master-level — is actually
  *    distinguished by the gate instead of masked by a uniform
  *    'formation doctorat'.
  */
object CvOps {

  private val Cities = Seq("Abidjan", "Daloa", "Korhogo")
  private val Clock = java.sql.Timestamp.valueOf("2026-01-01 00:00:00")
  private val Edu = Seq("doctorat", "bac+5", "licence", "bts")
  private val EduOut = Seq("Doctorat", "Master", "Licence", "BTS/DUT")
  private val Contracts = Seq("cdi", "cdd", "stage", "freelance", "alternance")
  private val ContractsOut = Seq("CDI", "CDD", "Stage", "Freelance", "Alternance")

  private def q105(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val base = table(s, dir, "customer")
      .where($"c_custkey" % 5 === 0)
      .select($"c_custkey".cast("long").as("k"),
        expr("CAST(c_custkey AS BIGINT) div 5").as("j"))
    val city = element_at(typedLit(Cities), ($"j" % 3).cast("int") + 1)
    val lines = Seq(
      when($"j" % 6 =!= 5, concat(lit("Localisation : "), city)),
      when($"j" % 4 =!= 3, concat(($"j" % 25).cast("string"), lit(" ans d'expérience"))),
      when($"j" % 5 < 4, concat(lit("formation "),
        element_at(typedLit(Edu), ($"j" % 5).cast("int") + 1))),
      when($"j" % 6 < 5, concat(lit("contrat "),
        element_at(typedLit(Contracts), ($"j" % 6).cast("int") + 1))),
      concat(lit("competences"),
        element_at(typedLit(KernelOps.SkillSuffixes), ($"j" % 5).cast("int") + 1)),
      when($"j" % 5 =!= 4, concat(lit("salaire souhaité: "),
        (($"j" % 9 + 1) * 100000).cast("string"), lit(" fcfa"))),
      when($"j" % 3 === 0, lit("français anglais"))
        .when($"j" % 3 === 1, lit("anglais espagnol")),
      when($"j" % 7 === 0, lit("scrum master"))
        .when($"j" % 7 === 1, lit("aws certified"))
        .when($"j" % 7 === 2, lit("itil")),
      when($"j" % 2 === 0, lit("remote ok")),
      when($"j" % 8 === 0, lit("disponible immédiatement")))
    val text = concat_ws("\n", lines: _*)
    val envelope = to_json(struct(
      concat(lit("CV"), lpad($"k".cast("string"), 10, "0")).as("cv_id"),
      when($"j" % 11 === 7, lit("not-a-date"))
        .otherwise(concat(lit("2026-02-0"), ($"j" % 7 + 1).cast("string"),
          lit(" 10:30:00"))).as("scraped_at"),
      concat(lit("cvsite"), ($"j" % 3).cast("string")).as("source_site"),
      concat(lit("https://cv.example/"), $"k".cast("string")).as("url_cv"),
      lit("pdf").as("content_type"),
      // the document seam, both directions: odd rows ship bytes only
      when($"j" % 2 === 1, base64(text.cast("binary"))).as("content_b64"),
      when($"j" % 2 === 0, text).as("text_content")))

    // land the envelopes, then run the REAL streaming leg to a
    // partitioned checkpointed parquet sink (AvailableNow)
    val inDir = graft.operators.Scratch.newDir(s, "graft-cv-in")
    val outDir = graft.operators.Scratch.newDir(s, "graft-cv-out")
    val chkDir = graft.operators.Scratch.newDir(s, "graft-cv-chk")
    base.select(envelope.as("value")).coalesce(4)
      .write.mode("overwrite").text(inDir.toString)
    CvIngest.ingestFiles(s, inDir.toString, outDir.toString, chkDir.toString,
      Some(Clock))

    s.read.parquet(outDir.toString).select(
      $"cv_id",
      $"annees_experience".cast("long").as("annees_experience"),
      $"niveau_etudes",
      $"localisation_souhaitee_id",
      $"secteur_souhaite_id",
      $"salaire_souhaite".cast("double").as("salaire_souhaite"),
      $"type_contrat_souhaite",
      $"teletravail_souhaite",
      concat_ws(",", array_sort($"competences")).as("competences_sorted"),
      concat_ws(",", array_sort($"competences_ids")).as("competence_ids_sorted"),
      concat_ws(",", $"certifications").as("certifications_joined"),
      concat_ws(",", transform($"langues", l => l.getField("langue"))).as("langues_joined"),
      $"source_site", $"url_cv", $"domaine_etudes", $"statut", $"disponibilite",
      $"scraped_at".isNotNull.as("scraped_ok"),
      $"scraped_date".cast("string").as("scraped_date_str"))
      .orderBy($"cv_id")
  }

  private val q105Sql = {
    val citiesSql = Cities.map(KernelOps.sqlLit).mkString("[", ", ", "]")
    val suffixesSql = KernelOps.SkillSuffixes.map(KernelOps.sqlLit).mkString("[", ", ", "]")
    val eduSql = Edu.map(KernelOps.sqlLit).mkString("[", ", ", "]")
    val eduOutSql = EduOut.map(KernelOps.sqlLit).mkString("[", ", ", "]")
    val contractsSql = Contracts.map(KernelOps.sqlLit).mkString("[", ", ", "]")
    val contractsOutSql = ContractsOut.map(KernelOps.sqlLit).mkString("[", ", ", "]")
    val witness = "cv_id, k, j, annees, niveau, loc_id, salaire, contrat, skills, ids, " +
      "certs, langs, dispo"
    s"""WITH base AS (
          SELECT CAST(c_custkey AS BIGINT) AS k,
                 CAST(c_custkey AS BIGINT) // 5 AS j FROM customer
          WHERE CAST(c_custkey AS BIGINT) % 5 = 0),
        txt AS (
          SELECT k, j, $citiesSql[(j % 3) + 1] AS city0,
            concat_ws(chr(10),
              CASE WHEN j % 6 <> 5 THEN 'Localisation : ' || $citiesSql[(j % 3) + 1] END,
              CASE WHEN j % 4 <> 3 THEN (j % 25) || ' ans d''expérience' END,
              CASE WHEN j % 5 < 4 THEN 'formation ' || $eduSql[(j % 5) + 1] END,
              CASE WHEN j % 6 < 5 THEN 'contrat ' || $contractsSql[(j % 6) + 1] END,
              'competences' || $suffixesSql[(j % 5) + 1],
              CASE WHEN j % 5 <> 4 THEN 'salaire souhaité: ' || ((j % 9 + 1) * 100000) || ' fcfa' END,
              CASE WHEN j % 3 = 0 THEN 'français anglais'
                   WHEN j % 3 = 1 THEN 'anglais espagnol' END,
              CASE WHEN j % 7 = 0 THEN 'scrum master'
                   WHEN j % 7 = 1 THEN 'aws certified'
                   WHEN j % 7 = 2 THEN 'itil' END,
              CASE WHEN j % 2 = 0 THEN 'remote ok' END,
              CASE WHEN j % 8 = 0 THEN 'disponible immédiatement' END) AS text
          FROM base),
        rowf AS (
          SELECT k, j, text,
            'CV' || lpad(k::VARCHAR, 10, '0') AS cv_id,
            CASE WHEN j % 4 = 3 THEN NULL ELSE j % 25 END AS annees,
            CASE WHEN j % 5 = 4 THEN 'Non spécifié' ELSE $eduOutSql[(j % 5) + 1] END AS niveau,
            -- F23: null/empty location defaults to LOC_COTE_DIVOIRE
            -- (load_to_bigquery.py:49-70); the three corpus cities sit
            -- in the city map with ids equal to the fallback form
            CASE WHEN j % 6 = 5 THEN 'LOC_COTE_DIVOIRE'
                 ELSE 'LOC_' || upper($citiesSql[(j % 3) + 1]) END AS loc_id,
            CASE WHEN j % 5 = 4 THEN NULL
                 ELSE CAST((j % 9 + 1) * 100000 AS DOUBLE) END AS salaire,
            CASE WHEN j % 6 = 5 THEN 'Non spécifié' ELSE $contractsOutSql[(j % 6) + 1] END AS contrat,
            list_sort(${PipelineOps.sqlF8Skills("lower(text)")}) AS skills,
            list_sort(list_transform(${PipelineOps.sqlF8Skills("lower(text)")},
              s -> ${MatchOps.sqlCompId("s")})) AS ids,
            CASE WHEN j % 7 = 0 THEN 'Scrum Master'
                 WHEN j % 7 = 1 THEN 'Aws Certified'
                 WHEN j % 7 = 2 THEN 'Itil' ELSE '' END AS certs,
            CASE WHEN j % 3 = 0 THEN 'Français,Anglais'
                 WHEN j % 3 = 1 THEN 'Anglais,Espagnol' ELSE '' END AS langs,
            CASE WHEN j % 8 = 0 THEN 'Immédiate' ELSE 'Non spécifié' END AS dispo
          FROM txt),
        f AS (
          -- Sectors.classify drops EMPTY fields before the space-join:
          -- title and company are '' on the CV leg, so ftxt is the CV
          -- text (plus the captured lowercase city when present)
          SELECT $witness,
            lower(text) || CASE WHEN j % 6 <> 5
              THEN ' ' || lower($citiesSql[(j % 3) + 1]) ELSE '' END AS ftxt,
            '' AS titlelo
          FROM rowf),
        ${KernelOps.sectorFoldCtes("f", witness)}
        SELECT cv_id,
          annees AS annees_experience,
          niveau AS niveau_etudes,
          loc_id AS localisation_souhaitee_id,
          ${KernelOps.sectorPickSql(_.id, "SECT_INCONNU")} AS secteur_souhaite_id,
          salaire AS salaire_souhaite,
          contrat AS type_contrat_souhaite,
          (j % 2 = 0) AS teletravail_souhaite,
          -- coalesce: DuckDB's array_to_string([]) is NULL while
          -- Spark's concat_ws over an empty array is '' — the j%5=4,
          -- everything-else-absent rows ship a bare 'competences' line
          -- with ZERO catalog hits (suffix 5 is the empty stack)
          coalesce(array_to_string(skills, ','), '') AS competences_sorted,
          coalesce(array_to_string(ids, ','), '') AS competence_ids_sorted,
          certs AS certifications_joined,
          langs AS langues_joined,
          'cvsite' || (j % 3) AS source_site,
          'https://cv.example/' || k AS url_cv,
          'Non spécifié' AS domaine_etudes,
          'actif' AS statut,
          dispo AS disponibilite,
          (j % 11 <> 7) AS scraped_ok,
          CASE WHEN j % 11 <> 7 THEN '2026-02-0' || ((j % 7) + 1) END AS scraped_date_str
        FROM ${KernelOps.sectorLastCte} ORDER BY cv_id"""
  }

  val all: Seq[Q] = Seq(
    Q("q105_cv_ingest_stream", q105 _, Some(q105Sql)))
}
