package graft.stages

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark.spark

class StagesSpec extends AnyFunSuite {
  import spark.implicits._

  private val clock = Some(java.sql.Timestamp.valueOf("2025-12-04 03:00:00"))

  private val htmlBlob =
    """{
      |  "job_id": "a1b2c3d4e5f60718",
      |  "scraped_at": "2025-12-04T02:13:45",
      |  "source": "EducarriereScraper",
      |  "size": 48213
      |}
      |
      |<html><head><title>Développeur Python - Educarriere</title></head>
      |<body><h1 class="job-title">Développeur Python Senior</h1>
      |<div class="company-name">NSIA Banque</div>
      |<div class="location">Abidjan</div>
      |<div class="job-description">Nous recherchons un développeur Python avec 5 ans d'expérience. Poste en CDI. Salaire 800 000 FCFA par mois. Compétences: Python, SQL, Docker.</div>
      |</body></html>""".stripMargin

  private val sparseBlob =
    """{"job_id": "ffff000011112222", "source": "LinkedinScraper", "size": 10}
      |
      |<html><body><p>Offre</p></body></html>""".stripMargin

  test("Parse stage extracts fields from the meta\\n\\nhtml blob format") {
    val out = Parse(Seq(htmlBlob, sparseBlob).toDF("value"), clock)
    val rows = out.orderBy("job_id").collect()
    assert(rows.length == 2)
    val full = rows.head
    assert(full.getAs[String]("job_id") == "a1b2c3d4e5f60718")
    assert(full.getAs[String]("source") == "EducarriereScraper")
    assert(full.getAs[String]("title") == "Développeur Python Senior")
    assert(full.getAs[String]("company") == "NSIA Banque")
    assert(full.getAs[String]("location") == "Abidjan")
    assert(full.getAs[String]("contract_type") == "CDI")
    assert(full.getAs[scala.collection.Seq[String]]("skills").contains("Python"))
    assert(full.getAs[Double]("parsing_quality_score") == 1.0)
    val sparse = rows(1)
    assert(sparse.getAs[String]("job_id") == "ffff000011112222")
    assert(sparse.getAs[String]("location") == "Côte d'Ivoire")
    assert(sparse.getAs[Double]("parsing_quality_score") < 1.0)
  }

  private def parsedRow(id: String, source: String, title: String, company: String,
      loc: String, desc: String = "Une description suffisamment longue pour le score",
      salary: String = "800 000 FCFA") =
    (id, source, title, company, desc, "SQL requis", loc, salary, "CDI",
      Seq("Python"), java.sql.Timestamp.valueOf("2025-12-01 00:00:00"), 1.0, "<html/>")

  private def parsedDf(rows: Seq[(String, String, String, String, String, String,
      String, String, String, Seq[String], java.sql.Timestamp, Double, String)]) =
    rows.toDF("job_id", "source", "title", "company", "description", "requirements",
      "location", "parsed_salary_text", "contract_type", "skills", "parsed_at",
      "parsing_quality_score", "html_content")

  test("Deduplicate keeps best of a duplicate pair, keeps dissimilar offers") {
    val df = parsedDf(Seq(
      // near-identical pair across sources -> one survivor (keep-best)
      parsedRow("id1", "educarriere", "Développeur Python Senior", "NSIA Banque", "Abidjan"),
      parsedRow("id2", "linkedin", "Développeur Python Senior", "NSIA Banque", "Abidjan",
        salary = null), // lower completeness -> must lose
      // same blocking key would require same first tokens; distinct offer
      parsedRow("id3", "emploi_ci", "Comptable confirmé", "Cabinet XYZ", "Bouaké")))
    val out = Deduplicate(df, clock = clock)
    val ids = out.select("job_id").as[String].collect().toSet
    assert(ids == Set("id1", "id3"))
  }

  test("Deduplicate keeps both when similarity below threshold") {
    val df = parsedDf(Seq(
      parsedRow("a1", "educarriere", "Développeur Python Senior Backend", "ACME", "Abidjan"),
      parsedRow("a2", "linkedin", "Développeur Frontend React Junior Web", "ACME", "Abidjan")))
    // different first-3 title tokens -> different blocking keys -> no pair
    val out = Deduplicate(df, clock = clock)
    assert(out.count() == 2)
  }

  test("a better NON-duplicate in the same block must not wipe a duplicate cluster") {
    // mx1/mx2 are a >= 0.7 pair; mx3 shares the blocking key (same
    // first-3 title tokens + company + location) but is dissimilar
    // (< 0.7) AND outranks both on recency — it must survive AND the
    // cluster's best (mx1) must too
    val later = java.sql.Timestamp.valueOf("2025-12-03 00:00:00")
    val df = parsedDf(Seq(
      parsedRow("mx1", "educarriere", "Développeur Python Senior NSIA", "ACME", "Abidjan"),
      parsedRow("mx2", "linkedin", "Développeur Python Senior NSIA", "ACME", "Abidjan",
        salary = null),
      parsedRow("mx3", "emploi_ci",
        "Développeur Python Senior Architecture Cloud Distribué Expert Management",
        "ACME", "Abidjan")))
      .withColumn("parsed_at",
        when($"job_id" === "mx3", lit(later)).otherwise($"parsed_at"))
    val survivors = Deduplicate(df, clock = clock)
      .select("job_id").as[String].collect().toSet
    assert(survivors == Set("mx1", "mx3"))
  }

  test("malformed blob without separator degrades to defaults, not a crash") {
    val malformed = """{"job_id": "aaaa", "source": "X"} single line no separator"""
    val out = Parse(Seq(malformed).toDF("value"), clock).collect()
    assert(out.length == 1)
    assert(out.head.getAs[String]("title") == "Titre non disponible")
  }

  test("requirements: all matching elements joined; no whole-page bullet harvest") {
    import graft.textkit.HtmlExtract
    val twoBlocks =
      """<html><body><div class="skills">Python et SQL niveau avancé</div>
        |<div class="skills">Docker et Kubernetes en production</div></body></html>""".stripMargin
    val got = HtmlExtract.extractRequirements(twoBlocks)
    assert(got.contains("Python et SQL") && got.contains("Docker et Kubernetes"))
    // dashes outside a description/content element must NOT be harvested
    val navDashes = "<html><body><nav>- Accueil - Contact - Mentions</nav></body></html>"
    assert(HtmlExtract.extractRequirements(navDashes) == null)
  }

  test("company text patterns are case-insensitive like the reference") {
    import graft.textkit.HtmlExtract
    val html = "<html><body><p>recrutement par notre société acme sarl</p></body></html>"
    assert(HtmlExtract.extractCompany(html) != "Entreprise confidentielle")
  }

  test("HTML extraction survives attribute noise and multi-class tags") {
    val messy =
      """{"job_id": "beadbeadbeadbead", "source": "MacarrierproScraper", "size": 1}
        |
        |<html><body>
        |<h1 id="main" data-x="1" class="big job-title highlighted">  Analyste Financier  </h1>
        |<span class="company">Ecobank <b>CI</b></span>
        |<div class="location extra">Bouaké</div>
        |<div class="description">Poste de comptabilité et audit au sein de la banque, contrat à durée déterminée. Salaire entre 400 000 et 600 000 FCFA selon profil.</div>
        |</body></html>""".stripMargin
    val row = Parse(Seq(messy).toDF("value"), clock).collect().head
    assert(row.getAs[String]("title") == "Analyste Financier")
    assert(row.getAs[String]("company") == "Ecobank CI") // inner tags stripped
    assert(row.getAs[String]("location") == "Bouaké")
    assert(row.getAs[String]("contract_type") == "CDD")
    assert(row.getAs[String]("parsed_salary_text") != null)
  }

  test("ExtractSkills merges scraper and NLP skills with metadata") {
    val df = parsedDf(Seq(
      parsedRow("s1", "educarriere", "Data Engineer", "ACME", "Abidjan",
        desc = "Experience avec kafka et docker requise pour ce poste important")))
    val out = ExtractSkills(df, clock)
    val row = out.where($"job_id" === "s1").select("skills", "skills_with_metadata").first()
    val skills = row.getAs[scala.collection.Seq[String]](0)
    assert(skills.contains("Python")) // scraper-provided
    assert(skills.contains("Bigdata") || skills.contains("Docker")) // NLP-extracted
    val meta = row.getSeq[org.apache.spark.sql.Row](1)
    assert(meta.nonEmpty && meta.map(_.getString(0)).toSet == skills.toSet)
  }

  test("ExtractSalary flattens normalized salary columns") {
    val df = parsedDf(Seq(
      parsedRow("m1", "educarriere", "Comptable", "Cabinet", "Bouaké",
        desc = "poste stable", salary = "entre 500 000 et 900 000 FCFA")))
    val out = ExtractSalary(df, clock)
    val row = out.select("salary_min_fcfa", "salary_max_fcfa", "salary_avg_fcfa",
      "salary_source", "salary_confidence").first()
    assert(row.getInt(0) == 500000 && row.getInt(1) == 900000)
    assert(row.getFloat(2) == 700000.0f)
    assert(row.getString(3) == "parsed")
  }

  test("ClassifySectors adds sector columns and builds Dim_Secteur") {
    val df = parsedDf(Seq(
      parsedRow("c1", "educarriere", "Développeur Python", "NSIA Banque", "Abidjan",
        desc = "Développement d'applications web")))
    val out = ClassifySectors(df, clock)
    assert(out.select("secteur_id").as[String].first() == "SECT_TECH")
    val dim = ClassifySectors.dimSecteur(out, clock)
    assert(dim.count() == 1)
    assert(dim.select("description").as[String].first() ==
      "Technologies & Informatique - SERVICES_NUMERIQUES")
  }

  test("StarSchema builds fact and dims with generated ids") {
    val df = parsedDf(Seq(
      parsedRow("f1", "educarriere", "Développeur Python", "NSIA Banque", "Abidjan")))
      .withColumn("secteur_id", lit("SECT_TECH"))
    val fact = StarSchema.factOffres(df, clock)
    val row = fact.first()
    assert(row.getAs[String]("entreprise_id") == "ENT_NSIABANQUE")
    assert(row.getAs[String]("localisation_id") == "LOC_ABIDJAN")
    assert(row.getAs[scala.collection.Seq[String]]("competences_ids") == Seq("COMP_python"))
    assert(row.getAs[Long]("salaire_min") == 800000L)
    assert(StarSchema.dimEntreprise(df, clock).count() == 1)
    assert(StarSchema.dimLocalisation(df, clock).count() == 1)
    assert(StarSchema.dimCompetence(df, clock)
      .select("competence_id").as[String].first() == "COMP_python")
  }

  test("full pipeline chain runs end to end with materialization") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-lake").toString
    val pipeline = new graft.pipeline.JobPipeline(spark, tmp, clock)
    val enriched = pipeline.enrich(Seq(htmlBlob).toDF("value"), materialize = true)
    assert(enriched.count() == 1)
    assert(enriched.columns.contains("secteur_id"))
    pipeline.loadWarehouse(enriched, s"$tmp/warehouse")
    val fact = spark.read.parquet(s"$tmp/warehouse/Fact_OffresEmploi")
    assert(fact.count() == 1)
  }

  test("a materialized stage that produces no rows fails by name") {
    // an empty partitionBy write leaves only _SUCCESS; the presence
    // check must name the stage, not die inferring a schema from no files
    val tmp = java.nio.file.Files.createTempDirectory("graft-lake").toString
    val pipeline = new graft.pipeline.JobPipeline(spark, tmp, clock)
    val e = intercept[IllegalArgumentException] {
      pipeline.enrich(Seq.empty[String].toDF("value"), materialize = true)
    }
    assert(e.getMessage.contains("stage jobs_parsed produced no rows"))
  }
}
