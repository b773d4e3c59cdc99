package graft.textkit

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark.spark

/** Goldens from the reference's Python functions (parse_jobs.py:302-352,
  * extract_skills.py:200-263). */
class SkillsSpec extends AnyFunSuite {
  import spark.implicits._

  private def extract(text: String): Seq[String] =
    Seq(text).toDF("t").select(Skills.extractSkills($"t")).as[Seq[String]].first()

  test("parse-catalog detection matches reference (incl. 'r' substring quirk)") {
    assert(extract("We need Python, SQL and Docker experience. Agile scrum.").sorted ==
      Seq("Agile", "Docker", "Python", "R", "Scrum", "Sql"))
    assert(extract("r and go developers").sorted == Seq("Go", "R"))
    assert(extract("") == Seq())
  }

  test("python title-case semantics on multi-word and dotted skills") {
    assert(Skills.pythonTitle("power bi") == "Power Bi")
    assert(Skills.pythonTitle("node.js") == "Node.Js")
    assert(Skills.pythonTitle("ci/cd") == "Ci/Cd")
    assert(Skills.pythonTitle("machine learning") == "Machine Learning")
  }

  private def cat(s: String): String =
    Seq(Option(s)).toDF("s").select(Skills.classifySkillCategory($"s")).as[String].first()

  test("category classification matches reference (substring quirks included)") {
    assert(cat("Python") == "Programmation")
    assert(cat("Power Bi") == "Programmation") // 'r' substring quirk
    assert(cat("Machine Learning") == "Programmation") // 'r' substring quirk
    assert(cat("Html") == "Web")
    assert(cat("weird") == "Programmation") // 'r' substring quirk
    assert(cat("") == "Autre")
    assert(cat(null) == "Autre")
    assert(cat("Go") == "Programmation")
  }

  private def conf(s: String, c: String): Double =
    Seq((s, c)).toDF("s", "c")
      .select(Skills.skillConfidence($"s", $"c").cast("double")).as[Double].first()

  test("confidence matches reference") {
    assert(math.abs(conf("python", "python python compétences python") - 1.0) < 1e-6)
    assert(math.abs(conf("kafka", "we use kafka") - 0.7) < 1e-6)
    assert(conf("x", "") == 0.5)
  }

  test("nlp catalog detection finds canonical names") {
    val got = Seq("python and docker experience with kafka streaming pipelines")
      .toDF("t").select(Skills.extractSkillsNlp($"t")).as[Seq[String]].first()
    // catalog order: Python (python), Javascript? no; Bigdata (kafka), Docker...
    assert(got.contains("Python") && got.contains("Docker") && got.contains("Bigdata"))
  }

  test("nlp extraction guards short/null text") {
    val got = Seq("short", null).toDF("t")
      .select(Skills.extractSkillsNlp(col("t"))).as[Seq[String]].collect()
    assert(got.forall(_.isEmpty))
  }

  test("initcapLike title-cases like Spark initcap on digraph-initial words") {
    // U+01F3 (dz digraph) upper-cases to U+01F1 but title-cases to
    // U+01F2; Spark's initcap takes the title case
    val s = "\u01F3emal \u01F1ava x\u01F3 plain"
    val spark = Seq(s).toDF("s").select(initcap($"s")).as[String].first()
    assert(Skills.initcapLike(s) == spark)
    assert(spark.startsWith("\u01F2"))
  }

  test("automaton nlp extraction equals the expression form (order included)") {
    // the r18 single-pass kernel must be value- AND order-identical to
    // the expression form the oracle replays; fixtures exercise nested
    // variant matches (rust fires 'r' too), multi-word variants,
    // glyph-stripped variants that can never match (c#, ci/cd), regex
    // pattern hits, accents/unicode cleaning, the short-text guard,
    // and the 'r'/single-letter quirks
    val texts = Seq(
      "We build with rust and python pandas, ci/cd on kubernetes.",
      "machine learning engineer: tensorflow, scikit-learn, statistics",
      "réseaux et infrastructure as code — terraform, ansible, gcp google cloud",
      "frontend: html css tailwind sass webpack reactjs nodejs",
      "c# and .net developer wanted",              // stripped glyphs never match
      "cpp systems programmer, gulp pipelines",    // pattern-only hits
      "power bi dashboards, qlikview, excel vba macros everywhere",
      "x y z",                                     // short -> guard
      "entity framework with blob storage and azure functions ok",
      "UPPERCASE PYTHON AND JAVA TEXT WITH SPARK KAFKA",
      null.asInstanceOf[String],
      "aaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaa no skills here at all maybe api")
    val df = texts.toDF("t")
    val got = df.select(Skills.extractSkillsNlp($"t").as("x")).as[Seq[String]].collect()
    val want = df.select(Skills.extractSkillsNlpExpr($"t").as("x")).as[Seq[String]].collect()
    got.zip(want).zip(texts).foreach { case ((g, w), t) =>
      assert(g == w, s"automaton != expression for: $t\n  got  $g\n  want $w")
    }
  }
}
