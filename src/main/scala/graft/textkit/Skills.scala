package graft.textkit

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Skill extraction, categorization and confidence scoring — the
  * reference's parse-stage catalog (parse_jobs.py:302-352, F8), the NLP
  * stage's category catalog + regex patterns (extract_skills.py:61-197,
  * F15 — the optional spaCy pass degrades to catalog-only, which is the
  * deterministic subset we implement, per extract_skills.py:49-58),
  * category classification (extract_skills.py:200-242, F16) and
  * confidence scoring (extract_skills.py:245-263, F17).
  *
  * All pure Column expressions. Python `str.title()` semantics (first
  * letter of every alphabetic run uppercased: "node.js" -> "Node.Js")
  * are precomputed over the static catalogs at class-load time, so the
  * runtime plan only does substring checks + literal lookups.
  */
object Skills {

  /** Python str.title() reimplementation, applied to catalog constants. */
  def pythonTitle(s: String): String = {
    val sb = new StringBuilder
    var prevAlpha = false
    for (ch <- s) {
      val isAlpha = ch.isLetter
      sb.append(if (isAlpha && !prevAlpha) ch.toUpper else if (isAlpha) ch.toLower else ch)
      prevAlpha = isAlpha
    }
    sb.toString
  }

  /** Parse-stage flat skill catalog (parse_jobs.py:309-339), in order. */
  val parseCatalog: Seq[String] = Seq(
    "python", "java", "javascript", "typescript", "c#", "c++", "php", "ruby",
    "go", "rust", "scala", "kotlin", "swift", "r", "matlab", "sas",
    "html", "css", "react", "vue", "angular", "node.js", "express",
    "django", "flask", "spring", "laravel", "symfony", ".net",
    "sql", "mysql", "postgresql", "mongodb", "redis", "elasticsearch",
    "oracle", "sqlite", "cassandra", "hbase",
    "hadoop", "spark", "kafka", "hive", "pig", "flume", "sqoop",
    "airflow", "presto", "druid",
    "aws", "azure", "gcp", "docker", "kubernetes", "terraform",
    "jenkins", "gitlab", "github", "bitbucket",
    "tableau", "power bi", "qlik", "looker", "excel", "sap",
    "spss", "stata", "r studio",
    "agile", "scrum", "kanban", "devops", "ci/cd", "tdd", "bdd",
    "management", "leadership", "communication", "teamwork", "problem solving")

  /** F8: substring-detect catalog skills in free text, Title-cased,
    * first-occurrence order, de-duplicated. */
  def extractSkills(text: Column): Column = {
    val lo = lower(coalesce(text, lit("")))
    val hits = array(parseCatalog.map(s =>
      when(lo.contains(s), lit(pythonTitle(s))).otherwise(lit(null).cast("string"))): _*)
    array_distinct(filter(hits, h => h.isNotNull))
  }

  /** NLP-stage catalog: canonical category -> variant substrings
    * (extract_skills.py:76-128), in order. Detected names are the
    * category with '_' -> ' ' then title-case ("machine_learning" ->
    * "Machine Learning"). */
  val nlpCatalog: Seq[(String, Seq[String])] = Seq(
    "python" -> Seq("python", "py", "pandas", "numpy", "django", "flask", "fastapi"),
    "java" -> Seq("java", "spring", "hibernate", "maven", "gradle"),
    "javascript" -> Seq("javascript", "js", "node.js", "react", "vue", "angular", "typescript"),
    "csharp" -> Seq("c#", ".net", "asp.net", "entity framework"),
    "php" -> Seq("php", "laravel", "symfony", "wordpress"),
    "ruby" -> Seq("ruby", "rails", "ror"),
    "go" -> Seq("go", "golang"),
    "rust" -> Seq("rust"),
    "scala" -> Seq("scala", "akka"),
    "kotlin" -> Seq("kotlin", "android"),
    "swift" -> Seq("swift", "ios"),
    "r" -> Seq("r", "rstudio", "shiny"),
    "matlab" -> Seq("matlab"),
    "sas" -> Seq("sas"),
    "sql" -> Seq("sql", "mysql", "postgresql", "oracle", "sqlite", "tsql"),
    "nosql" -> Seq("mongodb", "cassandra", "redis", "elasticsearch", "dynamodb"),
    "bigdata" -> Seq("hadoop", "spark", "kafka", "hive", "pig", "flume", "sqoop"),
    "aws" -> Seq("aws", "ec2", "s3", "lambda", "rds", "cloudformation"),
    "azure" -> Seq("azure", "blob storage", "azure functions"),
    "gcp" -> Seq("gcp", "google cloud", "bigquery", "cloud storage"),
    "docker" -> Seq("docker", "container", "kubernetes", "k8s"),
    "terraform" -> Seq("terraform", "infrastructure as code"),
    "jenkins" -> Seq("jenkins", "ci/cd", "gitlab ci", "github actions"),
    "linux" -> Seq("linux", "bash", "shell", "ubuntu", "centos"),
    "tableau" -> Seq("tableau", "tableau desktop", "tableau server"),
    "powerbi" -> Seq("power bi", "powerbi", "dax"),
    "qlik" -> Seq("qlik", "qlikview", "qliksense"),
    "excel" -> Seq("excel", "vba", "macros"),
    "sap" -> Seq("sap", "sap hana", "abap"),
    "agile" -> Seq("agile", "scrum", "kanban", "sprint"),
    "devops" -> Seq("devops", "ci/cd", "continuous integration"),
    "tdd" -> Seq("tdd", "test driven development"),
    "bdd" -> Seq("bdd", "behavior driven development"),
    "frontend" -> Seq("html", "css", "bootstrap", "tailwind", "sass"),
    "backend" -> Seq("api", "rest", "graphql", "microservices", "soap"),
    "machine_learning" -> Seq("machine learning", "ml", "tensorflow", "pytorch", "scikit-learn"),
    "deep_learning" -> Seq("deep learning", "neural networks", "cnn", "rnn"),
    "data_science" -> Seq("data science", "statistics", "probability", "data analysis"))

  /** Extra regex patterns of the NLP stage (extract_skills.py:149-160);
    * run against the CLEANED text exactly as the reference does (so
    * patterns whose glyphs the cleaning strips, like c\+\+, can only
    * match via their plain alternates — bug-compatible). Matched group
    * with '.' removed, Title-cased. */
  val nlpPatterns: Seq[String] = Seq(
    "\\b(c\\+\\+|cpp)\\b", "\\b(react\\.js|reactjs)\\b", "\\b(node\\.js|nodejs)\\b",
    "\\b(express\\.js|expressjs)\\b", "\\b(jquery)\\b", "\\b(bootstrap)\\b",
    "\\b(tailwind)\\b", "\\b(sass|scss)\\b", "\\b(webpack)\\b", "\\b(gulp|grunt)\\b")

  /** Aho-Corasick automaton over every catalog variant, built once at
    * object init — the r18 single-pass replacement for the ~150
    * per-variant `contains()` scans the expression form ran per
    * document (each Contains is its own full pass over the cleaned
    * text). One left-to-right scan reports EVERY variant occurrence —
    * including nested ones ("rust" also fires the "r" variant), which
    * a consuming regex alternation would miss — as a bitmask of
    * catalog-category indices. Variants whose glyphs the cleaning
    * strips ("c#", ".net", "ci/cd") stay in the automaton and simply
    * never match, same as their `contains` never fired. */
  private object NlpAutomaton {
    // hits pack one bit per category into a Long; at 64 entries
    // allMask would wrap to 0 and every scan would report no hits
    require(nlpCatalog.size <= 63,
      s"Skills.nlpCatalog has ${nlpCatalog.size} entries; NlpAutomaton packs at most 63")
    private val children = scala.collection.mutable.ArrayBuffer(
      new java.util.HashMap[Char, Int]())
    private val masks = scala.collection.mutable.ArrayBuffer(0L)
    nlpCatalog.zipWithIndex.foreach { case ((_, variants), ci) =>
      variants.foreach { v =>
        var node = 0
        v.foreach { ch =>
          node = if (children(node).containsKey(ch)) children(node).get(ch)
          else {
            children += new java.util.HashMap[Char, Int]()
            masks += 0L
            val id = children.size - 1
            children(node).put(ch, id)
            id
          }
        }
        masks(node) |= 1L << ci
      }
    }
    private val fail = Array.fill(children.size)(0)
    locally { // BFS: fail links + merge suffix-reachable masks
      val queue = new java.util.ArrayDeque[Int]()
      children(0).forEach((_, c) => queue.add(c))
      while (!queue.isEmpty) {
        val u = queue.poll()
        masks(u) |= masks(fail(u))
        children(u).forEach { (ch, c) =>
          var f = fail(u)
          while (f != 0 && !children(f).containsKey(ch)) f = fail(f)
          fail(c) = if (children(f).containsKey(ch) && children(f).get(ch) != c)
            children(f).get(ch) else 0
          queue.add(c)
        }
      }
    }
    private val goto0 = children(0)
    val allMask: Long = (1L << nlpCatalog.size) - 1
    /** Bitmask of catalog categories with >= 1 variant occurrence. */
    def scan(clean: String): Long = {
      var acc = 0L
      var state = 0
      var i = 0
      val n = clean.length
      while (i < n && acc != allMask) {
        val ch = clean.charAt(i)
        while (state != 0 && !children(state).containsKey(ch)) state = fail(state)
        state = if (children(state).containsKey(ch)) children(state).get(ch)
        else if (goto0.containsKey(ch)) goto0.get(ch) else 0
        acc |= masks(state)
        i += 1
      }
      acc
    }
  }

  private val nlpCategoryNames: Array[String] =
    nlpCatalog.map { case (cat, _) => pythonTitle(cat.replace('_', ' ')) }.toArray
  private val nlpCleanPat1 = java.util.regex.Pattern.compile("(?U)[^\\w\\s]")
  private val nlpCleanPat2 = java.util.regex.Pattern.compile("\\s+")
  private val nlpPatternsCompiled: Array[java.util.regex.Pattern] =
    nlpPatterns.map(java.util.regex.Pattern.compile).toArray

  /** Spark `initcap` semantics (first letter of each space-delimited
    * word title-cased, everything else lowercased) for the pattern-hit
    * names — kept exactly aligned with the expression form the oracle
    * replays. Title case, not upper case: they differ on digraphs such
    * as U+01F3, and `initcap` uses `Character.toTitleCase`. */
  private[textkit] def initcapLike(s: String): String = {
    val lo = s.toLowerCase(java.util.Locale.ROOT)
    val sb = new StringBuilder(lo.length)
    var prevSpace = true
    lo.foreach { ch =>
      sb.append(if (prevSpace) Character.toTitleCase(ch) else ch)
      prevSpace = ch == ' '
    }
    sb.toString
  }

  /** The single-pass kernel behind [[extractSkillsNlp]]: clean (same
    * two regexes, precompiled), one automaton scan for all catalog
    * variants, ten precompiled pattern probes — vs one `Contains` pass
    * per variant (~150 passes/doc) plus per-call regex work in the
    * expression form. Output order replicates the expression exactly:
    * catalog hits in catalog order, then pattern hits in pattern
    * order, first-occurrence distinct (array_distinct semantics). */
  private[textkit] def extractSkillsNlpKernel(lowered: String): Seq[String] = {
    val clean = nlpCleanPat2.matcher(
      nlpCleanPat1.matcher(lowered).replaceAll(" ")).replaceAll(" ")
    val out = new java.util.LinkedHashSet[String]()
    val mask = NlpAutomaton.scan(clean)
    var i = 0
    while (i < nlpCategoryNames.length) {
      if ((mask & (1L << i)) != 0) out.add(nlpCategoryNames(i))
      i += 1
    }
    nlpPatternsCompiled.foreach { p =>
      val m = p.matcher(clean)
      if (m.find()) {
        val g = m.group(1)
        if (g != null && g.nonEmpty) {
          // '.' removal is a no-op post-cleaning but kept for fidelity
          out.add(initcapLike(g.replace(".", "")))
        }
      }
    }
    import scala.jdk.CollectionConverters._
    out.iterator().asScala.toSeq
  }

  private lazy val extractSkillsNlpUdf =
    org.apache.spark.sql.functions.udf(extractSkillsNlpKernel _)

  /** F15 (deterministic subset): catalog + regex detection over text
    * cleaned the reference's way (unicode non-word -> space, collapse).
    * Single UDF invocation per document (one decode, one automaton
    * scan); the guard and the lowering stay Catalyst expressions so
    * null/short-text handling and case mapping are byte-identical to
    * the expression form ([[extractSkillsNlpExpr]], parity-pinned in
    * SkillsSpec). */
  def extractSkillsNlp(text: Column): Column = {
    val guardEmpty = text.isNull || length(trim(text)) < 10
    when(guardEmpty, array().cast("array<string>"))
      .otherwise(extractSkillsNlpUdf(lower(coalesce(text, lit("")))))
  }

  /** The pre-r18 expression form, kept as the parity reference for
    * [[extractSkillsNlp]] (SkillsSpec asserts equality on fixtures that
    * exercise nested matches, multi-word variants and pattern hits). */
  private[textkit] def extractSkillsNlpExpr(text: Column): Column = {
    val guardEmpty = text.isNull || length(trim(text)) < 10
    val clean = regexp_replace(
      regexp_replace(lower(coalesce(text, lit(""))), "(?U)[^\\w\\s]", " "),
      "\\s+", " ")
    val catalogHits = nlpCatalog.map { case (cat, variants) =>
      val name = pythonTitle(cat.replace('_', ' '))
      when(variants.map(v => clean.contains(v)).reduce(_ || _), lit(name))
        .otherwise(lit(null).cast("string"))
    }
    val patternHits = nlpPatterns.map { p =>
      val hit = nullif(regexp_extract(clean, p, 1), lit(""))
      // '.' removal is a no-op post-cleaning but kept for fidelity
      when(hit.isNotNull, initcap(regexp_replace(hit, "\\.", "")))
        .otherwise(lit(null).cast("string"))
    }
    val all = array((catalogHits ++ patternHits): _*)
    when(guardEmpty, array().cast("array<string>"))
      .otherwise(array_distinct(filter(all, h => h.isNotNull)))
  }

  /** F16 category catalog (extract_skills.py:207-236), in order. */
  val categoryCatalog: Seq[(String, Seq[String])] = Seq(
    "Programmation" -> Seq("python", "java", "javascript", "csharp", "php", "ruby",
      "go", "rust", "scala", "kotlin", "swift", "r", "matlab", "sas", "c++", "cpp"),
    "Base de Données" -> Seq("sql", "nosql", "mysql", "postgresql", "mongodb",
      "redis", "elasticsearch"),
    "Big Data" -> Seq("hadoop", "spark", "kafka", "hive", "bigquery", "data science"),
    "Cloud" -> Seq("aws", "azure", "gcp", "docker", "kubernetes", "terraform"),
    "DevOps" -> Seq("jenkins", "linux", "bash", "ci/cd", "devops"),
    "BI & Analytics" -> Seq("tableau", "powerbi", "qlik", "excel", "sap"),
    "Web" -> Seq("html", "css", "react", "vue", "angular", "bootstrap", "tailwind"),
    "IA & ML" -> Seq("machine learning", "deep learning", "tensorflow", "pytorch"),
    "Méthodologies" -> Seq("agile", "scrum", "kanban", "tdd", "bdd"))

  /** F16: first category (in catalog order) with a substring hit;
    * "Technique" otherwise; "Autre" for null/empty input. */
  def classifySkillCategory(skill: Column): Column = {
    val lo = lower(skill)
    val chain = categoryCatalog.reverse.foldLeft(lit("Technique")) {
      case (fallback, (cat, keys)) =>
        when(keys.map(k => lo.contains(k)).reduce(_ || _), lit(cat)).otherwise(fallback)
    }
    when(skill.isNull || length(skill) === 0, lit("Autre")).otherwise(chain)
  }

  /** Substring occurrence count (Python str.count: non-overlapping). */
  private def substrCount(hay: Column, needle: Column): Column =
    when(length(needle) === 0, 0)
      .otherwise(((length(hay) - length(replace(hay, needle, lit("")))) / length(needle))
        .cast("int"))

  /** Skills-list marker words in an ALREADY-LOWERCASED context
    * (extract_skills.py's bonus condition). Exposed so callers that
    * stage the lowered context before an explode can stage this flag
    * with it — four substring scans per DOCUMENT instead of per
    * exploded skill row. */
  def hasSkillMarker(ctx: Column): Column =
    Seq("compétences", "skills", "technologies", "outils")
      .map(w => ctx.contains(w)).reduce(_ || _)

  /** [[skillConfidence]] over pre-staged inputs: `ctx` must be
    * lower(context) and `marker` must be [[hasSkillMarker]](ctx).
    * The explode-heavy caller (q61) computes both once per document;
    * the plain wrapper below derives them inline so the two forms
    * cannot drift (F17 parity goldens run against the wrapper). */
  def skillConfidencePrepped(skill: Column, ctx: Column, marker: Column): Column = {
    val lo = lower(skill)
    val freq = substrCount(ctx, lo).cast("double")
    val base = least(lit(0.9), lit(0.6) + freq * 0.1)
    val bonus = when(marker, 0.1).otherwise(0.0)
    // ctx IS NULL iff context is (lower preserves null), so the
    // missing-input guard reads identically off the staged column
    when(skill.isNull || length(skill) === 0 || ctx.isNull || length(ctx) === 0,
      0.5).otherwise(base + bonus)
  }

  /** F17 confidence: min(0.9, 0.6 + 0.1*freq) + 0.1 when a skills-list
    * marker word appears in context; 0.5 for missing inputs. */
  def skillConfidence(skill: Column, context: Column): Column = {
    val ctx = lower(context)
    skillConfidencePrepped(skill, ctx, hasSkillMarker(ctx))
  }
}
