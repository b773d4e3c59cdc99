package graft.textkit

import org.apache.spark.sql.expressions.UserDefinedFunction
import org.apache.spark.sql.functions.udf

import scala.util.matching.Regex

/** HTML field extraction — the reference's parse stage UDF cascade
  * (parse_jobs.py:41-299, F1-F7).
  *
  * The reference uses BeautifulSoup CSS selectors; offline we implement
  * the same selector CASCADES over a small regex-based tag extractor
  * (first tag whose class attribute contains the selector's class
  * token, inner text with tags stripped). Fallback chains, length
  * guards and default values match the reference exactly.
  */
object HtmlExtract {

  // selector regexes compiled once per (tag, class) — these run inside
  // the hottest UDFs, one cascade per row
  private val patternCache =
    new java.util.concurrent.ConcurrentHashMap[String, scala.util.matching.Regex]()
  private def cached(key: String)(mk: => scala.util.matching.Regex) =
    patternCache.computeIfAbsent(key, _ => mk)

  /** Inner text of the first element of `tag` whose class contains
    * `cls` (cls == null: any `tag`). */
  private def tagText(html: String, tag: String, cls: String): Option[String] = {
    val pat = cached(s"tag:$tag:$cls") {
      if (cls == null)
        s"""(?is)<$tag\\b[^>]*>(.*?)</$tag>""".r
      else
        s"""(?is)<$tag\\b[^>]*class="[^"]*$cls[^"]*"[^>]*>(.*?)</$tag>""".r
    }
    pat.findFirstMatchIn(html).map(m => stripTags(m.group(1)))
  }

  private def classPat(cls: String) = cached(s"cls:$cls") {
    s"""(?is)<(\\w+)\\b[^>]*class="[^"]*$cls[^"]*"[^>]*>(.*?)</\\1>""".r
  }

  /** Any-tag variant: first element with a class containing `cls`. */
  private def classText(html: String, cls: String): Option[String] =
    classPat(cls).findFirstMatchIn(html).map(m => stripTags(m.group(2)))

  /** ALL elements with a class containing `cls`, in document order —
    * the reference appends every selector hit (parse_jobs.py:169-174). */
  private def classTextAll(html: String, cls: String): Seq[String] =
    classPat(cls).findAllMatchIn(html).map(m => stripTags(m.group(2))).toSeq

  // stripTags runs per selector hit per row in the hottest UDFs;
  // String.replaceAll re-compiles its pattern on EVERY call, so the
  // four passes are precompiled once (r17 optimization — semantics
  // identical, replaceAllIn == replaceAll for a literal replacement)
  private val scriptPat = """(?is)<script.*?</script>""".r
  private val stylePat = """(?is)<style.*?</style>""".r
  private val anyTagPat = """(?s)<[^>]+>""".r
  private val wsPat = """\s+""".r

  // ALL precompiled patterns live here at the top of the object, above
  // every def that uses them (r17 ADVICE): the project has a pinned
  // object-init-order hazard (the q97 "+ 0" bug) — a val initializer
  // below that called one of the extract* defs during init would read
  // null patterns if these sat further down.
  // text-pattern fallbacks compiled once, not per row (r17 optimization)
  private val companyTextPats: Seq[Regex] = Seq(
    """(?i)(?:chez|pour|company|entreprise)\s*:?\s*([A-Z][A-Za-z\s&\-\.]+)""".r,
    """(?i)([A-Z][A-Za-z\s&\-\.]+(?:SA|SARL|Groupe|Group|Corp|Corporation|Inc|Ltd))""".r)
  private val chromePat =
    """(?is)<(script|style|nav|header|footer|aside)\b.*?</\1>""".r
  private val bulletPat = """[•\-\*]\s*([^\n•\-\*]+)""".r
  private val salaryTextPats: Seq[Regex] = Seq(
    """(?i)(\d+(?:[\s\.,]\d+)*)\s*(?:FCFA|CFA|XOF|francs?|€|\$)""".r,
    """(?i)(?:salaire|rémunération|paye)\s*:?\s*(\d+(?:[\s\.,]\d+)*[^\n,]*)""".r,
    """(?i)(\d+(?:[\s\.,]\d+)*)\s*(?:par|/)\s*(?:mois|month|an|year)""".r)

  def stripTags(html: String): String =
    wsPat.replaceAllIn(
      anyTagPat.replaceAllIn(
        stylePat.replaceAllIn(
          scriptPat.replaceAllIn(html, " "), " "), " "), " ").trim

  private def nonEmpty(o: Option[String], minLen: Int): Option[String] =
    o.map(_.trim).filter(_.length > minLen)

  /** First h1 INSIDE an element whose class contains `cls` — the
    * descendant-selector step (`.job-title h1`) of the title cascade.
    * Container matching shares [[classPat]] so the two cascades can't
    * diverge. */
  private def descendantH1(html: String, cls: String): Option[String] =
    classPat(cls).findFirstMatchIn(html)
      .flatMap(m => cached("desc-h1")("""(?is)<h1\b[^>]*>(.*?)</h1>""".r)
        .findFirstMatchIn(m.group(2)).map(h => stripTags(h.group(1))))

  /** F1: title cascade (parse_jobs.py:50-66; selector order preserved,
    * including the `.job-title h1` descendant step). */
  def extractTitle(html: String): String = {
    if (html == null || html.isEmpty) return null
    val candidates = Seq(
      () => tagText(html, "h1", "job-title"),
      () => tagText(html, "h1", "title"),
      () => descendantH1(html, "job-title"),
      () => classText(html, "offer-title"),
      () => tagText(html, "h1", null),
      () => classText(html, "title"),
      () => classText(html, "job"),
      () => tagText(html, "title", null))
    candidates.view.map(f => nonEmpty(f(), 5)).collectFirst { case Some(t) => t }.orNull
  }

  /** F2: company cascade + text patterns; default
    * "Entreprise confidentielle" (parse_jobs.py:83-112). */
  def extractCompany(html: String): String = {
    if (html == null || html.isEmpty) return null
    val selectors = Seq("company-name", "employer", "company", "organization", "firm", "enterprise")
    val bySel = selectors.view.map(c => nonEmpty(classText(html, c), 2))
      .collectFirst { case Some(t) => t }
    bySel.getOrElse {
      val text = stripTags(html)
      companyTextPats.view.flatMap(_.findFirstMatchIn(text).map(_.group(1).trim))
        .collectFirst { case c if c.length > 2 => c }
        .getOrElse("Entreprise confidentielle")
    }
  }

  /** F3: description cascade; fallback = page text sans chrome tags,
    * truncated to 2000 chars (parse_jobs.py:124-144). */
  def extractDescription(html: String): String = {
    if (html == null || html.isEmpty) return null
    val selectors = Seq("job-description", "description", "offer-description",
      "job-content", "position-description", "content", "main-content")
    val bySel = selectors.view.map(c => nonEmpty(classText(html, c), 50))
      .collectFirst { case Some(t) => t }
    bySel.getOrElse {
      val cleaned = chromePat.replaceAllIn(html, " ")
      val text = stripTags(cleaned)
      if (text.length > 100) text.take(2000) else null
    }
  }

  /** F4: requirements selectors joined; fallback bullet-list items,
    * max 10 (parse_jobs.py:161-186). */
  def extractRequirements(html: String): String = {
    if (html == null || html.isEmpty) return null
    val selectors = Seq("requirements", "qualifications", "skills", "competences",
      "job-requirements", "profile", "requirement", "skill", "competence")
    val hits = selectors.flatMap(c => classTextAll(html, c))
      .map(_.trim).filter(_.length > 10)
    if (hits.nonEmpty) hits.mkString(" ")
    else {
      // bullet fallback only scans a description/content element — the
      // reference returns None when neither exists (parse_jobs.py:180-186)
      classText(html, "description").orElse(classText(html, "content")) match {
        case Some(text) =>
          val items = bulletPat.findAllMatchIn(text).map(_.group(1).trim).toSeq
          if (items.nonEmpty) items.take(10).mkString(" ") else null
        case None => null
      }
    }
  }

  /** Ivorian city list (parse_jobs.py:217-221). */
  val ciCities: Seq[String] = Seq(
    "Abidjan", "Bouaké", "Daloa", "Yamoussoukro", "San-Pédro",
    "Korhogo", "Man", "Gagnoa", "Divo", "Soubré", "Côte d'Ivoire", "Ivory Coast")

  /** F5: location cascade; city scan; default "Côte d'Ivoire"
    * (parse_jobs.py:203-230). */
  def extractLocation(html: String): String = {
    if (html == null || html.isEmpty) return null
    val selectors = Seq("location", "place", "city", "address")
    val bySel = selectors.view.map(c => nonEmpty(classText(html, c), 2))
      .collectFirst { case Some(t) => t }
    bySel.getOrElse {
      val textLo = stripTags(html).toLowerCase
      ciCities.find(c => textLo.contains(c.toLowerCase)).getOrElse("Côte d'Ivoire")
    }
  }

  /** F6: salary selector cascade; FCFA/€/$ regex fallback
    * (parse_jobs.py:242-265). */
  def extractSalaryText(html: String): String = {
    if (html == null || html.isEmpty) return null
    val selectors = Seq("salary", "remuneration", "compensation", "pay", "remun")
    val bySel = selectors.view.map(c => nonEmpty(classText(html, c), 0))
      .collectFirst { case Some(t) => t }
    bySel.getOrElse {
      val text = stripTags(html)
      salaryTextPats.view.flatMap(_.findFirstMatchIn(text).map(_.group(1).trim))
        .headOption.orNull
    }
  }

  /** F7: contract-type keyword table; default "Non spécifié"
    * (parse_jobs.py:282-299). */
  val contractKeywords: Seq[(String, Seq[String])] = Seq(
    "CDI" -> Seq("cdi", "contrat à durée indéterminée", "permanent", "durable"),
    "CDD" -> Seq("cdd", "contrat à durée déterminée", "temporaire", "intérim"),
    "Stage" -> Seq("stage", "internship", "formation", "apprentissage"),
    "Freelance" -> Seq("freelance", "indépendant", "consultant", "prestataire"),
    "Alternance" -> Seq("alternance", "apprentissage", "contrat pro"),
    "Mission" -> Seq("mission", "projet", "contractuel"))

  def extractContractType(html: String): String = {
    if (html == null || html.isEmpty) return "Non spécifié"
    val lo = html.toLowerCase
    contractKeywords.collectFirst {
      case (ct, kws) if kws.exists(lo.contains) => ct
    }.getOrElse("Non spécifié")
  }

  /** All seven fields of one page. Field names are the reference's
    * output column names (parse_jobs.py's select), so `page.*` after
    * [[pageUdf]] needs no aliasing. */
  case class PageFields(title: String, company: String, description: String,
    requirements: String, location: String, salary_text: String,
    contract_type: String)

  /** All seven cascades in ONE UDF invocation, composing the seven
    * `extract*` kernel functions above directly (ReferenceParitySpec
    * pins the kernels themselves). One UDF per field would pay the
    * UTF8String→String conversion of the page and the per-call
    * invocation overhead seven times per row. Keep the struct in its own projection (select the UDF,
    * THEN expand fields): CollapseProject never duplicates a non-cheap
    * expression, which is what guarantees one invocation per row. */
  val pageUdf: UserDefinedFunction = udf((html: String) => PageFields(
    extractTitle(html), extractCompany(html), extractDescription(html),
    extractRequirements(html), extractLocation(html),
    extractSalaryText(html), extractContractType(html)))
}
