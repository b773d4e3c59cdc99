package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions._

/** Text-analysis operators for training-data curation: language ID,
  * quality scoring, token counting, fingerprinting. All pure Column
  * expressions (whole-stage codegen, no UDF boundary) — at 100 TB these
  * run inside the same scan stage as the parquet read, shuffle-free.
  */
object TextAnalysis {

  /** Marker words per language for the n-gram-heuristic language ID.
    * Counted as substring occurrences over the space-padded lowercase
    * body, so both Catalyst and the SQL oracle replay it byte-for-byte. */
  val langMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq(" the ", " and ", " of ", " is "),
    "fr" -> Seq(" le ", " la ", " et ", " les "),
    "de" -> Seq(" der ", " und ", " die ", " ist "),
    "es" -> Seq(" el ", " los ", " y ", " es "))

  /** Stopwords used by the quality score (subset of the reference's
    * 30-entry French+English stoplist, deduplicate.py:45-70). */
  val stopwords: Seq[String] = Seq(
    "the", "and", "of", "is", "a", "an", "in", "on", "to", "for",
    "le", "la", "les", "et", "de", "des", "un", "une")

  private def padded(text: Column): Column = concat(lit(" "), lower(text), lit(" "))

  /** Per-language marker-count scores; columns `score_<lang>`. */
  def langScores(text: Column): Seq[(String, Column)] =
    langMarkers.map { case (lang, ms) =>
      s"score_$lang" -> ms.map(m => occurrences(padded(text), m)).reduce(_ + _)
    }

  /** Predicted language: argmax of marker scores, first-listed wins
    * ties, "und" (undetermined) when every score is zero. */
  def langId(text: Column): Column = {
    val scores = langMarkers.map(_._1).zip(langScores(text).map(_._2))
    val total = scores.map(_._2).reduce(_ + _)
    val best = scores.tail.foldLeft(when(lit(true), lit(scores.head._1)) -> scores.head._2) {
      case ((pick, bestScore), (lang, s)) =>
        (when(s > bestScore, lit(lang)).otherwise(pick),
          greatest(bestScore, s))
    }._1
    when(total === 0, lit("und")).otherwise(best)
  }

  /** DuckDB replay of [[langScores]] over a `text` column: the
    * `(...) AS score_xx` select-list fragment. Lives next to
    * langMarkers so every oracle derives from the one catalog. */
  def sqlLangScoreExprs: String = {
    val pad = s"(' ' || lower(text) || ' ')"
    langMarkers.map { case (lang, ms) =>
      val sum = ms.map(m => graft.functions.TextFunctions.sqlOccurrences(pad, m))
        .mkString(" + ")
      s"($sum) AS score_$lang"
    }.mkString(",\n  ")
  }

  /** DuckDB replay of [[langId]] over bound score_xx columns. The
    * reverse-order CASE replicates the fold's first-listed-wins ties. */
  def sqlLangIdCase(alias: String): String = {
    val langs = langMarkers.map(_._1)
    val total = langs.map(l => s"score_$l").mkString(" + ")
    val cases = langs.tail.reverse.map { l =>
      val earlier = langs.takeWhile(_ != l).map(x => s"score_$x")
      s"WHEN score_$l > greatest(${earlier.mkString(", ")}) THEN '$l'"
    }.mkString("\n  ")
    s"""CASE WHEN ($total) = 0 THEN 'und'
          $cases
          ELSE '${langs.head}' END AS $alias"""
  }

  /** Quality features + composite score per document. */
  def qualityScore(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val toks = tokens(col(textCol))
    val tokSet = array_distinct(toks)
    val nToks = size(toks).cast("long")
    val stopHits = size(array_intersect(tokSet, lit(stopwords.toArray))).cast("double")
    val nToksSafe = greatest(nToks.cast("double"), lit(1.0))
    val distinctRatio = size(tokSet).cast("double") / nToksSafe
    // null text must yield NULL (matching the oracle's array_to_string
    // over a NULL list) — concat_ws alone swallows a null array to ""
    val avgTokLen = when(col(textCol).isNull, lit(null).cast("double"))
      .otherwise(length(concat_ws("", toks)).cast("double") / nToksSafe)
    df.select(
      col(idCol),
      nToks.as("n_tokens"),
      graft.queries.roundSafe(avgTokLen, 4).as("avg_token_len"),
      graft.queries.roundSafe(distinctRatio, 4).as("distinct_ratio"),
      graft.queries.roundSafe(
        stopHits / greatest(size(tokSet).cast("double"), lit(1.0)), 4)
        .as("stopword_type_ratio"),
      graft.queries.roundSafe(
        least(nToks.cast("double") / 100.0, lit(1.0)) * distinctRatio, 4)
        .as("quality"))
  }

  /** Whitespace token array — THE tokenization every whitespace-token
    * consumer shares ([[wsTokenCount]], [[chunkDocuments]], and through
    * it [[dedupSegments]]); must stay in lockstep with the oracles'
    * string_split_regex replay, which is why it exists once. */
  def wsTokens(c: Column): Column =
    filter(split(c, "[ \\t\\n\\r\\f]+"), t => length(t) > 0)

  /** Whitespace token count — shared by [[tokenStats]] and
    * [[packSequences]]. */
  def wsTokenCount(c: Column): Column =
    size(wsTokens(c)).cast("long")

  /** Token-count accounting: whitespace tokens, BPE-ish pieces (letter
    * runs / digit runs / single other-glyphs), characters. */
  def tokenStats(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(
      col(idCol),
      wsTokenCount(col(textCol)).as("ws_tokens"),
      size(regexp_extract_all(lower(col(textCol)), lit("[a-z]+|[0-9]+|[^a-z0-9 \\t\\n\\r\\f]"), lit(0)))
        .cast("long").as("bpe_pieces"),
      length(col(textCol)).cast("long").as("n_chars"))

  /** Canonical-text md5 fingerprint + rolling-prefix band for bucketing. */
  def fingerprints(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(
      col(idCol),
      fingerprint(col(textCol)).as("fp"),
      substring(fingerprint(col(textCol)), 1, 4).as("fp_band"),
      length(normalizeText(col(textCol))).cast("long").as("norm_len"))

  /** Deterministic per-row sample bucket in [0, 100): md5-hash of the
    * id, NOT rand() — reproducible across runs, engines, partitionings
    * and cluster sizes, which is what a training-data pipeline needs to
    * re-materialize the exact same corpus split. */
  def sampleBucket(id: Column): Column =
    pmod(tokenHash(id.cast("string")), lit(100L))

  /** Stratified hash-sampling: keep a row iff its [[sampleBucket]]
    * falls under its stratum's percentage. Map-side only — no shuffle,
    * no RNG state; rates ride along as a broadcast-literal map.
    *
    * The `stratum` expression may be expensive (e.g. [[langId]]'s
    * marker-scan classifier), and Catalyst pushes the keep-predicate
    * through the projection — staging the stratum as a column would
    * just be re-inlined into the filter. The lever that actually cuts
    * work is the bucket bounds: `bucket < min(rates)` always keeps and
    * `bucket >= max(rates)` always drops regardless of stratum, and
    * And/Or codegen short-circuits left-to-right, so the classifier
    * runs in the filter only on the undecided bucket band (and in the
    * projection only on kept rows). */
  def stratifiedHashSample(df: DataFrame, idCol: String, stratum: Column,
      ratesPct: Map[String, Int], defaultPct: Int): DataFrame = {
    // working/output columns must not silently overwrite caller data
    // (the Skew.cbKeyed reserved-column rule): 'bucket' in particular
    // is a name the IVF assignment and quantized corpus both emit
    Seq("stratum", "bucket").foreach { c =>
      require(!df.columns.contains(c),
        s"stratifiedHashSample: input already has a '$c' column — rename it " +
          "before sampling (the operator emits its own)")
    }
    val rate = coalesce(
      element_at(typedLit(ratesPct), stratum).cast("long"),
      lit(defaultPct.toLong))
    val allRates = ratesPct.values.toSeq :+ defaultPct
    df.withColumn("stratum", stratum)
      .withColumn("bucket", sampleBucket(col(idCol)))
      .where(col("bucket") < lit(allRates.min.toLong) ||
        (col("bucket") < lit(allRates.max.toLong) && col("bucket") < rate))
  }

  /** Sequence packing accounting for LLM pretraining (concat-then-chunk:
    * documents are concatenated in id order and split into fixed
    * `ctxLen`-token context windows; a document may span chunks).
    * Packing is per shard — `id mod nShards` — because a global
    * concatenation order would serialize the cumulative sum; per-shard
    * running totals are a partitioned window (one shuffle on the shard
    * key), which is how distributed pretraining pipelines actually pack.
    * Emits per doc: shard, token count, global-in-shard start offset,
    * first/last chunk index and chunks spanned. */
  def packSequences(df: DataFrame, idCol: String, textCol: String,
      ctxLen: Int, nShards: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toksN = wsTokenCount(col(textCol))
    val w = Window.partitionBy(col("shard")).orderBy(col(idCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // pmod, not %: hashed (xxhash64) ids are frequently negative, and
    // `%` keeps the dividend's sign — 2*nShards-1 distinct shards and
    // negative labels (sampleBucket/deterministicShuffle use pmod too)
    df.select(col(idCol), pmod(col(idCol), lit(nShards.toLong)).as("shard"),
        toksN.as("n_tokens"))
      .withColumn("end_token", sum(col("n_tokens")).over(w))
      .withColumn("start_token", col("end_token") - col("n_tokens"))
      .select(
        col(idCol), col("shard"), col("n_tokens"), col("start_token"),
        floor(col("start_token") / ctxLen).as("first_chunk"),
        when(col("n_tokens") === 0, floor(col("start_token") / ctxLen))
          .otherwise(floor((col("end_token") - 1) / ctxLen)).as("last_chunk"))
      .withColumn("chunks_spanned",
        when(col("n_tokens") === 0, lit(0L))
          .otherwise(col("last_chunk") - col("first_chunk") + 1))
  }

  /** Split documents into overlapping fixed-size token windows — the
    * chunking step before embedding / retrieval-context construction.
    * Chunks start at multiples of stride = chunkTokens - overlap; the
    * final chunk may be shorter but every token is covered (the last
    * start is < n); documents with zero tokens yield no chunks.
    *
    * Scale shape: one map stage (tokenize, count) + one generate per
    * chunk row — no shuffle at all; chunk count is ~n/stride so output
    * scales linearly with corpus tokens. Tokens are staged into a real
    * column before the per-chunk slice (lambda subexpression rule), and
    * the generate explodes only the cheap index sequence, so
    * InferFiltersFromGenerate cannot re-inline the tokenizer. */
  def chunkDocuments(df: DataFrame, idCol: String, textCol: String,
      chunkTokens: Int, overlap: Int): DataFrame = {
    require(overlap >= 0 && overlap < chunkTokens,
      s"overlap must be in [0, chunkTokens); got overlap=$overlap chunkTokens=$chunkTokens")
    val stride = chunkTokens - overlap
    df.select(col(idCol).as("id"), wsTokens(col(textCol)).as("__toks"))
      .select(col("id"), col("__toks"), size(col("__toks")).cast("long").as("__n"))
      .where(col("__n") > 0)
      .select(col("id"), col("__toks"),
        (when(col("__n") > chunkTokens,
          floor((col("__n") - chunkTokens + (stride - 1)) / lit(stride)))
          .otherwise(lit(0L)) + 1L).as("__nc"))
      .select(col("id"), col("__toks"),
        explode_outer(sequence(lit(0L), col("__nc") - 1)).as("chunk_idx"))
      .where(col("chunk_idx").isNotNull)
      .select(col("id"), col("chunk_idx"),
        slice(col("__toks"), (col("chunk_idx") * stride + 1).cast("int"),
          lit(chunkTokens)).as("__chunk"))
      .select(col("id"), col("chunk_idx"),
        (col("chunk_idx") * stride).as("start_token"),
        size(col("__chunk")).cast("long").as("n_tokens"),
        concat_ws(" ", col("__chunk")).as("chunk_text"))
  }

  /** C4-style segment-level exact dedup across the corpus: cut each
    * document into fixed `segTokens`-token segments (via
    * [[chunkDocuments]] with zero overlap), keep only the FIRST
    * occurrence of each distinct segment corpus-wide (ordered by
    * (id, seg_idx) — deterministic), and reassemble each document from
    * its surviving segments. This is the line/paragraph-level
    * boilerplate removal step of web-corpus curation, expressed over
    * token windows because the synthetic corpus has no line structure.
    *
    * Scale shape: one generate (segments), winner election as a
    * map-side-combined MIN per segment digest (NOT a row_number
    * window: the modal boilerplate segment of a web crawl has 10^8+
    * copies, and a window partitioned on its digest serializes that
    * whole partition's sort onto one task — the same single-task
    * ceiling Skew.capBlocksHashed documents for rank windows; the
    * partial-agg min reduces each mapper's copies to one row before
    * the shuffle), then one digest join (AQE can split a skewed join
    * partition, it cannot split a window partition) and one per-doc
    * aggregation. No self-join, no collect — the same plan C4's
    * three-sentence dedup runs at web scale.
    *
    * @return (id, n_segs, n_dropped, clean_text) for every input row —
    *         docs with no tokens report 0 segments and empty text
    */
  def dedupSegments(df: DataFrame, idCol: String, textCol: String,
      segTokens: Int): DataFrame = {
    val segs = chunkDocuments(df, idCol, textCol, segTokens, 0)
      .select(col("id"), col("chunk_idx").as("seg_idx"),
        col("chunk_text").as("seg_text"),
        md5(col("chunk_text")).as("__d"))
    // winner = lexicographic min (id, seg_idx) per distinct digest —
    // identical to first-by-(id, seg_idx) because (id, seg_idx) is
    // unique by construction; min(struct) combines map-side, so the
    // modal segment arrives at the reducer as one row per mapper
    val winners = segs.groupBy(col("__d"))
      .agg(min(struct(col("id"), col("seg_idx"))).as("__w"))
    val agg = segs.join(winners, Seq("__d"))
      .withColumn("__is_w",
        struct(col("id"), col("seg_idx")) === col("__w"))
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_segs"),
        sum(when(!col("__is_w"), 1L).otherwise(0L)).as("n_dropped"),
        // collect_list skips the nulls the `when` leaves for losers;
        // array_sort on (seg_idx, seg_text) structs restores doc order
        array_join(transform(
          array_sort(collect_list(when(col("__is_w"),
            struct(col("seg_idx"), col("seg_text"))))),
          s => s.getField("seg_text")), " ").as("clean_text"))
    df.select(col(idCol).as("id")).join(agg, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("n_segs"), lit(0L)).as("n_segs"),
        coalesce(col("n_dropped"), lit(0L)).as("n_dropped"),
        coalesce(col("clean_text"), lit("")).as("clean_text"))
  }

  /** Corpus vocabulary + per-document OOV coverage: build the top-V
    * token vocabulary (count desc, token asc — deterministic) and score
    * every document's out-of-vocabulary fraction against it. The
    * tokenizer-coverage check run before committing to a vocab/BPE size.
    *
    * Scale shape: token counts are one map-side-combined shuffle; the
    * top-V cut is TakeOrderedAndProject (never a global sort); the tiny
    * vocab broadcasts back over the token stream.
    *
    * Both consumers (vocab count + per-doc coverage) re-run the
    * tokenizer rather than reading staged (id, toks) arrays: staging
    * lost at sf0.1 (5k short docs) and won 15-20 % at sfg1 (50k docs)
    * — a crossover above the bench corpus (VERDICT.md round 18). */
  def vocabCoverage(df: DataFrame, idCol: String, textCol: String,
      topV: Int): DataFrame = {
    val toks = df.select(col(idCol).as("id"), tokens(col(textCol)).as("__toks"))
      .select(col("id"), explode_outer(col("__toks")).as("tok"))
      .where(col("tok").isNotNull)
    val vocab = toks.groupBy(col("tok")).agg(count(lit(1)).as("__c"))
      .orderBy(col("__c").desc, col("tok")).limit(topV)
      .select(col("tok"), lit(1).as("__inv"))
    val per = toks.join(broadcast(vocab), Seq("tok"), "left")
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("__inv").isNull, 1L).otherwise(0L)).as("n_oov"))
    df.select(col(idCol).as("id")).join(per, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        coalesce(col("n_oov"), lit(0L)).as("n_oov"),
        graft.queries.roundSafe(
          when(coalesce(col("n_tokens"), lit(0L)) === 0, 0.0)
            .otherwise(col("n_oov").cast("double") / col("n_tokens").cast("double")),
          6).as("oov_frac"))
  }

  /** Unigram-LM surprisal per document — the deterministic stand-in for
    * perplexity-based quality filtering: p(token) from corpus counts,
    * avg_bits = mean of -log2 p over the document's token occurrences
    * (low = repetitive/common text, high = rare-token soup; filters cut
    * both tails).
    *
    * Scale shape: one token-count shuffle, one join of the token stream
    * against the counts (unhinted — AQE broadcasts it while the vocab
    * is small, shuffle-joins when it is not), one per-doc agg. */
  def unigramSurprisal(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    // NOT staged (r17 optimization attempt, measured and declined):
    // the token stream feeds three consumers (count aggregate, total
    // subquery, per-doc join) and each re-derives the tokenize
    // cascade — but staging the exploded stream to scratch read
    // WORSE on the bench corpus (q67 warm ~0.94 s lazy vs ~1.7 s
    // staged: the 3.4M-row write costs more than two extra passes of
    // the codegen'd tokenizer over short docs, the round-8 "staging
    // neutral on short text" result, amplified). Heavy-text corpora
    // would flip the trade; revisit with a dial if one lands.
    val toks = df.select(col(idCol).as("id"),
        explode_outer(tokens(col(textCol))).as("tok"))
      .where(col("tok").isNotNull)
    val counts = toks.groupBy(col("tok")).agg(count(lit(1)).as("__c"))
    val total = counts.agg(sum(col("__c")).as("__total"))
    val per = toks.join(counts, Seq("tok"))
      .join(broadcast(total))
      .select(col("id"), (-log2(col("__c").cast("double") / col("__total"))).as("__bits"))
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_tokens"),
        (sum(col("__bits")) / count(lit(1))).as("__avg"))
    df.select(col(idCol).as("id")).join(per, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        graft.queries.roundSafe(coalesce(col("__avg"), lit(0.0)), 4).as("avg_bits"))
  }

  /** Bigram conditional surprisal: −log2 P(w₂|w₁) with
    * P(w₂|w₁) = c(w₁w₂)/c(w₁·) over corpus bigram counts, averaged per
    * document — the next step up from [[unigramSurprisal]] toward the
    * perplexity filters LM pipelines run (CCNet-style). Two count
    * tables (bigram, first-word marginal), each a map-side-combined
    * hash agg; both join back onto the bigram stream un-hinted — a
    * synthetic vocabulary broadcasts, a web-scale bigram table
    * shuffle-joins, AQE decides per run (same posture as q67).
    * Documents with fewer than 2 tokens report 0 bigrams / 0 bits. */
  def bigramSurprisal(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val toks = df.select(col(idCol).as("id"), tokens(col(textCol)).as("__toks"))
    // The w1 marginal is a THIRD derivation of the tokenize+shingle
    // cascade, deliberately (r17 tried deriving it from biCounts by
    // aggregation — sum of c(w1w2) over bigrams sharing w1, exact
    // integer arithmetic, one corpus pass fewer — and the r18
    // adjudication ABAB measured it WORSE on this corpus: fromBi
    // 1.24-1.55 s vs cascade 1.17-1.20 s at sf0.1, clean probes all
    // rounds, VERDICT.md round 18. Same physics as q67: the extra
    // shuffle+aggregation over the bigram table costs more than one
    // more pass of the codegen'd cascade over short docs. A heavy-text
    // corpus, where a corpus pass >> a vocab^2 aggregation, would flip
    // the trade back.) Staging the exploded stream also loses here —
    // see unigramSurprisal's note.
    val bi = toks
      .select(col("id"), explode_outer(shingles(col("__toks"), 2)).as("bg"))
      .where(col("bg").isNotNull)
      .withColumn("w1", substring_index(col("bg"), " ", 1))
    val biCounts = bi.groupBy(col("bg")).agg(count(lit(1)).as("__c2"))
    val w1Counts = bi.groupBy(col("w1")).agg(count(lit(1)).as("__c1"))
    val per = bi.join(biCounts, Seq("bg"))
      .join(w1Counts, Seq("w1"))
      .select(col("id"),
        (-log2(col("__c2").cast("double") / col("__c1"))).as("__bits"))
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_bigrams"),
        (sum(col("__bits")) / count(lit(1))).as("__avg"))
    df.select(col(idCol).as("id")).join(per, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        graft.queries.roundSafe(coalesce(col("__avg"), lit(0.0)), 4).as("avg_bits"))
  }

  /** Deterministic global shuffle + sharding for training-data export:
    * shard by id-hash, order within each shard by the md5 of the id.
    * Rand()-free, so the exact same corpus ordering re-materializes on
    * any rerun, engine, partitioning or cluster size — which is what
    * makes a training run reproducible. One shuffle on the shard key;
    * the within-shard sort is per-partition. */
  def deterministicShuffle(df: DataFrame, idCol: String, nShards: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("shard")).orderBy(col("__k"), col("id"))
    df.select(col(idCol).as("id"),
        md5(col(idCol).cast("string")).as("__k"),
        pmod(tokenHash(col(idCol).cast("string")), lit(nShards.toLong)).as("shard"))
      .withColumn("pos", (row_number().over(w) - 1).cast("long"))
      .select(col("id"), col("shard"), col("pos"))
  }

  /** PII patterns shared by the scrubber and its SQL oracle — kept to
    * syntax with identical semantics in Java regex and RE2. */
  val piiEmail = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val piiUrl = "https?://[^ \\t\\n\\r\\f]+"
  val piiPhone = "\\+?[0-9][0-9 -]{7,}[0-9]"

  /** PII scrub: count email/URL/phone matches and redact them (emails
    * first, then URLs, then phones). Map-side only. */
  def piiScrub(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val t = col(textCol)
    val scrubbed = regexp_replace(
      regexp_replace(
        regexp_replace(t, piiEmail, "<EMAIL>"),
        piiUrl, "<URL>"),
      piiPhone, "<PHONE>")
    df.select(
      col(idCol),
      size(regexp_extract_all(t, lit(piiEmail), lit(0))).cast("long").as("n_emails"),
      size(regexp_extract_all(t, lit(piiUrl), lit(0))).cast("long").as("n_urls"),
      size(regexp_extract_all(t, lit(piiPhone), lit(0))).cast("long").as("n_phones"),
      length(scrubbed).cast("long").as("clean_len"))
  }

  /** (id, gs): distinct hashed word-n-gram set per row — STAGED
    * projections, because higher-order lambdas do not share
    * subexpressions: inlining tokens() under the shingle lambda would
    * re-split the whole text once per element_at (the q20 lesson;
    * inline form benched 16x slower at sf0.1). */
  private def gramSets(df: DataFrame, idCol: String, textCol: String,
      n: Int): DataFrame =
    df.select(col(idCol).as("id"),
        graft.functions.TextFunctions.tokens(col(textCol)).as("__toks"))
      .select(col("id"),
        graft.functions.TextFunctions.shingles(col("__toks"), n).as("__shs"))
      .select(col("id"), sort_array(array_distinct(transform(col("__shs"),
        s => graft.functions.TextFunctions.tokenHash(s)))).as("gs"))

  /** Benchmark decontamination: per-document overlap of its n-gram set
    * with a benchmark corpus' n-gram universe — the standard
    * train/eval-contamination check for training-data pipelines.
    *
    * Scale shape: document grams explode and probe the benchmark gram
    * universe via an explicitly-broadcast join (eval benchmarks are
    * tiny next to a 100 TB corpus — if yours is not, drop the hint and
    * AQE plans a shuffle join), then one per-doc aggregation. The
    * corpus is scanned once; no corpus-side shuffle besides the final
    * doc-keyed agg of gram-count rows.
    *
    * @return (id, n_grams, n_contaminated, contamination_frac,
    *         contaminated) — docs with no grams report zeros
    */
  def contaminationStats(df: DataFrame, idCol: String, textCol: String,
      benchmark: DataFrame, benchTextCol: String, n: Int): DataFrame = {
    val docGrams = gramSets(df, idCol, textCol, n)
      .select(col("id"), explode_outer(col("gs")).as("g"))
    // explode_OUTER + null filter, not plain explode: the optimizer's
    // InferFiltersFromGenerate rewrites a non-outer explode into a
    // size(<array expr>) > 0 filter pushed BELOW the staged
    // projections — re-inlining the whole gram pipeline (with the
    // token split re-evaluated per element_at) into a per-row
    // predicate. That one rule cost 35x on this subtree; outer
    // generates are exempt, and the g-null filter sits above the
    // Generate where it is a cheap attribute test.
    val benchGrams = gramSets(benchmark, benchTextCol, benchTextCol, n)
      .select(explode_outer(col("gs")).as("g"))
      .where(col("g").isNotNull)
      .distinct()
      .withColumn("__hit", lit(1))
    docGrams.join(broadcast(benchGrams), Seq("g"), "left")
      .groupBy(col("id"))
      .agg(count(col("g")).as("n_grams"),
        count(col("__hit")).as("n_contaminated"))
      .select(col("id"), col("n_grams"), col("n_contaminated"),
        graft.queries.roundSafe(
          when(col("n_grams") === 0, 0.0)
            .otherwise(col("n_contaminated").cast("double") / col("n_grams").cast("double")),
          6).as("contamination_frac"),
        (col("n_contaminated") > 0).cast("long").as("contaminated"))
  }

  /** Domain-mixture weighting: given per-source token inventories, a
    * target mixture and a token budget, derive each source's sampling
    * rate (and epoch count when the mixture demands upsampling) — the
    * table a training run's data loader consumes. One tiny per-source
    * aggregation; the mixture spec rides along as a literal CASE, so
    * the whole op is a single shuffle of |sources| rows.
    *
    * Sources absent from `targetShares` split the leftover share
    * evenly — and a NAMED source absent from the data releases its
    * share back into that leftover pool (otherwise the budget is
    * silently underspent by the missing source's share, with the
    * unnamed sources starved on top). sampling_rate = target_tokens /
    * available (values > 1 mean multi-epoch upsampling; `epochs` =
    * ceil). */
  def mixtureWeights(df: DataFrame, sourceCol: String, textCol: String,
      targetShares: Map[String, Double], tokenBudget: Long): DataFrame = {
    val inv = df
      .groupBy(col(sourceCol).as("source"))
      .agg(count(lit(1)).as("n_docs"), sum(wsTokenCount(col(textCol))).as("avail_tokens"))
    val named = targetShares.values.sum
    require(named <= 1.0 + 1e-9, "target shares must sum to <= 1")
    val nOther = size(collect_set(col("source")).over(
      org.apache.spark.sql.expressions.Window.partitionBy()))
    val namedCase = targetShares.foldLeft(lit(null).cast("double")) {
      case (acc, (s, share)) => when(col("source") === s, share).otherwise(acc)
    }
    // leftover share / number of unnamed sources (window over the tiny
    // per-source aggregate — |sources| rows, not corpus rows)
    val isNamed = targetShares.keys.foldLeft(lit(false)) {
      (acc, s) => acc || col("source") === s
    }
    val nNamedPresent = sum(when(isNamed, 1).otherwise(0)).over(
      org.apache.spark.sql.expressions.Window.partitionBy())
    // leftover over the shares actually PRESENT, not the declared map:
    // an absent named source's share flows back to the unnamed pool
    val namedPresentSum = sum(coalesce(namedCase, lit(0.0))).over(
      org.apache.spark.sql.expressions.Window.partitionBy())
    val share = coalesce(namedCase,
      (lit(1.0) - namedPresentSum) / greatest(nOther - nNamedPresent, lit(1)))
    inv.select(
      col("source"), col("n_docs"), col("avail_tokens"),
      graft.queries.roundSafe(share, 6).as("target_share"),
      graft.queries.roundSafe(
        share * tokenBudget / greatest(col("avail_tokens").cast("double"), lit(1.0)),
        6).as("sampling_rate"),
      ceil(share * tokenBudget / greatest(col("avail_tokens").cast("double"), lit(1.0)))
        .cast("long").as("epochs"))
  }

  /** Intra-document repetition accounting (the Gopher-style repetition
    * quality signals): per document, total vs distinct n-gram
    * occurrences and the share of the single most-frequent n-gram.
    * dup_frac = fraction of gram occurrences that are repeats of an
    * already-seen gram; top_frac = occurrences of the modal gram /
    * total.
    *
    * One explode + two-level aggregation — the per-(doc, gram) partial
    * count combines map-side, so repeated boilerplate does not inflate
    * shuffle volume. Documents with fewer than n tokens report zero
    * grams (kept via left join back onto the id set).
    */
  def repetitionStats(df: DataFrame, idCol: String, textCol: String,
      n: Int): DataFrame = {
    // staged like gramSets (lambda subexpression re-evaluation), but
    // keeping duplicate grams — repetition is the whole point here.
    // explode_outer + null filter for the same InferFiltersFromGenerate
    // reason documented in contaminationStats.
    val grams = df.select(col(idCol).as("id"),
        graft.functions.TextFunctions.tokens(col(textCol)).as("__toks"))
      .select(col("id"),
        explode_outer(graft.functions.TextFunctions.shingles(col("__toks"), n)).as("g"))
      .where(col("g").isNotNull)
      .groupBy(col("id"), col("g"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col("id"))
      .agg(sum(col("c")).as("total_grams"),
        count(lit(1)).as("distinct_grams"),
        max(col("c")).as("top_gram_count"))
    df.select(col(idCol).as("id")).join(grams, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("total_grams"), lit(0L)).as("total_grams"),
        coalesce(col("distinct_grams"), lit(0L)).as("distinct_grams"),
        coalesce(col("top_gram_count"), lit(0L)).as("top_gram_count"),
        graft.queries.roundSafe(
          when(coalesce(col("total_grams"), lit(0L)) === 0, 0.0)
            .otherwise((col("total_grams") - col("distinct_grams")).cast("double") /
              col("total_grams").cast("double")), 6).as("dup_frac"),
        graft.queries.roundSafe(
          when(coalesce(col("total_grams"), lit(0L)) === 0, 0.0)
            .otherwise(col("top_gram_count").cast("double") /
              col("total_grams").cast("double")), 6).as("top_frac"))
  }
}
