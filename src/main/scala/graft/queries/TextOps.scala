package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Engine.table
import graft.functions.TextFunctions
import graft.functions.TextFunctions._
import graft.operators.{Dedup, TextAnalysis}

/** Text-pipeline operator surface over the `documents` table: generator
  * top-k, exact/MinHash/SimHash/n-gram dedup, language ID, quality
  * scoring, token accounting, fingerprinting. Oracle SQL is assembled
  * from the SAME constants as the Catalyst expressions
  * (TextFunctions.sql*), so both engines replay identical semantics.
  */
object TextOps {

  private val MinhashK = 16
  private val BandRows = 4

  /** Generator + top-k O2: explode tokens -> count -> top 20
    * (the reference's "Top 10 compétences" dashboard shape,
    * PLAN_REALISATION.md:484-486). */
  private def q15(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    table(s, dir, "documents")
      .select(explode(tokens($"text")).as("word"))
      .where(length($"word") > 3)
      .groupBy($"word")
      .agg(count(lit(1)).as("cnt"))
      .orderBy($"cnt".desc, $"word")
      .limit(20)
  }

  private val q15Sql =
    s"""WITH w AS (SELECT unnest(${sqlTokenSetAll("text")}) AS word FROM documents)
        SELECT word, count(*) AS cnt FROM w WHERE length(word) > 3
        GROUP BY word ORDER BY cnt DESC, word LIMIT 20"""

  /** All tokens (with duplicates) — q15 counts occurrences, not types. */
  private def sqlTokenSetAll(e: String): String =
    s"list_filter(string_split_regex(lower($e), '[^a-z]+'), x -> len(x) > 0)"

  /** Exact dedup by content digest (hash-groupBy; one shuffle). */
  private def q16(s: SparkSession, dir: String): DataFrame =
    Dedup.exact(graft.Engine.spread(table(s, dir, "documents")), "doc_id", "text")
      .orderBy(col("digest"))

  private val q16Sql =
    """SELECT md5(text) AS digest, min(doc_id) AS keep_id, count(*) AS n_copies
       FROM documents WHERE text IS NOT NULL GROUP BY 1 ORDER BY 1"""

  /** MinHash signatures (k=16) per document, emitted as one
    * comma-joined string (the driver's comparator sorts rows by every
    * output column, which array-typed cells break). */
  private def q17(s: SparkSession, dir: String): DataFrame =
    Dedup.minhashSignatures(graft.Engine.spread(table(s, dir, "documents")),
        "doc_id", "text", MinhashK)
      .select(col("doc_id"),
        concat_ws(",", transform(col("sig"), x => x.cast("string"))).as("sig"))
      .orderBy(col("doc_id"))

  private val q17Sql = {
    val ms = (0 until MinhashK).map(i => sqlMinhash("toks", i)).mkString(",\n  ")
    s"""WITH t AS (SELECT doc_id, ${sqlTokenSet("text")} AS toks FROM documents)
        SELECT doc_id, array_to_string(list_transform([$ms], x -> x::VARCHAR), ',') AS sig
        FROM t ORDER BY doc_id"""
  }

  /** MinHash-LSH near-dup candidate pairs, Jaccard-verified >= 0.4.
    * No output ORDER BY: the result is multi-million rows on dense
    * corpora and the driver's comparator row-sorts both sides anyway —
    * a global range sort here cost ~45% of the operator's wall time. */
  private def q18(s: SparkSession, dir: String): DataFrame =
    // Auto: the driver corpus is tiny-vocabulary, so the adaptive
    // probe buys the bitmap verification path; the query is executed
    // immediately, so plan-construction jobs are part of its real cost
    Dedup.minhashLshPairs(table(s, dir, "documents"), "doc_id", "text",
        MinhashK, BandRows, 0.4, graft.operators.LshEncoding.Auto)

  /** Un-ordered LSH pair SQL shared by q18 (which appends its ORDER
    * BY), q49/q53 (recursive-CTE input) and q62 (restricted universe
    * via `where`). */
  private def q18PairsSqlFor(where: String): String = {
    val ms = (0 until MinhashK).map(i => sqlMinhashFromHashes("toks", i)).mkString(",\n  ")
    val nBands = MinhashK / BandRows
    val bandSelects = (0 until nBands).map { b =>
      val key = (1 to BandRows).map(r => s"sig[${b * BandRows + r}]").mkString(", ")
      s"SELECT id, $b AS band_idx, concat_ws('_', $key) AS band_key FROM sig"
    }.mkString("\n  UNION ALL ")
    s"""WITH t AS (SELECT doc_id AS id,
          list_distinct(list_transform(${sqlTokenSet("text")}, x -> ${sqlTokenHashMod("x")})) AS toks
          FROM documents $where),
        sig AS (SELECT id, [$ms] AS sig FROM t),
        bands AS ($bandSelects),
        cand AS (SELECT DISTINCT a.id AS id_a, b.id AS id_b
                 FROM bands a JOIN bands b
                   ON a.band_idx = b.band_idx AND a.band_key = b.band_key
                      AND a.id < b.id)
        SELECT id_a, id_b, jaccard FROM (
          SELECT id_a, id_b,
            round((len(list_intersect(ta.toks, tb.toks))::DOUBLE /
                  len(list_distinct(ta.toks || tb.toks))) + 1e-9, 6) AS jaccard
          FROM cand JOIN t ta ON ta.id = id_a JOIN t tb ON tb.id = id_b) x
        WHERE jaccard >= 0.4"""
  }

  private val q18PairsSql = q18PairsSqlFor("")

  private val q18Sql = s"$q18PairsSql ORDER BY id_a, id_b"

  private val SimhashBits = 32

  /** SimHash (32-bit) per document. */
  private def q19(s: SparkSession, dir: String): DataFrame =
    Dedup.simhash(graft.Engine.spread(table(s, dir, "documents")),
        "doc_id", "text", SimhashBits)
      .orderBy(col("id"))

  private val q19Sql = {
    val votes = (0 until SimhashBits).map { j =>
      s"sum(CASE WHEN (h & ${1L << j}) > 0 THEN 1 ELSE -1 END) AS v$j"
    }.mkString(",\n  ")
    val assemble = (0 until SimhashBits).map { j =>
      s"CASE WHEN v$j > 0 THEN ${1L << j} ELSE 0 END"
    }.mkString(" + ")
    s"""WITH tok AS (SELECT doc_id AS id, unnest(${sqlTokenSet("text")}) AS tok
                     FROM documents),
        h AS (SELECT id, ${sqlTokenHash("tok")} AS h FROM tok),
        v AS (SELECT id, $votes FROM h GROUP BY id)
        SELECT id, CAST($assemble AS BIGINT) AS simhash FROM v ORDER BY id"""
  }

  /** Word-3-gram Jaccard near-dup pairs within a first-token block. */
  private def q20(s: SparkSession, dir: String): DataFrame = {
    val docs = table(s, dir, "documents")
    Dedup.ngramJaccardPairs(docs, "doc_id", "text",
        try_element_at(tokens(col("text")), lit(1)), 3, 0.5)
      .orderBy(col("id_a"), col("id_b"))
  }

  private val q20Sql =
    s"""WITH t AS (SELECT doc_id AS id, ${sqlTokenSetAll("text")} AS toks FROM documents),
        s AS (SELECT id, toks[1] AS block,
                CASE WHEN len(toks) >= 3 THEN
                  list_distinct(list_transform(
                    list_transform(range(1, len(toks) - 1),
                      i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]),
                    g -> ${sqlTokenHash("g")}))
                ELSE [] END AS sh
              FROM t)
        SELECT block, id_a, id_b, jaccard FROM (
          SELECT a.block AS block, a.id AS id_a, b.id AS id_b,
            round((len(list_intersect(a.sh, b.sh))::DOUBLE /
                  len(list_distinct(a.sh || b.sh))) + 1e-9, 6) AS jaccard
          FROM s a JOIN s b ON a.block = b.block AND a.id < b.id) x
        WHERE jaccard >= 0.5 ORDER BY id_a, id_b"""

  /** Language ID: marker-word argmax heuristic. */
  private def q21(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val scores = TextAnalysis.langScores($"text")
    // spread: marker-scan kernels over a single-file scan (SCALE.md)
    graft.Engine.spread(table(s, dir, "documents"))
      .select($"doc_id" +: TextAnalysis.langId($"text").as("pred_lang") +:
        scores.map { case (n, c) => c.as(n) }: _*)
      .orderBy($"doc_id")
  }

  private val q21Sql = {
    val langs = TextAnalysis.langMarkers.map(_._1)
    s"""WITH sc AS (SELECT doc_id, ${TextAnalysis.sqlLangScoreExprs} FROM documents)
        SELECT doc_id,
          ${TextAnalysis.sqlLangIdCase("pred_lang")},
          ${langs.map(l => s"score_$l").mkString(", ")}
        FROM sc ORDER BY doc_id"""
  }

  /** Quality scoring: token counts, distinct ratio, stopword ratio. */
  private def q22(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.qualityScore(graft.Engine.spread(table(s, dir, "documents")),
        "doc_id", "text")
      .orderBy(col("doc_id"))

  private val q22Sql = {
    val stop = TextAnalysis.stopwords.map(w => s"'$w'").mkString("[", ", ", "]")
    s"""WITH t AS (SELECT doc_id, ${sqlTokenSetAll("text")} AS toks FROM documents),
        u AS (SELECT doc_id, toks, list_distinct(toks) AS tset,
                     len(toks) AS n FROM t)
        SELECT doc_id,
          n::BIGINT AS n_tokens,
          round((length(array_to_string(toks, ''))::DOUBLE / greatest(n, 1)) + 1e-9, 4) AS avg_token_len,
          round((len(tset)::DOUBLE / greatest(n, 1)) + 1e-9, 4) AS distinct_ratio,
          round((len(list_intersect(tset, $stop))::DOUBLE /
                greatest(len(tset)::DOUBLE, 1.0)) + 1e-9, 4) AS stopword_type_ratio,
          round((least(n::DOUBLE / 100.0, 1.0) * (len(tset)::DOUBLE / greatest(n, 1))) + 1e-9, 4) AS quality
        FROM u ORDER BY doc_id"""
  }

  /** Token accounting: whitespace tokens, BPE-ish pieces, chars. */
  private def q23(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.tokenStats(graft.Engine.spread(table(s, dir, "documents")),
        "doc_id", "text")
      .orderBy(col("doc_id"))

  private val q23Sql =
    """SELECT doc_id,
       len(list_filter(string_split_regex(text, '[ \t\n\r\f]+'), x -> len(x) > 0))::BIGINT
         AS ws_tokens,
       len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9 \t\n\r\f]'))::BIGINT
         AS bpe_pieces,
       length(text)::BIGINT AS n_chars
       FROM documents ORDER BY doc_id"""

  /** Canonical-text fingerprints. */
  private def q24(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.fingerprints(graft.Engine.spread(table(s, dir, "documents")),
        "doc_id", "text")
      .orderBy(col("doc_id"))

  private val q24Sql = {
    val norm = TextFunctions.sqlNormalize("text")
    s"""SELECT doc_id, md5($norm) AS fp, substring(md5($norm), 1, 4) AS fp_band,
        length($norm)::BIGINT AS norm_len
        FROM documents ORDER BY doc_id"""
  }

  /** The flagship `SparkEntry.entry` composite, oracle-gated (round-13
    * verdict item 5 — entry was the one declared query still
    * smoke-checked rows>0 only): quality-score the corpus, language-ID
    * it, keep docs with quality > 0.1, and rank the top-5 terms per
    * predicted language — scan, codegen text kernels, generator, hash
    * aggregate, window top-k in one plan. `SparkEntry.entry` delegates
    * HERE so the gated plan and the driver's smoke plan cannot drift. */
  private[graft] def q102(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = table(s, dir, "documents")
    val scored = TextAnalysis.qualityScore(docs, "doc_id", "text")
      .join(docs.select(col("doc_id"),
        TextAnalysis.langId(col("text")).as("lang"), col("text")), "doc_id")
      .where(col("quality") > 0.1)
    val words = scored
      .select(col("lang"), explode(tokens(col("text"))).as("word"))
      .where(length(col("word")) > 3)
      .groupBy("lang", "word").agg(count(lit(1)).as("n"))
    val w = Window.partitionBy(col("lang")).orderBy(desc("n"), col("word"))
    words.withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= 5)
      .orderBy("lang", "rank")
  }

  /** Replays q102 from the same catalogs the Catalyst side uses: q22's
    * quality formula (rounded IDENTICALLY — the > 0.1 filter must see
    * the same 4-dp value both sides), q21's marker-argmax langId, q15's
    * all-tokens split. */
  private val q102Sql = {
    s"""WITH t AS (SELECT doc_id, text, ${sqlTokenSetAll("text")} AS toks FROM documents),
        u AS (SELECT doc_id, text, toks, list_distinct(toks) AS tset,
                     len(toks) AS n FROM t),
        q AS (SELECT doc_id, text, toks,
                round((least(n::DOUBLE / 100.0, 1.0) *
                      (len(tset)::DOUBLE / greatest(n, 1))) + 1e-9, 4) AS quality
              FROM u),
        sc AS (SELECT doc_id, toks, quality, ${TextAnalysis.sqlLangScoreExprs}
               FROM q),
        l AS (SELECT doc_id, toks, quality, ${TextAnalysis.sqlLangIdCase("lang")}
              FROM sc),
        w AS (SELECT lang, unnest(toks) AS word FROM l WHERE quality > 0.1),
        g AS (SELECT lang, word, count(*) AS n FROM w WHERE length(word) > 3
              GROUP BY lang, word),
        r AS (SELECT lang, word, n,
                row_number() OVER (PARTITION BY lang ORDER BY n DESC, word) AS rnk
              FROM g)
        SELECT lang, word, n, rnk::BIGINT AS rank FROM r WHERE rnk <= 5
        ORDER BY lang, rank"""
  }

  /** How many rows one LSH band bucket may hold in q103 before
    * `Skew.capBlocks` splits it — small enough that the driver corpus
    * (30-word vocabulary, heavily colliding buckets) fires the cap at
    * sf0.01: 72.9 % of banded rows sit in over-cap buckets there, 88.7 %
    * at sf0.1. */
  private val LshCapBucket = 8

  /** q18's banded LSH under the hot-bucket cap (`maxBucketSize` →
    * `Skew.capBlocks`) — the production dial for boilerplate-heavy
    * corpora, until now spec-tested (SkewSpec, round-7 BucketCapProbe
    * curve) but never oracle-gated. The cap is a RECALL trade with one
    * loss mode the oracle replays exactly: a pair capped into different
    * rank sub-buckets of every shared band is never generated. Every
    * other pair is emitted once (at its first band whose CAPPED keys
    * match — `Blocking`), so the output is the distinct union of the
    * capped band joins. Sub-bucket =
    * (row_number over id within (band, key) − 1) / cap, the exact
    * capBlocks rank formula (ids are non-null here, so NULLS FIRST
    * lockstep is moot). MergeWalk, not Auto: q18 already exercises the
    * adaptive-probe path. The cap is one rank window per band over
    * every bucket, built without a Spark job. */
  private def q103(s: SparkSession, dir: String): DataFrame =
    Dedup.minhashLshPairs(table(s, dir, "documents"), "doc_id", "text",
      MinhashK, BandRows, 0.4, graft.operators.LshEncoding.MergeWalk,
      maxBucketSize = Some(LshCapBucket))

  private val q103Sql = {
    val ms = (0 until MinhashK).map(i => sqlMinhashFromHashes("toks", i)).mkString(",\n  ")
    val nBands = MinhashK / BandRows
    val bandSelects = (0 until nBands).map { b =>
      val key = (1 to BandRows).map(r => s"sig[${b * BandRows + r}]").mkString(", ")
      s"SELECT id, $b AS band_idx, concat_ws('_', $key) AS band_key FROM sig"
    }.mkString("\n  UNION ALL ")
    s"""WITH t AS (SELECT doc_id AS id,
          list_distinct(list_transform(${sqlTokenSet("text")}, x -> ${sqlTokenHashMod("x")})) AS toks
          FROM documents),
        sig AS (SELECT id, [$ms] AS sig FROM t),
        bands AS ($bandSelects),
        capped AS (SELECT id, band_idx,
                     band_key || '#' ||
                       ((row_number() OVER (PARTITION BY band_idx, band_key
                                            ORDER BY id) - 1) // $LshCapBucket)
                       AS band_key
                   FROM bands),
        ab AS (SELECT a.id AS id_a, b.id AS id_b
               FROM capped a JOIN capped b
                 ON a.band_idx = b.band_idx AND a.band_key = b.band_key
                    AND a.id < b.id),
        cand AS (SELECT DISTINCT id_a, id_b FROM ab)
        SELECT id_a, id_b, jaccard FROM (
          SELECT id_a, id_b,
            round((len(list_intersect(ta.toks, tb.toks))::DOUBLE /
                  len(list_distinct(ta.toks || tb.toks))) + 1e-9, 6) AS jaccard
          FROM cand JOIN t ta ON ta.id = id_a JOIN t tb ON tb.id = id_b) x
        WHERE jaccard >= 0.4 ORDER BY id_a, id_b"""
  }

  /** Near-dup CLUSTERS: connected components over the LSH pair graph —
    * pairwise matches become dedup groups, survivor = min doc id. The
    * oracle replays the same graph with a pruned recursive CTE (labels
    * only propagate toward larger ids; the component minimum reaches
    * every member). */
  private def q49(s: SparkSession, dir: String): DataFrame =
    Dedup.connectedComponents(
      Dedup.minhashLshPairs(table(s, dir, "documents"), "doc_id", "text",
        MinhashK, BandRows, 0.4, graft.operators.LshEncoding.Auto))
      .orderBy(col("id"))

  /** The q49 cluster CTE over a restricted (or full) pair universe. */
  private def clustersSqlFor(where: String): String =
    s"""WITH RECURSIVE pairs AS (${q18PairsSqlFor(where)}),
        edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
                  UNION SELECT id_b, id_a FROM pairs),
        reach(id, lbl) AS (
          SELECT src, src FROM edges
          UNION
          SELECT e.dst, r.lbl FROM reach r JOIN edges e ON e.src = r.id
          WHERE r.lbl < e.dst)
        SELECT id, min(lbl) AS cluster_id FROM reach GROUP BY id ORDER BY id"""

  private val q49Sql = clustersSqlFor("")

  private val q62Sql = clustersSqlFor("WHERE doc_id % 2 = 0")

  /** End-to-end near-dedup survivors: the one-call compose (LSH pairs
    * -> connected components -> left_anti losers) — what a training-
    * data pipeline actually ships. Survivor = each cluster's min id
    * plus every unpaired doc; oracle = the q49 cluster CTE anti-joined
    * back onto the corpus. */
  private def q53(s: SparkSession, dir: String): DataFrame =
    Dedup.nearDedup(table(s, dir, "documents"), "doc_id", "text",
        MinhashK, BandRows, 0.4)
      .select(col("doc_id"))
      .orderBy(col("doc_id"))

  private val q53Sql =
    s"""WITH RECURSIVE pairs AS ($q18PairsSql),
        edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
                  UNION SELECT id_b, id_a FROM pairs),
        reach(id, lbl) AS (
          SELECT src, src FROM edges
          UNION
          SELECT e.dst, r.lbl FROM reach r JOIN edges e ON e.src = r.id
          WHERE r.lbl < e.dst),
        clusters AS (SELECT id, min(lbl) AS cluster_id FROM reach GROUP BY id)
        SELECT doc_id FROM documents
        WHERE doc_id NOT IN (SELECT id FROM clusters WHERE id <> cluster_id)
        ORDER BY doc_id"""

  /** Incremental dedup: LSH pairs of an incoming batch (every 10th
    * doc) against the standing corpus (the rest) — new x corpus only,
    * the daily-ingest shape where the corpus never self-pairs. */
  private def q56(s: SparkSession, dir: String): DataFrame = {
    val docs = table(s, dir, "documents")
    Dedup.incrementalLshPairs(
        docs.where(col("doc_id") % 10 === 7),
        docs.where(col("doc_id") % 10 =!= 7),
        "doc_id", "text", MinhashK, BandRows, 0.4)
      .orderBy(col("new_id"), col("corpus_id"))
  }

  private val q56Sql = {
    val ms = (0 until MinhashK).map(i => sqlMinhashFromHashes("toks", i)).mkString(",\n  ")
    val nBands = MinhashK / BandRows
    val bandSelects = (0 until nBands).map { b =>
      val key = (1 to BandRows).map(r => s"sig[${b * BandRows + r}]").mkString(", ")
      s"SELECT id, $b AS band_idx, concat_ws('_', $key) AS band_key FROM sig"
    }.mkString("\n  UNION ALL ")
    s"""WITH t AS (SELECT doc_id AS id,
          list_distinct(list_transform(${sqlTokenSet("text")}, x -> ${sqlTokenHashMod("x")})) AS toks
          FROM documents),
        sig AS (SELECT id, [$ms] AS sig FROM t),
        bands AS ($bandSelects),
        cand AS (SELECT DISTINCT a.id AS new_id, b.id AS corpus_id
                 FROM bands a JOIN bands b
                   ON a.band_idx = b.band_idx AND a.band_key = b.band_key
                 WHERE a.id % 10 = 7 AND b.id % 10 <> 7),
        j AS (SELECT new_id, corpus_id,
                round((len(list_intersect(ta.toks, tb.toks))::DOUBLE /
                      len(list_distinct(ta.toks || tb.toks))) + 1e-9, 6) AS jaccard
              FROM cand JOIN t ta ON ta.id = new_id JOIN t tb ON tb.id = corpus_id)
        SELECT new_id, corpus_id, jaccard FROM j
        WHERE jaccard >= 0.4 ORDER BY new_id, corpus_id"""
  }

  /** Incremental clustering end-to-end: cluster the standing corpus,
    * then fold in a new batch via cross-set pairs + batch-internal
    * pairs and [[Dedup.mergeClusters]] — WITHOUT re-clustering the
    * corpus. The oracle is the q49 cluster CTE over the same universe:
    * the incremental path must reproduce exactly what batch
    * re-clustering over all pairs produces. (Universe = every other
    * doc — the query deliberately recomputes the standing state to be
    * self-contained, so it runs ~3 LSH passes + 2 CC rounds; halving
    * the corpus keeps that honest but bounded.) */
  private def q62(s: SparkSession, dir: String): DataFrame = {
    val docs = table(s, dir, "documents").where(col("doc_id") % 2 === 0)
    val batch = docs.where(col("doc_id") % 10 === 6)
    val corpus = docs.where(col("doc_id") % 10 =!= 6)
    // MergeWalk (the default), not Auto: Auto's eager stats probe
    // re-tokenizes the input per minhashLshPairs CALL, and this query
    // makes three LSH passes — q18/q49 already exercise the Auto path.
    val prior = Dedup.connectedComponents(
      Dedup.minhashLshPairs(corpus, "doc_id", "text", MinhashK, BandRows, 0.4))
    val newPairs = Dedup.incrementalLshPairs(batch, corpus, "doc_id", "text",
        MinhashK, BandRows, 0.4)
      .select(col("new_id").as("id_a"), col("corpus_id").as("id_b"))
      .unionByName(Dedup.minhashLshPairs(batch, "doc_id", "text",
        MinhashK, BandRows, 0.4)
        .select("id_a", "id_b"))
    Dedup.mergeClusters(prior, newPairs).orderBy(col("id"))
  }

  val all: Seq[Q] = Seq(
    Q("q15_explode_topk", q15 _, Some(q15Sql)),
    Q("q16_exact_dedup", q16 _, Some(q16Sql)),
    Q("q17_minhash_sig", q17 _, Some(q17Sql)),
    Q("q18_minhash_lsh_pairs", q18 _, Some(q18Sql)),
    Q("q19_simhash", q19 _, Some(q19Sql)),
    Q("q20_ngram_jaccard", q20 _, Some(q20Sql)),
    Q("q21_langid", q21 _, Some(q21Sql)),
    Q("q22_quality_score", q22 _, Some(q22Sql)),
    Q("q23_token_stats", q23 _, Some(q23Sql)),
    Q("q24_fingerprint", q24 _, Some(q24Sql)),
    Q("q49_dedup_clusters", q49 _, Some(q49Sql)),
    Q("q53_neardedup_survivors", q53 _, Some(q53Sql)),
    Q("q56_incremental_dedup", q56 _, Some(q56Sql)),
    Q("q62_incremental_clusters", q62 _, Some(q62Sql)),
    Q("q102_entry_composite", q102 _, Some(q102Sql)),
    Q("q103_lsh_capped_pairs", q103 _, Some(q103Sql)))
}
