package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.functions.TextFunctions

/** Lexical retrieval over a document corpus: Okapi BM25 scoring and
  * top-k search for a fixed term set — the standard quality-retrieval
  * primitive a training-data pipeline uses for targeted corpus pulls
  * (e.g. "find the docs most about X" before a curation pass).
  *
  * Scale shape (100 TB): one linear scan tokenizes each document and
  * reduces it in the map stage to (doc length, per-query-term counts)
  * — O(|terms|) ints per doc, pinned as a narrow cached frame that
  * both downstream branches read (the stats aggregate needs every
  * doc, the postings branch only matching docs; without the pin
  * each branch would re-run the tokenize scan). Corpus statistics
  * (doc count, average doc length) are a one-row aggregate and the
  * per-term document frequencies a |terms|-row aggregate; both join
  * back via `broadcast`, so the whole plan is: scan → narrow staged
  * leaf → two tiny broadcast joins → final top-k
  * (TakeOrderedAndProject). No token array ever shuffles; no
  * all-corpus sort.
  */
object Retrieval {

  /** BM25 score per document containing at least one query term.
    *
    * @param docs    corpus with an id column and a text column
    * @param terms   query term set (already lowercased)
    * @param k1      term-frequency saturation (Robertson default 1.2)
    * @param b       length normalization (default 0.75)
    * @return (doc_id, score) — raw double scores, caller rounds
    */
  def bm25Scores(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      terms: Seq[String],
      k1: Double = 1.2,
      b: Double = 0.75): DataFrame = {
    require(terms.nonEmpty && terms.forall(t => t == t.toLowerCase))
    val qTerms = terms.distinct
    // ONE tokenize scan. The corpus-stats aggregate (every doc) and
    // the postings branch (matching docs) both need the tokenized
    // corpus; leaving them as two lazy subtrees re-runs the dominant
    // scan+tokenize cost per branch. Reduce each doc to (dl, per-term
    // counts) in the map stage — O(|terms|) ints per doc, no token
    // arrays — and pin that NARROW frame (lazy persist, pageRank's
    // convention: filled by the first action; far smaller than caching
    // the tokenized corpus itself).
    val perDoc = docs
      .select(col(idCol).as("doc_id"), TextFunctions.tokens(col(textCol)).as("toks"))
      .select(col("doc_id"), size(col("toks")).cast("double").as("dl"),
        array(qTerms.map(t => size(filter(col("toks"), x => x === lit(t)))): _*)
          .as("tcs"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val stats = perDoc.agg(
      count(lit(1)).cast("double").as("n_docs"), avg(col("dl")).as("avgdl"))
    val tf = perDoc
      .select(col("doc_id"), col("dl"), posexplode(col("tcs")).as(Seq("pos", "tc")))
      .where(col("tc") > 0)
      .select(col("doc_id"), col("dl"),
        element_at(typedlit(qTerms), col("pos") + 1).as("term"),
        col("tc").cast("double").as("tf"))
    val df = tf.groupBy(col("term")).agg(count(lit(1)).cast("double").as("df"))
    tf.join(broadcast(df), "term")
      .join(broadcast(stats))
      .withColumn("idf",
        log(lit(1.0) + (col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5))))
      .withColumn("w",
        col("idf") * col("tf") * lit(k1 + 1.0) /
          (col("tf") + lit(k1) * (lit(1.0 - b) + lit(b) * col("dl") / col("avgdl"))))
      .groupBy("doc_id")
      .agg(sum(col("w")).as("score"))
  }

  /** Top-k BM25 retrieval; ties broken by doc id so ordering is total.
    * Rounding happens BEFORE the sort so both engines rank identical
    * values (ulp drift from different summation orders cannot reorder
    * the boundary). */
  def bm25TopK(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      terms: Seq[String],
      k: Int,
      k1: Double = 1.2,
      b: Double = 0.75): DataFrame =
    bm25Scores(docs, idCol, textCol, terms, k1, b)
      .select(col("doc_id"), graft.queries.roundSafe(col("score"), 6).as("score"))
      .orderBy(col("score").desc, col("doc_id"))
      .limit(k)
}
