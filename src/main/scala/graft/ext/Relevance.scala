package graft.ext

import graft.core.{Jobs, OperatorCaches}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Term-relevance scoring for training-data pipelines: TF-IDF vectors
  * and BM25 retrieval scores over a document table. Both are pure
  * DataFrame aggregation/join plans (codegen, no UDFs) with exact
  * ANSI-SQL oracles, and both shuffle on the natural keys (doc id for
  * lengths, term for document frequency) — the standard inverted-index
  * layout that holds at any corpus size.
  */
object Relevance {

  /** Non-distinct whitespace tokens per doc (one row per occurrence),
    * fanned out by [[Jobs.fanOutBy]] when the source scan has too little
    * parallelism. */
  def tokens(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val in = Jobs.fanOutBy(df, idCol)
    in.select(col(idCol),
        explode(split(col(textCol), "\\s+")).as("term"))
      .filter(col("term") =!= "")
  }

  /** The (doc, term) occurrence counts — the shared inverted-index
    * reduction both scorers start from — materialized via
    * [[OperatorCaches]] because every consumer reads it at least twice
    * (doc lengths, document frequency, the final score join): without
    * the materialization each consumer re-runs the full corpus explode.
    * The frame is narrow (id, term, tf — one row per distinct pair), so
    * the materialization is a fraction of the token table it replaces;
    * each new scorer call frees the previous call's blocks, so repeated
    * calls cannot pin unbounded block-manager storage. */
  private def termCounts(df: DataFrame, idCol: String,
      textCol: String): DataFrame =
    OperatorCaches.register(
      tokens(df, idCol, textCol)
        .groupBy(col(idCol), col("term")).agg(count(lit(1)).as("tf")))

  /** Smoothed TF-IDF per (doc, term):
    * tf/dl * (ln((N + 1)/(df + 1)) + 1), with tf the in-doc term count,
    * dl the doc token count, df the number of docs containing the term
    * and N the total document count (the sklearn-style smooth idf, which
    * never divides by zero). The token table is aggregated (and
    * materialized) ONCE at the (doc, term) level; doc lengths and the df
    * table both derive from it — one corpus scan total. */
  def tfIdf(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    OperatorCaches.supersede()
    val nDocs = df.count()
    val tf = termCounts(df, idCol, textCol)
    val dl = tf.groupBy(col(idCol)).agg(sum(col("tf")).as("dl"))
    val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    tf.join(dl, Seq(idCol)).join(dfreq, Seq("term"))
      .withColumn("tfidf",
        (col("tf").cast("double") / col("dl")) *
          (log((lit(nDocs.toDouble) + 1.0) / (col("df") + lit(1.0))) + 1.0))
      .select(col(idCol), col("term"), col("tf"), col("df"), col("tfidf"))
  }

  /** Okapi BM25 score of each document against a bag of query terms:
    * sum over query terms of
    * ln(1 + (N - df + 0.5)/(df + 0.5)) * tf*(k1+1) /
    * (tf + k1*(1 - b + b*dl/avgdl)).
    * Doc lengths and the query-term tf table both derive from the ONE
    * materialized (doc, term) reduction — the corpus is exploded exactly
    * once; the query filter prunes that reduction (not a second token
    * scan) before the score joins. Docs with no query term are absent. */
  def bm25(df: DataFrame, idCol: String, textCol: String,
      queryTerms: Seq[String], k1: Double = 1.2,
      b: Double = 0.75): DataFrame = {
    require(queryTerms.nonEmpty, "BM25 needs at least one query term")
    OperatorCaches.supersede()
    val nDocs = df.count()
    val tc = termCounts(df, idCol, textCol)
    // doc-level lengths: narrow (2 cols, one row per doc) — materialized
    // so the avgdl action and the score join don't re-run the groupBy
    val dl = OperatorCaches.register(
      tc.groupBy(col(idCol)).agg(sum(col("tf")).as("dl")))
    // exact avgdl: integer token total / doc count (docs with zero
    // tokens count in N but contribute 0 length, as in Lucene)
    val totalLen = dl.agg(sum(col("dl"))).head().getLong(0)
    val avgdl = totalLen.toDouble / nDocs.toDouble
    val tf = tc.filter(col("term").isin(queryTerms: _*))
    val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val idf = log(lit(1.0) +
      (lit(nDocs.toDouble) - col("df") + lit(0.5)) / (col("df") + lit(0.5)))
    val termScore = idf * (col("tf") * lit(k1 + 1.0)) /
      (col("tf") + lit(k1) * (lit(1.0) - lit(b) + lit(b) * col("dl") / lit(avgdl)))
    tf.join(dl, Seq(idCol)).join(dfreq, Seq("term"))
      .withColumn("term_score", termScore)
      .groupBy(col(idCol))
      .agg(sum(col("term_score")).as("bm25"),
        count(lit(1)).as("n_query_terms"))
  }
}
