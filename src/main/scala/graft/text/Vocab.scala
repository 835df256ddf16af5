package graft.text

import graft.core.Caches
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Corpus vocabulary statistics — the frequency table tokenizer
  * training starts from (BPE merge candidates, unigram seed vocab,
  * stopword inference all begin with "count every token across the
  * corpus").
  *
  * One explode + one token-keyed aggregate computing total count and
  * document frequency together (both map-side combinable); the
  * `minCount` filter happens in the aggregate, so what survives is
  * vocabulary-sized, not corpus-sized. At 100 TB this is the same
  * plan: the only shuffle key is the token (skew on ultra-hot tokens
  * is absorbed by partial aggregation — each mapper emits one row per
  * distinct token).
  *
  * The reference has no text surface (numeric telemetry only); this
  * belongs to the LLM-pipeline family the engine adds.
  */
object Vocab {

  /** (token, n, df): total occurrences and document frequency for
    * tokens with n ≥ minCount.
    */
  def vocabulary(df: DataFrame, idCol: String, textCol: String,
                 minCount: Long = 1L): DataFrame =
    df.select(col(idCol).cast("long").as("id"),
        explode(TextOps.tokens(col(textCol))).as("token"))
      .groupBy("token")
      .agg(count(lit(1)).as("n"), countDistinct("id").as("df"))
      .where(col("n") >= minCount)

  /** Inverted-index posting lists: per term, document frequency and
    * the first `cap` doc ids ascending (comma-joined string, so the
    * artifact is engine-portable). The per-term id lists are capped
    * BEFORE collecting (row_number window partitioned by term), so no
    * executor ever materializes a hot term's full posting list — the
    * collect is bounded by `cap` regardless of how many documents
    * contain "the". The search-index build step of a corpus pipeline.
    */
  def postings(df: DataFrame, idCol: String, textCol: String,
               cap: Int, minDf: Long = 1L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // persisted: the exploded token rows feed BOTH the df counts and
    // the capped-id window — without the cache the tokenize + distinct
    // + explode map stage (the expensive part) runs twice
    val rows = Caches.keep("vocab.postings", df.select(col(idCol).cast("long").as("id"),
        explode(array_distinct(TextOps.tokens(col(textCol)))).as("token")))
    val dfc = rows.groupBy("token").agg(count(lit(1)).as("df"))
      .where(col("df") >= minDf)
    val top = rows
      .withColumn("rk",
        row_number().over(Window.partitionBy("token").orderBy("id")))
      .where(col("rk") <= cap)
      .groupBy("token")
      .agg(array_join(sort_array(collect_list("id")), ",").as("doc_ids"))
    dfc.join(top, Seq("token"))
  }

  /** Token-id encoding against a fitted top-`vocabSize` vocabulary —
    * the tokenize-the-corpus step once a vocab exists: each doc becomes
    * its array of token ids, unknown tokens map to the OOV id
    * (= vocabSize). Ranking is (count desc, token asc) — a total
    * order, so the id assignment is deterministic cross-engine.
    *
    * Scale shape: the top-k cut is TakeOrdered (per-partition top-k +
    * k-row merge over the token-keyed count table — never a global
    * sort of the vocabulary); id assignment windows over the LIMITED
    * vocab table only (bounded by the parameter — the q08
    * StringIndexer convention: the label table IS the model). Docs
    * posexplode, broadcast-join the vocab, and re-collect ids in
    * position order; the only corpus-sized shuffle is the per-doc
    * regroup, keyed by doc id.
    */
  def encode(df: DataFrame, idCol: String, textCol: String,
             vocabSize: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(vocabSize >= 1, s"encode needs vocabSize >= 1: $vocabSize")
    val counts = df.select(explode(TextOps.tokens(col(textCol))).as("token"))
      .groupBy("token").agg(count(lit(1)).as("n"))
    val vocab = counts.orderBy(desc("n"), asc("token")).limit(vocabSize)
      .withColumn("tok_id",
        row_number().over(Window.orderBy(desc("n"), asc("token"))) - 1)
      .select("token", "tok_id")
    val pos = df.select(col(idCol).cast("long").as("id"),
        posexplode(TextOps.tokens(col(textCol))).as(Seq("pos", "token")))
    pos.join(broadcast(vocab), Seq("token"), "left")
      .withColumn("tid", coalesce(col("tok_id"), lit(vocabSize)))
      .groupBy("id")
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("tid")))),
        s => s.getField("tid")).as("ids"))
  }

  /** DuckDB twin. */
  object Sql {
    def vocabulary(rel: String, id: String, text: String,
                   minCount: Long): String =
      s"""SELECT token, count(*) AS n, count(DISTINCT $id) AS df
         | FROM (SELECT $id, unnest(${TextOps.Sql.toks(text)}) AS token FROM $rel)
         | GROUP BY token HAVING count(*) >= $minCount""".stripMargin
        .replaceAll("\n", " ")

    def postings(rel: String, id: String, text: String, cap: Int,
                 minDf: Long): String =
      s"""SELECT dfc.token AS token, df, doc_ids FROM
         | (SELECT token, count(*) AS df FROM
         |   (SELECT $id AS id, unnest(list_distinct(${TextOps.Sql.toks(text)})) AS token FROM $rel)
         |  GROUP BY token HAVING count(*) >= $minDf) dfc
         | JOIN
         | (SELECT token, array_to_string(list(id ORDER BY id), ',') AS doc_ids FROM
         |   (SELECT token, id, row_number() OVER (PARTITION BY token ORDER BY id) AS rk FROM
         |     (SELECT $id AS id, unnest(list_distinct(${TextOps.Sql.toks(text)})) AS token FROM $rel))
         |  WHERE rk <= $cap GROUP BY token) lists
         | USING (token)""".stripMargin.replaceAll("\n", " ")
  }
}
