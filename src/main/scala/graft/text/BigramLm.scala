package graft.text

import graft.core.Caches
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Bigram language-model quality scoring — the CCNet-style LM filter
  * (Wenzek et al. 2020 score with a KenLM; here an add-one-smoothed
  * bigram model fit on the corpus itself): each document's mean bigram
  * log-probability `avg_i ln((c(w_i,w_{i+1})+1)/(c(w_i)+V))`. Low
  * scores mark improbable token sequences (garbled text, wrong-
  * language fragments, boilerplate soup) — the standard
  * quality-bucketing signal for pretraining corpora.
  *
  * Scale shape: bigram/unigram count tables stay DISTRIBUTED (vocab²
  * can be huge) and the scoring pass is two hash equi-joins on narrow
  * token keys; per-document reduction sums ln terms in DECIMAL(38,18)
  * (order-free, engine-exact — the PSI convention). The exploded
  * bigram frame is persisted: it feeds the count fit AND the scoring
  * join. `ln` of an identical IEEE double is libm-identical on both
  * engines in practice (the PSI oracle pins the same assumption).
  */
object BigramLm {

  /** (id, n_bigrams, avg_logp) for every document with ≥ 2 tokens. */
  def score(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val t = Caches.keep("text.bigramLm", df.select(col(idCol).cast("long").as("id"),
        TextOps.tokens(col(textCol)).as("toks")))
    val pairType = "array<struct<w1:string,w2:string>>"
    val bg = Caches.keep("text.bigramLm", t.select(col("id"), explode(
        when(size(col("toks")) >= 2,
          transform(sequence(lit(1), size(col("toks")) - 1),
            i => struct(element_at(col("toks"), i).as("w1"),
              element_at(col("toks"), i + 1).as("w2"))))
          .otherwise(array().cast(pairType))).as("b"))
      .select(col("id"), col("b.w1").as("w1"), col("b.w2").as("w2")))
    val bc = bg.groupBy("w1", "w2").agg(count(lit(1)).as("c12"))
    val uc = t.select(explode(col("toks")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("c1"))
    val v = uc.count() // vocabulary size: one count job over the vocab table
    val lp = log((col("c12").cast("double") + lit(1.0)) /
      (col("c1").cast("double") + lit(v.toDouble)))
    val out = bg
      .join(bc, Seq("w1", "w2"))
      .join(uc.withColumnRenamed("w", "w1"), Seq("w1"))
      .select(col("id"), lp.cast(DecimalType(38, 18)).as("lp"))
      .groupBy("id")
      .agg(count(lit(1)).as("n_bigrams"),
        round(sum("lp").cast("double") / count(lit(1)), 6).as("avg_logp"))
    out
  }

  /** DuckDB twin. */
  object Sql {
    def score(rel: String, id: String, text: String): String = {
      val toks = TextOps.Sql.toks(text)
      s"""WITH t AS (SELECT $id AS id, $toks AS toks FROM $rel),
         | bgi AS (SELECT id, toks, unnest(generate_series(1, greatest(len(toks) - 1, 0))) AS i FROM t),
         | bg AS (SELECT id, (toks)[i] AS w1, (toks)[i+1] AS w2 FROM bgi),
         | bc AS (SELECT w1, w2, count(*) AS c12 FROM bg GROUP BY w1, w2),
         | uni AS (SELECT unnest(toks) AS w FROM t),
         | uc AS (SELECT w, count(*) AS c1 FROM uni GROUP BY w),
         | vv AS (SELECT CAST(count(*) AS DOUBLE) AS v FROM uc),
         | sc AS (SELECT id, CAST(ln((CAST(c12 AS DOUBLE) + 1.0) / (CAST(c1 AS DOUBLE) + v)) AS DECIMAL(38,18)) AS lp
         |   FROM bg JOIN bc USING (w1, w2) JOIN uc ON uc.w = bg.w1 CROSS JOIN vv)
         | SELECT id, count(*) AS n_bigrams,
         |  round(CAST(sum(lp) AS DOUBLE) / count(*), 6) AS avg_logp
         | FROM sc GROUP BY id""".stripMargin.replaceAll("\n", " ")
    }
  }
}
