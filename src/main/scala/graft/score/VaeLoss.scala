package graft.score

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** VAE loss pieces as distributed column math — the reference's
  * LSTM-VAE objective (`app/LSTM_VAE.py:46-95`):
  *
  *   mse = mean((x − x̂)²)                        (reconstruction)
  *   kl  = −½ · mean(1 + logσ² − μ² − e^{logσ²})  (regularizer)
  *   loss = mse + kl
  *
  * plus the reparameterization z = μ + e^{½·logσ²}·ε.
  *
  * VAE *training* stays driver-side/out-of-scope like the reference's
  * Keras fit (SURVEY.md §7); what a Spark-native engine owes is the
  * LOSS AS A QUERY OPERATOR — scoring a fitted encoder/decoder output
  * at corpus scale (per-row loss over (x, x̂, μ, logσ²) array columns)
  * is one codegen'd map stage, no UDF, no collect. Folds are
  * sequential in index order, so results are bitwise-reproducible
  * across partitionings and replicable by the SQL oracle's
  * `list_reduce` (same convention as [[graft.sim.VectorMath]]).
  */
object VaeLoss {

  private def meanFold(arr: Column): Column =
    aggregate(arr, lit(0.0), (acc, v) => acc + v) / size(arr).cast("double")

  /** mean((x − x̂)²) over the feature axis. */
  def mse(x: Column, xhat: Column): Column =
    meanFold(zip_with(x, xhat,
      (a, b) => (a.cast("double") - b.cast("double")) *
        (a.cast("double") - b.cast("double"))))

  /** −½·mean(1 + logσ² − μ² − e^{logσ²}) (`app/LSTM_VAE.py:66-70`). */
  def klDivergence(mu: Column, logvar: Column): Column =
    lit(-0.5) * meanFold(zip_with(mu, logvar,
      (m, lv) => lit(1.0) + lv.cast("double") -
        m.cast("double") * m.cast("double") - exp(lv.cast("double"))))

  /** Total objective: reconstruction + KL. */
  def loss(x: Column, xhat: Column, mu: Column, logvar: Column): Column =
    mse(x, xhat) + klDivergence(mu, logvar)

  /** Reparameterization z = μ + e^{½·logσ²}·ε (`app/LSTM_VAE.py:46-95`,
    * SURVEY F6) for a caller-supplied noise column (deterministic ε ⇒
    * deterministic z; pass `transform(mu, m => lit(0.0))` for the
    * posterior mean).
    */
  def reparameterize(mu: Column, logvar: Column, eps: Column): Column =
    zip_with(mu, zip_with(logvar, eps,
        (lv, e) => exp(lit(0.5) * lv.cast("double")) * e.cast("double")),
      (m, se) => m.cast("double") + se)

  /** DuckDB twins: identical sequential folds. */
  object Sql {
    private def meanFold(arr: String): String =
      s"(list_reduce(list_prepend(0.0::DOUBLE, $arr), (acc, x) -> acc + x) / len($arr))"

    def mse(x: String, xhat: String): String =
      meanFold(s"list_transform(generate_series(1, len($x)), i -> " +
        s"(CAST($x[i] AS DOUBLE) - CAST($xhat[i] AS DOUBLE)) * (CAST($x[i] AS DOUBLE) - CAST($xhat[i] AS DOUBLE)))")

    def klDivergence(mu: String, logvar: String): String =
      s"(-0.5 * ${meanFold(s"list_transform(generate_series(1, len($mu)), i -> " +
        s"1.0 + CAST($logvar[i] AS DOUBLE) - CAST($mu[i] AS DOUBLE) * CAST($mu[i] AS DOUBLE) - exp(CAST($logvar[i] AS DOUBLE)))")})"
  }
}
