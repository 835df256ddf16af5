package graft.score

import graft.sim.FloatArrays
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions.{call_function, col}
import org.apache.spark.sql.types._

/** A broadcastable per-row scorer over a primitive feature vector —
  * the engine's contract for driver-fit models scored distributed
  * (LinearAE, MlpAE, the isolation forest's [[FlatForest]]; the
  * reference's `model.predict` after `collect()`,
  * `app/AE_model.py:218-226`, minus the driver boundary).
  */
trait ArrayScorer extends Serializable {
  def score(x: Array[Double]): Double
}

/** Scores an `array<float|double>` column with a broadcast
  * [[ArrayScorer]], inside whole-stage codegen: the generated code
  * unwraps the broadcast once per task, copies each row once into a
  * primitive `double[]` ([[FloatArrays.toDoubles]]) and makes one
  * `score` call — no Seq materialization, no per-element boxing, no
  * Scala-UDF encoder round-trip. Feature arrays must have non-null
  * elements.
  */
case class ArrayScoreExpr(child: Expression, scorer: Broadcast[ArrayScorer])
    extends UnaryExpression {

  override def dataType: DataType = DoubleType

  override def checkInputDataTypes(): TypeCheckResult =
    FloatArrays.check("graft_arrayscore", child)

  override def nullSafeEval(a: Any): Any = scorer.value.score(
    FloatArrays.toDoubles(a.asInstanceOf[ArrayData], FloatArrays.isFloat(child)))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val scorerClass = classOf[ArrayScorer].getName
    val bc = ctx.addReferenceObj("graftScorerBc", scorer, classOf[Broadcast[_]].getName)
    // unwrap the broadcast once per task, not once per row
    val s = ctx.addMutableState(scorerClass, "graftScorer",
      v => s"$v = ($scorerClass) $bc.value();")
    nullSafeCodeGen(ctx, ev, a => s"${ev.value} = $s.score(" +
      s"graft.sim.FloatArrays.toDoubles($a, ${FloatArrays.isFloat(child)}));")
  }

  override protected def withNewChildInternal(newChild: Expression): ArrayScoreExpr =
    copy(child = newChild)
}

object ArrayScoreExpr {
  // monotonic registration ids: identityHashCode can collide between two
  // live scorers, silently rebinding a not-yet-analyzed plan
  private val nextId = new java.util.concurrent.atomic.AtomicLong(0L)

  /** Register `builder` as a temp function just long enough to analyze
    * the scored frame, then DEREGISTER it. The registry is the public
    * seam for Column←Expression in Spark 4, but analysis resolves the
    * call into the concrete expression (which holds the broadcast
    * directly), so the entry is needed only for that moment — leaving
    * it registered would pin one broadcast per model build for the
    * session lifetime (grid/bench loops construct many). After the
    * drop, the broadcast lives exactly as long as plans referencing it
    * and is ContextCleaner-collected with them.
    */
  private def scored(df: DataFrame, featuresCol: String, outCol: String,
                     builder: Seq[Expression] => Expression): DataFrame = {
    val name = s"graft_arrayscore_${nextId.incrementAndGet()}"
    val reg = df.sparkSession.sessionState.functionRegistry
    reg.createOrReplaceTempFunction(name, builder, "built-in")
    try {
      val out = df.withColumn(outCol, call_function(name, col(featuresCol)))
      // Dataset construction analyzes eagerly; force it explicitly so
      // the drop below can never race a lazy analysis
      out.queryExecution.analyzed
      out
    } finally {
      reg.dropFunction(org.apache.spark.sql.catalyst.FunctionIdentifier(name))
      ()
    }
  }

  /** The scored frame `df` + `outCol`: broadcast the scorer, apply it as
    * one codegen'd map expression (scoped registration — no session
    * leak).
    */
  def withScore(df: DataFrame, scorer: ArrayScorer, featuresCol: String,
                outCol: String): DataFrame = {
    val bc = df.sparkSession.sparkContext.broadcast(scorer)
    scored(df, featuresCol, outCol, { args: Seq[Expression] =>
      require(args.length == 1, "graft_arrayscore takes 1 argument")
      ArrayScoreExpr(args.head, bc)
    })
  }
}
