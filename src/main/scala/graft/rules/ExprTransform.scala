package graft.rules

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** One configured sink operation: every field is a SQL EXPRESSION STRING
  * evaluated per event — the declarative, no-recompile analog of a Lua
  * script body appending ops to ___RET___ (reference:
  * service/luaengine/redis_actuator.go:38-57, mongo_actuator.go:37-105).
  * `when` gates emission (a script "not emitting" ≙ a false predicate).
  */
final case class ExprOp(
    target: String,
    action: String,
    key: String,                 // SQL expr
    when: String = "true",       // SQL boolean expr
    field: String = "NULL",      // SQL expr
    score: String = "0.0",       // SQL expr
    value: String = "NULL")      // SQL expr

/** Expression-driven multi-op emitter: each input event yields 0..n
  * [[SinkOp]]-shaped rows, one per matching [[ExprOp]]. Unlike the typed
  * [[EventTransform]] flatMap (compiled Scala), this is configured entirely
  * from strings — AND it stays pure Catalyst: each op is a filtered
  * projection of the batch, unioned, so predicates/columns still prune and
  * codegen. n ops = n scan branches of the (cached) batch, the same shape
  * N routes of one engine flow take.
  */
object ExprTransform {
  def run(df: DataFrame, ops: Seq[ExprOp]): DataFrame = emit(df, ops, ordered = false)

  /** [[run]] plus a TOTAL op order for structure-level application
    * ([[graft.merge.SinkOpState]]): [[EventTransform.ord]] of `_pos` and
    * the config-op index — stream order first, then declaration order.
    * Needs the decoded `_pos` on the input.
    */
  def runOrdered(df: DataFrame, ops: Seq[ExprOp]): DataFrame = {
    require(ops.size <= EventTransform.MaxOpsPerEvent,
      s"at most ${EventTransform.MaxOpsPerEvent} ops per route (ord encoding)")
    require(df.columns.contains("_pos"),
      "runOrdered needs the decoded _pos column for the op order")
    emit(df, ops, ordered = true)
  }

  private def emit(df: DataFrame, ops: Seq[ExprOp], ordered: Boolean): DataFrame = {
    require(ops.nonEmpty, "ExprTransform needs at least one op")
    ops.zipWithIndex.map { case (o, i) =>
      df.where(expr(o.when)).select(Seq(
        lit(o.target).as("target"),
        lit(o.action).as("action"),
        expr(o.key).cast("string").as("key"),
        expr(o.field).cast("string").as("field"),
        expr(o.score).cast("double").as("score"),
        expr(o.value).cast("string").as("value")) ++
        (if (ordered) Seq(EventTransform.ord(col("_pos"), lit(i)).as("ord")) else Nil): _*)
    }.reduce(_ unionAll _)
  }
}
