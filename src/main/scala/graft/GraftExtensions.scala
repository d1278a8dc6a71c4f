package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import graft.functions.GraftFunctions

/** Session-extension injection point: registers every graft SQL function
  * at session build time, so a cluster user enables the library with
  * configuration alone —
  *
  * {{{
  * spark-submit --conf spark.sql.extensions=graft.GraftExtensions ...
  * // or
  * SparkSession.builder().withExtensions(new GraftExtensions) ...
  * }}}
  *
  * — and `SELECT cosine_sim(a.embedding, b.embedding)` works in plain
  * `spark.sql` / JDBC / notebook SQL with no code on the classpath's
  * caller side. The same expressions are also registrable imperatively
  * via [[graft.functions.GraftFunctions.register]] (which
  * [[graft.Session.build]] calls on every session it returns); both paths
  * register the identical builders, so plans are indistinguishable.
  *
  * This is the SparkSessionExtensions surface from SURVEY §2.10's
  * preference order — functions only: the library deliberately has no
  * custom LogicalPlan/Strategy to inject, because every operator proved
  * expressible in Catalyst's existing algebra (the survey's "compose
  * first" rule). Candidate optimizer rules were evaluated and rejected
  * as no-ops — e.g. rewriting `size(regexp_extract_all(s, p, 0))` to
  * `regexp_count(s, p)` is circular: Spark implements `regexp_count` as
  * exactly that expression (`RegExpCount.replacement`), so the "cheap"
  * form already executes the same tree.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((
      FunctionIdentifier("cosine_sim"),
      GraftFunctions.cosineSimInfo,
      GraftFunctions.mkCosineSim _))
    ext.injectFunction((
      FunctionIdentifier("srp_cell"),
      GraftFunctions.srpCellInfo,
      GraftFunctions.mkSrpCell _))
    ext.injectFunction((
      FunctionIdentifier("l2_sq"),
      GraftFunctions.l2SqInfo,
      GraftFunctions.mkL2Sq _))
    ext.injectFunction((
      FunctionIdentifier("gram_hash60"),
      GraftFunctions.gramHash60Info,
      GraftFunctions.mkGramHash60 _))
  }
}
