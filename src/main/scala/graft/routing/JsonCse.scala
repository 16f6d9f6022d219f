package graft.routing

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.analysis.{UnresolvedAttribute, UnresolvedFunction}
import org.apache.spark.sql.catalyst.expressions.{CsvToStructs, Expression, JsonToStructs, Literal}
import org.apache.spark.sql.catalyst.expressions.variant.{ParseJson, VariantGet}
import org.apache.spark.sql.types.StringType
import org.apache.spark.sql.graftbridge.GraftBridge

/** Hoist repeated JSON-derivation subexpressions out of a routing predicate
  * into per-row columns — manual common-subexpression elimination for the
  * one place codegen's own CSE cannot reach.
  *
  * Why it exists (r16, guide §1.2 / §4): a draft-04 payload validator is a
  * deep CASE/AND/OR tree in which the same raw-JSON derivations recur —
  * `json_object_keys(raw)` in both `maxProperties` and
  * `additionalProperties`, one `try_parse_json(raw)` per union-type check,
  * the `from_json` map behind `patternProperties`. Whole-stage codegen's
  * subexpression elimination only dedupes subexpressions that are evaluated
  * UNCONDITIONALLY within an operator; everything inside a CASE branch or
  * the right leg of a short-circuit AND/OR is conditional, so each
  * occurrence re-parses the payload at runtime (measured: the dominant
  * per-row cost of every raw-keyed routing row). Hoisting each repeated
  * derivation into its own projected column makes every later occurrence an
  * attribute read.
  *
  * The trade: a hoisted parse runs once for EVERY row, including rows an
  * earlier branch (bad envelope, unregistered schema) would have
  * short-circuited past. One unconditional parse beats 2–4 conditional
  * ones on any row mix where most rows reach payload validation — the
  * routing contract's normal case. Only `try_`-style / NULL-yielding
  * derivations are hoisted (the allowlist below), so evaluating them on
  * rows that never needed them cannot throw. At most [[MaxHoisted]]
  * columns are hoisted; a predicate with more repeats logs a warning and
  * keeps the rest inline.
  *
  * Mechanics: bottom-up fixpoint — repeatedly find the SMALLEST repeated
  * lambda-free JSON-derivation subtree, land it as a column, and substitute
  * an attribute reference everywhere it occurred (later, larger hoists then
  * reference earlier columns, so columns are emitted in dependency order).
  * Everything stays a projection: no shuffle, no extra scan, and the
  * hoisted columns are dropped from the visible schema by the caller.
  */
private[routing] object JsonCse {
  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** Cap on hoisted columns per predicate (each is one projected column). */
  val MaxHoisted = 16

  /** Name prefix of the hoisted working columns (suffixed 0, 1, …). */
  val ColPrefix = "__graft_route_cse"

  /** Function names (unresolved-API view) whose evaluation parses JSON /
    * variant text and yields NULL rather than throwing on bad input —
    * expensive enough to hoist, safe to run eagerly. `from_json` and
    * `from_csv` qualify only in PERMISSIVE mode ([[permissive]]).
    * `parse_json`, `variant_get` and `schema_of_variant` throw on malformed
    * input, so they stay inline where their branch guards them.
    */
  private val jsonFnNames = Set(
    "get_json_object", "json_object_keys", "try_parse_json", "try_variant_get",
    "schema_of_json", "json_array_length")

  /** Post-substitution class names of the never-throwing family (some
    * builders emit catalyst nodes directly rather than UnresolvedFunction).
    */
  private val jsonNodeClasses = Set("GetJsonObject", "JsonObjectKeys", "LengthOfJsonArray")

  /** A parser option set runs in PERMISSIVE mode (the default, which yields
    * NULL fields on bad input); FAILFAST throws. Options given as an
    * expression count only when they are literal key/value pairs.
    */
  private def permissive(options: Map[String, String]): Boolean =
    options.collectFirst { case (k, v) if k.equalsIgnoreCase("mode") => v }
      .forall(_.equalsIgnoreCase("PERMISSIVE"))

  private def permissive(options: Option[Expression]): Boolean = options.forall { o =>
    val kv = o.children.collect { case Literal(v, StringType) => v.toString }
    kv.size == o.children.size && kv.size % 2 == 0 &&
      permissive(kv.grouped(2).map(p => p(0) -> p(1)).toMap)
  }

  private def isJsonDerivation(e: Expression): Boolean = e match {
    case f: UnresolvedFunction => f.nameParts.last.toLowerCase match {
      case "from_json" | "from_csv" => permissive(f.arguments.lift(2))
      case n => jsonFnNames.contains(n)
    }
    case p: ParseJson => !p.failOnError
    case v: VariantGet => !v.failOnError
    case j: JsonToStructs => permissive(j.options)
    case c: CsvToStructs => permissive(c.options)
    case _ => jsonNodeClasses.contains(e.getClass.getSimpleName)
  }

  /** A subtree that references a lambda variable cannot be hoisted out of
    * its higher-order function.
    */
  private def lambdaFree(e: Expression): Boolean =
    !e.exists { x =>
      val n = x.getClass.getSimpleName
      n == "UnresolvedNamedLambdaVariable" || n == "NamedLambdaVariable"
    }

  private def treeSize(e: Expression): Int = {
    var n = 0
    e.foreach(_ => n += 1)
    n
  }

  /** Returns (df + hoisted columns, rewritten predicate, hoisted names).
    * Each hoisted column is wrapped in `when(gate, …)` so the parse runs
    * only on rows the caller says can reach the expression — rows an
    * earlier short-circuit branch claims never pay it (the gate re-checks
    * those branch conditions, which are cheap null/equality tests).
    */
  def hoist(df: DataFrame, pred: Column, gate: Column): (DataFrame, Column, Seq[String]) = {
    var cur: Expression = GraftBridge.expression(pred)
    var out = df
    val names = scala.collection.mutable.ArrayBuffer.empty[String]
    var repeated = repeatedDerivations(cur)
    while (repeated.nonEmpty && names.size < MaxHoisted) {
      val pick = repeated.minBy(treeSize)
      val name = s"$ColPrefix${names.size}"
      out = out.withColumn(name,
        org.apache.spark.sql.functions.when(gate, GraftBridge.column(pick)))
      cur = cur.transform { case e if e == pick => UnresolvedAttribute(Seq(name)) }
      names += name
      repeated = repeatedDerivations(cur)
    }
    if (repeated.nonEmpty) log.warn(s"routing predicate hoist stopped at the " +
      s"$MaxHoisted-column cap; ${repeated.size} repeated JSON derivations stay inline")
    (out, GraftBridge.column(cur), names.toSeq)
  }

  /** Repeated hoistable subtrees, in deterministic first-seen order (so
    * ties in size pick stably).
    */
  private def repeatedDerivations(e: Expression): Seq[Expression] = {
    val counts = new java.util.LinkedHashMap[Expression, Integer]()
    e.foreach { x =>
      if (isJsonDerivation(x) && lambdaFree(x))
        counts.merge(x, Integer.valueOf(1), (a, b) => Integer.valueOf(a + b))
    }
    import scala.jdk.CollectionConverters._
    counts.asScala.collect { case (x, c) if c >= 2 => x }.toSeq
  }
}
