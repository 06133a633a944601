package graft.plans

import org.apache.spark.sql.catalyst.{FunctionIdentifier, TableIdentifier}
import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, AttributeReference, EqualTo, Expression, GreaterThan, GreaterThanOrEqual, LessThan, LessThanOrEqual}
import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.catalyst.parser.{ParseException, ParserInterface}
import org.apache.spark.sql.catalyst.plans.{Inner, LeftOuter}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, Join, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{DataType, StructType}

/** SQL surface for the native as-of join — the `ASOF JOIN` / `ASOF LEFT
  * JOIN` syntax DuckDB users write (and this repo's own oracle SQL uses,
  * see the `asof_join` query's oracleSql), planned onto AsofJoinExec. The
  * extension syntax `ASOF NEAREST [LEFT] JOIN` plans onto the operator's
  * nearest sweep (closest right row in EITHER direction, ties backward);
  * a statement cannot mix plain and NEAREST variants (count-based
  * attribution can't tell which token owns which join).
  *
  * Spark's ANTLR grammar is not extensible in-place, so the parser wraps
  * the session parser (injectParser) and does a SYNTAX-level pass only:
  * strip the `ASOF` keyword (outside string literals), let the stock
  * parser build the Join, then swap each as-of-shaped Join for an
  * [[UnresolvedAsofJoin]] marker. SEMANTIC work — resolving which side of
  * the condition is which, fresh-aliasing the right side for self-joins
  * (DeduplicateRelations does not visit custom nodes), picking the sweep
  * direction — happens after analysis resolves the children, in
  * [[ResolveAsofJoin]] (injectResolutionRule). Both are wired by
  * GraftExtensions.
  *
  * Supported condition shape (DuckDB's): ONE-OR-MORE key equalities plus
  * exactly one non-strict timestamp inequality, `l.ts >= r.ts` (backward)
  * or `l.ts <= r.ts` (forward), either operand order — composite keys
  * plan onto the operator's key-tuple sweep. Contract limits, enforced
  * loudly: every as-of-shaped join in a query containing ASOF must come
  * from an ASOF token (a plain inequality join mixed into the same
  * statement is rejected rather than silently converted), key columns
  * must share names between the sides (the physical operator's
  * contract), and strict `<`/`>` is rejected (the engine matches
  * at-or-before / at-or-after).
  */
object AsofSql {

  // NEAREST is matched by its own token (the plain token's lookahead does
  // not accept it, so the two counts never overlap)
  private val AsofToken =
    """(?i)\bASOF\s+(?=(LEFT\s+(OUTER\s+)?|INNER\s+)?JOIN\b)""".r
  private val AsofNearestToken =
    """(?i)\bASOF\s+NEAREST\s+(?=(LEFT\s+(OUTER\s+)?|INNER\s+)?JOIN\b)""".r

  /** (plain ASOF tokens, ASOF NEAREST tokens) outside literals/comments. */
  def countAsof(sql: String): (Int, Int) = {
    var plain = 0
    var near = 0
    mapOutsideLiterals(sql, seg => {
      near += AsofNearestToken.findAllIn(seg).size
      plain += AsofToken.findAllIn(seg).size
      seg
    })
    (plain, near)
  }

  /** Strip ASOF [NEAREST] keywords, leaving a statement the stock parser
    * accepts.
    */
  def stripAsof(sql: String): String =
    mapOutsideLiterals(sql, seg =>
      AsofToken.replaceAllIn(AsofNearestToken.replaceAllIn(seg, ""), ""))

  /** Apply `f` to every segment of `sql` outside '…'/"…"/`…` literals,
    * `--` line comments, and (nested, as Spark's lexer allows) bracketed
    * comments — so "ASOF JOIN" appearing as a string VALUE or inside a
    * comment is never counted or rewritten. Literals track backslash
    * escapes UNCONDITIONALLY, matching Spark's ANTLR lexer: token-level
    * escape handling in SqlBaseLexer does not depend on
    * `spark.sql.parser.escapedStringLiterals` — that conf only changes
    * how the AstBuilder UNESCAPES the token's value (verified empirically:
    * `SELECT '\'` is a PARSE_SYNTAX_ERROR under both conf settings, spec
    * "escapedStringLiterals conf..."), so literal BOUNDARIES — the only
    * thing this scanner needs — are conf-independent. A token SPLIT by a
    * comment (`ASOF /*x*/ JOIN`) is not recognized: the ASOF word
    * survives the strip and the stock parser rejects it — loud, per the
    * surface's failure contract.
    */
  private def mapOutsideLiterals(sql: String, f: String => String): String = {
    val out = new StringBuilder
    val seg = new StringBuilder
    val n = sql.length
    def flush(): Unit = { out.append(f(seg.toString)); seg.clear() }
    var i = 0
    while (i < n) {
      val ch = sql.charAt(i)
      if (ch == '\'' || ch == '"' || ch == '`') {
        flush(); out.append(ch); i += 1
        var closed = false
        while (i < n && !closed) {
          val c = sql.charAt(i)
          if (c == '\\' && ch != '`' && i + 1 < n) {
            // backslash escape inside a quoted literal: the next char
            // (even a quote) is literal content
            out.append(c).append(sql.charAt(i + 1)); i += 2
          } else {
            out.append(c); i += 1
            // a doubled quote ('') reads as close+reopen — harmless here
            if (c == ch) closed = true
          }
        }
      } else if (ch == '-' && i + 1 < n && sql.charAt(i + 1) == '-') {
        flush()
        while (i < n && sql.charAt(i) != '\n') { out.append(sql.charAt(i)); i += 1 }
      } else if (ch == '/' && i + 1 < n && sql.charAt(i + 1) == '*') {
        flush()
        out.append("/*"); i += 2
        var depth = 1
        while (i < n && depth > 0) {
          if (i + 1 < n && sql.charAt(i) == '/' && sql.charAt(i + 1) == '*') {
            out.append("/*"); depth += 1; i += 2
          } else if (i + 1 < n && sql.charAt(i) == '*' && sql.charAt(i + 1) == '/') {
            out.append("*/"); depth -= 1; i += 2
          } else { out.append(sql.charAt(i)); i += 1 }
        }
      } else { seg.append(ch); i += 1 }
    }
    flush()
    out.toString
  }

  private def conjuncts(e: Expression): Seq[Expression] = e match {
    case org.apache.spark.sql.catalyst.expressions.And(l, r) =>
      conjuncts(l) ++ conjuncts(r)
    case other => Seq(other)
  }

  private def isColumn(e: Expression): Boolean = e match {
    case _: UnresolvedAttribute | _: AttributeReference => true
    case _ => false
  }

  /** One-or-more column equalities + exactly one column inequality — the
    * only join shape the ASOF syntax can produce (DuckDB allows several
    * key equalities next to the ts inequality), used both to find the
    * joins to convert and to reject ambiguous statements. Strict
    * inequalities still match the SHAPE so the resolution rule can reject
    * them loudly instead of leaving a half-stripped statement.
    */
  private def isAsofShape(cond: Expression): Boolean = {
    val cs = conjuncts(cond)
    val (eqs, rest) = cs.partition {
      case EqualTo(x, y) => isColumn(x) && isColumn(y)
      case _ => false
    }
    eqs.nonEmpty && rest.size == 1 && (rest.head match {
      case GreaterThanOrEqual(x, y) => isColumn(x) && isColumn(y)
      case LessThanOrEqual(x, y)    => isColumn(x) && isColumn(y)
      case GreaterThan(x, y)        => isColumn(x) && isColumn(y)
      case LessThan(x, y)           => isColumn(x) && isColumn(y)
      case _ => false
    })
  }

  /** Swap every as-of-shaped Join for the marker; the count must equal the
    * number of ASOF tokens or the statement is ambiguous. `nearest` applies
    * to every converted join (the parser rejects statements mixing plain
    * ASOF and ASOF NEAREST, so the flag is statement-uniform).
    */
  def convert(parsed: LogicalPlan, asofCount: Int, nearest: Boolean,
              sql: String): LogicalPlan = {
    var converted = 0
    val out = parsed.transformUp {
      case Join(l, r, jt, Some(cond), _)
          if (jt == Inner || jt == LeftOuter) && isAsofShape(cond) =>
        converted += 1
        UnresolvedAsofJoin(l, r, cond, jt == LeftOuter, nearest)
    }
    if (converted != asofCount)
      throw new IllegalArgumentException(
        s"""ASOF JOIN surface: found $asofCount ASOF token(s) but $converted
           |convertible join(s). Every join in a statement containing ASOF must
           |be distinguishable: an ASOF join needs one-or-more same-named key
           |equalities AND exactly one timestamp inequality (l.ts >= r.ts
           |backward, l.ts <= r.ts forward) — key-less as-of joins are not
           |supported by this surface (use the DataFrame API,
           |graft.operators.AsofJoin.joinNative); a NON-asof join in the same
           |statement must not have that exact shape. Statement: $sql""".stripMargin)
    out
  }
}

/** Parse-time marker for an `ASOF [LEFT] JOIN`; [[ResolveAsofJoin]]
  * replaces it with the real AsofJoinNode once both children resolve.
  * Unresolvable by construction so an un-converted marker fails analysis
  * instead of silently mis-planning.
  */
case class UnresolvedAsofJoin(left: LogicalPlan, right: LogicalPlan,
                              condition: Expression, leftOuter: Boolean,
                              nearest: Boolean = false)
    extends BinaryNode {
  override lazy val resolved: Boolean = false
  override def output: Seq[Attribute] = Nil
  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): UnresolvedAsofJoin =
    copy(left = newLeft, right = newRight)
}

/** Analyzer rule: UnresolvedAsofJoin → AsofJoinNode. Runs once the
  * children are resolved, so the condition's columns can be located by
  * qualifier against real outputs, and the right side can be
  * fresh-aliased (qualifiers preserved) to keep self-join exprIds unique.
  */
object ResolveAsofJoin extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    case u @ UnresolvedAsofJoin(l, r, cond, leftOuter, nearest) if u.childrenResolved =>
      // locate a condition column: (attribute, cameFromLeft)
      def locate(e: Expression): Option[(Attribute, Boolean)] = e match {
        case a: AttributeReference =>
          if (l.outputSet.contains(a)) Some((a, true))
          else if (r.outputSet.contains(a)) Some((a, false))
          else None
        case ua: UnresolvedAttribute =>
          l.resolve(ua.nameParts, conf.resolver)
            .collect { case a: Attribute => (a, true) }
            .orElse(r.resolve(ua.nameParts, conf.resolver)
              .collect { case a: Attribute => (a, false) })
        case _ => None
      }
      def fail(msg: String): Nothing =
        throw new IllegalArgumentException(s"ASOF JOIN surface: $msg")

      val keys = scala.collection.mutable.ListBuffer[String]()
      var leftTs: String = null
      var rightTs: String = null
      var forward = false

      def classifyEq(x: Expression, y: Expression): Unit =
        (locate(x), locate(y)) match {
          case (Some((xa, true)), Some((ya, false))) => classifyEqOk(xa, ya)
          case (Some((xa, false)), Some((ya, true))) => classifyEqOk(ya, xa)
          case _ => fail(s"cannot resolve key equality $x = $y against the join sides")
        }
      def classifyEqOk(la: Attribute, ra: Attribute): Unit = {
        if (la.name != ra.name)
          fail(s"key columns must share a name (got ${la.name} = ${ra.name}); " +
            "alias one side")
        keys += la.name
      }
      def classifyIneq(x: Expression, y: Expression, geq: Boolean): Unit =
        (locate(x), locate(y)) match {
          // l.ts >= r.ts → backward; l.ts <= r.ts → forward
          case (Some((xa, true)), Some((ya, false))) =>
            leftTs = xa.name; rightTs = ya.name; forward = !geq
          // r.ts <= l.ts → backward; r.ts >= l.ts → forward
          case (Some((xa, false)), Some((ya, true))) =>
            leftTs = ya.name; rightTs = xa.name; forward = geq
          case _ => fail(s"cannot resolve timestamp inequality against the join sides")
        }

      def walk(e: Expression): Unit = e match {
        case org.apache.spark.sql.catalyst.expressions.And(a, b) => walk(a); walk(b)
        case EqualTo(x, y) => classifyEq(x, y)
        case GreaterThanOrEqual(x, y) => classifyIneq(x, y, geq = true)
        case LessThanOrEqual(x, y) => classifyIneq(x, y, geq = false)
        case _: GreaterThan | _: LessThan =>
          fail("strict </> is not supported — the engine matches at-or-before/" +
            "at-or-after; use >= or <=")
        case other => fail(s"unsupported condition term $other")
      }
      walk(cond)
      if (keys.isEmpty || leftTs == null) fail(s"incomplete as-of condition $cond")

      // fresh exprIds on the right (self-join safety — DeduplicateRelations
      // skips custom nodes), keeping names AND qualifiers so outer
      // projections like `c.value` still resolve
      val rFresh = Project(
        r.output.map(a => Alias(a, a.name)(qualifier = a.qualifier)), r)
      // NEAREST picks the closer of backward/forward candidates in ONE
      // backward-shaped sweep (AsofJoinExec), so the inequality's direction
      // only names the two ts columns — the sweep direction is fixed
      AsofJoinNode(l, rFresh, keys.toSeq, leftTs, rightTs, prefix = "",
        leftOuter = leftOuter, forward = if (nearest) false else forward,
        nearest = nearest)
  }
}

/** Session parser wrapper: intercepts statements containing ASOF JOIN,
  * delegates everything else untouched.
  */
class GraftSqlParser(delegate: ParserInterface) extends ParserInterface {

  private def withAsof(sql: String, parse: String => LogicalPlan): LogicalPlan = {
    val (plain, near) = AsofSql.countAsof(sql)
    if (plain == 0 && near == 0) parse(sql)
    else if (plain > 0 && near > 0)
      // token→join attribution is count-based, so a statement mixing the
      // two variants can't be disambiguated — reject rather than guess
      throw new IllegalArgumentException(
        "ASOF JOIN surface: a statement cannot mix plain ASOF JOIN and " +
          s"ASOF NEAREST JOIN (found $plain plain + $near nearest). " +
          s"Split the statement. Statement: $sql")
    else AsofSql.convert(parse(AsofSql.stripAsof(sql)), plain + near,
      nearest = near > 0, sql)
  }

  override def parsePlan(sqlText: String): LogicalPlan =
    withAsof(sqlText, delegate.parsePlan)
  override def parseQuery(sqlText: String): LogicalPlan =
    withAsof(sqlText, delegate.parseQuery)

  override def parseExpression(sqlText: String): Expression =
    delegate.parseExpression(sqlText)
  override def parseTableIdentifier(sqlText: String): TableIdentifier =
    delegate.parseTableIdentifier(sqlText)
  override def parseFunctionIdentifier(sqlText: String): FunctionIdentifier =
    delegate.parseFunctionIdentifier(sqlText)
  override def parseMultipartIdentifier(sqlText: String): Seq[String] =
    delegate.parseMultipartIdentifier(sqlText)
  override def parseTableSchema(sqlText: String): StructType =
    delegate.parseTableSchema(sqlText)
  override def parseDataType(sqlText: String): DataType =
    delegate.parseDataType(sqlText)
  override def parseRoutineParam(sqlText: String): StructType =
    delegate.parseRoutineParam(sqlText)
}
