package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.{FunctionIdentifier, TableIdentifier}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.parser.ParserInterface
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.types.{DataType, StructType}

import graft.Graft
import graft.model.TableResolver

/** `SparkSessionExtensions` integration: a parser override that rewrites
  * `GRAPH_TABLE(…)` spans before delegating to Spark's parser — the exact
  * strategy of the reference's parser extension (`duckpgq_parser.cpp:82-130`
  * installs a full parser override; statements are screened with a cheap
  * substring heuristic `:34-38` before the expensive path).
  *
  * Usage:
  * {{{
  * val spark = SparkSession.builder()
  *   .withExtensions(new GraftExtensions)
  *   .getOrCreate()
  * spark.sql("SELECT * FROM GRAPH_TABLE(pg MATCH (a:Person) COLUMNS(a.id))")
  * }}}
  *
  * Graphs must be registered over catalog-resolvable tables (temp views or
  * catalog tables) — the rewrite compiles against the active session's
  * registry with the catalog resolver.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    ext.injectParser((session, delegate) =>
      new GraftParser(session, delegate))
}

class GraftParser(session: SparkSession, delegate: ParserInterface)
    extends ParserInterface {

  /** Reference heuristic (`duckpgq_parser.cpp:34-38`): only queries whose
    * text mentions graph_table go through the rewrite. */
  private def isPgq(sqlText: String): Boolean = {
    val t = sqlText.toLowerCase
    t.contains("graph_table") || t.contains("graph table")
  }

  /** Compiles the GRAPH_TABLE spans. A mention inside a string literal
    * or a comment is not a span and passes through untouched; a PGQ
    * error in a real span (unknown graph or label, bad pattern) is
    * raised as graft's own error, not hidden behind the plain parser's
    * syntax error. */
  private def rewrite(sqlText: String): String =
    if (!isPgq(sqlText)) sqlText
    else Graft(session, TableResolver.catalog).rewriteGraphTables(sqlText)

  override def parsePlan(sqlText: String): LogicalPlan =
    delegate.parsePlan(rewrite(sqlText))

  override def parseQuery(sqlText: String): LogicalPlan =
    delegate.parseQuery(rewrite(sqlText))

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
