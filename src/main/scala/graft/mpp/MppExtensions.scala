package graft.mpp

import org.apache.spark.sql.{Row, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.{FunctionIdentifier, TableIdentifier}
import org.apache.spark.sql.catalyst.expressions.{Attribute, Expression}
import org.apache.spark.sql.catalyst.parser.{CatalystSqlParser, ParseException, ParserInterface}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.types.{DataType, StructType}

/** `SparkSessionExtensions` installer: injected delegating parser for the
  * distributed DDL/DML dialect, plus the catalog-path UPDATE/MERGE
  * bridges. Shard pruning needs no rule: it runs inside the one scan
  * of an mpp table ([[graft.sources.ColocatedScanBuilder]]), against
  * that table's own bucket count.
  *
  * Mirrors the reference's extension registration
  * (`/root/reference/src/mpp_extension.cpp:18-25`: parser extension +
  * storage hooks): only what [[MppDialect]] recognizes — the forms
  * Spark cannot parse, and DML or DROP on a distributed table — is
  * intercepted; the stock parser handles everything else.
  *
  * Usage: `--conf spark.sql.extensions=graft.mpp.MppExtensions`, or
  * `SparkSession.builder.withExtensions(new MppExtensions()(_))`.
  */
class MppExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectParser((_, delegate) => new MppParser(delegate))
    // Catalog-path UPDATE: `UPDATE cat.t SET … WHERE …` over a
    // [[graft.sources.ColocatedTable]] delegates to the engine's COW
    // update (see Dsv2RowLevelDml's scaladoc for why this beats a
    // second SupportsRowLevelOperations write path).
    ext.injectResolutionRule(_ => graft.sources.Dsv2UpdateRule)
    // Catalog-path MERGE: bridges the analyzed MergeIntoTable onto the
    // engine's bucket-local COW upsert (same one-write-path argument).
    ext.injectResolutionRule(_ => graft.sources.Dsv2MergeRule)
  }
}

/** Delegating parser: a statement [[MppDialect]] recognizes runs as
  * an [[MppSqlCommand]]; any other plan is the stock parser's, with
  * the mpp relations in it routed to their owning engines' frames
  * (plan-level, so column references that merely look like
  * catalog.table are never touched). Each statement is parsed once. */
final class MppParser(val delegate: ParserInterface) extends ParserInterface {

  override def parsePlan(sqlText: String): LogicalPlan =
    MppDialect.parse(sqlText, delegate, None) match {
      case MppStatement.Parsed(plan) => MppEngine.rewritePlan(plan)
      case st => MppSqlCommand(st)
    }

  override def parseQuery(sqlText: String): LogicalPlan =
    delegate.parseQuery(sqlText)
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

object MppParser {

  /** True iff the injected parser runs `sql` as a dialect statement
    * (an [[MppSqlCommand]]) rather than handing Spark its plan. */
  def intercepts(sql: String): Boolean =
    try !MppDialect.parse(sql, CatalystSqlParser, None)
      .isInstanceOf[MppStatement.Parsed]
    catch { case _: ParseException => false }
}

/** Runs one recognized statement through its engine ([[MppEngine.run]]),
  * unqualified reads resolved in the USE'd catalog. Its output is the
  * statement kind's schema, the columns `engine.sql` returns too. */
final case class MppSqlCommand(statement: MppStatement)
    extends LeafRunnableCommand {

  override val output: Seq[Attribute] =
    DataTypeUtils.toAttributes(statement.schema)

  override def run(spark: SparkSession): Seq[Row] =
    MppEngine.run(spark, statement, MppEngine.current).collect().toSeq
}
