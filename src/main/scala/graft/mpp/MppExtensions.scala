package graft.mpp

import org.apache.spark.sql.{Row, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.{FunctionIdentifier, TableIdentifier}
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference, Expression}
import org.apache.spark.sql.catalyst.parser.ParserInterface
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.types.{DataType, StringType, StructType}

/** `SparkSessionExtensions` installer: injected delegating parser for the
  * distributed DDL/DML dialect, plus the catalog-path UPDATE/MERGE
  * bridges. Shard pruning needs no rule: it runs inside the one scan
  * of an mpp table ([[graft.sources.ColocatedScanBuilder]]), against
  * that table's own bucket count.
  *
  * Mirrors the reference's extension registration
  * (`/root/reference/src/mpp_extension.cpp:18-25`: parser extension +
  * storage hooks): the stock parser handles everything it can, and only
  * the `PARTITION BY (c) WITH BUCKETS n` dialect (plus DML on registered
  * distributed tables) is intercepted — the same "stock parse first"
  * split as `mpp_parser_extension.cpp:13-20`.
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

/** Delegating parser: routes dialect statements to [[MppSqlCommand]],
  * everything else to the session's stock parser. */
final class MppParser(val delegate: ParserInterface) extends ParserInterface {

  override def parsePlan(sqlText: String): LogicalPlan =
    if (MppParser.intercepts(sqlText)) MppSqlCommand(sqlText)
    // Reads pass through the stock parser, then the mpp RELATIONS in
    // the parsed plan are routed to their owning engines' frames
    // (schema preserved — no command-result flattening on the read
    // path; plan-level resolution, so column references that merely
    // look like catalog.table are never touched).
    else MppEngine.rewritePlan(delegate.parsePlan(sqlText))

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

  private val CreateDialect =
    """(?is).*\)\s*PARTITION\s+BY\s*\(\s*\w+\s*\)\s*WITH\s+BUCKETS\s+\d+\s*;?\s*$""".r
  // Qualified names allowed ((?:\w+\.){0,2}) so `spark.sql` and
  // `engine.sql` agree on `CREATE TABLE s.t … AS SELECT` — the engine's
  // CtasRe accepts them, so the injected parser must intercept them.
  private val CtasDialect =
    """(?is)^\s*CREATE\s+TABLE\s+(?:\w+\.){0,2}\w+\s+PARTITION\s+BY\s*\(\s*\w+\s*\)\s*WITH\s+BUCKETS\s+\d+\s+AS\s+.*$""".r
  /** Reference entry point: `ATTACH 'db' AS x (TYPE mpp[, ENDPOINT …])`
    * (`/root/reference/src/storage/mpp_storage_extension.cpp:8-41`).
    * Here the attached path is the engine warehouse; ENDPOINT is
    * accepted and recorded as the coordinator node for parity. */
  private[mpp] val AttachDialect =
    """(?is)^\s*ATTACH\s+'([^']+)'\s+AS\s+(\w+)\s*\(\s*TYPE\s+mpp\s*(?:,\s*ENDPOINT\s+'([^']+)')?\s*\)\s*;?\s*$""".r
  private[mpp] val DetachDialect =
    """(?is)^\s*DETACH\s+(\w+)\s*;?\s*$""".r
  private[mpp] val UseDialect =
    """(?is)^\s*USE\s+(\w+)\s*;?\s*$""".r
  private val DmlVerbs = """(?:INSERT\s+INTO|UPDATE|DELETE\s+FROM|MERGE\s+INTO)"""
  /** INSERT/UPDATE/DELETE/MERGE, whatever the target's spelling: the
    * statements the engine lowers from Spark's parse (which names the
    * target) and answers with `Count BIGINT`. */
  private[mpp] val DmlVerb = ("""(?is)^\s*""" + DmlVerbs + """\s.*""").r
  /** A [[DmlVerb]] statement and its plain-word target, which decides
    * whether the parser intercepts it. */
  private[mpp] val DmlHead =
    ("""(?is)^\s*""" + DmlVerbs + """\s+((?:\w+\.){0,2}\w+)\b.*""").r
  private val DropHead =
    """(?is)^\s*DROP\s+TABLE(?:\s+IF\s+EXISTS)?\s+((?:\w+\.){0,2}\w+)\b.*""".r
  private val CreateHead =
    """(?is)^\s*CREATE\s+TABLE\s+((?:\w+\.){0,2}\w+)\b.*""".r
  /** Non-table creates the reference's mpp schema rejects
    * (mpp_schema_entry.cpp:72-128) — intercepted when they target an
    * attached mpp catalog (alias-qualified, or unqualified while one is
    * USE'd) so they fail with the reference's error instead of falling
    * through to the session catalog. */
  // TEMP/TEMPORARY entities are deliberately NOT matched: temp views/
  // functions live in the session's temporary catalog regardless of the
  // USE'd database (DuckDB semantics) — they must keep working while an
  // mpp catalog is active.
  private val CreateOtherHead =
    ("""(?is)^\s*CREATE\s+(?:OR\s+REPLACE\s+)?""" +
      """(?:VIEW|UNIQUE\s+INDEX|INDEX|SEQUENCE|TYPE|MACRO|FUNCTION|COLLATION)\s+""" +
      """(?:IF\s+NOT\s+EXISTS\s+)?((?:\w+\.){0,2}\w+)\b.*""").r
  /** CREATE INDEX names the INDEX, not the table — the mpp test must
    * key on the ON target, or an index on an attached-but-not-USE'd
    * mpp table would escape the parity rejection. */
  private val CreateIndexHead =
    ("""(?is)^\s*CREATE\s+(?:OR\s+REPLACE\s+)?(?:UNIQUE\s+)?INDEX\s+""" +
      """(?:IF\s+NOT\s+EXISTS\s+)?\w+\s+ON\s+((?:\w+\.){0,2}\w+)\b.*""").r

  /** True iff the statement belongs to the distributed dialect: the
    * CREATE suffix, ATTACH/DETACH/USE of an mpp catalog, or DML whose
    * (possibly catalog-qualified) target resolves to a distributed
    * table in ANY registered engine. */
  def intercepts(sql: String): Boolean = sql match {
    case CreateDialect() => true
    case CtasDialect() => true
    case AttachDialect(_, _, _) => true
    case DetachDialect(name) => MppEngine.registry.contains(name)
    case UseDialect(name) =>
      // `USE memory` restores the default catalog (reference
      // mpp.test:174); any registered alias activates that engine.
      MppEngine.registry.contains(name) ||
        (name.equalsIgnoreCase("memory") && MppEngine.registry.nonEmpty)
    case DmlHead(table) => MppEngine.resolve(table).isDefined
    case DropHead(table) => MppEngine.resolve(table).isDefined
    case CreateIndexHead(target) =>
      MppEngine.resolve(target).isDefined ||
        MppEngine.registry.contains(target.split("\\.")(0)) ||
        (!target.contains(".") && MppEngine.active.isDefined)
    case CreateOtherHead(name) =>
      MppEngine.registry.contains(name.split("\\.")(0)) ||
        (!name.contains(".") && MppEngine.active.isDefined)
    case _ => false
  }

  /** Engine a dialect statement routes to: the resolved target's owner
    * for DML, the alias prefix (or USE'd engine) for CREATE. */
  private[mpp] def route(sql: String): Option[MppEngine] = sql match {
    case DmlHead(table) => MppEngine.resolve(table).map(_._1)
    case DropHead(table) => MppEngine.resolve(table).map(_._1)
    case CreateHead(name) =>
      val head = name.split("\\.")(0)
      MppEngine.registry.get(head).orElse(MppEngine.current)
    // Alias-qualified non-table creates route to the named catalog even
    // without a USE — intercepts() accepted them on that basis, so
    // route() must resolve the same way (not fall back to a possibly
    // absent current engine).
    case CreateIndexHead(target) =>
      MppEngine.resolve(target).map(_._1)
        .orElse(MppEngine.registry.get(target.split("\\.")(0)))
        .orElse(MppEngine.current)
    case CreateOtherHead(name) =>
      MppEngine.registry.get(name.split("\\.")(0))
        .orElse(MppEngine.current)
    case _ => MppEngine.current
  }
}

/** Runnable command wrapping one dialect statement; executes through the
  * current [[MppEngine]] and returns its result rows.
  *
  * Output attributes are per-statement-kind, matching the reference's
  * typed results: DML (INSERT, UPDATE, DELETE, MERGE) produces
  * `Count BIGINT` (`mpp_physical_insert.cpp:215-221`,
  * `mpp_physical_update.cpp:104-111`), DDL/lifecycle statements a
  * `result STRING` — so `spark.sql("DELETE …")` through the injected
  * parser has the same schema as `engine.sql("DELETE …")`, not a
  * flattened string. */
final case class MppSqlCommand(sqlText: String) extends LeafRunnableCommand {

  private val isDml = MppParser.DmlVerb.matches(sqlText)

  override val output: Seq[Attribute] =
    if (isDml)
      Seq(AttributeReference("Count", org.apache.spark.sql.types.LongType,
        nullable = false)())
    else Seq(AttributeReference("result", StringType, nullable = true)())

  override def run(spark: SparkSession): Seq[Row] = {
    sqlText.trim match {
      case MppParser.AttachDialect(path, name, endpoint) =>
        // Reference lifecycle: ATTACH creates the catalog and registers
        // the coordinator endpoint (mpp_catalog.cpp:39-55). Warehouse ≡
        // attached database path. Many catalogs may be attached at
        // once; qualified references route by alias, unqualified ones
        // by the USE'd catalog (mpp.test:15-31).
        val e = new MppEngine(spark, path)
        e.attachedAs = Some(name)
        MppEngine.register(name, e)
        Option(endpoint).foreach { ep =>
          val Array(host, port) = ep.split(":", 2)
          e.masterAddNode(host, port.toInt)
        }
        Seq(Row(s"ATTACH $name"))
      case MppParser.DetachDialect(name) =>
        // Remove ONLY the named catalog.
        MppEngine.unregister(name)
        Seq(Row(s"DETACH $name"))
      case MppParser.UseDialect(name) =>
        // Unqualified references now resolve in this catalog;
        // `USE memory` restores the default catalog.
        MppEngine.active = Some(name).filter(MppEngine.registry.contains)
        Seq(Row(s"USE $name"))
      case other =>
        val engine = MppParser.route(other).getOrElse(
          throw new IllegalStateException("no active MppEngine"))
        // The statement's unqualified reads name the USE'd catalog's
        // tables, whichever engine owns its target.
        val rows = engine.runSql(sqlText, MppEngine.current).collect().toSeq
        // DML rows are already (Count BIGINT) — pass through typed;
        // anything else renders as the single result string.
        if (isDml) rows
        else rows.map(r => Row(r.toSeq.map(String.valueOf).mkString("|")))
    }
  }
}

