package graft.mpp

import org.apache.spark.sql.catalyst.analysis.{EliminateSubqueryAliases, UnresolvedIdentifier, UnresolvedRelation}
import org.apache.spark.sql.catalyst.parser.ParserInterface
import org.apache.spark.sql.catalyst.plans.logical.{DeleteFromTable, InsertIntoStatement, LogicalPlan, MergeIntoTable, UnresolvedWith, UpdateTable}
import org.apache.spark.sql.types.{BooleanType, IntegerType, LongType, StringType, StructField, StructType, TimestampType}

/** One statement of the engine's SQL surface, as [[MppDialect]]
  * recognized it: `engine.sql` runs it in its engine, and the injected
  * [[MppParser]] wraps it in an [[MppSqlCommand]]. */
sealed trait MppStatement {
  /** Result columns: the same through `engine.sql` and `spark.sql`. */
  def schema: StructType = MppStatement.ResultSchema
}

object MppStatement {
  val ResultSchema: StructType = StructType(Seq(StructField("result", StringType)))
  /** DML row count, as the reference's typed results
    * (`mpp_physical_insert.cpp:215-221`, `mpp_physical_update.cpp:104-111`). */
  val CountSchema: StructType = longs("Count")
  val OptimizeSchema: StructType = longs("buckets_compacted", "files_before")
  /** The reclaim/retain accounting, [[VacuumStats]]'s fields in order. */
  val VacuumSchema: StructType = longs("manifests_deleted", "files_deleted",
    "bytes_reclaimed", "archive_files_retained", "archive_bytes_retained",
    "wall_ms", "stray_live_files", "stray_live_bytes")
  val HistorySchema: StructType = StructType(Seq(
    StructField("version", LongType, nullable = false),
    StructField("committed_at", TimestampType),
    StructField("table_exists", BooleanType, nullable = false),
    StructField("data_files", IntegerType),
    StructField("data_bytes", LongType),
    StructField("changed_table", BooleanType, nullable = false)))
  private def longs(names: String*) =
    StructType(names.map(StructField(_, LongType, nullable = false)))

  /** A statement that runs in engine `on`: the owner of its target
    * table, or the engine its alias prefix or home names. `table` is
    * the engine-local key (a live table's own name once resolved). */
  sealed trait Owned extends MppStatement { def on: MppEngine }

  final case class CreateTable(on: MppEngine, table: String,
      columns: String, partitionColumn: String, buckets: Int) extends Owned
  final case class CreateAs(on: MppEngine, table: String,
      partitionColumn: String, buckets: Int, query: String) extends Owned
  /** INSERT/UPDATE/DELETE/MERGE as Spark parsed it; the CTEs of an
    * INSERT already moved into its source query. */
  final case class Dml(on: MppEngine, table: String, plan: LogicalPlan)
      extends Owned { override def schema: StructType = CountSchema }
  final case class DropTable(on: MppEngine, table: String) extends Owned
  final case class Optimize(on: MppEngine, table: String, sortBy: Seq[String],
      zorderBy: Seq[String]) extends Owned {
    override def schema: StructType = OptimizeSchema
  }
  final case class DescribeHistory(on: MppEngine, table: String)
      extends Owned { override def schema: StructType = HistorySchema }
  final case class Restore(on: MppEngine, table: String, version: Long)
      extends Owned
  final case class Vacuum(on: MppEngine, graceMs: Long) extends Owned {
    override def schema: StructType = VacuumSchema
  }
  final case class AddColumn(on: MppEngine, table: String, column: String,
      typeDdl: String, default: Option[String]) extends Owned
  final case class DropColumn(on: MppEngine, table: String, column: String)
      extends Owned
  final case class Rebucket(on: MppEngine, table: String, buckets: Int)
      extends Owned
  /** BEGIN, COMMIT or ROLLBACK. */
  final case class Transaction(on: MppEngine, verb: String) extends Owned
  /** `ATTACH 'path' AS alias (TYPE mpp[, ENDPOINT 'host:port'])`. */
  final case class Attach(path: String, alias: String,
      endpoint: Option[String]) extends MppStatement
  final case class Detach(alias: String) extends MppStatement
  /** `USE alias`; `USE memory` restores the default catalog. */
  final case class Use(alias: String) extends MppStatement
  /** A form the engine rejects with the reference's specific error. */
  final case class Unsupported(message: String) extends MppStatement
  /** Anything else, as Spark's grammar parsed it: no engine target. */
  final case class Parsed(plan: LogicalPlan) extends MppStatement
}

/** The engine's one SQL front end: `engine.sql` and the injected
  * [[MppParser]] both turn a statement's text into one [[MppStatement]]
  * here, with the reference's split (`mpp_parser_extension.cpp:13-96`).
  * The forms Spark's grammar cannot parse, or must not see on an engine
  * table, match one pattern table, each form once. Everything else is
  * parsed once by Spark's parser, and INSERT/UPDATE/DELETE/MERGE (also
  * under WITH) and DROP TABLE on an engine table are recognized on the
  * parsed tree. Targets resolve once, through [[MppEngine.resolve]]; a
  * form whose target names no live table, or that no engine owns, is
  * parsed like any other statement. */
object MppDialect {
  import MppStatement._

  /** A whole-statement pattern; `NAME` is a table name as written:
    * `t`, `schema.t`, `alias.t` or `alias.schema.t`. */
  private def re(p: String) =
    ("(?is)^" + p.replace("NAME", """((?:\w+\.){0,2}\w+)""") + "$").r
  private val Buckets = """PARTITION\s+BY\s*\(\s*(\w+)\s*\)\s*WITH\s+BUCKETS\s+(\d+)"""
  private val CreateRe = re("""CREATE\s+TABLE\s+NAME\s*\((.*)\)\s*""" + Buckets)
  /** CTAS: a capability superset (the reference rejects CREATE TABLE AS
    * on mpp catalogs, mpp_catalog.cpp:109-112). */
  private val CtasRe = re("""CREATE\s+TABLE\s+NAME\s+""" + Buckets + """\s+AS\s+(.*)""")
  private val OptimizeRe = re("""OPTIMIZE\s+NAME(?:\s+SORT\s+BY\s*\(([^)]*)\))?""" +
    """(?:\s+ZORDER\s+BY\s*\(([^)]*)\))?""")
  private val DescribeHistoryRe = re("""DESCRIBE\s+HISTORY\s+NAME""")
  private val RestoreRe = re("""RESTORE\s+TABLE\s+NAME\s+TO\s+VERSION\s+AS\s+OF\s+(\d+)""")
  /** `VACUUM [RETAIN n HOURS]`: the default grace (10 minutes) keeps
    * what an in-flight concurrent writer may still reference. */
  private val VacuumRe = re("""VACUUM(?:\s+RETAIN\s+(\d+)\s+HOURS)?""")
  private val AlterAddColRe = re("""ALTER\s+TABLE\s+NAME\s+ADD\s+COLUMN\s+(\w+)\s+""" +
    """(.+?)(?:\s+DEFAULT\s+(.+?))?""")
  private val AlterDropColRe = re("""ALTER\s+TABLE\s+NAME\s+DROP\s+COLUMN\s+(\w+)""")
  private val AlterRebucketRe = re("""ALTER\s+TABLE\s+NAME\s+REBUCKET\s+(\d+)""")
  private val AlterRe = re("""ALTER\s+TABLE\s+NAME\b.*""")
  private val TxnRe = re("""(BEGIN|COMMIT|ROLLBACK)(?:\s+TRANSACTION)?""")
  /** Reference entry point (`mpp_storage_extension.cpp:8-41`): the
    * attached path is the engine warehouse; ENDPOINT registers the
    * coordinator node. */
  private val AttachRe = re("""ATTACH\s+'([^']+)'\s+AS\s+(\w+)\s*\(\s*TYPE\s+mpp\s*""" +
    """(?:,\s*ENDPOINT\s+'([^']+)')?\s*\)""")
  private val DetachRe = re("""DETACH\s+(\w+)""")
  private val UseRe = re("""USE\s+(\w+)""")
  private val ConflictRe = re("""INSERT\s+INTO\s+NAME\b.*\bON\s+CONFLICT\b.*""")
  private val ReturningRe =
    re("""(INSERT\s+INTO|UPDATE|DELETE\s+FROM)\s+NAME\b.*\bRETURNING\b.*""")
  /** `WHEN NOT MATCHED BY SOURCE … THEN UPDATE SET *`: Spark's grammar
    * has no star in that action (no source row exists). */
  private val BySourceSetStarRe = re("""MERGE\s+INTO\s+NAME\b.*""" +
    """\bNOT\s+MATCHED\s+BY\s+SOURCE\b(?:(?!\bWHEN\b).)*\bTHEN\s+UPDATE\s+SET\s*\*.*""")
  /** Catalog-entry kinds the reference's mpp schema rejects
    * (mpp_schema_entry.cpp:72-128), with the entry's name and, for an
    * INDEX, its ON target. TEMP entities never match: they live in
    * the session's temporary catalog whatever catalog is USE'd. */
  private val CreateOtherRe = re("""CREATE\s+(?:OR\s+REPLACE\s+)?""" +
    """(VIEW|UNIQUE\s+INDEX|INDEX|SEQUENCE|TYPE|MACRO|FUNCTION|COLLATION)\s+""" +
    """(?:IF\s+NOT\s+EXISTS\s+)?NAME(?:\s+ON\s+NAME)?\b.*""")
  private val ExplainRe = re("""EXPLAIN\s+(.*)""")

  /** Recognize one statement with Spark's stock `parser`. `home` is the
    * engine whose `sql` got it; None under the injected parser, where
    * [[MppEngine.current]], the USE'd catalog, stands in. */
  def parse(text: String, parser: ParserInterface,
      home: Option[MppEngine]): MppStatement =
    dialect(text.trim.stripSuffix(";").trim, home)
      .getOrElse(statement(parser.parsePlan(text), home))

  private def dialect(s: String,
      home: Option[MppEngine]): Option[MppStatement] = {
    def owner = home.orElse(MppEngine.current)
    def live(ref: String) = MppEngine.resolve(ref, home)
    def aliased(ref: String) = ref.split("\\.").toSeq match {
      case a +: rest if rest.nonEmpty =>
        MppEngine.registry.get(a).map(_ -> rest.mkString("."))
      case _ => None
    }
    // The live table a name resolves to, else the name in the engine
    // its alias prefix or the owner names (where a missing one fails).
    def addressed(ref: String) =
      live(ref).orElse(aliased(ref)).orElse(owner.map(_ -> ref))
    def reject(ref: String, message: String) =
      live(ref).map(_ => Unsupported(message))
    s match {
      case CreateRe(ref, cols, pc, n) => addressed(ref).map {
        case (e, t) => CreateTable(e, t, cols, pc, n.toInt) }
      case CtasRe(ref, pc, n, query) => addressed(ref).map {
        case (e, t) => CreateAs(e, t, pc, n.toInt, query) }
      case OptimizeRe(ref, sortBy, zorderBy) =>
        def cols(c: String) = Option(c).toSeq.flatMap(MppEngine.splitTopLevel)
        addressed(ref).map { case (e, t) =>
          Optimize(e, t, cols(sortBy), cols(zorderBy)) }
      case DescribeHistoryRe(ref) => addressed(ref).map(DescribeHistory.tupled)
      case RestoreRe(ref, v) => addressed(ref).map {
        case (e, t) => Restore(e, t, v.toLong) }
      case VacuumRe(hours) => owner.map(Vacuum(_,
        Option(hours).fold(10 * 60 * 1000L)(_.toLong * 3600 * 1000L)))
      // Schema evolution is a capability superset: ADD/DROP COLUMN and
      // REBUCKET run; every other ALTER keeps the reference's rejection.
      case AlterAddColRe(ref, c, tpe, d) => live(ref).map {
        case (e, t) => AddColumn(e, t, c, tpe, Option(d)) }
      case AlterDropColRe(ref, c) => live(ref).map {
        case (e, t) => DropColumn(e, t, c) }
      case AlterRebucketRe(ref, n) => addressed(ref).map {
        case (e, t) => Rebucket(e, t, n.toInt) }
      case AlterRe(ref) => reject(ref,
        "ALTER is not implemented for MPP tables (reference parity: " +
          "MppSchemaEntry::Alter, mpp_schema_entry.cpp:158-160; ADD " +
          "COLUMN / DROP COLUMN are the supported evolution forms)")
      case TxnRe(verb) => owner.map(Transaction(_, verb.toUpperCase))
      case AttachRe(path, alias, endpoint) =>
        Some(Attach(path, alias, Option(endpoint)))
      case DetachRe(alias) =>
        Option.when(MppEngine.registry.contains(alias))(Detach(alias))
      case UseRe(alias) =>
        Option.when(MppEngine.registry.contains(alias) ||
          (alias.equalsIgnoreCase("memory") && MppEngine.registry.nonEmpty))(
          Use(alias))
      case ConflictRe(ref) => reject(ref,
        "Conflict action is not supported for MPP table! " +
          "(reference parity: mpp_plan_insert.cpp:16-18)")
      case ReturningRe(verb, ref) => reject(ref,
        verb.toUpperCase.take(6) match {
          case "INSERT" => "INSERT with RETURNING is not supported for " +
            "MPP table! (reference parity: mpp_plan_insert.cpp:13-15)"
          case "UPDATE" => "Does not support UPDATE with returning " +
            "(reference parity: mpp_plan_update.cpp:13-16)"
          case _ => "Does not support DELETE with returning " +
            "(reference parity: mpp_plan_delete.cpp)"
        })
      case BySourceSetStarRe(ref) => live(ref).map { case (_, t) =>
        Unsupported(s"MERGE INTO $t: WHEN NOT MATCHED BY SOURCE THEN " +
          "UPDATE SET * is not supported (no source row exists; list " +
          "the assignments)") }
      // Through `engine.sql` every non-table create lands on the mpp
      // schema; through the parser, one that targets an attached
      // catalog does: alias-qualified, or unqualified while one is USE'd.
      case CreateOtherRe(kind, name, onTarget) =>
        val ref = Option(onTarget).getOrElse(name)
        // The reference's entry point; a MACRO is a CreateFunction.
        val entry = kind.toUpperCase.split("\\s+").last match {
          case "MACRO" => "Function"
          case k => k.toLowerCase.capitalize
        }
        Option.when(home.isDefined || live(ref).isDefined ||
            aliased(ref).isDefined ||
            (!ref.contains(".") && MppEngine.active.isDefined))(
          Unsupported(s"MppSchemaEntry::Create$entry is not " +
            "implemented for MPP schemas (reference parity: " +
            "mpp_schema_entry.cpp:72-128)"))
      case ExplainRe(inner) => dialect(inner.trim, home).map(_ =>
        Unsupported("EXPLAIN is not supported for: " +
          inner.trim.takeWhile(!_.isWhitespace)))
      case _ => None
    }
  }

  /** Recognize a parsed plan: DML or DROP TABLE on an engine table, or
    * [[MppStatement.Parsed]]. */
  private[mpp] def statement(plan: LogicalPlan,
      home: Option[MppEngine]): MppStatement = {
    def on(parts: Seq[String], ctor: (MppEngine, String) => MppStatement) =
      MppEngine.resolve(parts.mkString("."), home)
        .fold[MppStatement](Parsed(plan))(ctor.tupled)
    def dml(rel: LogicalPlan) = EliminateSubqueryAliases(rel) match {
      case u: UnresolvedRelation => on(u.multipartIdentifier, Dml(_, _, plan))
      case _ => Parsed(plan)
    }
    plan match {
      case i: InsertIntoStatement => dml(i.table)
      case u: UpdateTable => dml(u.table)
      case d: DeleteFromTable => dml(d.table)
      case m: MergeIntoTable => dml(m.targetTable)
      case org.apache.spark.sql.catalyst.plans.logical.DropTable(
          UnresolvedIdentifier(parts, _), _, _) => on(parts, DropTable)
      // WITH … INSERT: the CTEs scope the source query. The other verbs
      // hand the engine expression text, which cannot carry them.
      case w: UnresolvedWith => statement(w.child, home) match {
        case Dml(e, t, i: InsertIntoStatement) =>
          Dml(e, t, i.copy(query = w.copy(child = i.query)))
        case Dml(_, t, p) =>
          val verb = p match {
            case _: UpdateTable => "UPDATE"
            case _: DeleteFromTable => "DELETE"
            case _ => "MERGE"
          }
          Unsupported(s"WITH … $verb on distributed table $t is not " +
            "supported: inline the common table expressions")
        case _ => Parsed(plan)
      }
      case _ => Parsed(plan)
    }
  }
}
