package graft.sources

import java.util

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.{NoSuchFunctionException, NoSuchTableException}
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference, BoundReference, Expression, GenericInternalRow, In, Literal, Murmur3HashFunction, Predicate => CatalystPredicate}
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.catalog.functions.{BoundFunction, ScalarFunction, UnboundFunction}
import org.apache.spark.sql.connector.expressions.{Expressions, NamedReference, Transform, Expression => V2Expression, Literal => V2Literal}
import org.apache.spark.sql.connector.expressions.filter.Predicate
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.read.partitioning.{KeyGroupedPartitioning, Partitioning}
import org.apache.spark.sql.execution.datasources.{FilePartition, InMemoryFileIndex, PartitionedFile}
import org.apache.spark.sql.execution.datasources.v2.FileScan
import org.apache.spark.sql.execution.datasources.v2.parquet.ParquetScanBuilder
import org.apache.spark.sql.internal.connector.SupportsPushDownCatalystFilters
import org.apache.spark.sql.types.{DataType, IntegerType, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import scala.jdk.CollectionConverters._

import graft.mpp.{BucketPruning, MppEngine, TableInfo}

/** DataSource V2 catalog exposing mpp distributed tables as
  * key-group-partitioned scans — co-located joins/aggregates IN PLACE.
  *
  * The engine's bucket layout IS hash placement: directory `bucket=i`
  * of table `t` holds exactly the rows with `pmod(murmur3(pc), n) = i`
  * (`MppEngine.insertInto`). The reference's data model implies
  * co-location but leaves it TODO (`/root/reference/README.md:104-120`).
  * This catalog delivers it with no re-clustering write: a V2 `Scan` reports
  * `KeyGroupedPartitioning(bucket(n, pc))` straight over the existing
  * bucket directories, so Spark's storage-partitioned-join machinery
  * (SPARK-37377) plans
  *
  *  - `groupBy(pc)` with partial+final aggregation and NO Exchange, and
  *  - joins of two equal-bucket-count tables on `pc` with NO Exchange
  *    on either side,
  *
  * because every task already owns one whole bucket of each side. At
  * 100 TB this deletes the dominant cost of a fact-fact join — the full
  * network shuffle — with zero extra storage.
  *
  * Parquet reading, filter pushdown, and column pruning all delegate to
  * Spark's own DSv2 parquet implementation; this file only re-groups
  * its planned file splits per bucket and reports the partitioning.
  */
final class GraftCatalog extends TableCatalog with FunctionCatalog {

  private var catalogName: String = _
  private var warehouse: String = _

  override def initialize(name: String,
      options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    warehouse = options.get("warehouse")
    require(warehouse != null,
      s"catalog $name needs option spark.sql.catalog.$name.warehouse")
  }

  override def name(): String = catalogName

  /** Engines self-register under their warehouse path; a catalog
    * configured for a warehouse no live engine owns gets a fresh engine
    * over the persisted metadata. */
  private def engine: MppEngine =
    MppEngine.registry.getOrElse(warehouse,
      new MppEngine(SparkSession.active, warehouse))

  private def keyOf(ident: Identifier): String =
    (ident.namespace :+ ident.name).mkString(".")

  override def listTables(namespace: Array[String]): Array[Identifier] =
    engine.catalog.state.tables.filterNot(_.deleted).map { t =>
      val parts = t.name.split("\\.")
      Identifier.of(parts.dropRight(1), parts.last)
    }.filter(_.namespace.sameElements(namespace)).toArray

  override def loadTable(ident: Identifier): Table = {
    val st = engine.catalog.state
    val t = st.liveTable(keyOf(ident))
      // `cat.main.t` reaches the default-schema table stored bare as `t`.
      .orElse(if (ident.namespace.sameElements(Array("main")))
        st.liveTable(ident.name) else None)
      .getOrElse(throw new NoSuchTableException(
        (catalogName +: ident.namespace :+ ident.name).toSeq))
    new ColocatedTable(SparkSession.active, t,
      s"$warehouse/data/${t.name}", () => engine)
  }

  /** `CREATE TABLE cat.t (…) PARTITIONED BY (bucket(n, c))` through
    * stock Spark SQL — the DSv2 spelling of the dialect's
    * `PARTITION BY (c) WITH BUCKETS n`. Delegates to the engine's D1
    * executor (same CAS-committed metadata, reserved-column and
    * schema-existence checks), so the two entry points create
    * identical tables; namespace `main`/empty is the default schema,
    * like [[loadTable]]. Column DEFAULTs remain dialect-only. */
  override def createTable(ident: Identifier, schema: StructType,
      partitions: Array[Transform],
      properties: util.Map[String, String]): Table = {
    // The engine's metadata has no property store: silently dropping
    // TBLPROPERTIES/LOCATION/comment would let a CREATE "succeed" while
    // losing what it specified. Reject anything beyond the entries
    // Spark itself injects (round-5 ADVICE).
    val sparkInjected = Set(TableCatalog.PROP_OWNER, TableCatalog.PROP_PROVIDER)
    val userProps =
      properties.asScala.keys.filterNot(sparkInjected).toSeq.sorted
    if (userProps.nonEmpty) throw new UnsupportedOperationException(
      "MPP tables do not store table properties/comment/location; " +
        s"unsupported: ${userProps.mkString(", ")}")
    val spec = partitions match {
      case Array(t) if t.name == "bucket" =>
        for {
          n <- t.arguments.collectFirst {
            case l: V2Literal[_] if l.dataType == IntegerType =>
              l.value.asInstanceOf[Int]
          }
          c <- t.arguments.collectFirst {
            case r: NamedReference => r.fieldNames.mkString(".")
          }
        } yield (c, n)
      case _ => None
    }
    val (col, n) = spec.getOrElse(throw new UnsupportedOperationException(
      "mpp tables are hash-distributed: use PARTITIONED BY " +
        "(bucket(n, col)) — or the engine dialect's CREATE TABLE t " +
        "(...) PARTITION BY (col) WITH BUCKETS n"))
    engine.createDistributedTable(storageKey(ident), schema.toDDL, col, n)
    loadTable(ident)
  }

  /** The engine-side name for an identifier: namespace `main` (or none)
    * is the default schema whose tables are stored bare. */
  private def storageKey(ident: Identifier): String =
    if (ident.namespace.isEmpty ||
      ident.namespace.sameElements(Array("main"))) ident.name
    else keyOf(ident)

  override def alterTable(ident: Identifier, changes: TableChange*): Table =
    throw new UnsupportedOperationException(
      "ALTER is not implemented for MPP tables (reference parity: " +
        "MppSchemaEntry::Alter, mpp_schema_entry.cpp:158-160)")

  /** `DROP TABLE cat.t` through stock Spark SQL: delegates to the
    * engine's drop (metadata mark + data removal + cache invalidation).
    * Returns false when the table does not exist, per the DSv2
    * contract (Spark turns that into NoSuchTableException / IF EXISTS
    * handling). */
  override def dropTable(ident: Identifier): Boolean = {
    val st = engine.catalog.state
    val key = Seq(keyOf(ident), storageKey(ident))
      .find(st.liveTable(_).isDefined)
    key match {
      case Some(k) => engine.dropTable(k); true
      case None => false
    }
  }

  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit =
    throw new UnsupportedOperationException(
      "RENAME is not implemented for MPP tables")

  // --- FunctionCatalog: lets V2ExpressionUtils resolve the `bucket`
  // transform this catalog's tables report ----------------------------

  override def loadFunction(ident: Identifier): UnboundFunction =
    if (ident.name == "bucket") GraftBucketFunction
    else throw new NoSuchFunctionException(ident)

  override def listFunctions(namespace: Array[String]): Array[Identifier] =
    Array(Identifier.of(Array.empty, "bucket"))

  override def functionExists(ident: Identifier): Boolean =
    ident.name == "bucket"
}

/** The engine's placement function as a V2 catalog function:
  * `bucket(n, col) = pmod(murmur3(col, seed=42), n)` — bit-identical to
  * the write side (`MppEngine.insertInto`: `pmod(hash(col), n)`), so the
  * partitioning a scan reports is exactly the layout on disk. Both sides
  * of a storage-partitioned join must bind to the same `canonicalName`. */
object GraftBucketFunction extends UnboundFunction {
  override def name(): String = "bucket"
  override def description(): String =
    "bucket(n, col): pmod(murmur3(col, seed=42), n) — mpp shard placement"
  override def bind(inputType: StructType): BoundFunction = {
    require(inputType.length == 2,
      s"bucket expects (numBuckets, column), got $inputType")
    GraftBucketBound(inputType(1).dataType)
  }
}

final case class GraftBucketBound(keyType: DataType)
    extends ScalarFunction[Integer] {
  override def inputTypes(): Array[DataType] = Array(IntegerType, keyType)
  override def resultType(): DataType = IntegerType
  override def name(): String = "bucket"
  override def canonicalName(): String =
    s"graft.bucket(murmur3_pmod, ${keyType.catalogString})"
  override def isResultNullable: Boolean = false
  override def produceResult(input: InternalRow): Integer = {
    val n = input.getInt(0)
    // A null key hashes to the seed itself (Spark skips null inputs) —
    // the deterministic null bucket, same as BucketPruning.bucketOf.
    val h = Murmur3HashFunction.hash(input.get(1, keyType), keyType, 42).toInt
    ((h % n) + n) % n
  }
}

/** One mpp table as a V2 table reporting its bucket transform.
  *
  * Reads are key-group-partitioned scans ([[ColocatedScanBuilder]]).
  * This is the ONLY scan of an mpp table: the engine's own reads
  * ([[MppEngine.table]], the relations of engine SQL and every DML
  * scan) are frames
  * over this same table, built without a catalog, so they skip the
  * key grouping and run bytes-proportional splits instead.
  * Writes delegate wholesale to the engine's distributed INSERT
  * ([[MppEngine.insertInto]]: hash shuffle into `bucket=i`, NOT NULL
  * enforcement, observed-metrics row count) through the V1-write
  * bridge — `INSERT INTO cat.t SELECT …` works on the stock SQL
  * surface without a second write implementation to keep bit-identical
  * with the dialect path. `DELETE FROM cat.t [WHERE …]` rides
  * `SupportsDeleteV2`: the translated condition delegates to the
  * engine's COW delete ([[MppEngine.delete]] — bucket-pruned,
  * match-pruned, atomically swapped), and an unconditional DELETE takes
  * the engine's truncate fast path. UPDATE is bridged by
  * [[Dsv2UpdateRule]] (see [[Dsv2RowLevelDml]]). DDL (CREATE/DROP/
  * ALTER) stays on the engine dialect, mirroring the reference where
  * only the coordinator mutates schema (`mpp_schema_entry.cpp:72-128`). */
final class ColocatedTable(spark: SparkSession, t: TableInfo, root: String,
    engine: () => MppEngine, relayProbed: Boolean = false)
    extends Table with SupportsRead with SupportsWrite with SupportsDeleteV2
    with SupportsMetadataColumns {

  override def name(): String = t.name

  /** Hidden until referenced, per the metadata-column contract:
    * `rowid`, the manifest-backed id ([[MppEngine.rowidBases]]) that
    * `SELECT rowid, … FROM cat.t` and [[MppEngine.tableWithRowid]]
    * both project, and `bucket`, the shard id the engine's DML scans
    * read and filter on. */
  override def metadataColumns(): Array[MetadataColumn] =
    Array(RowidMetadataColumn, BucketMetadataColumn)

  /** Owning engine, for the row-level DML bridge. */
  private[graft] def owner: MppEngine = engine()

  /** Hash-partition column, for the MERGE bridge's ON validation. */
  private[graft] def partitionColumn: String = t.partitionColumn

  /** User schema with the engine's column defaults as the standard
    * `CURRENT_DEFAULT`/`EXISTS_DEFAULT` field metadata
    * ([[MppEngine.userSchema]]), so stock analysis resolves `DEFAULT`
    * in catalog-path INSERT/UPDATE statements to the ENGINE's default
    * expression (reference `mpp_physical_insert.cpp:150-181`), not a
    * null literal. */
  override val schema: StructType = engine().userSchema(t)

  override def canDeleteWhere(predicates: Array[Predicate]): Boolean =
    predicates.forall(p => PredicateSql.translate(p).isDefined)

  /** COW delete of the rows matching ALL predicates (Spark passes the
    * split conjuncts). An empty array is Spark's spelling of
    * "everything" — routed to the truncate fast path. */
  override def deleteWhere(predicates: Array[Predicate]): Unit = {
    val conds = predicates.toSeq.map(p => PredicateSql.translate(p)
      .getOrElse(throw new UnsupportedOperationException(
        s"cannot delete where: untranslatable predicate $p")))
    if (conds.isEmpty) engine().delete(t.name, None)
    else engine().delete(t.name, Some(conds.map(c => s"($c)").mkString(" AND ")))
    ()
  }

  /** Unconditional `DELETE FROM cat.t`: the engine's no-rewrite
    * truncate (count, drop every bucket dir) instead of a COW pass. */
  override def truncateTable(): Boolean = {
    engine().delete(t.name, None)
    true
  }

  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ,
      TableCapability.V1_BATCH_WRITE)

  override def partitioning(): Array[Transform] =
    Array(Expressions.bucket(t.buckets, t.partitionColumn))

  override def newScanBuilder(
      options: CaseInsensitiveStringMap): ScanBuilder =
    new ColocatedScanBuilder(spark, t, root, schema, engine, relayProbed)

  override def newWriteBuilder(
      info: org.apache.spark.sql.connector.write.LogicalWriteInfo)
      : org.apache.spark.sql.connector.write.WriteBuilder =
    new org.apache.spark.sql.connector.write.WriteBuilder {
      override def build(): org.apache.spark.sql.connector.write.Write =
        new org.apache.spark.sql.connector.write.V1Write {
          override def toInsertableRelation
              : org.apache.spark.sql.sources.InsertableRelation =
            (data: org.apache.spark.sql.DataFrame, overwrite: Boolean) => {
              // Spark rejects INSERT OVERWRITE at analysis (no truncate
              // capability); defensive guard for direct API callers.
              if (overwrite) throw new UnsupportedOperationException(
                "INSERT OVERWRITE is not supported for MPP tables; " +
                  "use the dialect's DELETE + INSERT")
              engine().insertInto(t.name, data)
              ()
            }
        }
    }
}

/** Delegates pushdown (columns, filters) to Spark's own parquet scan
  * builder over the bucket directories, then wraps the built scan so it
  * reports key-grouped partitioning. Shard pruning runs on the pushed
  * filters, the reference's optimize-time pruning
  * (`/root/reference/src/function/mpp_table_scan.cpp:68-143`): a
  * conjunct on the partition column admits the buckets its constants
  * hash into ([[BucketPruning.bucketsFor]]), so a point lookup
  * schedules ONE bucket, and a conjunct on the `bucket` column alone
  * (the engine's DML scans name their buckets that way) admits exactly
  * the bucket ids it holds for. The surviving set also reaches the
  * delegate as a filter on the `bucket` directory column, so pruned
  * directories are never listed, split or zone-checked. */
final class ColocatedScanBuilder(spark: SparkSession, t: TableInfo,
    root: String, userSchema: StructType, engine: () => MppEngine,
    relayProbed: Boolean)
    extends ScanBuilder with SupportsPushDownRequiredColumns
    with SupportsPushDownCatalystFilters {

  private val fullSchema = StructType(userSchema.fields :+
    org.apache.spark.sql.types.StructField(BucketPruning.BucketCol,
      IntegerType))

  private def mkInner() = {
    // Manifest-pointer cache key + manifest-diff incremental
    // invalidation (see ColocatedFileIndex.get).
    val e = engine()
    ParquetScanBuilder(spark,
      e.listingCache.get(spark, root, fullSchema, e.listingVersionKey(t),
        t.buckets, e.manifestDirDiff, relayProbed),
      fullSchema, userSchema, CaseInsensitiveStringMap.empty())
  }

  private var inner = mkInner()

  /** Bucket set statically implied by the pushed filters; None = all. */
  private var prunedBuckets: Option[Set[Int]] = None

  /** Pushed conjuncts that name a data column — evaluated against
    * per-file zone maps at planning time ([[ZoneMaps]]). */
  private var pushedConjuncts: Seq[Expression] = Nil

  /** Schema pruning asked for the `rowid` metadata column: remember the
    * exact requested schema (readSchema must echo it) and prune the
    * delegate to the DATA fields only. */
  private var rowidSchema: Option[StructType] = None

  override def pruneColumns(requiredSchema: StructType): Unit =
    if (requiredSchema.fieldNames.contains(RowidMetadataColumn.name)) {
      rowidSchema = Some(requiredSchema)
      // Rebuild the delegate WITHOUT pushed filters: the rowid reader
      // derives the row index by counting rows emitted per file, which
      // is only the true physical index when parquet cannot skip row
      // groups/pages. Sound: ParquetScanBuilder returns every data
      // filter as a post-scan filter (parquet pushdown is best-effort),
      // so Spark re-applies them above the scan, and RowidScan drops
      // the pruned buckets itself — dropping the pushdown costs I/O
      // on a rowid scan, never rows.
      inner = mkInner()
      inner.pruneColumns(StructType(requiredSchema.fields
        .filterNot(_.name == RowidMetadataColumn.name)))
    } else inner.pruneColumns(requiredSchema)

  private def onBucketColOnly(c: Expression): Boolean =
    c.references.nonEmpty &&
      c.references.forall(_.name == BucketPruning.BucketCol)

  /** Buckets one conjunct admits; None = cannot tell (all). */
  private def bucketsOf(c: Expression): Option[Set[Int]] =
    if (onBucketColOnly(c)) {
      val p = CatalystPredicate.createInterpreted(c.transform {
        case a: Attribute if a.name == BucketPruning.BucketCol =>
          BoundReference(0, IntegerType, nullable = true)
      })
      Some((0 until t.buckets).filter(b => p.eval(InternalRow(b))).toSet)
    } else c.references.collectFirst {
      case a: Attribute if a.name == t.partitionColumn =>
        BucketPruning.bucketsFor(c, a, t.buckets)
    }.flatten

  override def pushFilters(filters: Seq[Expression]): Seq[Expression] = {
    pushedConjuncts = filters.filterNot(onBucketColOnly)
    // Pruning analysis runs over the full incoming conjunct list (not just
    // the parquet-pushable subset): bucketsFor only derives an implied
    // bucket set, so a filter the scan cannot push is still safe to prune by.
    prunedBuckets = filters.flatMap(bucketsOf).reduceOption(_ intersect _)
    val dirFilter = prunedBuckets.filter(_.size < t.buckets).map(ids =>
      In(AttributeReference(BucketPruning.BucketCol, IntegerType)(),
        ids.toSeq.sorted.map(Literal(_))))
    inner.pushFilters(filters ++ dirFilter)
  }

  override def pushedFilters: Array[Predicate] = inner.pushedFilters

  override def build(): Scan = rowidSchema match {
    case Some(out) =>
      val bases = engine().rowidBases(t)
        .map { case (b, f, base) => (b, f) -> base }.toMap
      new RowidScan(inner.build(), out, bases, prunedBuckets)
    case None =>
      val zoneConjuncts =
        if (spark.conf.get(ZoneMaps.EnabledConf, "true").toBoolean)
          pushedConjuncts
        else Nil
      new ColocatedScan(spark, inner.build(), t.partitionColumn, t.buckets,
        prunedBuckets, zoneConjuncts, spark.sessionState.newHadoopConf())
  }
}

/** Listing cache for the co-located read path, one per engine (its
  * `listingCache`): re-listing every file of every bucket
  * on every query is the kind of per-query cost that stays invisible at
  * test scale and dominates planning at 100 TB (Iceberg/Delta cache
  * snapshot listings for the same reason).
  *
  * An entry is keyed by the table's committed MANIFEST POINTER, which
  * every table has from CREATE on: a validity token that advances on
  * every committed statement and needs ZERO filesystem RPCs to check,
  * so the cache works on any scheme, object stores included. Measured
  * on an 8192-bucket / 65k-file table over a latency-counting FS, a
  * pruned point read that re-lists pays 8,193 listStatus + 73,748
  * getFileStatus, and ~0 with the key (BASELINE §24).
  *
  * Rebuilds are DIRECTORY-INCREMENTAL: the index is constructed over
  * the bucket dirs as root paths with a per-root FileStatusCache, and
  * on a key rotation `dirDiff(oldKey, newKey)` — the engine diffs the
  * two manifests' file lists, so it is correct for PEER commits from
  * other JVMs too — names exactly the dirs whose entries drop. A 1-key
  * COW commit then re-lists 1 bucket dir, not 8192 (None = unknown →
  * all drop; measured §24).
  *
  * Semantics: the index serves exactly the state as of the manifest it
  * is keyed by; a peer's commit changes the pointer (refresh-on-read
  * delivers it) and invalidates — the snapshot-pointer idiom every
  * lakehouse file catalog uses. Uncommitted in-flight files stay
  * invisible until their commit.
  *
  * Entries are keyed by table root, so the cache belongs to the engine
  * that owns those roots: two engines on two warehouses never share or
  * invalidate each other's entries. */
final class ColocatedFileIndex {
  import ColocatedFileIndex._

  private val cache = scala.collection.concurrent.TrieMap
    .empty[String, (String, InMemoryFileIndex)]

  /** Per-root directory-granular file-status caches: entry = bucket dir
    * → its files. Survives key rotation so a rebuild re-lists only
    * invalidated dirs. */
  private val dirCaches = scala.collection.concurrent.TrieMap
    .empty[String, org.apache.spark.sql.GraftSqlBridge.GraftFileStatusCache]

  /** The index of `root` as of manifest `versionKey`. `relayProbed`:
    * the caller probed the relay marker itself while building the
    * scan's frame (the engine does, to pin a mid-relay read). */
  def get(spark: SparkSession, root: String, schema: StructType,
      versionKey: String, buckets: Int,
      dirDiff: (String, String) => Option[Seq[String]],
      relayProbed: Boolean = false): InMemoryFileIndex = {
    val p = new Path(root)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    val prev = cache.get(root)
    val hit = prev.collect { case (k, idx) if k == versionKey => idx }
    // One marker probe per scan assembly, HITS INCLUDED: a relay
    // renames files away without advancing the manifest pointer, so a
    // warm hit would serve paths mid-rename. The read would fail
    // either way (files only move, never mutate — no silent wrong
    // data), but the typed relay error beats a task-level
    // FileNotFound. A `relayProbed` hit skips it: that caller already
    // paid the probe, and only the error's wording is at stake. A
    // miss always probes: its listing would see half-moved dirs.
    if (!(relayProbed && hit.isDefined) &&
        fs.exists(new Path(p, RelayMarker))) failRelay(root)
    hit.getOrElse {
      val dc = dirCaches.getOrElseUpdate(root,
        new org.apache.spark.sql.GraftSqlBridge.GraftFileStatusCache)
      // FULLY QUALIFIED paths throughout — cache keys, invalidation
      // keys, root paths AND basePath: partition inference compares
      // leaf-dir parents against basePath by Path equality, and an
      // unqualified "scheme:/x" vs a qualified "scheme:///x" SILENTLY
      // yields an empty partition spec — no bucket column, no pruning
      // (a point read then footer-read all 68k files); an unqualified
      // INVALIDATION key likewise silently no-ops against qualified
      // entries and stale listings serve swapped-away files.
      val qp = fs.makeQualified(p)
      prev match {
        case Some((oldK, _)) =>
          dirDiff(oldK, versionKey) match {
            case Some(dirs) => dirs.foreach(d =>
              dc.invalidate(new Path(qp, d)))
            case None => dc.invalidateAll() // unknown: list all
          }
        case None =>
          // First build, or after a clear: the dir cache's provenance
          // is unknown — safe only if everything re-lists.
          dc.invalidateAll()
      }
      put(root, versionKey, index(spark, qp, schema, buckets, dc))
    }
  }

  /** Drop a table's cached listing (DROP TABLE, REBUCKET, RESTORE, a
    * VACUUM that swept live files). */
  def invalidate(root: String): Unit = {
    cache.remove(root)
    dirCaches.remove(root)
    ()
  }

  /** Advance a table's cache entry in place after a commit whose added
    * files the caller already knows (the INSERT publish loop holds
    * every staged status it renames): append the statuses to the
    * per-dir cache and rebuild the index from it under the new key —
    * ZERO listing RPCs, where even the directory-incremental rebuild
    * re-lists every touched dir (a high-k INSERT touches ~all of them:
    * measured 12.2k of a 1k-row INSERT's 22.6k FileSystem ops were
    * exactly this re-listing).
    *
    * Sound only when the cached entry is keyed by `expectedBase` (the
    * manifest this statement's commit composed against): a peer commit
    * interleaving between our base and our publish means the cached
    * listing may miss the peer's files — return false and let the next
    * read's rebuild (manifest-diff-driven) handle it. Dirs the cache
    * never listed stay absent and re-list lazily on the rebuild this
    * call performs. */
  def advance(spark: SparkSession, root: String, schema: StructType,
      expectedBase: String, newKey: String, buckets: Int,
      added: Seq[AddedFile]): Boolean = {
    if (!cache.get(root).exists(_._1 == expectedBase)) return false
    val dc = dirCaches.getOrElse(root, return false)
    val p = new Path(root)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    // A relay marker here means a REBUCKET started AFTER our commit
    // already succeeded (advance runs post-commit): throwing would make
    // a COMMITTED statement surface as a failure — inviting a retry
    // that duplicates rows — so the rotation is merely REFUSED: drop
    // the cached entry and let the next read's rebuild path see the
    // marker and report the relay.
    if (fs.exists(new Path(p, RelayMarker))) { invalidate(root); return false }
    val qp = fs.makeQualified(p)
    added.groupBy(_.dir).foreach { case (dir, files) =>
      val dp = new Path(qp, dir)
      dc.getLeafFiles(dp) match {
        case Some(existing) =>
          // Dedupe by name: a concurrent same-JVM reader that saw the
          // new manifest pointer may have re-listed this dir (already
          // containing the just-renamed file) into the shared per-dir
          // cache between our key check and here — a plain append
          // would then double-count the file's rows silently.
          val names = files.iterator.map(_.name).toSet
          val sts = files.map(f => new org.apache.hadoop.fs.FileStatus(
            f.len, false, 1, f.blockSize, f.mtimeMs,
            new Path(dp, f.name))).toArray
          dc.putLeafFiles(dp,
            existing.filterNot(e => names.contains(e.getPath.getName)) ++ sts)
        case None => () // never listed: the rebuild lists it lazily
      }
    }
    put(root, newKey, index(spark, qp, schema, buckets, dc))
    true
  }

  /** The index over the table's `buckets` dirs under the qualified
    * root `qp`, served from (and filling) the per-dir cache `dc`. */
  private def index(spark: SparkSession, qp: Path, schema: StructType,
      buckets: Int,
      dc: org.apache.spark.sql.GraftSqlBridge.GraftFileStatusCache)
      : InMemoryFileIndex = {
    val roots = (0 until buckets)
      .map(i => new Path(qp, s"${BucketPruning.BucketCol}=$i"))
    val idx = org.apache.spark.sql.GraftSqlBridge.fileIndex(
      spark, roots, Map("basePath" -> qp.toString), Some(schema), dc)
    // Negative-cache dirs the listing found absent, or every rebuild
    // re-probes each missing bucket dir.
    roots.foreach(r =>
      if (dc.getLeafFiles(r).isEmpty) dc.putLeafFiles(r, Array.empty))
    // Inference-failure guard: files present but no bucket partition
    // column means every downstream layer silently loses pruning AND
    // reads bucket as null — fail loudly.
    if (idx.partitionSpec().partitionColumns.isEmpty &&
        idx.allFiles().nonEmpty)
      throw new IllegalStateException(
        s"$qp: bucket partition inference failed on the " +
          "version-keyed listing (basePath mismatch?)")
    idx
  }

  /** Bound the cache: DROP invalidates its table and DETACH drops the
    * engine with its cache, but a table a PEER engine dropped is never
    * hit again and never invalidated here, so a hard cap with full
    * reset is kept — the next queries re-warm it. */
  private def put(root: String, key: String,
      idx: InMemoryFileIndex): InMemoryFileIndex = {
    cache.put(root, (key, idx))
    if (cache.size > MaxEntries) cache.clear()
    idx
  }
}

object ColocatedFileIndex {

  /** Cached tables per engine before the cache resets. */
  private val MaxEntries = 256

  /** REBUCKET relay marker (see MppEngine's relay handling): while it
    * sits in a table's data root, the live bucket layout is mid-relay
    * (or a relay crashed before its catalog commit) and direct live
    * scans can double/zero-count rows or prune under a stale modulus.
    * The engine checks for the marker before it builds a frame and
    * then reads the last committed manifest instead; a scan planned
    * off the raw dirs while the marker is up (a catalog read, or an
    * engine frame or view built before the relay began) has no
    * manifest to pin to, so it fails LOUDLY instead. */
  val RelayMarker = ".rebucket.json"

  private def failRelay(root: String): Nothing =
    throw new IllegalStateException(
      s"$root: a REBUCKET relay is in flight (or crashed mid-relay) — " +
        "direct bucket-directory scans are disabled. Read through the " +
        "mpp engine (it pins to the last committed version), wait for " +
        "the relay to finish, or recover with RESTORE TABLE … TO " +
        "VERSION AS OF <version>.")

  /** One published data file, as the INSERT publish path knows it —
    * enough to reconstruct the FileStatus a re-listing would return
    * (length/blockSize ride the staged status; rename preserves them
    * everywhere, and mtime on real filesystems — an S3A copy-rename
    * may refresh mtime, which at worst costs a zone-map footer
    * re-read, never correctness). */
  final case class AddedFile(dir: String, name: String, len: Long,
      blockSize: Long, mtimeMs: Long)
}

/** Wraps the delegate parquet scan: re-packs its planned file splits so
  * that every [[InputPartition]] holds files of ONE (surviving) bucket
  * and carries that bucket id as its partition key, and reports
  * `KeyGroupedPartitioning(bucket(n, pc))`.
  *
  * Inside a bucket the splits are packed bytes-proportionally, at the
  * delegate's own split size, so a fat bucket becomes several tasks
  * rather than one straggler (the narrow COW rewrite plans its scan at
  * `MppEngine.CowMaxPartitionBytes` for exactly this). Spark only
  * honours the reported partitioning when it can resolve `bucket(n, c)`
  * through a function catalog ([[GraftCatalog]]): it then groups the
  * splits of each key into one task and, with
  * `spark.sql.sources.v2.bucketing.enabled`, plans joins/aggregations
  * on the partition column without any Exchange. An engine frame has
  * no function catalog, reports no key-grouped partitioning, and runs
  * each split as its own task.
  *
  * Beyond the static pruning computed at pushdown time, the scan
  * accepts RUNTIME filters on the partition column
  * ([[SupportsRuntimeV2Filtering]]): for `fact ⋈ dim WHERE
  * dim.selective` — the most common query shape at scale — Spark's
  * dynamic partition pruning hands the dim side's join-key values to
  * `filter()` as an IN predicate before the fact scan executes, and the
  * scan drops every bucket those values cannot hash into. This is the
  * reference's shard-pruning story (S5-S8,
  * `/root/reference/src/function/mpp_table_scan.cpp:68-143`) applied to
  * the join-driven case its compile-time version cannot see: the
  * reference never dispatches to a pruned shard; this scan never reads
  * one. Statistics forward to the delegate file scan so small mpp dims
  * plan as broadcast — which is exactly the shape whose reused
  * broadcast feeds the DPP subquery. */
final class ColocatedScan(spark: SparkSession, private val delegate: FileScan,
    partCol: String, buckets: Int, pruned: Option[Set[Int]],
    private val zoneConjuncts: Seq[Expression],
    hadoopConf: org.apache.hadoop.conf.Configuration)
    extends Scan with Batch
    with SupportsReportPartitioning with SupportsReportStatistics
    with SupportsRuntimeV2Filtering {

  private val emitted: Seq[Int] =
    pruned.map(_.toSeq.sorted)
      .getOrElse(0 until buckets)

  /** EXPLAIN parity with the reference's scan annotation
    * (`mpp_table_scan.cpp:373-380`, asserted by
    * `test/sql/mpp_filter.test:61-87`): buckets left after static
    * pruning, out of the table's bucket count. */
  def shards: String = s"Shards: ${emitted.size}/$buckets"

  /** Buckets surviving runtime (DPP) filters; None until `filter()` is
    * called with a predicate we can derive a bucket set from. Written
    * once on the driver before `planInputPartitions` re-runs. */
  @volatile private var runtimeSurvivors: Option[Set[Int]] = None

  /** Spec hook: the runtime-pruned bucket set, if any. */
  def runtimeFilteredBuckets: Option[Set[Int]] = runtimeSurvivors

  override def readSchema(): StructType = delegate.readSchema()

  override def description(): String =
    s"ColocatedScan(bucket($buckets, $partCol), " +
      s"shards ${emitted.size}/$buckets, " +
      (if (zoneConjuncts.nonEmpty) "zonemap on, " else "") +
      s"${delegate.description()})"

  override def toBatch: Batch = this

  /** Equal when the delegates are (same file index, schema and pushed
    * filters — which fix the pruned buckets and the zone conjuncts too)
    * and zone maps are on for both. Spark compares scans to reuse an
    * exchange across identical subtrees, such as the two copies of a
    * join the optimizer makes when it pushes the join through a union;
    * without equality each copy runs its own scan and shuffle. */
  override def equals(o: Any): Boolean = o match {
    case c: ColocatedScan => delegate == c.delegate &&
      zoneConjuncts.isEmpty == c.zoneConjuncts.isEmpty
    case _ => false
  }

  override def hashCode(): Int = delegate.hashCode()

  override def estimateStatistics(): Statistics = delegate.estimateStatistics()

  override def outputPartitioning(): Partitioning =
    new KeyGroupedPartitioning(
      Array(Expressions.bucket(buckets, partCol)), emitted.size)

  /** The partition column, when the scan reads it: Spark resolves
    * these against the scan's output before it plans any dynamic
    * pruning, and fails the query on a name the output lacks. */
  override def filterAttributes(): Array[NamedReference] =
    if (readSchema().fieldNames.exists(_.equalsIgnoreCase(partCol)))
      Array(Expressions.column(partCol))
    else Array.empty

  /** Runtime bucket pruning: intersect the bucket sets implied by each
    * IN / equality predicate on the partition column. Predicates we
    * cannot interpret are ignored — pruning is only ever an optimization
    * over a correct superset (same contract as [[BucketPruning]]). */
  override def filter(predicates: Array[Predicate]): Unit = {
    val sets = predicates.flatMap(bucketsImpliedBy)
    if (sets.nonEmpty) {
      val s = sets.reduce(_ intersect _)
      runtimeSurvivors = Some(runtimeSurvivors.fold(s)(_ intersect s))
    }
  }

  private def isPartCol(e: V2Expression): Boolean = e match {
    case r: NamedReference =>
      r.fieldNames.length == 1 && r.fieldNames()(0).equalsIgnoreCase(partCol)
    case _ => false
  }

  private def bucketsImpliedBy(p: Predicate): Option[Set[Int]] = {
    def ofLit(e: V2Expression): Option[Int] = e match {
      case l: V2Literal[_] =>
        Some(BucketPruning.bucketOf(l.value, l.dataType, buckets))
      case _ => None
    }
    p.name() match {
      // DPP translates the subquery's collected values to
      // IN(col, lit…) — DataSourceV2Strategy.translateRuntimeFilterV2.
      case "IN" if p.children().nonEmpty && isPartCol(p.children()(0)) =>
        val lits = p.children().drop(1).map(ofLit)
        if (lits.forall(_.isDefined)) Some(lits.flatten.toSet) else None
      case "=" | "<=>" if p.children().length == 2 =>
        p.children() match {
          case Array(c, l) if isPartCol(c) => ofLit(l).map(Set(_))
          case Array(l, c) if isPartCol(c) => ofLit(l).map(Set(_))
          case _ => None
        }
      case _ => None
    }
  }

  private val BucketDirRe =
    (".*/" + BucketPruning.BucketCol + "=(\\d+)/.*").r

  private def bucketOf(f: PartitionedFile): Int = f.filePath.toString match {
    case BucketDirRe(b) => b.toInt
    case p => throw new IllegalStateException(s"file outside bucket layout: $p")
  }

  /** Spec hooks: (files kept, files total) after the last zone-map
    * pass; None until [[planInputPartitions]] has run with conjuncts. */
  @volatile private var zoneCounts: Option[(Int, Int)] = None
  def zonePrunedFiles: Option[(Int, Int)] = zoneCounts

  /** Planning-time file elimination by footer zone maps: keep a split
    * only if every pushed conjunct might match its file ([[ZoneMaps]]
    * errs to true on anything it cannot bound). Distinct-path counting
    * because one file can arrive as several splits. Footer reads are
    * the cold-cache cost here and they are blocking I/O on the planner
    * thread, so they fan out over a bounded parallel stream (the
    * footer cache is thread-safe; warm listings stay in-memory
    * lookups). */
  private def zoneFilter(
      files: Seq[PartitionedFile]): Seq[PartitionedFile] = {
    if (zoneConjuncts.isEmpty) return files
    val keep = new java.util.concurrent.ConcurrentHashMap[String, Boolean]
    files.groupBy(_.filePath.toString).values.map(_.head).toSeq
      .asJava.parallelStream.forEach { f =>
        keep.put(f.filePath.toString, zoneConjuncts.forall(c =>
          ZoneMaps.mightMatch(c, ZoneMaps.zonesFor(hadoopConf,
            f.filePath.toString, f.modificationTime, f.fileSize))))
      }
    zoneCounts = Some((keep.values.asScala.count(identity), keep.size))
    files.filter(f => keep.getOrDefault(f.filePath.toString, true))
  }

  override def planInputPartitions(): Array[InputPartition] = {
    val splits = delegate.toBatch.planInputPartitions().toSeq.flatMap {
      case fp: FilePartition => fp.files.toSeq
      case other => throw new IllegalStateException(
        s"unexpected partition from parquet scan: $other")
    }
    // The delegate's split size, recomputed over the files it split:
    // packing inside a bucket must not exceed what the delegate packs.
    val openCost = spark.sessionState.conf.filesOpenCostInBytes
    val maxSplit = FilePartition.maxSplitBytes(spark,
      splits.groupBy(_.filePath).values.map(_.head.fileSize + openCost).sum)
    // Runtime-pruned buckets are dropped entirely; BatchScanExec
    // re-aligns the key-grouped partitioning with empty groups for the
    // missing partition values (a subset is the supported shape).
    val live = runtimeSurvivors match {
      case Some(rs) => emitted.filter(rs.contains)
      case None => emitted
    }
    val liveSet = live.toSet
    val byBucket = zoneFilter(splits.filter(f => liveSet(bucketOf(f))))
      .groupBy(bucketOf)
    // Every surviving bucket yields at least one partition — an empty
    // one when no file survives — so two tables' partition keys always
    // align for the join planner.
    live.flatMap { b =>
      val parts = byBucket.get(b).fold(Seq(FilePartition(0,
        Array.empty[PartitionedFile]))) { fs =>
        FilePartition.getFilePartitions(spark, fs.sortBy(-_.length), maxSplit)
      }
      parts.map(BucketInputPartition(b, _))
    }.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    UnwrapReaderFactory(delegate.toBatch.createReaderFactory())
}

/** A bucket-pure group of file splits, keyed by its bucket id. */
final case class BucketInputPartition(bucket: Int, files: FilePartition)
    extends InputPartition with HasPartitionKey {
  override def partitionKey(): InternalRow =
    new GenericInternalRow(Array[Any](bucket))
  override def preferredLocations(): Array[String] =
    files.preferredLocations()
}

/** The `rowid` pseudo-column as a DSv2 metadata column (hidden until a
  * query references it): `(bucket << 40) | (manifest file base + row
  * index within file)`. */
object RowidMetadataColumn extends MetadataColumn {
  override def name: String = "rowid"
  override def dataType: DataType =
    org.apache.spark.sql.types.LongType
  override def isNullable: Boolean = false
  override def comment: String =
    "stable per-bucket row id: (bucket << 40) | (file base + row index)"
}

/** The shard id as a DSv2 metadata column: the `bucket=<id>` directory
  * value, read as a partition column by the delegate scan. */
object BucketMetadataColumn extends MetadataColumn {
  override def name: String = BucketPruning.BucketCol
  override def dataType: DataType = IntegerType
  override def comment: String =
    "shard id: pmod(murmur3(partition column), bucket count)"
}

/** Scan variant projecting `rowid`: one input partition per WHOLE file
  * (splits re-merged — a split's first row is not row index 0), each
  * carrying `bucket << 40 + manifest base`; the reader counts rows as
  * they stream out of the delegate parquet reader, which equals the
  * physical row index because the delegate was built with NO pushed
  * filters (no row-group/page skipping — see
  * [[ColocatedScanBuilder.pruneColumns]]). Does not report key-grouped
  * partitioning (per-file partitions break one-partition-per-bucket);
  * rowid scans are an administrative surface, not a join input. */
final class RowidScan(delegate: FileScan, out: StructType,
    bases: Map[(Int, String), Long], pruned: Option[Set[Int]])
    extends Scan with Batch {

  override def readSchema(): StructType = out

  override def description(): String =
    s"RowidScan(${delegate.description()})"

  override def toBatch: Batch = this

  private val BucketFileRe =
    (".*/" + BucketPruning.BucketCol + "=(\\d+)/([^/]+)$").r

  override def planInputPartitions(): Array[InputPartition] = {
    val files = delegate.toBatch.planInputPartitions().flatMap {
      case fp: FilePartition => fp.files
      case other => throw new IllegalStateException(
        s"unexpected partition from parquet scan: $other")
    }
    val whole = files.groupBy(_.filePath.toString).toSeq.sortBy(_._1)
      .map(_._2.head)
    whole.zipWithIndex.flatMap { case (f, i) =>
      val (b, fname) = f.filePath.toString match {
        case BucketFileRe(bs, n) => (bs.toInt, n)
        case p => throw new IllegalStateException(
          s"file outside bucket layout: $p")
      }
      if (pruned.exists(!_.contains(b))) None
      else {
        val base = bases.getOrElse((b, fname),
          throw new IllegalStateException(
            s"no rowid manifest entry for bucket=$b file=$fname " +
              "(concurrent rewrite during scan planning?)"))
        Some(RowidInputPartition((b.toLong << 40) + base,
          FilePartition(i, Array(f.copy(start = 0, length = f.fileSize)))))
      }
    }.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    RowidReaderFactory(delegate.toBatch.createReaderFactory(), out,
      StructType(out.fields.filterNot(_.name == RowidMetadataColumn.name)))
}

/** One whole parquet file plus the rowid base of its first row. */
final case class RowidInputPartition(bucketBase: Long,
    files: FilePartition) extends InputPartition {
  override def preferredLocations(): Array[String] =
    files.preferredLocations()
}

/** Row-based reader appending `rowid = bucketBase + rows-emitted-so-far`
  * to each delegate row. Columnar reads are declined so the count is a
  * plain per-row increment. */
final case class RowidReaderFactory(inner: PartitionReaderFactory,
    out: StructType, innerSchema: StructType)
    extends PartitionReaderFactory {

  override def supportColumnarReads(p: InputPartition): Boolean = false

  override def createReader(
      p: InputPartition): PartitionReader[InternalRow] = {
    val rp = p.asInstanceOf[RowidInputPartition]
    val delegate = inner.createReader(rp.files)
    val srcIdx = out.fields.map { f =>
      if (f.name == RowidMetadataColumn.name) -1
      else innerSchema.fieldIndex(f.name)
    }
    val types = innerSchema.fields.map(_.dataType)
    new PartitionReader[InternalRow] {
      private var rowIndex = -1L
      override def next(): Boolean = {
        val n = delegate.next()
        if (n) rowIndex += 1
        n
      }
      override def get(): InternalRow = {
        val src = delegate.get()
        val arr = new Array[Any](out.length)
        var i = 0
        while (i < arr.length) {
          val j = srcIdx(i)
          arr(i) =
            if (j < 0) rp.bucketBase + rowIndex
            else src.get(j, types(j))
          i += 1
        }
        new GenericInternalRow(arr)
      }
      override def close(): Unit = delegate.close()
    }
  }
}

/** Unwraps [[BucketInputPartition]] back to the [[FilePartition]] the
  * delegate parquet reader factory expects. */
final case class UnwrapReaderFactory(inner: PartitionReaderFactory)
    extends PartitionReaderFactory {
  private def unwrap(p: InputPartition): InputPartition =
    p.asInstanceOf[BucketInputPartition].files
  override def createReader(
      p: InputPartition): PartitionReader[InternalRow] =
    inner.createReader(unwrap(p))
  override def createColumnarReader(p: InputPartition)
      : PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] =
    inner.createColumnarReader(unwrap(p))
  override def supportColumnarReads(p: InputPartition): Boolean =
    inner.supportColumnarReads(unwrap(p))
}
