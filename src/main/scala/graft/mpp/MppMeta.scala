package graft.mpp

/** Metadata model for distributed tables — the Spark-native re-expression
  * of the reference's `__mpp_system` catalog
  * (`/root/reference/src/storage/mpp_nodes.cpp:19-41`,
  * `mpp_shards.cpp:18-41`, `mpp_tables.cpp:22-44`).
  *
  * Divergences by design:
  *  - shard *placement* (`node`) is bookkeeping only — Spark schedules
  *    tasks; kept for surface parity of `shards` queries
  *    (`/root/reference/test/sql/mpp.test:52`);
  *  - placement round-robin starts at 0, not a random node
  *    (`/root/reference/src/function/create_distributed_table.cpp:134-140`)
  *    — determinism beats bug-for-bug parity here;
  *  - unsigned USMALLINT/UBIGINT system columns are Int/Long.
  */
final case class NodeInfo(host: String, port: Int)

final case class ShardInfo(tableOid: Long, shardId: Int, node: String)

final case class TableInfo(
    tableOid: Long,
    name: String,
    partitionColumn: String,
    partitionColumnIndex: Long,
    buckets: Int,
    /** Spark DDL string of the user schema (no bucket column). */
    schemaDdl: String,
    /** column name → default-value SQL expression (reference resolves
      * defaults at insert: `mpp_physical_insert.cpp:150-181`). */
    defaults: Map[String, String],
    deleted: Boolean,
    /** Lower-cased names of columns DROPped since the last full
      * rewrite. Old parquet files still hold their data (drops are
      * metadata-only projections); re-ADDing such a name would
      * resurrect those stored values, so it is rejected until an
      * `OPTIMIZE … SORT BY` rewrites every live file (the same
      * hazard Delta's column-mapping ids exist to dodge — here the
      * name is simply quarantined instead). Absent in pre-evolution
      * catalog JSON → empty (Jackson default). */
    droppedColumns: Vector[String] = Vector.empty)

/** Immutable catalog snapshot; commits replace the whole snapshot (the
  * Spark analogue of the reference's coordinator-only transactional
  * metadata, `/root/reference/src/storage/mpp_transaction.cpp:10-52`).
  *
  * Snapshots written by older builds may carry a per-table epoch map
  * (the time of the table's first manifest commit, which gated an
  * mtime-keyed listing and VACUUM's stray sweep). Nothing reads it any
  * more; it is ignored by name, so retained snapshots still load while
  * any other unknown property still fails the read. */
@com.fasterxml.jackson.annotation.JsonIgnoreProperties(Array("manifestEpochs"))
final case class CatalogState(
    nodes: Vector[NodeInfo] = Vector.empty,
    tables: Vector[TableInfo] = Vector.empty,
    shards: Vector[ShardInfo] = Vector.empty,
    /** User schema namespaces (reference D4: `__mpp_<name>` entries,
      * `mpp_catalog.cpp:66-87`); `main` always exists. */
    schemas: Vector[String] = Vector("main"),
    /** Time travel: tableOid (as string — JSON map keys) → manifest
      * file name under `_mpp_catalog/manifests/`, replaced on every
      * data-mutating statement. A snapshot's manifest ref IS the
      * table's data state at that version: `VERSION AS OF v` loads
      * snapshot v and reads its manifest's file list (the Delta/
      * Iceberg version-pointer idiom — the snapshot chain was already
      * versioned, this pins the data files to it). CREATE sets the
      * key to an empty manifest, so every live table has one; it is
      * absent only in snapshots an older build wrote for a table it
      * never wrote to (read as empty). */
    tableManifests: Map[String, String] = Map.empty) {

  def liveTable(name: String): Option[TableInfo] =
    tables.find(t => t.name == name && !t.deleted)

  def nextOid: Long = tables.map(_.tableOid).maxOption.getOrElse(0L) + 1L
}

/** Outcome of a time-travel VACUUM — the operator's capacity answer:
  * how much history storage was reclaimed, how much remains pinned by
  * the retained snapshot window. Returned by the API and as the
  * `VACUUM` statement's result row. */
final case class VacuumStats(
    manifestsDeleted: Long,
    filesDeleted: Long,
    bytesReclaimed: Long,
    archiveFilesRetained: Long,
    archiveBytesRetained: Long,
    wallMs: Long,
    /** LIVE-directory files referenced by NO retained manifest and
      * older than the grace window — the residue of a driver crash
      * mid-INSERT-publish (SURVEY §8). Swept, and then also counted in
      * filesDeleted/bytesReclaimed, unless a statement lease is active
      * (then none are classified). */
    strayLiveFiles: Long = 0L,
    strayLiveBytes: Long = 0L)
