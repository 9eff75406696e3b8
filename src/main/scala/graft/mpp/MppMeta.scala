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
  * metadata, `/root/reference/src/storage/mpp_transaction.cpp:10-52`). */
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
      * versioned, this pins the data files to it). Absent key = no
      * data committed for that table at this version. */
    tableManifests: Map[String, String] = Map.empty,
    /** Manifest-COMPLETE epoch (round-13 verdict item 7): tableOid →
      * warehouse-clock ms of the table's first manifest commit. Every
      * data mutation commits a manifest, so the entry is set by a
      * table's first write and never cleared; it is absent only for a
      * table never written, or in a catalog from an older build that
      * could write data without a manifest. While present, every live
      * file YOUNGER than the epoch was written under complete
      * manifest-keeping, so a post-grace unreferenced one is
      * authoritatively garbage — VACUUM sweeps those by default; files
      * older than the epoch (or any file when the epoch is absent)
      * still need the explicit `graft.vacuum.sweepStrays=true`
      * operator assertion. */
    manifestEpochs: Map[String, Long] = Map.empty) {

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
      * mid-INSERT-publish (SURVEY §8). Reported always; deleted (and
      * then also counted in filesDeleted/bytesReclaimed) only with
      * `graft.vacuum.sweepStrays=true`. */
    strayLiveFiles: Long = 0L,
    strayLiveBytes: Long = 0L)
