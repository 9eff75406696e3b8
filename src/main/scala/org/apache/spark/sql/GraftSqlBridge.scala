package org.apache.spark.sql

import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Bridge to Spark's `private[sql]` Dataset factory: execute an
  * already-parsed (and rewritten) logical plan as a DataFrame. The
  * engine's own table frames are built the same way, straight from a
  * `DataSourceV2Relation` over its DSv2 table.
  *
  * The engine routes catalog-qualified mpp reads by rewriting
  * `UnresolvedRelation` nodes on the PARSED plan (never on raw SQL
  * text, which cannot distinguish a relation from a column reference
  * whose qualifier collides with a catalog alias). Turning the
  * rewritten plan back into a DataFrame needs `Dataset.ofRows`, which
  * Spark scopes `private[sql]` — hence this one accessor compiled into
  * the `org.apache.spark.sql` package, the same pattern open-source
  * Spark extensions (Delta, Qbeast) use. Nothing in Spark is modified.
  */
object GraftSqlBridge {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    spark match {
      case c: classic.SparkSession => classic.Dataset.ofRows(c, plan)
      case other => throw new IllegalStateException(
        s"expected a classic SparkSession, got ${other.getClass.getName}")
    }

  /** Re-tag a computed batch DataFrame as a STREAMING batch: V1
    * streaming `Source.getBatch` results must carry
    * `isStreaming=true`, which only `LogicalRDD` (private[sql]
    * surface) can assert for an arbitrary computed plan. The same
    * idiom Delta's DeltaSource uses for its file-action batches.
    *
    * The batch is planned with AQE OFF (round 12): `toRdd` on an
    * ADAPTIVE plan materializes every intermediate query stage
    * eagerly — real Spark jobs at plan-construction time, charged to
    * every `getBatch`, including the restart-recovery call whose
    * frame MicroBatchExecution constructs and then discards (measured:
    * a 60-100 s quiet stream resume after a full-rewrite interval at
    * 150M rows, all of it inside `toRdd`). The classic planner
    * returns a fully LAZY RDD DAG — nothing executes until the sink
    * runs the micro-batch — and inside a streaming batch AQE is
    * disabled by Spark anyway, so execution quality is unchanged. */
  def streamingBatch(spark: SparkSession, df: DataFrame): DataFrame =
    spark match {
      case c: classic.SparkSession =>
        val qe = classic.Dataset.ofRows(plannerFor(c),
          df.queryExecution.logical).queryExecution
        classic.Dataset.ofRows(c, execution.LogicalRDD(
          qe.analyzed.output, qe.toRdd, isStreaming = true)(c))
      case other => throw new IllegalStateException(
        s"expected a classic SparkSession, got ${other.getClass.getName}")
    }

  /** One AQE-off planner clone per parent session, weakly keyed — a
    * short-trigger CDC stream calls streamingBatch once per
    * micro-batch, and cloning a SparkSession (fresh SessionState +
    * listener registration) per call would be thousands of session
    * constructions per hour on the streaming hot path. The clone
    * snapshots the parent's conf at first use; per-batch plan inputs
    * (the logical plan itself) are unaffected, and the one conf that
    * matters here is pinned explicitly.
    *
    * The VALUE is held behind a `WeakReference`: a clone strongly
    * reaches its parent (the map key) through its retained
    * parentSessionState, so storing it directly would defeat the weak
    * keying and retain every session that ever ran a CDC stream for
    * the JVM's life (the same leak class the round-11 mpbStates fix
    * removed). With the weak value the map anchors NO strong chain to
    * the key; the cost is one re-clone (milliseconds) after any GC
    * that collects an otherwise-unreferenced clone — amortized noise
    * against a per-minute micro-batch cadence. */
  /** A per-table-root directory-granular [[execution.datasources
    * .FileStatusCache]] (private[sql] surface — hence built here in
    * the bridge): handed to `InMemoryFileIndex` with the BUCKET DIRS
    * as root paths, each dir becomes its own cache entry, so an index
    * rebuild after a commit re-lists ONLY the dirs that commit
    * touched (the engine invalidates exactly those) instead of the
    * whole table — O(statement) metadata RPCs on the data plane, the
    * twin of the manifest delta log on the catalog plane. */
  final class GraftFileStatusCache
      extends execution.datasources.FileStatusCache {
    private val m = new java.util.concurrent.ConcurrentHashMap[
      org.apache.hadoop.fs.Path, Array[org.apache.hadoop.fs.FileStatus]]
    override def getLeafFiles(path: org.apache.hadoop.fs.Path)
        : Option[Array[org.apache.hadoop.fs.FileStatus]] =
      Option(m.get(path))
    override def putLeafFiles(path: org.apache.hadoop.fs.Path,
        leafFiles: Array[org.apache.hadoop.fs.FileStatus]): Unit = {
      m.put(path, leafFiles); ()
    }
    def invalidate(path: org.apache.hadoop.fs.Path): Unit = {
      m.remove(path); ()
    }
    override def invalidateAll(): Unit = m.clear()
    def size: Int = m.size
  }

  /** InMemoryFileIndex over explicit root paths with a status cache —
    * the 5-arg constructor is private[sql]-adjacent plumbing. */
  def fileIndex(spark: SparkSession, roots: Seq[org.apache.hadoop.fs.Path],
      parameters: Map[String, String],
      schema: Option[org.apache.spark.sql.types.StructType],
      cache: GraftFileStatusCache)
      : execution.datasources.InMemoryFileIndex =
    spark match {
      case c: classic.SparkSession =>
        new execution.datasources.InMemoryFileIndex(
          c, roots, parameters, schema, cache)
      case other => throw new IllegalStateException(
        s"expected a classic SparkSession, got ${other.getClass.getName}")
    }

  private val plannerSessions = new java.util.WeakHashMap[
    classic.SparkSession, java.lang.ref.WeakReference[classic.SparkSession]]
  private def plannerFor(c: classic.SparkSession): classic.SparkSession =
    plannerSessions.synchronized {
      val cached = Option(plannerSessions.get(c)).flatMap(r => Option(r.get))
      cached.getOrElse {
        val p = c.cloneSession()
        p.conf.set("spark.sql.adaptive.enabled", "false")
        plannerSessions.put(c, new java.lang.ref.WeakReference(p))
        p
      }
    }
}
