package graft.mpp

import scala.collection.concurrent.TrieMap

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}

/** Shard (bucket) pruning for distributed tables.
  *
  * Port of the reference's optimize-time shard pruning
  * (`/root/reference/src/function/mpp_table_scan.cpp:68-143`: EQ / IN /
  * IS NULL / OR on the partition column → `hash(const) % buckets`),
  * re-expressed as a Catalyst `Rule[LogicalPlan]`: predicates on the
  * partition column are mapped to a `bucket IN (…)` predicate on the
  * table's physical partition directory column, which Spark's
  * `FileSourceStrategy` then turns into partition-directory pruning — the
  * scan never lists, opens, or schedules tasks for pruned buckets, the
  * exact analogue of the reference never dispatching a gRPC query to a
  * pruned shard. Handles both `col = const` and `const = col` (the
  * reference only matches the former — SURVEY.md §2.3 quirk 4).
  */
object BucketPruning {

  /** Registered distributed-table roots: canonical data path →
    * (partition column name, bucket count). */
  private val registry = TrieMap.empty[String, (String, Int)]

  /** Name of the physical bucket directory column. */
  val BucketCol = "bucket"

  def register(dataPath: String, partitionCol: String, buckets: Int): Unit =
    registry.put(normalize(dataPath), (partitionCol, buckets))

  def unregister(dataPath: String): Unit = registry.remove(normalize(dataPath))

  /** Scheme-insensitive, AUTHORITY-KEEPING canonical form
    * (`authority/path`): a root registered as `scheme:/x` must match a
    * file index reporting the QUALIFIED `scheme:///x` (and the
    * historical bare-`file:` strip) — but two tables at the same path
    * under DIFFERENT authorities (`s3://a/wh/t` vs `s3://b/wh/t`, two
    * namenodes) must NOT collide: a collision would prune one scan
    * under the other table's bucket count and silently drop rows
    * (round-14 advisor). Scheme is still dropped (s3/s3a/s3n aliases
    * of one store); an empty authority (`file:/x`, `countfs:///x`,
    * default-fs `hdfs:/x`) canonicalizes to the bare path. Register
    * and scan must agree on qualification for a NON-empty authority:
    * both sides derive from the same warehouse string, which carries
    * the authority whenever one exists. */
  private[mpp] def normalize(p: String): String = {
    val uri =
      try new org.apache.hadoop.fs.Path(p).toUri
      catch { case _: IllegalArgumentException => null }
    val path = if (uri == null) null else uri.getPath
    val auth =
      if (uri == null) "" else Option(uri.getAuthority).getOrElse("")
    (if (path == null || path.isEmpty) p.replaceFirst("^file:", "")
     else auth + path).stripSuffix("/")
  }

  /** Registry entry for a scan's file index. Version-keyed listing
    * indexes (round 14) report the BUCKET DIRS as their root paths —
    * fall back to the shared parent (the table root). */
  /** Registry get with a qualification fallback: scan roots go through
    * `fs.makeQualified`, which ADDS the default-FS authority to a path
    * the warehouse string lacked (warehouse `hdfs:/wh` under
    * `fs.defaultFS=hdfs://nn:8020` registers `/wh/data/t`, the scan
    * looks up `nn:8020/wh/data/t`) — without the fallback the miss
    * silently disables bucket pruning on default-FS-qualified
    * deployments (round-15 advisor). On a miss the authority is
    * stripped and ONLY an empty-authority registration can match, so
    * two tables registered under different non-empty authorities still
    * never collide (the round-14 fix stands). */
  private[mpp] def registryGet(key: String): Option[(String, Int)] =
    registry.get(key).orElse {
      val slash = key.indexOf('/')
      if (slash > 0) registry.get(key.substring(slash)) else None
    }

  private def registryFor(
      location: org.apache.spark.sql.execution.datasources.FileIndex)
      : Option[(String, Int)] =
    location.rootPaths.headOption.flatMap { p =>
      registryGet(normalize(p.toString)).orElse {
        if (p.getName.startsWith(s"$BucketCol=") && p.getParent != null)
          registryGet(normalize(p.getParent.toString))
        else None
      }
    }

  private def lookup(rel: LogicalRelation): Option[(String, Int)] =
    rel.relation match {
      case fs: HadoopFsRelation => registryFor(fs.location)
      case _ => None
    }

  /** Bucket id of a constant value, matching the write side exactly:
    * `pmod(hash(col), buckets)` with Spark's Murmur3 seed 42. A null
    * value hashes to the seed itself (Spark skips null inputs), giving
    * the deterministic null bucket the reference also has
    * (`mpp_table_scan.cpp:99-108`). */
  def bucketOf(value: Any, dt: org.apache.spark.sql.types.DataType,
      buckets: Int): Int = {
    val h = Murmur3Hash(Seq(Literal.create(value, dt)), 42)
      .eval(null).asInstanceOf[Int]
    ((h % buckets) + buckets) % buckets
  }

  /** Extract the bucket set implied by a predicate over partition column
    * `pc`. None = cannot prune (all buckets). Mirrors PruneShardsEq/In/
    * IsNull/Or + conjunction handling. */
  def bucketsFor(cond: Expression, pc: Attribute, n: Int): Option[Set[Int]] = {
    def ofLit(e: Expression): Option[Int] =
      if (e.foldable && e.dataType == pc.dataType)
        Some(bucketOf(e.eval(null), pc.dataType, n))
      else None
    def isPc(e: Expression): Boolean = e match {
      case a: Attribute => a.exprId == pc.exprId
      case _ => false
    }
    cond match {
      case EqualTo(a, l) if isPc(a) => ofLit(l).map(Set(_))
      case EqualTo(l, a) if isPc(a) => ofLit(l).map(Set(_))
      case EqualNullSafe(a, l) if isPc(a) => ofLit(l).map(Set(_))
      case EqualNullSafe(l, a) if isPc(a) => ofLit(l).map(Set(_))
      case In(a, vs) if isPc(a) =>
        val ids = vs.map(ofLit)
        if (ids.forall(_.isDefined)) Some(ids.flatten.toSet) else None
      case InSet(a, vs) if isPc(a) =>
        Some(vs.map(v => bucketOf(v, pc.dataType, n)).toSet)
      case IsNull(a) if isPc(a) =>
        Some(Set(bucketOf(null, pc.dataType, n)))
      case Or(x, y) =>
        for (bx <- bucketsFor(x, pc, n); by <- bucketsFor(y, pc, n))
          yield bx ++ by
      case And(x, y) =>
        (bucketsFor(x, pc, n), bucketsFor(y, pc, n)) match {
          case (Some(bx), Some(by)) => Some(bx intersect by)
          case (bx, by) => bx.orElse(by)
        }
      case _ => None
    }
  }

  /** The injected optimizer rule: conjoin `bucket IN (…)` onto filters
    * over registered distributed-table scans. */
  final class Rule_ extends Rule[LogicalPlan] {
    override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
      case f @ Filter(cond, rel: LogicalRelation) =>
        lookup(rel) match {
          case Some((pcName, n))
              // Idempotency: never rewrite a filter that already
              // references the bucket column (ours, or user-written).
              if !cond.references.exists(_.name == BucketCol) =>
            val pc = rel.output.find(_.name == pcName)
            val bucketAttr = rel.output.find(_.name == BucketCol)
            (pc, bucketAttr) match {
              case (Some(p), Some(b)) =>
                bucketsFor(cond, p, n) match {
                  case Some(ids) if ids.size < n =>
                    val inList = In(b, ids.toSeq.sorted.map(i =>
                      Literal(i, b.dataType)))
                    Filter(And(cond, inList), rel)
                  case _ => f
                }
              case _ => f
            }
          case _ => f
        }
    }
  }

  val rule: Rule[LogicalPlan] = new Rule_

  /** EXPLAIN surface parity: the reference annotates its scan with
    * `Shards: k/n` (`/root/reference/src/function/mpp_table_scan.cpp:373-380`,
    * asserted by `test/sql/mpp_filter.test:61-87`). Returns the same
    * string for the (single) distributed scan in `df`'s physical plan by
    * listing the partition directories that survive pruning. */
  def shards(df: DataFrame): String = {
    val scans = df.queryExecution.executedPlan.collect {
      case f: FileSourceScanExec
          if registryFor(f.relation.location).isDefined => f
    }
    scans.headOption.map { f =>
      val n = registryFor(f.relation.location).get._2
      val staticFilters = f.partitionFilters.filterNot(
        _.exists(_.isInstanceOf[PlanExpression[_]]))
      val k = f.relation.location.listFiles(staticFilters, Nil).size
      s"Shards: $k/$n"
    }.getOrElse("Shards: -")
  }
}
