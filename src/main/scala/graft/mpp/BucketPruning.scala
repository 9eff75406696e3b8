package graft.mpp

import org.apache.spark.sql.catalyst.expressions._

/** Shard (bucket) pruning for distributed tables: the pure
  * predicate → bucket-set mapping.
  *
  * Port of the reference's optimize-time shard pruning
  * (`/root/reference/src/function/mpp_table_scan.cpp:68-143`: EQ / IN /
  * IS NULL / OR on the partition column → `hash(const) % buckets`). The
  * one scan of an mpp table, [[graft.sources.ColocatedScanBuilder]],
  * applies it to its pushed filters against the table's own bucket
  * count, so the scan never lists, opens, or schedules tasks for a
  * pruned bucket — the exact analogue of the reference never
  * dispatching a gRPC query to a pruned shard. Handles both
  * `col = const` and `const = col` (the reference only matches the
  * former — SURVEY.md §2.3 quirk 4).
  */
object BucketPruning {

  /** Name of the physical bucket directory column. */
  val BucketCol = "bucket"

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
}
