package graft.sources

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.schema.LogicalTypeAnnotation
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.unsafe.types.UTF8String

/** File-level zone maps for the co-located tables: per-file (min, max,
  * null-presence) per column, derived from the parquet FOOTERS the
  * write path already produced, evaluated against pushed filters at
  * PLANNING time so skipped files never become scan work at all.
  *
  * Why this exists when parquet already does row-group skipping: the
  * row-group filter runs inside the task, after the scheduler has
  * created it, the executor has fetched it, and the reader has opened
  * the file and parsed the footer. At 100 TB a time-ranged query over
  * an append-grown table touches a sliver of its files; planning-time
  * elimination is the difference between scheduling thousands of
  * no-op tasks and scheduling none (Snowflake §4.2.2 and every
  * lakehouse manifest format make the same move — this is that idea
  * expressed over the footers we already have, with the
  * [[ColocatedFileIndex]]-style cache amortizing footer reads to one
  * per file per table change).
  *
  * Soundness contract: [[mightMatch]] answers "could any row of this
  * file satisfy the predicate" and errs to true — unknown expression
  * shapes, missing/corrupt statistics, type mismatches, NaN bounds
  * all keep the file. Pruning composes conjunctively: a file is
  * skipped only if some pushed conjunct provably matches no row.
  * Reference scope note: the reference engine prunes SHARDS by the
  * partition column only (src/function/mpp_table_scan.cpp:68-143);
  * zone maps extend the same never-read-what-cannot-match story to
  * every column parquet keeps statistics for.
  */
object ZoneMaps {

  /** Conf kill-switch (session conf): `graft.zonemap.enabled=false`
    * disables planning-time file pruning. */
  val EnabledConf = "graft.zonemap.enabled"

  /** One column's file-level summary. `hasValues` = at least one
    * non-null value exists; `mayHaveNulls` errs to true when the
    * footer does not say. `min`/`max` are Catalyst-comparable values
    * (Int/Long/Float/Double/Boolean/UTF8String) or null when the
    * footer carried no usable bounds. */
  final case class ColZone(min: Any, max: Any, hasValues: Boolean,
      mayHaveNulls: Boolean)

  /** (path, mtime, size) → column zones. Footer reads are one RPC +
    * one small read each; the key makes any rewrite (COW swap writes
    * new files) a natural invalidation. Hard-capped with full reset —
    * dead entries are never hit again (the listing-cache idiom). */
  private val cache = scala.collection.concurrent.TrieMap
    .empty[(String, Long, Long), Map[String, ColZone]]

  private[graft] def cacheSize: Int = cache.size

  /** Per-file zones, lower-cased column name → zone. Empty map when
    * the footer is unreadable (prunes nothing). */
  def zonesFor(conf: Configuration, path: String, mtime: Long,
      size: Long): Map[String, ColZone] = {
    val key = (path, mtime, size)
    cache.get(key) match {
      case Some(z) => z
      case None =>
        val z = try readZones(conf, path) catch {
          case _: Exception => Map.empty[String, ColZone]
        }
        if (cache.size > 4096) cache.clear()
        cache.put(key, z)
        z
    }
  }

  private def readZones(conf: Configuration,
      path: String): Map[String, ColZone] = {
    val in = HadoopInputFile.fromPath(new Path(path), conf)
    val reader = ParquetFileReader.open(in)
    try {
      val blocks = reader.getFooter.getBlocks
      val acc = scala.collection.mutable.Map.empty[String, ColZone]
      val invalid = scala.collection.mutable.Set.empty[String]
      var bi = 0
      while (bi < blocks.size()) {
        val cols = blocks.get(bi).getColumns
        var ci = 0
        while (ci < cols.size()) {
          val c = cols.get(ci)
          if (c.getPath.size() == 1) { // top-level atomic columns only
            val name = c.getPath.toDotString.toLowerCase
            if (!invalid.contains(name)) {
              chunkZone(c) match {
                case Some(z) =>
                  acc.get(name) match {
                    case None => acc(name) = z
                    case Some(p) => acc(name) = merge(p, z)
                  }
                case None => // unusable stats in ANY row group poisons
                  invalid += name //  the column for this file
                  acc.remove(name)
              }
            }
          }
          ci += 1
        }
        bi += 1
      }
      acc.toMap
    } finally reader.close()
  }

  /** One row-group chunk → zone, or None when its statistics cannot
    * bound the values (missing stats, INT96, NaN bounds, unannotated
    * binary, …). */
  private def chunkZone(c: org.apache.parquet.hadoop.metadata
      .ColumnChunkMetaData): Option[ColZone] = {
    val st = c.getStatistics
    if (st == null) return None
    val nullsKnown = st.isNumNullsSet
    val mayNull = !nullsKnown || st.getNumNulls > 0
    if (!st.hasNonNullValue) {
      // No non-null values recorded: only trustworthy as "all null"
      // when the null count is known and covers every value.
      return if (nullsKnown && st.getNumNulls == c.getValueCount)
        Some(ColZone(null, null, hasValues = false, mayHaveNulls = true))
      else None
    }
    val pt = c.getPrimitiveType
    val logical = pt.getLogicalTypeAnnotation
    def ok(min: Any, max: Any) =
      Some(ColZone(min, max, hasValues = true, mayHaveNulls = mayNull))
    pt.getPrimitiveTypeName match {
      case PrimitiveTypeName.INT32 if !isDecimal(logical) =>
        ok(st.genericGetMin, st.genericGetMax) // Integer (incl. DATE days)
      case PrimitiveTypeName.INT64 if !isDecimal(logical) =>
        ok(st.genericGetMin, st.genericGetMax) // Long (incl. TIMESTAMP µs)
      case PrimitiveTypeName.BOOLEAN =>
        ok(st.genericGetMin, st.genericGetMax)
      case PrimitiveTypeName.FLOAT =>
        val (mn, mx) = (st.genericGetMin.asInstanceOf[java.lang.Float],
          st.genericGetMax.asInstanceOf[java.lang.Float])
        if (mn.isNaN || mx.isNaN) None else ok(mn, mx)
      case PrimitiveTypeName.DOUBLE =>
        val (mn, mx) = (st.genericGetMin.asInstanceOf[java.lang.Double],
          st.genericGetMax.asInstanceOf[java.lang.Double])
        if (mn.isNaN || mx.isNaN) None else ok(mn, mx)
      case PrimitiveTypeName.BINARY
          if logical.isInstanceOf[LogicalTypeAnnotation
            .StringLogicalTypeAnnotation] =>
        // Parquet binary stats order = unsigned byte-wise =
        // UTF8String.compareTo order; truncated bounds (writers
        // increment the last byte of a truncated max) remain bounds.
        ok(UTF8String.fromBytes(st.getMinBytes),
          UTF8String.fromBytes(st.getMaxBytes))
      case _ => None // INT96, FIXED_LEN, unannotated binary, decimals
    }
  }

  private def isDecimal(l: LogicalTypeAnnotation): Boolean =
    l.isInstanceOf[LogicalTypeAnnotation.DecimalLogicalTypeAnnotation]

  private def merge(a: ColZone, b: ColZone): ColZone =
    if (!a.hasValues) b.copy(mayHaveNulls = true)
    else if (!b.hasValues) a.copy(mayHaveNulls = true)
    else ColZone(
      if (cmp(a.min, b.min) <= 0) a.min else b.min,
      if (cmp(a.max, b.max) >= 0) a.max else b.max,
      hasValues = true,
      mayHaveNulls = a.mayHaveNulls || b.mayHaveNulls)

  private def cmp(a: Any, b: Any): Int =
    a.asInstanceOf[Comparable[Any]].compareTo(b)

  private def sameClass(zoneVal: Any, v: Any): Boolean =
    zoneVal != null && v != null && {
      // Catalyst literals box Int/Long/… identically to the footer
      // accessors; UTF8String on both sides for strings.
      zoneVal.getClass == v.getClass ||
        (zoneVal.isInstanceOf[java.lang.Integer] && v.isInstanceOf[Int]) ||
        (zoneVal.isInstanceOf[java.lang.Long] && v.isInstanceOf[Long])
    }

  /** Could any row of a file with `zones` satisfy `e`? Errs to true. */
  def mightMatch(e: Expression, zones: Map[String, ColZone]): Boolean = {
    def zone(a: Attribute): Option[ColZone] = zones.get(a.name.toLowerCase)

    def cmpPred(a: Attribute, v: Any,
        test: (ColZone, Any) => Boolean): Boolean =
      zone(a) match {
        case Some(z) =>
          if (!z.hasValues) false // comparison with all-null: no match
          else if (!sameClass(z.min, v)) true
          else test(z, v)
        case None => true
      }

    e match {
      case And(l, r) => mightMatch(l, zones) && mightMatch(r, zones)
      case Or(l, r) => mightMatch(l, zones) || mightMatch(r, zones)
      case EqualTo(a: Attribute, Literal(v, _)) if v != null =>
        cmpPred(a, v, (z, x) => cmp(z.min, x) <= 0 && cmp(z.max, x) >= 0)
      case EqualTo(Literal(v, _), a: Attribute) if v != null =>
        cmpPred(a, v, (z, x) => cmp(z.min, x) <= 0 && cmp(z.max, x) >= 0)
      case GreaterThan(a: Attribute, Literal(v, _)) if v != null =>
        cmpPred(a, v, (z, x) => cmp(z.max, x) > 0)
      case GreaterThan(Literal(v, _), a: Attribute) if v != null =>
        cmpPred(a, v, (z, x) => cmp(z.min, x) < 0) // v > col ≡ col < v
      case GreaterThanOrEqual(a: Attribute, Literal(v, _)) if v != null =>
        cmpPred(a, v, (z, x) => cmp(z.max, x) >= 0)
      case GreaterThanOrEqual(Literal(v, _), a: Attribute) if v != null =>
        cmpPred(a, v, (z, x) => cmp(z.min, x) <= 0)
      case LessThan(a: Attribute, Literal(v, _)) if v != null =>
        cmpPred(a, v, (z, x) => cmp(z.min, x) < 0)
      case LessThan(Literal(v, _), a: Attribute) if v != null =>
        cmpPred(a, v, (z, x) => cmp(z.max, x) > 0)
      case LessThanOrEqual(a: Attribute, Literal(v, _)) if v != null =>
        cmpPred(a, v, (z, x) => cmp(z.min, x) <= 0)
      case LessThanOrEqual(Literal(v, _), a: Attribute) if v != null =>
        cmpPred(a, v, (z, x) => cmp(z.max, x) >= 0)
      case In(a: Attribute, vs) if vs.forall {
          case Literal(v, _) => v != null
          case _ => false
        } =>
        vs.exists { case l: Literal =>
          cmpPred(a, l.value,
            (z, x) => cmp(z.min, x) <= 0 && cmp(z.max, x) >= 0)
        }
      case InSet(a: Attribute, vs) if !vs.contains(null) =>
        vs.exists(v => cmpPred(a, v,
          (z, x) => cmp(z.min, x) <= 0 && cmp(z.max, x) >= 0))
      case IsNull(a: Attribute) =>
        zone(a).forall(_.mayHaveNulls)
      case IsNotNull(a: Attribute) =>
        zone(a).forall(_.hasValues)
      case _ => true
    }
  }
}
