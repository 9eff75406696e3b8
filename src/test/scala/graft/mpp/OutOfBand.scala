package graft.mpp

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.jdk.CollectionConverters._

import org.apache.commons.io.FileUtils
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Simulates what an older build's manifest-less write left behind: a
  * catalog with no manifest-complete epoch for the table, and parquet
  * files in its live bucket dirs that no manifest references. */
object OutOfBand {

  /** Drops `t`'s manifest-complete epoch through a catalog commit. */
  def clearEpoch(e: MppEngine, t: String): Unit = {
    val oid = e.catalog.state.liveTable(t).get.tableOid.toString
    e.catalog.mutate(s => s.copy(manifestEpochs = s.manifestEpochs - oid))
  }

  /** Writes `rows` (the table's user columns) into the live bucket dirs
    * of `t`, each row under the bucket the engine would route it to,
    * without any catalog commit. */
  def writeRows(e: MppEngine, t: String, rows: DataFrame): Unit = {
    val info = e.catalog.state.liveTable(t).get
    val scratch =
      Paths.get(e.warehouse, s".oob-${java.util.UUID.randomUUID()}")
    try {
      rows.withColumn(BucketPruning.BucketCol,
          pmod(hash(col(info.partitionColumn)), lit(info.buckets)))
        .write.partitionBy(BucketPruning.BucketCol)
        .parquet(scratch.toString)
      val root = Paths.get(e.warehouse, "data", t)
      list(scratch).filter(_.getFileName.toString.contains("=")).foreach {
        bd =>
          val live = Files.createDirectories(root.resolve(bd.getFileName))
          list(bd).filter { f =>
            val n = f.getFileName.toString
            !n.startsWith(".") && n.endsWith(".parquet")
          }.foreach(f => Files.move(f, live.resolve(f.getFileName),
            StandardCopyOption.ATOMIC_MOVE))
      }
    } finally FileUtils.deleteQuietly(scratch.toFile)
  }

  private def list(d: Path): Seq[Path] = {
    val s = Files.list(d)
    try s.iterator().asScala.toVector finally s.close()
  }
}
