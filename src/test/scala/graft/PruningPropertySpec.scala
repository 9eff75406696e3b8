package graft

import scala.util.Random

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.mpp.MppEngine

/** Property tests the reference lacks (SURVEY.md §5): pruning soundness —
  * for ANY predicate over the partition column, the pruned distributed
  * scan returns exactly the rows a plain filter over the in-memory
  * source returns. A pruning bug that drops a live bucket surfaces here
  * as missing rows; one that keeps extra buckets only costs time and is
  * separately pinned by the `Shards: k/n` plan asserts in MppSpec.
  * Deterministic seeded generation (scalatestplus is not in the offline
  * dependency cache, so no ScalaCheck forAll). */
class PruningPropertySpec extends SparkTestBase {

  import spark.implicits._

  /** In-memory source of truth: values clustered in [-5, 25) + NULLs. */
  private lazy val source: DataFrame = {
    val rows = (0 until 400).map { i =>
      (if (i % 17 == 0) None else Some(i % 30 - 5), s"v$i")
    }
    rows.toDF("id", "v")
  }

  private lazy val engine: MppEngine = {
    val e = new MppEngine(spark, tempDir("graft-prop"))
    e.sql("CREATE TABLE pt(id INT, v TEXT) PARTITION BY (id) WITH BUCKETS 7")
    e.insertInto("pt", source)
    e
  }

  private def collectSet(df: DataFrame): Set[(String, String)] =
    df.collect().map(r =>
      (Option(r.get(0)).map(_.toString).getOrElse("∅"), r.getString(1))).toSet

  private def predicates(seed: Long, n: Int): Seq[String] = {
    val rnd = new Random(seed)
    def lit(): Int = rnd.nextInt(37) - 8
    def leaf(): String = rnd.nextInt(4) match {
      case 0 => s"id = ${lit()}"
      case 1 => s"${lit()} = id"
      case 2 =>
        val vs = Seq.fill(1 + rnd.nextInt(5))(lit()).distinct
        s"id IN (${vs.mkString(", ")})"
      case _ => "id IS NULL"
    }
    Seq.fill(n) {
      rnd.nextInt(3) match {
        case 0 => leaf()
        case 1 => s"(${leaf()}) OR (${leaf()})"
        case _ => s"(${leaf()}) AND (${leaf()})"
      }
    }
  }

  test("pruned scan ≡ unpruned filter for 40 random partition predicates") {
    predicates(seed = 42L, n = 40).foreach { pred =>
      val pruned = collectSet(engine.table("pt").filter(expr(pred)))
      val truth = collectSet(source.filter(expr(pred)))
      assert(pruned == truth, s"predicate: $pred")
    }
  }

  test("explain surface stays well-formed under random predicates") {
    predicates(seed = 7L, n = 15).foreach { pred =>
      val s = engine.explainShards(engine.table("pt").filter(expr(pred)))
      val Array(k, n) = s.stripPrefix("Shards: ").split("/").map(_.toInt)
      assert(k >= 0 && k <= n, s"$pred → $s")
    }
  }
}
