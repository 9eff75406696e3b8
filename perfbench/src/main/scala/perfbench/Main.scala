package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode}
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.CatalystTypeConverters

import graft.SparkEntry
import graft.mpp.MppEngine
import graft.queries.DedupQueries

/** Executes one benchmark plan in a fresh JVM and writes what it measured.
  *
  * Usage: `perfbench.Main <plan.json> <result.json>`. The plan is made by
  * `perfbench/run.py` from the workload seed; this side only drives the
  * engine through its public entry points (`MppEngine.sql`,
  * `createDistributedTable`, `insertInto`, `SparkEntry.queries`, the
  * `QueryExecution` phases), times each call, and records the rows each
  * statement returned so that the caller can check them. One client
  * thread, closed loop: a statement is sent when the previous returned.
  */
object Main {
  private val json = new ObjectMapper()

  def main(args: Array[String]): Unit = {
    val plan = json.readTree(new File(args(0)))
    val out = json.createObjectNode()
    val traced = plan.get("trace").asBoolean()
    val work = plan.get("work").asText()

    val spark = SparkSession.builder()
      .master("local[4]")
      .appName("perfbench")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/spark-warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    out.put("session_ready_ms", System.currentTimeMillis())

    val jobs = new JobLog
    if (traced) {
      spark.sparkContext.addSparkListener(jobs)
      Trace.attach(spark.sparkContext)
    }

    val run = new Run(spark, plan, out)
    try run.execute()
    finally {
      out.put("peak_rss_kb", vmHwmKb())
      spark.stop() // drains the listener bus before returning
    }
    if (traced) writeTrace(out, jobs)
    Files.write(Paths.get(args(1)), json.writeValueAsBytes(out))
  }

  private def vmHwmKb(): Long =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toLong).getOrElse(0L)

  private def writeTrace(out: ObjectNode, jobs: JobLog): Unit = {
    val spans = out.putArray("spans")
    Trace.spans.foreach { s =>
      spans.addArray().add(s.id).add(s.parent).add(s.stmt).add(s.name)
        .add(s.start).add(s.end)
    }
    val js = out.putArray("jobs")
    jobs.jobs.values.asScala.toSeq.sortBy(_.jobId).foreach { j =>
      js.addArray().add(j.jobId).add(j.span).add(j.startMs).add(j.endMs)
        .add(j.tasks).add(j.taskMs).add(j.shuffleWrite).add(j.spill)
    }
    val fs = out.putArray("fs")
    FsCounts.snapshot().foreach { case (s, k, n) =>
      fs.addArray().add(s).add(k).add(n)
    }
  }
}

/** One run of one plan: set-up, the plan's warm-up rounds untimed, then
  * every later round of the plan timed. The number of timed rounds is
  * fixed by the plan, not by the host's speed, so that runs of two commits
  * time the same rounds. */
final class Run(spark: SparkSession, plan: JsonNode, out: ObjectNode) {
  private val traced = plan.get("trace").asBoolean()
  private val work = plan.get("work").asText()
  private val steps = out.putArray("steps")
  private val rounds = out.putArray("rounds")
  private var engine: MppEngine = _
  private lazy val oracles = out.putObject("oracles")

  def execute(): Unit = {
    val b0 = System.nanoTime()
    build(s"$work/wh")
    out.put("build_s", (System.nanoTime() - b0) / 1e9)

    val planRounds = plan.get("rounds").elements().asScala.toVector.zipWithIndex
    val (warmup, timed) = planRounds.splitAt(plan.get("warmup_rounds").asInt())
    val w0 = System.nanoTime()
    warmup.foreach { case (r, i) => round(r, i, timed = false) }
    out.put("warmup_s", (System.nanoTime() - w0) / 1e9)
    out.put("warm_ms", System.currentTimeMillis())

    // A traced run traces exactly the rounds an untraced run times.
    val gc0 = gcMs()
    val m0 = System.nanoTime()
    Trace.on = traced
    timed.foreach { case (r, i) => round(r, i, timed = true) }
    Trace.on = false
    out.put("measured_s", (System.nanoTime() - m0) / 1e9)
    out.put("gc_ms", gcMs() - gc0)
    finalChecks()
  }

  private def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ >= 0).sum

  // --- set-up -------------------------------------------------------------

  /** Creates and bulk-loads the plan's distributed tables, if it has any. */
  private def build(warehouse: String): Unit = {
    val tables = Option(plan.get("tables")).map(_.elements().asScala.toSeq)
      .getOrElse(Nil)
    if (tables.nonEmpty) {
      engine = new MppEngine(spark, warehouse)
      tables.foreach { t =>
        val name = t.get("name").asText()
        val src = spark.sql(t.get("load_sql").asText())
        engine.createDistributedTable(name, src.schema.toDDL,
          t.get("key").asText(), t.get("buckets").asInt())
        engine.insertInto(name, src)
      }
    }
  }

  // --- rounds -------------------------------------------------------------

  private def round(steps0: JsonNode, r: Int, timed: Boolean): Unit = {
    var stmtNs = 0L
    steps0.elements().asScala.foreach { st =>
      stmtNs += step(st, r, timed)
    }
    if (timed) rounds.addObject()
      .put("round", r)
      .put("stmt_ms", stmtNs / 1e6)
  }

  /** Runs one step; returns the nanoseconds spent in timed statements. */
  private def step(st: JsonNode, r: Int, timed: Boolean): Long = {
    val kind = st.get("kind").asText()
    val rec = steps.addObject().put("round", r).put("kind", kind)
      .put("timed", timed)
    Option(st.get("check")).foreach(c => rec.set[JsonNode]("check", c))
    try kind match {
      case "lookup" | "scan" => read(st, kind, rec)
      case "insert" | "update" | "delete" | "merge" =>
        val before = liveFiles()
        val (_, ns) = timedNs(Trace.span(s"stmt.$kind") {
          Trace.span("write.sql")(engine.sql(st.get("sql").asText()).collect())
        })
        rec.put("ms", ns / 1e6)
        val added = liveFiles().filter { case (f, _) => !before.contains(f) }
        rec.put("files_written", added.size)
        rec.put("bytes_written", added.values.sum)
        ns
      case "maint" => maint(st, rec)
      case "pass" => pass(st, rec)
      case "checksum" =>
        val df = engine.sql(st.get("sql").asText())
        rec.set[JsonNode]("rows",
          rowsJson(df.collect().toSeq, df.schema.fieldNames.toSeq))
        0L
    } catch {
      case e: Throwable =>
        rec.put("error", s"${e.getClass.getName}: ${e.getMessage}".take(500))
        0L
    }
  }

  private def timedNs[T](body: => T): (T, Long) = {
    val t0 = System.nanoTime()
    val v = body
    (v, System.nanoTime() - t0)
  }

  /** A SELECT timed phase by phase and measured to its last row, by
    * consuming the statement's own plan (`queryExecution.toRdd`). */
  private def read(st: JsonNode, kind: String, rec: ObjectNode): Long = {
    val sql = st.get("sql").asText()
    val t0 = System.nanoTime()
    val (df, rows) = Trace.span(s"stmt.$kind") {
      val df = Trace.span("read.sql")(engine.sql(sql))
      val qe = df.queryExecution
      Trace.span("read.optimize")(qe.optimizedPlan)
      Trace.span("read.plan")(qe.executedPlan)
      val rows = Trace.span("read.exec")(qe.toRdd.map(_.copy()).collect())
      (df, rows)
    }
    val ns = System.nanoTime() - t0
    rec.put("ms", ns / 1e6)
    if (st.has("check")) {
      val conv = CatalystTypeConverters.createToScalaConverter(df.schema)
      rec.set[JsonNode]("rows", rowsJson(
        rows.toSeq.map(conv(_).asInstanceOf[Row]), df.schema.fieldNames.toSeq))
    }
    if (Trace.on && kind == "lookup")
      rec.put("shards", engine.explainShards(df))
    ns
  }

  /** Live data files of every table (path -> bytes), read from outside:
    * `<warehouse>/data/<table>/bucket=k/`, skipping the dot-prefixed
    * archive and staging dirs. */
  private def liveFiles(): Map[String, Long] = {
    def walk(f: File): Seq[(String, Long)] =
      if (f.getName.startsWith(".") || f.getName.startsWith("_")) Nil
      else if (f.isFile) if (f.getName.endsWith(".parquet")) Seq(f.getPath -> f.length) else Nil
      else Option(f.listFiles).toSeq.flatten.flatMap(walk)
    walk(new File(s"${engine.warehouse}/data")).toMap
  }

  /** OPTIMIZE, DESCRIBE HISTORY, RESTORE to a retained version, VACUUM,
    * back to back; the restore target is read from the history. */
  private def maint(st: JsonNode, rec: ObjectNode): Long = {
    val t = st.get("table").asText()
    var total = 0L
    def stmt[T](name: String)(body: => T): T = {
      val (v, ns) = timedNs(Trace.span(s"stmt.maint") {
        Trace.span(s"maint.$name")(body)
      })
      rec.put(s"${name}_ms", ns / 1e6)
      total += ns
      v
    }
    stmt("optimize")(engine.sql(s"OPTIMIZE $t").collect())
    val hist = stmt("history")(engine.sql(s"DESCRIBE HISTORY $t").collect())
    val live = hist.filter(_.getAs[Boolean]("table_exists"))
      .map(_.getAs[Long]("version")).sorted
    rec.put("versions_retained", live.size)
    val (archFiles, archBytes) = dirSize(s"${engine.warehouse}/data/$t/.archive")
    rec.put("archive_files_before", archFiles)
    rec.put("archive_bytes_before", archBytes)
    val target = live(math.max(0, live.size - 1 - st.get("restore_back").asInt()))
    stmt("restore")(engine.sql(s"RESTORE TABLE $t TO VERSION AS OF $target")
      .collect())
    val vac = stmt("vacuum")(engine.sql("VACUUM RETAIN 0 HOURS").collect())
    rec.set[JsonNode]("vacuum", rowsJson(vac.toSeq,
      Seq("manifests_deleted", "files_deleted", "bytes_reclaimed",
        "archive_files_retained", "archive_bytes_retained", "wall_ms",
        "stray_live_files", "stray_live_bytes")))
    rec.put("ms", total / 1e6)
    total
  }

  /** (files, bytes) under a directory, checksum files excluded. */
  private def dirSize(path: String): (Long, Long) = {
    def walk(f: File): (Long, Long) =
      if (f.isFile) if (f.getName.endsWith(".crc")) (0L, 0L) else (1L, f.length)
      else Option(f.listFiles).toSeq.flatten.map(walk)
        .foldLeft((0L, 0L))((a, b) => (a._1 + b._1, a._2 + b._2))
    walk(new File(path))
  }

  /** One pass of the text pipeline over a corpus dir of its own; each row
    * is one statement. */
  private def pass(st: JsonNode, rec: ObjectNode): Long = {
    val dir = st.get("dir").asText()
    val rows = rec.putObject("rows_by_query")
    val ms = rec.putObject("ms_by_query")
    var total = 0L
    st.get("queries").elements().asScala.map(_.asText()).foreach { q =>
      SparkEntry.oracleSql.get(q).foreach(oracles.put(q, _))
      val fn = SparkEntry.queries(q)
      val ((df, internal), ns) = timedNs(Trace.span("stmt.row") {
        Trace.span(s"pipeline.$q") {
          val df = fn(spark, dir)
          (df, df.queryExecution.toRdd.map(_.copy()).collect())
        }
      })
      ms.put(q, ns / 1e6)
      total += ns
      val conv = CatalystTypeConverters.createToScalaConverter(df.schema)
      rows.set[JsonNode](q, rowsJson(
        internal.toSeq.map(conv(_).asInstanceOf[Row]), df.schema.fieldNames.toSeq))
    }
    DedupQueries.releaseShingles(dir)
    rec.put("ms", total / 1e6)
    total
  }

  private def finalChecks(): Unit = {
    Option(plan.get("final")).foreach(_.elements().asScala.foreach { st =>
      step(st, -1, timed = false)
    })
    if (engine != null)
      out.put("manifest_bytes",
        dirSize(s"${engine.warehouse}/_mpp_catalog/manifests")._2)
  }

  // --- result rows as JSON ------------------------------------------------

  private val mapper = new ObjectMapper()

  private def rowsJson(rows: Seq[Row], cols: Seq[String]): ObjectNode = {
    val o = mapper.createObjectNode()
    val c = o.putArray("cols")
    cols.foreach(c.add)
    val data = o.putArray("data")
    rows.foreach { r =>
      val a = data.addArray()
      (0 until r.length).foreach(i => add(a, r.get(i)))
    }
    o
  }

  private def add(a: ArrayNode, v: Any): Unit = v match {
    case null => a.addNull()
    case x: Boolean => a.add(x)
    case x: Byte => a.add(x.toLong)
    case x: Short => a.add(x.toLong)
    case x: Int => a.add(x.toLong)
    case x: Long => a.add(x)
    case x: Float => num(a, x.toDouble)
    case x: Double => num(a, x)
    case x: java.math.BigDecimal => a.addObject().put("dec", x.toPlainString)
    case x: scala.math.BigDecimal => a.addObject().put("dec", x.bigDecimal.toPlainString)
    case x: java.sql.Date => a.addObject().put("date", x.toString)
    case x: java.time.LocalDate => a.addObject().put("date", x.toString)
    case x: java.sql.Timestamp => a.addObject().put("ts", x.toInstant.toString)
    case x: Array[Byte] => a.add(x.map("%02x".format(_)).mkString)
    case x: scala.collection.Seq[_] =>
      val n = a.addArray(); x.foreach(add(n, _))
    case x: Row =>
      val n = a.addArray(); (0 until x.length).foreach(i => add(n, x.get(i)))
    case x: scala.collection.Map[_, _] =>
      val n = a.addArray()
      x.toSeq.map { case (k, v) => (k.toString, v) }.sortBy(_._1).foreach {
        case (k, v) => val p = n.addArray(); p.add(k); add(p, v)
      }
    case x => a.add(x.toString)
  }

  private def num(a: ArrayNode, d: Double): Unit =
    if (d.isNaN || d.isInfinite) a.addObject().put("float", d.toString)
    else a.add(d)
}
