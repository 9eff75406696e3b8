package graft.tools

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets

import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.fs.{FSDataInputStream, FSDataOutputStream, FSInputStream, FileAlreadyExistsException, FileStatus, FileSystem, Path}
import org.apache.hadoop.util.Progressable

/** A Hadoop FileSystem whose every operation is a REAL network RPC —
  * HTTP requests to [[MiniFsServer]], which can run as a SEPARATE
  * PROCESS serving a local directory tree. The DATA-plane twin of
  * `MiniObjectStoreServer`: under `graftfs:` every
  * open/create/list/rename/read crosses a process boundary over TCP,
  * so the engine's DML battery exercises its
  * metadata and data paths with genuine wire RPCs — serialization,
  * connection reuse, server-side atomicity and all.
  *
  * Semantics: plain POSIX-move rename (fails onto an existing
  * destination — the subset the engine relies on: job-unique names,
  * explicit target paths), exclusive create evaluated ATOMICALLY
  * server-side at publish (the buffered stream uploads on close; two
  * racers see one 412), byte-ranged positioned reads (the parquet
  * footer/column access pattern). Writes buffer in memory and upload
  * whole on close — catalog objects and bounded-row-group parquet
  * parts are MB-scale by design.
  *
  * Wire-up: `fs.graftfs.impl` = this FQCN,
  * `fs.AbstractFileSystem.graftfs.impl` = [[HttpDataAbstractFs]],
  * warehouse `graftfs://127.0.0.1:<port>/<dir>`; the catalog needs
  * `graft.catalog.fs.assumeAtomic=true` (the server's rename/create
  * ARE atomic — enforced under its lock — the scheme is just unknown
  * to the allowlist). */
class HttpDataFileSystem extends FileSystem {

  private var fsUri: URI = _
  private var base: String = _ // http://host:port

  override def initialize(uri: URI, conf: org.apache.hadoop.conf.Configuration): Unit = {
    super.initialize(uri, conf)
    setConf(conf)
    fsUri = URI.create(s"graftfs://${uri.getAuthority}")
    base = s"http://${uri.getAuthority}"
  }

  override def getScheme: String = "graftfs"
  override def getUri: URI = fsUri

  private var workDir = new Path("/")
  override def getWorkingDirectory: Path = workDir
  override def setWorkingDirectory(p: Path): Unit = { workDir = p }

  private def abs(p: Path): String = {
    val q = if (p.isAbsolute) p else new Path(workDir, p)
    val s = q.toUri.getPath
    if (s == null || s.isEmpty) "/" else s
  }

  private def enc(s: String): String =
    java.net.URLEncoder.encode(s, "UTF-8")

  private def call(method: String, op: String,
      params: Seq[(String, String)], body: Array[Byte] = null)
      : HttpResponse[Array[Byte]] = {
    HttpDataFileSystem.rpcs.increment()
    val q = (("op" -> op) +: params)
      .map { case (k, v) => s"$k=${enc(v)}" }.mkString("&")
    val b = HttpRequest.newBuilder(URI.create(s"$base/fs?$q"))
      .method(method,
        if (body == null) HttpRequest.BodyPublishers.noBody()
        else HttpRequest.BodyPublishers.ofByteArray(body))
    HttpDataFileSystem.client.send(b.build(),
      HttpResponse.BodyHandlers.ofByteArray())
  }

  private def statusFromJson(m: Map[String, String], p: Path): FileStatus =
    new FileStatus(m("len").toLong, m("dir").toBoolean, 1,
      getDefaultBlockSize(p), m("mtime").toLong,
      makeQualified(p))

  /** Minimal parser for the server's flat JSON objects/arrays (keys
    * and string values never contain unescaped quotes: paths are
    * %-encoded by the server). */
  private def parseObjs(s: String): Seq[Map[String, String]] = {
    val obj = """\{[^}]*\}""".r
    val kv = """"([^"]+)":"([^"]*)"""".r
    obj.findAllIn(s).map { o =>
      kv.findAllMatchIn(o).map(m =>
        m.group(1) -> java.net.URLDecoder.decode(m.group(2), "UTF-8"))
        .toMap
    }.toVector
  }

  override def getFileStatus(p: Path): FileStatus = {
    val r = call("GET", "status", Seq("path" -> abs(p)))
    if (r.statusCode() == 404)
      throw new java.io.FileNotFoundException(abs(p))
    if (r.statusCode() != 200)
      throw new java.io.IOException(s"status ${abs(p)}: ${r.statusCode()}")
    statusFromJson(parseObjs(new String(r.body(),
      StandardCharsets.UTF_8)).head, p)
  }

  override def listStatus(p: Path): Array[FileStatus] = {
    val r = call("GET", "list", Seq("path" -> abs(p)))
    if (r.statusCode() == 404)
      throw new java.io.FileNotFoundException(abs(p))
    if (r.statusCode() != 200)
      throw new java.io.IOException(s"list ${abs(p)}: ${r.statusCode()}")
    parseObjs(new String(r.body(), StandardCharsets.UTF_8)).map { m =>
      // `self` = the entry is the listed path itself (a FILE lists as
      // itself per the Hadoop contract), not a child of it.
      val entryPath =
        if (m.get("self").contains("true")) p else new Path(p, m("name"))
      statusFromJson(m, entryPath)
    }.toArray
  }

  override def mkdirs(p: Path, permission: FsPermission): Boolean = {
    val r = call("POST", "mkdirs", Seq("path" -> abs(p)))
    r.statusCode() == 200
  }

  override def rename(src: Path, dst: Path): Boolean = {
    val r = call("POST", "rename",
      Seq("src" -> abs(src), "dst" -> abs(dst)))
    r.statusCode() == 200 &&
      new String(r.body(), StandardCharsets.UTF_8).trim == "true"
  }

  override def delete(p: Path, recursive: Boolean): Boolean = {
    val r = call("POST", "delete",
      Seq("path" -> abs(p), "recursive" -> recursive.toString))
    if (r.statusCode() == 409)
      throw new java.io.IOException(
        s"delete ${abs(p)}: directory not empty and recursive=false")
    r.statusCode() == 200 &&
      new String(r.body(), StandardCharsets.UTF_8).trim == "true"
  }

  override def open(p: Path, bufferSize: Int): FSDataInputStream = {
    val len = getFileStatus(p).getLen // also 404s on missing
    val path = abs(p)
    new FSDataInputStream(new FSInputStream {
      private var pos = 0L
      override def seek(newPos: Long): Unit = { pos = newPos }
      override def getPos: Long = pos
      override def seekToNewSource(t: Long): Boolean = false
      override def read(): Int = {
        val b = new Array[Byte](1)
        val n = read(b, 0, 1)
        if (n <= 0) -1 else b(0) & 0xff
      }
      override def read(b: Array[Byte], off: Int, len0: Int): Int = {
        val n = read(pos, b, off, len0)
        if (n > 0) pos += n
        n
      }
      override def read(position: Long, b: Array[Byte], off: Int,
          len0: Int): Int = {
        if (position >= len) return -1
        val want = math.min(len0.toLong, len - position).toInt
        if (want <= 0) return 0
        val r = call("GET", "read", Seq("path" -> path,
          "off" -> position.toString, "len" -> want.toString))
        if (r.statusCode() != 200)
          throw new java.io.IOException(s"read $path: ${r.statusCode()}")
        val got = r.body()
        if (got.isEmpty) -1
        else { System.arraycopy(got, 0, b, off, got.length); got.length }
      }
    })
  }

  override def create(p: Path, permission: FsPermission,
      overwrite: Boolean, bufferSize: Int, replication: Short,
      blockSize: Long, progress: Progressable): FSDataOutputStream = {
    val path = abs(p)
    // Fail fast on the common races; the AUTHORITATIVE exclusivity
    // check is the server's atomic evaluation at publish (close).
    if (!overwrite && exists(p))
      throw new FileAlreadyExistsException(path)
    val buf = new java.io.ByteArrayOutputStream()
    val out = new java.io.OutputStream {
      override def write(b: Int): Unit = buf.write(b)
      override def write(b: Array[Byte], off: Int, len: Int): Unit =
        buf.write(b, off, len)
      override def close(): Unit = {
        val r = call("PUT", "create", Seq("path" -> path,
          "overwrite" -> overwrite.toString), buf.toByteArray)
        if (r.statusCode() == 412)
          throw new FileAlreadyExistsException(path)
        if (r.statusCode() != 200)
          throw new java.io.IOException(
            s"create $path: HTTP ${r.statusCode()}")
      }
    }
    new FSDataOutputStream(out, statistics)
  }

  override def append(p: Path, bufferSize: Int,
      progress: Progressable): FSDataOutputStream =
    throw new UnsupportedOperationException("graftfs: append")

  override def getDefaultBlockSize(p: Path): Long = 32L * 1024 * 1024

  /** FileContext's AbstractFileSystem wrapper demands a positive
    * default port for authority-carrying schemes; real graftfs URIs
    * always name their port explicitly. */
  override def getDefaultPort: Int = 80
}

object HttpDataFileSystem {
  /** Shared client (connection pooling — one engine makes thousands
    * of calls) and a global RPC counter, which HttpDataFsSpec and
    * ClusterCheck read to prove the calls crossed the wire. */
  private val client = HttpClient.newBuilder()
    .connectTimeout(java.time.Duration.ofSeconds(20)).build()
  val rpcs = new java.util.concurrent.atomic.LongAdder
}

/** FileContext twin (the catalog's atomic replacing publish resolves
  * `fs.AbstractFileSystem.graftfs.impl`). */
class HttpDataAbstractFs(uri: URI,
    conf: org.apache.hadoop.conf.Configuration)
  extends org.apache.hadoop.fs.DelegateToFileSystem(
    uri, {
      val fs = new HttpDataFileSystem
      fs.initialize(URI.create(
        s"graftfs://${uri.getAuthority}"), conf)
      fs
    }, conf, "graftfs", true) {
  // AbstractFileSystem demands a positive default port when the
  // scheme carries an authority; every real graftfs URI names its
  // port explicitly, so the value only has to be valid.
  override def getUriDefaultPort: Int = 80
}

/** The far end: serves a local directory tree over the wire protocol
  * [[HttpDataFileSystem]] speaks. Mutations are serialized under one
  * lock, which makes exclusive create and rename genuinely atomic
  * server-side (the property `graft.catalog.fs.assumeAtomic` asserts).
  * Forked via [[MiniFsServer.main]] it is a separate PROCESS, so every
  * filesystem call of the engine under test crosses a real process
  * boundary. */
final class MiniFsServer(port: Int) {

  private val lock = new Object

  private def jstr(s: String): String =
    "\"" + java.net.URLEncoder.encode(s, "UTF-8") + "\""

  private def statusJson(p: java.nio.file.Path, name: String): String = {
    val dir = java.nio.file.Files.isDirectory(p)
    val len = if (dir) 0L else java.nio.file.Files.size(p)
    val mtime = java.nio.file.Files.getLastModifiedTime(p).toMillis
    s"""{"name":${jstr(name)},"len":"$len","dir":"$dir","mtime":"$mtime"}"""
  }

  private val server = com.sun.net.httpserver.HttpServer.create(
    new java.net.InetSocketAddress("127.0.0.1", port), 64)

  def boundPort: Int = server.getAddress.getPort

  server.createContext("/fs", { exchange =>
    try {
      val params = Option(exchange.getRequestURI.getRawQuery)
        .getOrElse("").split("&").filter(_.contains("="))
        .map { kv =>
          val Array(k, v) = kv.split("=", 2)
          k -> java.net.URLDecoder.decode(v, "UTF-8")
        }.toMap
      def path(k: String = "path") =
        java.nio.file.Paths.get(params(k))
      def respond(code: Int, body: Array[Byte]): Unit = {
        exchange.sendResponseHeaders(code,
          if (body.isEmpty) -1 else body.length.toLong)
        if (body.nonEmpty) exchange.getResponseBody.write(body)
        exchange.close()
      }
      def text(code: Int, s: String): Unit =
        respond(code, s.getBytes(StandardCharsets.UTF_8))
      import java.nio.file.{Files => F}
      params.getOrElse("op", "") match {
        case "status" =>
          val p = path()
          if (!F.exists(p)) text(404, "absent")
          else text(200, statusJson(p, p.getFileName.toString))
        case "list" =>
          val p = path()
          if (!F.exists(p)) text(404, "absent")
          else if (!F.isDirectory(p)) // Hadoop contract: file lists itself
            // `self` tells the client the entry IS the listed path,
            // not a child of it (a child named like its parent would
            // otherwise be indistinguishable).
            text(200, s"[${statusJson(p, p.getFileName.toString)
              .dropRight(1)},\"self\":\"true\"}]")
          else {
            val s = F.list(p)
            try {
              import scala.jdk.CollectionConverters._
              text(200, s.iterator().asScala
                .map(c => statusJson(c, c.getFileName.toString))
                .mkString("[", ",", "]"))
            } finally s.close()
          }
        case "read" =>
          val p = path()
          if (!F.isRegularFile(p)) text(404, "absent")
          else {
            val off = params("off").toLong
            val want = params("len").toInt
            val ch = java.nio.channels.FileChannel.open(p,
              java.nio.file.StandardOpenOption.READ)
            try {
              val size = ch.size()
              if (off >= size) respond(200, Array.emptyByteArray)
              else {
                val n = math.min(want.toLong, size - off).toInt
                val bb = java.nio.ByteBuffer.allocate(n)
                var read = 0
                while (read < n) {
                  val k = ch.read(bb, off + read)
                  if (k < 0) read = n else read += k
                }
                respond(200, bb.array())
              }
            } finally ch.close()
          }
        case "mkdirs" =>
          lock.synchronized(F.createDirectories(path()))
          text(200, "true")
        case "rename" =>
          val (s, d) = (path("src"), path("dst"))
          val ok = lock.synchronized {
            if (!F.exists(s) || F.exists(d) ||
                d.getParent == null || !F.isDirectory(d.getParent)) false
            else
              try { F.move(s, d); true }
              catch { case _: java.io.IOException => false }
          }
          text(200, ok.toString)
        case "delete" =>
          val p = path()
          val recursive = params.getOrElse("recursive", "false").toBoolean
          val ok: Option[Boolean] = lock.synchronized {
            if (!F.exists(p)) Some(false)
            else if (F.isDirectory(p)) {
              val s = F.list(p)
              val hasChild = try s.findFirst().isPresent finally s.close()
              if (hasChild && !recursive) None // 409 below
              else {
                def rm(x: java.nio.file.Path): Unit = {
                  if (F.isDirectory(x)) {
                    val cs = F.list(x)
                    try {
                      import scala.jdk.CollectionConverters._
                      cs.iterator().asScala.toVector.foreach(rm)
                    } finally cs.close()
                  }
                  F.deleteIfExists(x); ()
                }
                rm(p); Some(true)
              }
            } else Some(F.deleteIfExists(p))
          }
          ok match {
            case Some(b) => text(200, b.toString)
            case None => text(409, "notempty")
          }
        case "create" =>
          val p = path()
          val overwrite = params.getOrElse("overwrite", "true").toBoolean
          val body = exchange.getRequestBody.readAllBytes()
          val code = lock.synchronized {
            if (!overwrite && F.exists(p)) 412
            else {
              if (p.getParent != null) F.createDirectories(p.getParent)
              F.write(p, body)
              200
            }
          }
          text(code, if (code == 200) "ok" else "exists")
        case other => text(400, s"unknown op $other")
      }
    } catch {
      case e: Throwable =>
        try {
          exchange.sendResponseHeaders(500, -1); exchange.close()
        } catch { case _: Throwable => }
        if (!e.isInstanceOf[Exception]) throw e
    }
  })
  // Daemon pool, shut down on stop(): a plain fixed pool keeps the
  // hosting JVM alive after stop() (non-daemon worker threads), which
  // hangs probe mains that embed the server in-process.
  private val pool = java.util.concurrent.Executors.newFixedThreadPool(32,
    (r: Runnable) => {
      val t = new Thread(r, "graft-minifs")
      t.setDaemon(true)
      t
    })
  server.setExecutor(pool)

  def start(): MiniFsServer = { server.start(); this }
  def stop(): Unit = { server.stop(0); pool.shutdown() }
}

/** Forked-process entry (`runMain graft.tools.MiniFsServer <port>`):
  * serve until killed. Prints one READY line once bound. */
object MiniFsServer {
  def main(args: Array[String]): Unit = {
    val port = if (args.length > 0) args(0).toInt else 0
    val s = new MiniFsServer(port).start()
    println(s"MINIFS READY port=${s.boundPort}")
    Thread.sleep(Long.MaxValue)
  }
}
