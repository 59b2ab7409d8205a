package graft.serve

import com.fasterxml.jackson.databind.ObjectMapper
import com.sun.net.httpserver.{HttpExchange, HttpHandler, HttpServer}
import org.apache.spark.SparkContext
import org.apache.spark.sql.{DataFrame, GraftPersist, SparkSession}

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets
import java.util.concurrent.{LinkedBlockingQueue, ThreadPoolExecutor, TimeUnit}
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import graft.model.ColumnProfile

/** The profile-as-a-service surface — the Spark-native twin of the
  * reference's DECLARED-but-never-built FastAPI app (`pyproject.toml:18-21`
  * ships fastapi/uvicorn deps and `.env.example` documents an upload→profile
  * API, but the `api/` package is 0-byte stubs). Endpoints:
  *
  *   - `GET /health` → `{"status":"ok"}`
  *   - `GET /profile?path=<dataset>` or `POST /profile` with body
  *     `{"path": "<dataset>"}` → the per-column classification table as a
  *     JSON array (parquet / csv / jsonl, dispatched by extension like the
  *     CLI).
  *   - `POST /upload?format=csv|jsonl` with the raw file content as the
  *     request body → the same profile table, computed over the uploaded
  *     content — the `.env.example` `UPLOAD_DIR`/`MAX_FILE_SIZE` ingestion
  *     path (`.env.example:24-25`). The body is size-capped (`maxUploadBytes`,
  *     read incrementally so an oversize body is rejected with 400 without
  *     buffering it); content lands under `uploadDir` (a unique temp file,
  *     deleted once profiling completes) and is read back
  *     through the [[graft.io.Sources]] readers. Malformed JSONL lines are
  *     QUARANTINED, not crashed on (PERMISSIVE `_corrupt_record`), and the
  *     response reports `{"rows", "quarantined", "profiles"}`; content with
  *     no parseable rows is a 400.
  *
  * Built on the JDK's own httpserver — the zero-egress build adds no HTTP
  * framework dependency. Binds loopback by default: this is a driver-side
  * control endpoint (profiling runs as Spark jobs on the cluster), not a
  * data-plane service; put real auth in front before binding wider.
  *
  * Requests run on a pool of `defaultParallelism` daemon threads named
  * `profile-server-N`, not on the JDK's single dispatcher thread, so the
  * small Spark jobs of concurrent requests overlap across the cores and a
  * slow client body holds one pool thread, not the whole server. That holds
  * while fewer than `defaultParallelism` clients stall: there is no request
  * read timeout, so that many stalled bodies hold every thread. The
  * profiler is thread-safe. Threads start on demand and exit after
  * [[IdleThreadSeconds]] idle, so a stopped server leaves none behind. Each
  * `/profile` and `/upload` request runs its Spark jobs under its own job
  * group, `serve:<endpoint>:<seq>`.
  */
object ProfileServer {

  private val mapper = new ObjectMapper()

  private[serve] def profilesToJson(profiles: Seq[ColumnProfile]): String = {
    val arr = mapper.createArrayNode()
    profiles.foreach { p =>
      val o = arr.addObject()
      o.put("column_name", p.originalName)
      o.put("suggested_name", p.suggestedName)
      o.put("data_type", p.dataType.value)
      o.put("is_primary_key", p.isPrimaryKey)
      o.put("is_business_key", p.isBusinessKey)
      o.put("pii_level", p.piiLevel.value)
      o.put("total_rows", p.totalRows)
      o.put("null_count", p.nullCount)
      o.put("unique_count", p.uniqueCount)
      o.put("null_ratio", p.nullRatio)
      o.put("unique_ratio", p.uniqueRatio)
      o.put("confidence_score", p.confidenceScore)
      o.put("business_meaning", p.businessMeaning)
    }
    mapper.writeValueAsString(arr)
  }

  private def respond(ex: HttpExchange, status: Int, body: String): Unit = {
    val bytes = body.getBytes(StandardCharsets.UTF_8)
    ex.getResponseHeaders.set("Content-Type", "application/json; charset=utf-8")
    ex.sendResponseHeaders(status, bytes.length.toLong)
    val os = ex.getResponseBody
    try os.write(bytes)
    finally os.close()
  }

  private def err(msg: String): String =
    mapper.createObjectNode().put("error", msg).toString

  /** A /profile body only ever carries `{"path": "..."}` — cap its read so a
    * multi-gigabyte POST body cannot OOM the driver heap the way /upload's
    * readCapped already prevents there.
    */
  private[graft] val MaxProfileBodyBytes: Long = 64L * 1024

  private[serve] def pathOf(ex: HttpExchange): Option[String] = {
    val fromQuery = Option(ex.getRequestURI.getRawQuery)
      .flatMap(_.split('&').collectFirst {
        case kv if kv.startsWith("path=") =>
          java.net.URLDecoder.decode(kv.drop(5), "UTF-8")
      })
    def fromBody =
      if (ex.getRequestMethod == "POST")
        readCapped(ex.getRequestBody, MaxProfileBodyBytes).flatMap { bytes =>
          try {
            val node = mapper.readTree(new String(bytes, StandardCharsets.UTF_8))
            Option(node).filter(_.isObject).map(_.path("path")).filter(_.isTextual).map(_.asText())
          } catch { case _: Exception => None }
        }
      else None
    // query wins; the body is only read (capped) when the query has no path
    fromQuery.filter(_.nonEmpty).orElse(fromBody.filter(_.nonEmpty))
  }

  /** Default upload size cap — the `.env.example` MAX_FILE_SIZE role. Uploads
    * are a control-plane convenience for small datasets; big data arrives by
    * path (the cluster-readable location), never through the driver's HTTP
    * socket.
    */
  val DefaultMaxUploadBytes: Long = 16L * 1024 * 1024

  /** Read the stream up to `cap` bytes; None once the cap is exceeded (the
    * remainder is not buffered).
    */
  private[serve] def readCapped(in: java.io.InputStream, cap: Long): Option[Array[Byte]] = {
    val buf   = new java.io.ByteArrayOutputStream()
    val chunk = new Array[Byte](64 * 1024)
    var n = in.read(chunk)
    while (n >= 0) {
      buf.write(chunk, 0, n)
      if (buf.size() > cap) return None
      n = in.read(chunk)
    }
    Some(buf.toByteArray)
  }

  private def queryParam(ex: HttpExchange, key: String): Option[String] =
    Option(ex.getRequestURI.getRawQuery)
      .flatMap(_.split('&').collectFirst {
        case kv if kv.startsWith(s"$key=") =>
          java.net.URLDecoder.decode(kv.drop(key.length + 1), "UTF-8")
      })
      .filter(_.nonEmpty)

  /** Parse an uploaded file into (good rows, quarantined count, release).
    * JSONL reads PERMISSIVE with an explicit `_corrupt_record` column
    * appended to the inferred schema — malformed lines count as quarantined
    * instead of failing the upload. The parsed rows are PERSISTED (Spark
    * disallows filtering a raw file source on `_corrupt_record` alone —
    * QUERY_ONLY_CORRUPT_RECORD_COLUMN — and every column batch of the
    * profile must see one parse) through `GraftPersist`, not the session
    * cache, whose first read AQE materializes in a job of its own. One
    * aggregate over them in one partition counts good and quarantined rows
    * and fills the persisted blocks in the same job; callers run
    * `release()` after profiling. None when no line parses. CSV reads
    * header+inference (the size cap bounds the inference scan) with no row
    * probe: the caller answers a 0-row profile as "no parseable rows". None
    * when the file has no columns.
    */
  private[serve] def parseUpload(
      spark: SparkSession,
      path: String,
      format: String
  ): Option[(org.apache.spark.sql.DataFrame, Long, () => Unit)] = format match {
    case "jsonl" =>
      val inferred = graft.io.Sources.readJsonl(spark, path, None)
      val dataCols = inferred.columns.filterNot(_ == "_corrupt_record")
      if (dataCols.isEmpty) None
      else {
        val q = org.apache.spark.sql.types.StructType(
          inferred.schema.fields.filterNot(_.name == "_corrupt_record") :+
            org.apache.spark.sql.types.StructField(
              "_corrupt_record", org.apache.spark.sql.types.StringType))
        val withQ = GraftPersist(graft.io.Sources.readJsonl(spark, path, Some(q)))
        val release = () => GraftPersist.unpersist(withQ)
        import org.apache.spark.sql.functions.{col, count_if}
        val bad = col("_corrupt_record").isNotNull
        // one job: a global aggregate over one partition needs no exchange
        val counts = withQ.coalesce(1).agg(count_if(!bad), count_if(bad)).collect()(0)
        if (counts.getLong(0) == 0L) { release(); None }
        else Some((withQ.where(!bad).drop("_corrupt_record"), counts.getLong(1), release))
      }
    case "csv" =>
      val df = graft.io.Sources.readCsv(spark, path)
      if (df.columns.isEmpty) None else Some((df, 0L, () => ()))
    case _ => None
  }

  /** Seconds a request thread may sit idle before it exits. */
  private val IdleThreadSeconds = 10L

  private val requestThreads = new AtomicInteger()

  /** A fixed pool of `size` daemon request threads, created on demand. */
  private def requestPool(size: Int): ThreadPoolExecutor = {
    val pool = new ThreadPoolExecutor(size, size, IdleThreadSeconds, TimeUnit.SECONDS,
      new LinkedBlockingQueue[Runnable](), (r: Runnable) => {
        val t = new Thread(r, s"profile-server-${requestThreads.incrementAndGet()}")
        t.setDaemon(true)
        t
      })
    pool.allowCoreThreadTimeOut(true)
    pool
  }

  /** Run `body` under a fresh job group `serve:<endpoint>:<seq>`. A pool
    * thread would otherwise keep the job group it inherited from the thread
    * that created it.
    */
  private def inJobGroup(sc: SparkContext, endpoint: String, seq: AtomicLong)(body: => Unit): Unit = {
    sc.setJobGroup(s"serve:$endpoint:${seq.incrementAndGet()}", s"ProfileServer /$endpoint")
    try body
    finally sc.clearJobGroup()
  }

  /** Start the server; `port = 0` picks an ephemeral port (tests). Returns
    * the running server — callers stop it with `.stop(0)`.
    */
  def start(
      spark: SparkSession,
      port: Int,
      host: String = "127.0.0.1",
      maxUploadBytes: Long = DefaultMaxUploadBytes,
      uploadDir: String = sys.props("java.io.tmpdir") + "/graft_uploads"
  ): HttpServer =
    // the same env-configured engine choice as the CLI, via the ONE shared
    // factory (`Main.engineFor`) so the two surfaces cannot drift
    startWith(spark, graft.Main.engineFor(graft.Main.aiProviders()), port, host, maxUploadBytes, uploadDir)

  /** [[start]] with a given profiling engine. */
  private[graft] def startWith(
      spark: SparkSession,
      run: DataFrame => graft.model.ClassificationResult,
      port: Int,
      host: String,
      maxUploadBytes: Long,
      uploadDir: String
  ): HttpServer = {
    val engine: DataFrame => Seq[graft.model.ColumnProfile] =
      df => run(df).columnProfiles
    val sc = spark.sparkContext
    val requests = new AtomicLong()
    val server = HttpServer.create(new InetSocketAddress(host, port), 0)
    server.setExecutor(requestPool(sc.defaultParallelism))
    server.createContext("/health", new HttpHandler {
      def handle(ex: HttpExchange): Unit = respond(ex, 200, """{"status":"ok"}""")
    })
    server.createContext("/profile", new HttpHandler {
      def handle(ex: HttpExchange): Unit = inJobGroup(sc, "profile", requests) {
        pathOf(ex) match {
          case None =>
            respond(ex, 400, err("missing 'path' (query param or JSON body)"))
          case Some(p) =>
            try {
              val df = graft.Main.readAny(spark, p)
              respond(ex, 200, profilesToJson(engine(df)))
            } catch {
              case e: org.apache.spark.sql.AnalysisException =>
                respond(ex, 404, err(s"cannot read dataset: ${e.getMessage.takeWhile(_ != '\n')}"))
              case e: Exception =>
                respond(ex, 500, err(s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).takeWhile(_ != '\n')}"))
            }
        }
      }
    })
    server.createContext("/upload", new HttpHandler {
      def handle(ex: HttpExchange): Unit = inJobGroup(sc, "upload", requests) {
        val format = queryParam(ex, "format").getOrElse("")
        if (ex.getRequestMethod != "POST")
          respond(ex, 405, err("upload is POST-only"))
        else if (format != "csv" && format != "jsonl")
          respond(ex, 400, err("unsupported or missing format (csv|jsonl)"))
        else readCapped(ex.getRequestBody, maxUploadBytes) match {
          case None =>
            respond(ex, 400, err(s"payload exceeds MAX_FILE_SIZE ($maxUploadBytes bytes)"))
          case Some(bytes) if bytes.isEmpty =>
            respond(ex, 400, err("empty upload body"))
          case Some(bytes) =>
            try {
              val dir = new java.io.File(uploadDir)
              dir.mkdirs()
              // createTempFile: unique per request AND across JVM restarts —
              // a plain counter restarts at 1 after a bounce and silently
              // overwrites (or races a second server sharing the dir)
              val file =
                java.nio.file.Files.createTempFile(dir.toPath, "upload_", s".$format").toFile
              val (status, reply) =
                try {
                  java.nio.file.Files.write(file.toPath, bytes)
                  parseUpload(spark, file.getAbsolutePath, format) match {
                    case None =>
                      (400, err("no parseable rows in upload"))
                    case Some((df, quarantined, release)) =>
                      val profiles =
                        try engine(df)
                        finally release()
                      val rows = profiles.headOption.map(_.totalRows).getOrElse(0L)
                      if (rows == 0L) (400, err("no parseable rows in upload"))
                      else {
                        val o = mapper.createObjectNode()
                        o.put("rows", rows)
                        o.put("quarantined", quarantined)
                        o.set[com.fasterxml.jackson.databind.JsonNode](
                          "profiles", mapper.readTree(profilesToJson(profiles)))
                        (200, mapper.writeValueAsString(o))
                      }
                  }
                } finally
                  // profiling is complete (engine() is eager), and the file
                  // goes BEFORE the reply, so a client that has its reply
                  // never sees it — without this a long-running service
                  // accumulates 16MB files until the tmp filesystem fills
                  file.delete()
              respond(ex, status, reply)
            } catch {
              case e: Exception =>
                respond(ex, 500, err(s"${e.getClass.getSimpleName}: " +
                  s"${String.valueOf(e.getMessage).takeWhile(_ != '\n')}"))
            }
        }
      }
    })
    server.start()
    server
  }
}

/** `runMain graft.serve.Serve [port]` — standalone service entry point. */
object Serve {
  def main(args: Array[String]): Unit = {
    val port = args.headOption.map(_.toInt).getOrElse(8080)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft-serve")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val server = ProfileServer.start(spark, port)
    println(s"graft profile service listening on ${server.getAddress}")
    Thread.currentThread().join() // serve until killed
  }
}
