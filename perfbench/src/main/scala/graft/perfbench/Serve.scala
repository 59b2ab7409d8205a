package graft.perfbench

import com.fasterxml.jackson.databind.JsonNode
import com.fasterxml.jackson.databind.node.ObjectNode
import com.sun.net.httpserver.HttpServer
import org.apache.spark.sql.SparkSession

import graft.perfbench.Harness._
import graft.serve.ProfileServer

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets
import java.time.Duration
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** The serving workload: a closed loop of [[Clients]] clients, zero think
  * time, against an in-process [[ProfileServer]] over loopback HTTP. A round
  * is one `GET /profile` of each table and two `POST /upload`s (one CSV, one
  * JSONL) in a seeded order; a run ends at the first round boundary after
  * the run length, so every run serves whole rounds.
  */
object Serve {
  val Tables: Seq[String] = Seq("customer", "lineitem", "nation", "orders", "part", "region", "supplier", "events")
  val Clients = 4
  val RoundSize: Int = Tables.size + 2

  sealed trait Req
  final case class Profile(table: String) extends Req
  final case class Upload(body: Uploads.Body) extends Req

  final case class Sample(req: Req, startNs: Long, endNs: Long, error: Option[String]) {
    def ms: Double = (endNs - startNs) / 1e6
  }

  def run(conf: Conf, dir: String): ObjectNode = {
    var server: HttpServer = null
    val http = HttpClient.newBuilder().version(HttpClient.Version.HTTP_1_1)
      .connectTimeout(Duration.ofSeconds(10)).build()
    def base = s"http://127.0.0.1:${server.getAddress.getPort}"
    val (spark, setupS) = setUp(conf, dir) { s =>
      server = ProfileServer.start(s, 0)
      val health = http.send(HttpRequest.newBuilder(URI.create(s"$base/health")).build(),
        HttpResponse.BodyHandlers.ofString())
      require(health.statusCode == 200, s"/health answered ${health.statusCode}")
      val started = server
      () => started.stop(0)
    }
    val failures = mutable.ArrayBuffer.empty[(String, String)]
    val paths = Tables.map(t => t -> s"$dir/$t.parquet").toMap
    val expected = Tables.map { t =>
      val df = spark.read.parquet(paths(t))
      t -> (df.columns.toSeq, df.count())
    }.toMap
    val bodies = Uploads.bodies(conf.seed)

    def send(req: Req): Sample = {
      val request = req match {
        case Profile(t) =>
          HttpRequest.newBuilder(URI.create(
            s"$base/profile?path=${java.net.URLEncoder.encode(paths(t), StandardCharsets.UTF_8)}")).GET()
        case Upload(b) =>
          HttpRequest.newBuilder(URI.create(s"$base/upload?format=${b.format}"))
            .POST(HttpRequest.BodyPublishers.ofByteArray(b.bytes))
      }
      val t0 = System.nanoTime()
      val error =
        try {
          val resp = http.send(request.timeout(Duration.ofSeconds(120)).build(),
            HttpResponse.BodyHandlers.ofString())
          if (resp.statusCode / 100 != 2) Some(s"HTTP ${resp.statusCode}: ${resp.body.take(200)}")
          else check(req, mapper.readTree(resp.body), expected)
        } catch { case e: Exception => Some(message(e)) }
      Sample(req, t0, System.nanoTime(), error)
    }

    val rounds = mutable.Map.empty[Int, IndexedSeq[Req]]
    def reqAt(i: Int): Req = rounds.synchronized {
      val r = i / RoundSize
      rounds.getOrElseUpdate(r, {
        val uploads = Seq("csv", "jsonl").map { f =>
          val ofFormat = bodies.filter(_.format == f)
          Upload(ofFormat(r % ofFormat.size))
        }
        new scala.util.Random(conf.seed * 1000003L + r).shuffle(Tables.map(Profile) ++ uploads).toIndexedSeq
      })(i % RoundSize)
    }

    /** One closed-loop window that ends at the first round boundary after
      * `length` seconds; returns its samples and wall seconds.
      */
    def window(length: Double, onSample: Sample => Unit): (Seq[Sample], Double) = {
      val samples = new java.util.concurrent.ConcurrentLinkedQueue[Sample]()
      var next = 0
      var closed = false
      val start = System.nanoTime()
      def take(): Option[Int] = synchronized {
        if (!closed && next > 0 && next % RoundSize == 0 && seconds(System.nanoTime() - start) >= length)
          closed = true
        if (closed) None
        else { next += 1; Some(next - 1) }
      }
      val clients = (1 to math.min(Clients, conf.cores)).map { _ =>
        new Thread(() => {
          var i = take()
          while (i.isDefined) {
            val s = send(reqAt(i.get))
            samples.add(s)
            onSample(s)
            i = take()
          }
        })
      }
      clients.foreach(_.start())
      clients.foreach(_.join())
      val all = samples.asScala.toSeq.sortBy(_.startNs)
      (all, seconds(all.map(_.endNs).max - start))
    }

    // Untimed warm-up: one round under the same closed loop, checked like the rest.
    window(0, _ => ())._1.foreach(s => s.error.foreach(e => failures += label(s.req) -> s"warm-up: $e"))
    val (timed, windowS) = window(conf.seconds, _ => ())
    val result = obj()
    result.set[JsonNode]("setup_s", mapper.valueToTree[JsonNode](setupS.toArray))
    val reqs = result.putArray("requests")
    timed.foreach { s =>
      val o = reqs.addObject().put("kind", kind(s.req)).put("label", label(s.req)).put("ms", s.ms)
      s.error.foreach(o.put("error", _))
    }
    result.put("window_s", windowS)
    result.put("round_size", RoundSize)
    if (conf.trace)
      result.set[ObjectNode]("trace", trace(spark, windowS, timed.size, window(conf.seconds, _), paths))
    val failuresJson = result.putArray("failures")
    failures.foreach { case (q, why) => failuresJson.addObject().put("name", q).put("why", why) }
    server.stop(0)
    spark.stop()
    result
  }

  private def kind(r: Req): String = r match {
    case Profile(_) => "profile"
    case Upload(_)  => "upload"
  }

  private def label(r: Req): String = r match {
    case Profile(t) => t
    case Upload(b)  => s"upload.${b.format}"
  }

  /** Why a 2xx reply body is wrong, if it is: a profile has one entry per
    * column of the table and each entry counts every row; an upload reports
    * the generated row and quarantine counts.
    */
  private def check(req: Req, body: JsonNode, expected: Map[String, (Seq[String], Long)]): Option[String] =
    req match {
      case Profile(t) =>
        val (cols, rows) = expected(t)
        val entries = body.elements().asScala.toSeq
        val names = entries.map(_.path("column_name").asText())
        if (!body.isArray) Some("profile reply is not an array")
        else if (names.sorted != cols.sorted) Some(s"profile columns ${names.mkString(",")} != ${cols.mkString(",")}")
        else entries.find(_.path("total_rows").asLong(-1) != rows)
          .map(e => s"total_rows ${e.path("total_rows")} != $rows")
      case Upload(b) =>
        val rows = body.path("rows").asLong(-1)
        val quarantined = body.path("quarantined").asLong(-1)
        val profiled = body.path("profiles").size()
        if (rows != b.rows || quarantined != b.quarantined)
          Some(s"upload counted rows=$rows quarantined=$quarantined, sent ${b.rows}/${b.quarantined}")
        else if (profiled != Uploads.Columns.size) Some(s"upload profiled $profiled columns")
        else None
    }

  /** The traced window: the same closed loop under the ledger, plus each
    * table's profile computed directly on the driver, without HTTP.
    */
  private def trace(spark: SparkSession, untracedWindowS: Double, untracedRequests: Int,
                    window: (Sample => Unit) => (Seq[Sample], Double),
                    paths: Map[String, String]): ObjectNode = {
    val sc = spark.sparkContext
    val ledger = new TaskLedger
    val plans = new PlanLog
    sc.addSparkListener(ledger)
    spark.listenerManager.register(plans)
    ledger.drain(sc)
    ledger.snapshot()
    var storagePeak = (0L, 0)
    val (samples, windowS) = window { _ =>
      val s = storage(spark)
      synchronized { storagePeak = (math.max(storagePeak._1, s._1), math.max(storagePeak._2, s._2)) }
    }
    ledger.drain(sc)
    val (groups, concurrentMax) = ledger.snapshot()
    val execs = plans.since(0)
    sc.removeSparkListener(ledger)
    spark.listenerManager.unregister(plans)

    val run = graft.Main.engineFor(graft.Main.aiProviders())
    val directMs = Tables.map { t =>
      val t0 = System.nanoTime()
      run(graft.Main.readAny(spark, paths(t)))
      t -> (System.nanoTime() - t0) / 1e6
    }.toMap

    val n = samples.size.toDouble
    val counters = groups.values
    val overheads = samples.collect { case s @ Sample(Profile(t), _, _, None) => s.ms - directMs(t) }
    val busyMs = Counters.unionMs(counters.flatMap(_.jobIntervals).toSeq)
    val perRequest = (planMetrics(execs) ++ layerMetrics(counters)).map {
      case ("task.cpu_share", v) => "task.cpu_share" -> v
      case (k, v)                => k -> v / n
    }
    val metricsOut = perRequest ++ Seq(
      "build_s" -> 0.0,
      "sched.job_busy_s" -> busyMs / 1e3 / n,
      "sched.driver_gap_s" -> (windowS - busyMs / 1e3) / n,
      "artifact.storage_mb" -> storagePeak._1 / 1e6,
      "artifact.rdds" -> storagePeak._2.toDouble,
      "profile.build_s" -> 0.0,
      "profile.direct_ms" -> median(directMs.values.toSeq),
      "serve.overhead_ms" -> (if (overheads.isEmpty) 0.0 else median(overheads)),
      "serve.jobs_per_req" -> counters.map(_.jobs).sum / n,
      "serve.concurrent_jobs_max" -> concurrentMax.toDouble,
      "serve.spark_busy_share" -> busyMs / 1e3 / windowS,
      "diag.count_s" -> 0.0,
      "trace.overhead_share" -> ((windowS / n) / (untracedWindowS / untracedRequests) - 1),
      "counts.repeat_mismatches" -> 0.0,
    )
    val out = obj()
    out.set[ObjectNode]("metrics", metrics(metricsOut))
    out.set[ObjectNode]("direct_ms", metrics(directMs))
    val failed = samples.flatMap(s => s.error.map(e => s"${label(s.req)}: $e"))
    out.set[JsonNode]("traced_failures", mapper.valueToTree[JsonNode](failed.toArray))
    out.put("traced_requests", samples.size)
    out
  }
}

/** Seeded upload bodies: about 2,000 customer-like rows each, as CSV or as
  * JSONL with one malformed line.
  */
object Uploads {
  val Columns: Seq[String] = Seq("id", "name", "email", "amount", "signup_date", "country")
  val Rows = 2000
  val PerFormat = 4

  final case class Body(format: String, bytes: Array[Byte], rows: Long, quarantined: Long)

  private val names = Seq("Ada", "Grace", "Alan", "Edsger", "Barbara", "Donald", "Frances", "Ken")
  private val countries = Seq("DE", "FR", "US", "JP", "BR", "IN", "NG", "CA")

  def bodies(seed: Long): Seq[Body] = (0 until PerFormat).flatMap { k =>
    val rng = new scala.util.Random(seed * 7919L + k)
    val rows = (1 to Rows).map { id =>
      val name = names(rng.nextInt(names.size))
      Seq(id.toString, name, s"${name.toLowerCase}.$id@example.com",
        f"${rng.nextInt(100000) / 100.0}%.2f",
        f"20${10 + rng.nextInt(15)}%02d-${1 + rng.nextInt(12)}%02d-${1 + rng.nextInt(28)}%02d",
        countries(rng.nextInt(countries.size)))
    }
    val csv = (Columns.mkString(",") +: rows.map(_.mkString(","))).mkString("\n") + "\n"
    val json = rows.map { r =>
      s"""{"id":${r(0)},"name":"${r(1)}","email":"${r(2)}","amount":${r(3)},""" +
        s""""signup_date":"${r(4)}","country":"${r(5)}"}"""
    }
    val bad = rng.nextInt(json.size)
    val jsonl = (json.take(bad) ++ Seq("""{"id": 0, "name": "truncated""") ++ json.drop(bad)).mkString("\n") + "\n"
    Seq(Body("csv", csv.getBytes(StandardCharsets.UTF_8), Rows, 0),
      Body("jsonl", jsonl.getBytes(StandardCharsets.UTF_8), Rows, 1))
  }
}
