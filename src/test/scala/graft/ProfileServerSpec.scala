package graft

import org.scalatest.funsuite.AnyFunSuite

import java.net.{HttpURLConnection, URI}
import java.nio.charset.StandardCharsets

import com.fasterxml.jackson.databind.ObjectMapper

/** The HTTP profile service — the Spark-native twin of the reference's
  * declared-but-empty FastAPI `api/` package. Drives the real server over
  * loopback sockets: health, GET-with-query, POST-with-body, and the error
  * paths.
  */
class ProfileServerSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark
  private lazy val server = graft.serve.ProfileServer.start(spark, port = 0)
  private lazy val base = s"http://127.0.0.1:${server.getAddress.getPort}"
  private val mapper = new ObjectMapper()

  private def call(
      path: String,
      method: String = "GET",
      body: Option[String] = None,
      at: String = base,
      timeoutMs: Int = 0
  ): (Int, String) = {
    val conn = URI.create(s"$at$path").toURL.openConnection().asInstanceOf[HttpURLConnection]
    conn.setRequestMethod(method)
    conn.setConnectTimeout(timeoutMs)
    conn.setReadTimeout(timeoutMs)
    body.foreach { b =>
      conn.setDoOutput(true)
      val os = conn.getOutputStream
      try os.write(b.getBytes(StandardCharsets.UTF_8))
      finally os.close()
    }
    val status = conn.getResponseCode
    val stream = if (status < 400) conn.getInputStream else conn.getErrorStream
    val text = new String(stream.readAllBytes(), StandardCharsets.UTF_8)
    (status, text)
  }

  test("health endpoint answers ok") {
    val (status, body) = call("/health")
    assert(status == 200 && mapper.readTree(body).path("status").asText() == "ok")
  }

  test("GET /profile?path= profiles a parquet table end-to-end") {
    val (status, body) = call("/profile?path=/root/testdata/sf0.001/customer.parquet")
    assert(status == 200, body)
    val arr = mapper.readTree(body)
    assert(arr.isArray && arr.size() == 5, body.take(200))
    val names = (0 until arr.size()).map(arr.get(_).path("column_name").asText()).toSet
    assert(names.contains("c_custkey"))
    val custkey = (0 until arr.size()).map(arr.get(_)).find(_.path("column_name").asText() == "c_custkey").get
    assert(custkey.path("data_type").asText() == "identifier")
    assert(custkey.path("is_primary_key").asBoolean())
  }

  test("POST /profile with JSON body profiles the same table") {
    val (status, body) =
      call("/profile", "POST", Some("""{"path": "/root/testdata/sf0.001/region.parquet"}"""))
    assert(status == 200, body)
    assert(mapper.readTree(body).size() == 2) // region: r_regionkey, r_name
  }

  test("missing path is a 400, unreadable dataset a 404") {
    assert(call("/profile")._1 == 400)
    assert(call("/profile", "POST", Some("not json"))._1 == 400)
    assert(call("/profile?path=/no/such/data.parquet")._1 == 404)
  }

  private val csv = "user_id,email\n1,a@example.com\n2,b@example.com\n3,c@example.com\n"
  private val jsonl = """{"doc_id": 1, "text": "hello world"}
                        |NOT VALID JSON {{{
                        |{"doc_id": 2, "text": "goodbye"}
                        |""".stripMargin

  test("POST /upload profiles inline CSV content") {
    val (status, body) = call("/upload?format=csv", "POST", Some(csv))
    assert(status == 200, body)
    val node = mapper.readTree(body)
    assert(node.path("rows").asLong() == 3L)
    assert(node.path("quarantined").asLong() == 0L)
    val profiles = node.path("profiles")
    assert(profiles.size() == 2)
    val email = (0 until profiles.size()).map(profiles.get(_))
      .find(_.path("column_name").asText() == "email").get
    assert(email.path("data_type").asText() == "email")
    assert(email.path("pii_level").asText() == "high")
  }

  test("POST /upload quarantines malformed JSONL lines instead of failing") {
    val (status, body) = call("/upload?format=jsonl", "POST", Some(jsonl))
    assert(status == 200, body)
    val node = mapper.readTree(body)
    assert(node.path("rows").asLong() == 2L)
    assert(node.path("quarantined").asLong() == 1L)
    val names = {
      val p = node.path("profiles")
      (0 until p.size()).map(p.get(_).path("column_name").asText()).toSet
    }
    assert(names == Set("doc_id", "text"))
  }

  test("upload guards: oversize body, bad format, unparseable content, GET") {
    // a tiny-cap server proves the cap without shipping megabytes
    val small = graft.serve.ProfileServer.start(spark, port = 0, maxUploadBytes = 64L)
    try {
      val smallBase = s"http://127.0.0.1:${small.getAddress.getPort}"
      val conn = URI.create(s"$smallBase/upload?format=csv").toURL
        .openConnection().asInstanceOf[HttpURLConnection]
      conn.setRequestMethod("POST")
      conn.setDoOutput(true)
      val os = conn.getOutputStream
      try os.write(("a,b\n" + "x,y\n" * 100).getBytes(StandardCharsets.UTF_8))
      finally os.close()
      assert(conn.getResponseCode == 400)
      val errBody = new String(conn.getErrorStream.readAllBytes(), StandardCharsets.UTF_8)
      assert(errBody.contains("MAX_FILE_SIZE"))
    } finally small.stop(0)
    assert(call("/upload?format=xml", "POST", Some("x"))._1 == 400)
    assert(call("/upload?format=jsonl", "POST", Some("NOT JSON AT ALL"))._1 == 400)
    assert(call("/upload?format=csv", "POST", Some(""))._1 == 400)
    assert(call("/upload?format=csv", "POST", Some("a,b\n")) == ((400, """{"error":"no parseable rows in upload"}""")))
    assert(call("/upload?format=csv")._1 == 405)
  }

  test("uploaded files are deleted after profiling — the service doesn't fill the disk (r11)") {
    val dir = java.nio.file.Files.createTempDirectory("graft_upload_spec").toFile
    val s = graft.serve.ProfileServer.start(spark, port = 0, uploadDir = dir.getAbsolutePath)
    try {
      val b = s"http://127.0.0.1:${s.getAddress.getPort}"
      val conn = URI.create(s"$b/upload?format=csv").toURL
        .openConnection().asInstanceOf[HttpURLConnection]
      conn.setRequestMethod("POST")
      conn.setDoOutput(true)
      val os = conn.getOutputStream
      try os.write("a,b\n1,x\n2,y\n".getBytes(StandardCharsets.UTF_8))
      finally os.close()
      assert(conn.getResponseCode == 200)
      val leftovers = Option(dir.listFiles()).map(_.toSeq).getOrElse(Seq.empty)
      assert(leftovers.isEmpty, s"upload left files behind: ${leftovers.mkString(", ")}")
    } finally s.stop(0)
  }

  test("POST /profile body is size-capped; a query path wins without reading the body (r11)") {
    // over-cap body with no query path: rejected 400, never buffered whole
    val big = "x" * (graft.serve.ProfileServer.MaxProfileBodyBytes.toInt + 1024)
    assert(call("/profile", "POST", Some(big))._1 == 400)
    // path in the query: the (garbage) body is never consulted
    val (status, body) =
      call("/profile?path=/root/testdata/sf0.001/region.parquet", "POST", Some("NOT JSON {{{"))
    assert(status == 200, body)
    assert(mapper.readTree(body).size() == 2)
  }

  test("a stalled upload body holds one request thread, not the server") {
    // headers and half of a declared body, then silence
    val stalled = new java.net.Socket("127.0.0.1", server.getAddress.getPort)
    try {
      val out = stalled.getOutputStream
      out.write(("POST /upload?format=csv HTTP/1.1\r\nHost: 127.0.0.1\r\n" +
        "Content-Length: 1000\r\n\r\nuser_id,email\n1,a@example.com\n").getBytes(StandardCharsets.UTF_8))
      out.flush()
      assert(call("/health", timeoutMs = 5000)._1 == 200)
    } finally stalled.close()
  }

  test("each request runs its Spark jobs under its own serve:<endpoint>:<seq> job group") {
    val groups = SparkTestBase.jobsOf {
      assert(call(s"/profile?path=${SurfacePlans.dir}/region.parquet")._1 == 200)
      assert(call("/upload?format=csv", "POST", Some(csv))._1 == 200)
    }.groups
    assert(groups.forall(_.matches("serve:(profile|upload):\\d+")), groups.distinct.mkString(", "))
    assert(groups.distinct.count(_.startsWith("serve:profile:")) == 1)
    assert(groups.distinct.count(_.startsWith("serve:upload:")) == 1)
  }

  test("a repeat /profile of an unchanged tiny table runs exactly 1 Spark job, an upload of either format at most 3") {
    val profile = s"/profile?path=${SurfacePlans.dir}/region.parquet"
    // the first read of the files may infer their schema: one job more
    assert(call(profile)._1 == 200)
    val requests = Seq(
      ("profile", 1, profile, "GET", Option.empty[String]),
      ("upload", 3, "/upload?format=csv", "POST", Some(csv)),
      ("upload", 3, "/upload?format=jsonl", "POST", Some(jsonl)))
    for ((endpoint, budget, path, method, body) <- requests) {
      val groups = SparkTestBase.jobsOf(assert(call(path, method, body)._1 == 200)).groups
      assert(groups.nonEmpty && groups.forall(_.startsWith(s"serve:$endpoint:")), groups.distinct.mkString(", "))
      if (endpoint == "profile") assert(groups.size == budget, s"$path ran ${groups.size} jobs")
      else assert(groups.size <= budget, s"$path ran ${groups.size} jobs")
    }
  }

  test("a missing parquet path answers 404 with Spark's message") {
    val (status, body) = call("/profile?path=/no/such/data.parquet")
    assert(status == 404, body)
    assert(mapper.readTree(body).path("error").asText().matches(
      "cannot read dataset: .*PATH_NOT_FOUND.*/no/such/data\\.parquet.*"), body)
  }

  test("a table rewritten with a changed schema loads and profiles with the new one") {
    val tmp  = java.nio.file.Files.createTempDirectory("graft-schema-rewrite").toString
    val path = s"$tmp/region.parquet"
    val region = Tables.load(spark, SurfacePlans.dir, "region")
    def profiled(): Map[String, Long] = {
      val (status, body) = call(s"/profile?path=$path")
      assert(status == 200, body)
      val arr = mapper.readTree(body)
      (0 until arr.size()).map(i => arr.get(i).path("column_name").asText() -> arr.get(i).path("total_rows").asLong()).toMap
    }
    def loaded() = Tables.load(spark, tmp, "region").schema.map(f => f.name -> f.dataType.simpleString)

    region.write.parquet(path)
    for (_ <- 1 to 2) { // the second round reads through the cached schema
      assert(loaded() == Seq("r_regionkey" -> "int", "r_name" -> "string"))
      assert(profiled() == Map("r_regionkey" -> 5L, "r_name" -> 5L))
    }
    // a column added and a type changed, with no cache cleared in between
    region.selectExpr("cast(r_regionkey as string) as r_regionkey", "r_name", "length(r_name) as r_len")
      .where("r_regionkey != '0'")
      .write.mode("overwrite").parquet(path)
    assert(loaded() == Seq("r_regionkey" -> "string", "r_name" -> "string", "r_len" -> "int"))
    assert(profiled() == Map("r_regionkey" -> 4L, "r_name" -> 4L, "r_len" -> 4L))
  }

  test("concurrent /profile and /upload replies equal the same requests sent alone") {
    val engine = new graft.engine.ProfilerEngine()
    val dir = java.nio.file.Files.createTempDirectory("graft_upload_spec").toFile
    val s = graft.serve.ProfileServer.startWith(spark, engine.analyzeDataFrame, 0, "127.0.0.1",
      graft.serve.ProfileServer.DefaultMaxUploadBytes, dir.getAbsolutePath)
    try {
      val at = s"http://127.0.0.1:${s.getAddress.getPort}"
      val requests =
        Seq("customer", "lineitem", "nation", "orders", "part", "region", "supplier", "events")
          .map(t => (s"/profile?path=${SurfacePlans.dir}/$t.parquet", "GET", Option.empty[String])) ++
          Seq(("/upload?format=csv", "POST", Some(csv)), ("/upload?format=jsonl", "POST", Some(jsonl)))
      def send(r: (String, String, Option[String])): (Int, String) = call(r._1, r._2, r._3, at)

      val alone = requests.map(send)
      assert(alone.forall(_._1 == 200), alone.filter(_._1 != 200).mkString("; "))
      val start = new java.util.concurrent.CountDownLatch(1)
      val clients = java.util.concurrent.Executors.newFixedThreadPool(requests.size)
      val together =
        try {
          val replies = requests.map(r => clients.submit(() => { start.await(); send(r) }))
          start.countDown()
          replies.map(_.get(300, java.util.concurrent.TimeUnit.SECONDS))
        } finally clients.shutdownNow()
      for ((r, (a, t)) <- requests.zip(alone.zip(together)))
        assert(t == a, s"${r._1}: concurrent reply differs from the lone one")

      // every request profiled every column exactly once, twice over
      val columns = alone.map { case (_, body) =>
        val node = mapper.readTree(body)
        (if (node.isArray) node else node.path("profiles")).size().toLong
      }.sum
      assert(engine.classificationStats == Map(
        "total_columns_analyzed" -> 2 * columns,
        "successful_classifications" -> 2 * columns,
        "failed_classifications" -> 0L))
    } finally s.stop(0)
  }
}
