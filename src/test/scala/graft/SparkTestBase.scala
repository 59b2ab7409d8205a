package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

import java.util.concurrent.{LinkedBlockingQueue, TimeUnit}
import java.util.concurrent.atomic.AtomicLong

/** One shared local SparkSession for the whole test JVM. */
object SparkTestBase {
  lazy val spark: SparkSession = {
    val s = SparkSession
      .builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config(
        "spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft_wh").toString
      )
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    // The fuzz/sweep suites drive the documented bounded-global-window
    // operator sites (grep bounded-global-window in main) and test-side
    // reference pipelines on deliberately tiny corpora, where WindowExec's
    // single-partition warning is by-construction noise. Mute it HERE only —
    // Bench/Verify keep the default logger, so an unbounded global window
    // sneaking into a declared plan still warns where it matters.
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.sql.execution.window.WindowExec",
      org.apache.logging.log4j.Level.ERROR)
    s
  }

  /** The Spark jobs that start while some code runs: each job's group (`""`
    * when none) in start order, and the shuffle bytes their tasks wrote.
    */
  final case class Jobs(groups: Seq[String], shuffleWriteBytes: Long)

  /** The [[Jobs]] that `body` runs. Suites run one at a time, so no other
    * job starts in between.
    */
  def jobsOf(body: => Unit): Jobs = {
    val sc = spark.sparkContext
    val marker = s"marker-${java.util.UUID.randomUUID()}"
    val started = new LinkedBlockingQueue[String]()
    val written = new AtomicLong()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        started.add(Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse(""))
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        Option(e.taskMetrics).foreach(m => written.addAndGet(m.shuffleWriteMetrics.bytesWritten))
    }
    sc.addSparkListener(listener)
    try {
      body
      // the listener bus delivers events in order: once the marker job's
      // start arrives, so has every job start and task end of `body`
      val t = new Thread(() => {
        sc.setJobGroup(marker, marker)
        sc.parallelize(Seq(1), 1).count()
      })
      t.start()
      t.join()
      val seen = Seq.newBuilder[String]
      var g = started.poll(60, TimeUnit.SECONDS)
      while (g != null && g != marker) {
        seen += g
        g = started.poll(60, TimeUnit.SECONDS)
      }
      require(g == marker, "listener bus did not deliver the marker job within 60 s")
      Jobs(seen.result(), written.get)
    } finally sc.removeSparkListener(listener)
  }
}
