package graft.perfbench

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.spark.sql.SparkSession

import graft.{SparkEntry, Tables}

/** One benchmark run of one workload, launched by `perfbench/run.py`.
  *
  * {{{
  * Harness --workload curate_docs|warehouse_tables|serve_profile --seed N
  *   --seconds S --trace 0|1 --cores N --data <input table dir> --work <dir> --out <json>
  * }}}
  *
  * Writes the run's raw measurements to `--out`: set-up times, every timed
  * operation with its latency and outcome, the failures it saw, and with
  * `--trace 1` the per-layer ledger. Batch workloads also leave each query's
  * declared output and its oracle SQL under `--work` for the DuckDB compare.
  */
object Harness {
  val mapper = new ObjectMapper()

  /** Set-ups per run; `setup_s` is their median. */
  val SetupReps = 3

  final case class Conf(workload: String, seed: Long, seconds: Double, trace: Boolean,
                        cores: Int, data: String, work: String, out: String)

  def main(argv: Array[String]): Unit = {
    val kv = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def arg(k: String) = kv.getOrElse(k, sys.error(s"missing --$k"))
    val conf = Conf(arg("workload"), arg("seed").toLong, arg("seconds").toDouble, arg("trace") == "1",
      arg("cores").toInt, arg("data"), arg("work"), arg("out"))
    val result = conf.workload match {
      case "curate_docs"      => Batch.run(conf, conf.data, Batch.CurateDocs)
      case "warehouse_tables" => Batch.run(conf, conf.data, Batch.WarehouseTables)
      case "serve_profile"    => Serve.run(conf, conf.data)
      case other              => sys.error(s"unknown workload $other")
    }
    result.put("workload", conf.workload).put("seed", conf.seed).put("cores", conf.cores)
    java.nio.file.Files.writeString(java.nio.file.Paths.get(conf.out), mapper.writeValueAsString(result))
    // every session is stopped; exit without waiting on library threads
    sys.exit(0)
  }

  def session(conf: Conf): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[${conf.cores}]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", conf.cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${conf.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${conf.work}/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Sets up [[SetupReps]] times, each a fresh session, the input pre-flight
    * and `ready` on that session; returns the last session and the seconds
    * each set-up took. `ready` returns what releases it; the release and the
    * session stop run untimed between set-ups.
    */
  def setUp(conf: Conf, dir: String)(ready: SparkSession => (() => Unit)): (SparkSession, Seq[Double]) = {
    var spark: SparkSession = null
    var release: () => Unit = () => ()
    val times = (1 to SetupReps).map { _ =>
      if (spark != null) {
        release()
        spark.stop()
      }
      SparkEntry.clearCaches()
      val t0 = System.nanoTime()
      spark = session(conf)
      val drift = Tables.preflight(spark, dir)
      require(drift.isEmpty, s"input pre-flight failed: ${drift.mkString("; ")}")
      release = ready(spark)
      (System.nanoTime() - t0) / 1e9
    }
    (spark, times)
  }

  /** Bytes held by persisted or checkpointed RDD blocks, and how many RDDs. */
  def storage(spark: SparkSession): (Long, Int) = {
    val cached = spark.sparkContext.getRDDStorageInfo.filter(_.numCachedPartitions > 0)
    (cached.map(i => i.memSize + i.diskSize).sum, cached.length)
  }

  def obj(): ObjectNode = mapper.createObjectNode()

  def log(msg: String): Unit = System.err.println(s"[harness] $msg")

  def metrics(m: Iterable[(String, Double)]): ObjectNode = {
    val o = obj()
    m.foreach { case (k, v) => o.put(k, v) }
    o
  }

  def seconds(ns: Long): Double = ns / 1e9

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def message(e: Throwable): String =
    s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).takeWhile(_ != '\n')}"

  /** Per-layer metrics of a set of job-group counters, as run totals. */
  def layerMetrics(cs: Iterable[Counters]): Seq[(String, Double)] = {
    def sum(f: Counters => Double) = cs.iterator.map(f).sum
    val runS = sum(_.runMs / 1e3)
    val cpuS = sum(_.cpuNs / 1e9)
    Seq(
      "sched.jobs" -> sum(_.jobs),
      "sched.stages" -> sum(_.stages),
      "task.count" -> sum(_.tasks),
      "task.run_s" -> runS,
      "task.cpu_s" -> cpuS,
      "task.cpu_share" -> (if (runS > 0) cpuS / runS else 0.0),
      "task.sched_delay_s" -> sum(_.schedDelayMs / 1e3),
      "task.gc_s" -> sum(_.gcMs / 1e3),
      "task.failed" -> sum(_.failedTasks),
      "shuffle.write_mb" -> sum(_.shuffleWriteBytes / 1e6),
      "shuffle.read_mb" -> sum(_.shuffleReadBytes / 1e6),
      "shuffle.records" -> sum(_.shuffleRecords),
      "shuffle.fetch_wait_s" -> sum(_.fetchWaitMs / 1e3),
      "spill.mem_mb" -> sum(_.spillMemBytes / 1e6),
      "spill.disk_mb" -> sum(_.spillDiskBytes / 1e6),
      "scan.input_mb" -> sum(_.inputBytes / 1e6),
      "scan.input_rows" -> sum(_.inputRows),
    )
  }

  /** Catalyst phase seconds summed over executions. */
  def planMetrics(execs: Iterable[Execution]): Seq[(String, Double)] =
    Seq("analysis", "optimization", "planning").map { p =>
      s"plan.${p}_s" -> execs.iterator.map(_.phasesMs.getOrElse(p, 0L) / 1e3).sum
    }
}
