package graft.perfbench

import com.fasterxml.jackson.databind.JsonNode
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.SparkEntry
import graft.perfbench.Harness._

import scala.collection.mutable

/** The batch workloads: a fixed list of declared queries, each timed to its
  * declared output (`fn(spark, dir).coalesce(1)`, the frame `graft.Verify`
  * writes) through a `noop` sink, with the shared-artifact caches cleared at
  * the start of every pass.
  */
object Batch {
  /** Text and vector curation: task CPU, shuffle and the shared text/vector
    * artifacts; no profiler, no TPC-H joins.
    */
  val CurateDocs: Seq[String] = ordered(
    Seq("bigram_scores", "dsir_weights", "dedup_clusters", "curated", "spandedup", "source_kl")
      .map(_ + "_documents") :+ "ivf_centroids_embeddings")

  /** Warehouse modelling: eager driver-side profiling, Data Vault mining and
    * star joins; no text kernels.
    */
  val WarehouseTables: Seq[String] = ordered(
    Seq("lineitem", "orders", "customer", "part", "supplier", "nation", "region").map("profile_" + _) ++
      Seq("summary_lineitem", "summary_customer", "summary_pii_lineitem", "summary_pii_customer",
        "stats_lineitem", "stats_customer",
        "dv_hub_customer", "dv_sat_customer", "dv_link_lineitem", "dv_link_order_customer",
        "dv_pit_orders", "dv_ddl_customer",
        "fk_candidates", "fd_candidates_orders", "composite_keys_lineitem", "scd2_orders",
        "checks_orders", "revenue_nation", "revenue_share_nation", "top_customers",
        "top_customers_nation"))

  /** Trainers first, so the query that trains pays for it (the order
    * `graft.Bench` uses); alphabetical otherwise.
    */
  private def ordered(names: Seq[String]): Seq[String] =
    names.sortBy(n => (if (SparkEntry.ProducerFirst(n)) 0 else 1, n))

  final case class Op(name: String, ms: Double, error: Option[String])

  final case class Traced(name: String, buildNs: Long, writeNs: Long, exec: Option[Execution],
                          storageBytes: Long, rdds: Int)

  def run(conf: Conf, dir: String, names: Seq[String]): ObjectNode = {
    val fns = SparkEntry.queries
    val unknown = names.filterNot(fns.contains)
    require(unknown.isEmpty, s"not declared in SparkEntry.queries: ${unknown.mkString(", ")}")
    def build(spark: SparkSession, q: String): DataFrame = fns(q)(spark, dir)
    def frame(spark: SparkSession, q: String): DataFrame = build(spark, q).coalesce(1)

    val (spark, setupS) = setUp(conf, dir)(_ => () => ())
    val plans = new PlanLog
    spark.listenerManager.register(plans)
    val failures = mutable.ArrayBuffer.empty[(String, String)]

    // Each declared output, written once untimed for the oracle compare. This
    // pass and one untimed pass like the timed ones warm the JIT and the page
    // cache: without the second, the first timed pass ran 10-20% slower than
    // the next one (sf0.01, 4 cores).
    val outDir = s"${conf.work}/outputs"
    SparkEntry.clearCaches()
    val checkedOps: Map[String, Seq[String]] = names.flatMap { q =>
      val mark = plans.size
      try {
        val t0 = System.nanoTime()
        frame(spark, q).write.mode("overwrite").parquet(s"$outDir/$q")
        log(f"checked $q ${seconds(System.nanoTime() - t0)}%.2f s")
        Some(q -> plans.awaitWrites(mark, 1).head.ops)
      } catch {
        case e: Exception =>
          failures += q -> s"checked write failed: ${message(e)}"
          None
      }
    }.toMap
    val oracle = SparkEntry.oracleSqlFor(Some(dir))
    val oracleJson = obj()
    names.foreach { q =>
      oracle.get(q) match {
        case Some(sql) => oracleJson.put(q, sql)
        case None      => failures += q -> "no oracle SQL"
      }
    }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$outDir/oracle_sql.json"),
      mapper.writeValueAsString(oracleJson))

    // Timed passes until the run length is reached; a pass is never cut short.
    var storagePeak = 0L
    def timedPass(): Seq[Op] = {
      SparkEntry.clearCaches()
      names.map { q =>
        val mark = plans.size
        val t0 = System.nanoTime()
        val error =
          try {
            frame(spark, q).write.format("noop").mode("overwrite").save()
            None
          } catch { case e: Exception => Some(message(e)) }
        val ms = (System.nanoTime() - t0) / 1e6
        log(f"timed $q $ms%.0f ms")
        storagePeak = math.max(storagePeak, storage(spark)._1)
        val planError =
          if (error.isEmpty) planMismatch(checkedOps.get(q), plans.awaitWrites(mark, 1).head.ops) else None
        Op(q, ms, error.orElse(planError))
      }
    }
    timedPass()
    val passes = mutable.ArrayBuffer.empty[Seq[Op]]
    val start = System.nanoTime()
    do passes += timedPass() while (seconds(System.nanoTime() - start) < conf.seconds)

    val result = obj()
    result.set[JsonNode]("setup_s", mapper.valueToTree[JsonNode](setupS.toArray))
    val passesJson = result.putArray("passes")
    passes.foreach { p =>
      val arr = passesJson.addArray()
      p.foreach { op =>
        val o = arr.addObject().put("name", op.name).put("ms", op.ms)
        op.error.foreach(o.put("error", _))
      }
    }
    result.put("storage_peak_mb", storagePeak / 1e6)
    result.put("outputs", outDir)
    if (conf.trace) {
      val untracedWall = median(passes.map(_.map(_.ms).sum / 1e3).toSeq)
      result.set[ObjectNode]("trace", trace(spark, names, build, plans, untracedWall, failures))
    }
    val failuresJson = result.putArray("failures")
    failures.foreach { case (q, why) => failuresJson.addObject().put("name", q).put("why", why) }
    spark.stop()
    result
  }

  /** Why the timed plan is not the checked plan, if it is not: the two must
    * run the same physical operators. Adaptive execution may swap a join's
    * build side or number codegen stages in another order from one execution
    * to the next, so operators compare as a multiset of names without stage
    * numbers; a pruned sort, exchange, join or generator still shows.
    */
  private def planMismatch(checked: Option[Seq[String]], timed: Seq[String]): Option[String] =
    checked match {
      case None => Some("no checked plan to compare the timed plan with")
      case Some(c) =>
        def bag(ops: Seq[String]) = ops.map(_.replaceAll(""" \(\d+\)$""", "")).groupBy(identity)
          .map { case (k, v) => k -> v.size }
        val (want, got) = (bag(c), bag(timed))
        val diff = (want.keySet ++ got.keySet).toSeq.sorted.flatMap { op =>
          val (w, g) = (want.getOrElse(op, 0), got.getOrElse(op, 0))
          if (w == g) None else Some(s"$op checked $w timed $g")
        }
        if (diff.isEmpty) None else Some(s"timed plan is not the checked plan: ${diff.mkString(", ")}")
    }

  /** The traced run: two passes under the ledger, each query under its own
    * job group, then one `count()` pass for the gap diagnostic.
    */
  private def trace(spark: SparkSession, names: Seq[String], build: (SparkSession, String) => DataFrame,
                    plans: PlanLog, untracedWall: Double,
                    failures: mutable.ArrayBuffer[(String, String)]): ObjectNode = {
    val sc = spark.sparkContext
    def frame(q: String) = build(spark, q).coalesce(1)
    val ledger = new TaskLedger
    sc.addSparkListener(ledger)
    def tracedPass(): (Seq[Traced], Map[String, Counters]) = {
      SparkEntry.clearCaches()
      ledger.drain(sc)
      ledger.snapshot()
      val rows = names.map { q =>
        sc.setJobGroup(q, q)
        val mark = plans.size
        val t0 = System.nanoTime()
        var t1 = t0
        val error =
          try {
            val df = frame(q)
            t1 = System.nanoTime()
            df.write.format("noop").mode("overwrite").save()
            None
          } catch { case e: Exception => Some(message(e)) }
        val t2 = System.nanoTime()
        sc.clearJobGroup()
        val exec = if (error.isEmpty) plans.awaitWrites(mark, 1).headOption else None
        val (bytes, rdds) = storage(spark)
        error.foreach(e => failures += q -> s"traced write failed: $e")
        log(f"traced $q ${seconds(t2 - t0)}%.2f s")
        Traced(q, t1 - t0, t2 - t1, exec, bytes, rdds)
      }
      ledger.drain(sc)
      (rows, ledger.snapshot()._1)
    }
    val (first, groups) = tracedPass()
    val (_, again) = tracedPass()
    sc.removeSparkListener(ledger)

    SparkEntry.clearCaches()
    val countS = names.map { q =>
      val t0 = System.nanoTime()
      try build(spark, q).count()
      catch { case e: Exception => failures += q -> s"count() failed: ${message(e)}" }
      q -> seconds(System.nanoTime() - t0)
    }.toMap

    def counts(g: Map[String, Counters], q: String) =
      g.get(q).map(c => (c.jobs, c.stages, c.tasks, c.shuffleWriteBytes))
    val repeatMismatch = names.filter(q => counts(groups, q) != counts(again, q))

    val perQuery = obj()
    first.foreach { t =>
      val c = groups.getOrElse(t.name, new Counters)
      val wall = seconds(t.buildNs + t.writeNs)
      val busy = c.busyMs / 1e3
      perQuery.set[ObjectNode](t.name, metrics(
        Seq("wall_s" -> wall, "build_s" -> seconds(t.buildNs), "write_s" -> seconds(t.writeNs)) ++
          planMetrics(t.exec) ++ layerMetrics(Seq(c)) ++
          Seq("sched.job_busy_s" -> busy, "sched.driver_gap_s" -> (wall - busy),
            "artifact.storage_mb" -> t.storageBytes / 1e6, "artifact.rdds" -> t.rdds.toDouble,
            "diag.count_s" -> countS(t.name))))
    }
    val wall = first.map(t => seconds(t.buildNs + t.writeNs)).sum
    val busy = names.flatMap(groups.get).map(_.busyMs / 1e3).sum
    val run = planMetrics(first.flatMap(_.exec)) ++
      Seq("build_s" -> first.map(t => seconds(t.buildNs)).sum) ++
      layerMetrics(names.flatMap(groups.get)) ++
      Seq(
        "sched.job_busy_s" -> busy,
        "sched.driver_gap_s" -> (wall - busy),
        "artifact.storage_mb" -> first.map(_.storageBytes).max / 1e6,
        "artifact.rdds" -> first.map(_.rdds).max.toDouble,
        "profile.build_s" -> first.filter(_.name.startsWith("profile_")).map(t => seconds(t.buildNs)).sum,
        "profile.direct_ms" -> 0.0,
        "serve.overhead_ms" -> 0.0,
        "serve.jobs_per_req" -> 0.0,
        "serve.concurrent_jobs_max" -> 0.0,
        "serve.spark_busy_share" -> 0.0,
        "diag.count_s" -> countS.values.sum,
        "trace.overhead_share" -> (wall / untracedWall - 1),
        "counts.repeat_mismatches" -> repeatMismatch.size.toDouble,
      )
    val out = obj()
    out.set[ObjectNode]("metrics", metrics(run))
    out.set[ObjectNode]("per_query", perQuery)
    out.set[JsonNode]("repeat_mismatch", mapper.valueToTree[JsonNode](repeatMismatch.toArray))
    out.put("unattributed_jobs", groups.get("").map(_.jobs).getOrElse(0))
    out.put("traced_wall_s", wall)
    out.put("untraced_wall_s", untracedWall)
    out
  }
}
