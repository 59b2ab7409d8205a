package graft

import org.scalatest.funsuite.AnyFunSuite

import org.apache.spark.sql.DataFrame

/** Physical-plan regression net for the scale story: the properties PLANS.md
  * documents are asserted here so a refactor that silently reintroduces a
  * shuffle, an all-pairs join, or a per-row recomputation fails CI instead
  * of a bench round.
  */
class PlanShapeSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark

  private lazy val docs = Tables.load(spark, "/root/testdata/sf0.001", "documents")
  private lazy val emb  = Tables.load(spark, "/root/testdata/sf0.001", "embeddings")

  private def plan(df: DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("minhash signatures are shuffle-free (per-row kernel, no explode/groupBy)") {
    val p = plan(graft.dedup.DedupOps.minhashSignatures(docs))
    // the only allowed exchange is the widen round-robin on the narrow input
    val exchanges = "Exchange (\\w+)".r.findAllMatchIn(p).map(_.group(1)).toList
    assert(exchanges.forall(_.startsWith("RoundRobin")), s"unexpected exchanges: $exchanges\n$p")
    assert(!p.contains("Generate"), s"signature plan should not explode:\n$p")
    assert(p.contains("graft_minhash_sig"), s"native kernel missing from plan:\n$p")
  }

  test("minhash kernel is projected once, not inlined 32 times") {
    val p = plan(graft.dedup.DedupOps.minhashSignatures(docs))
    val kernelCalls = "graft_minhash_sig".r.findAllMatchIn(p).size
    assert(kernelCalls <= 2, s"kernel appears $kernelCalls times — CollapseProject inlined it:\n$p")
  }

  test("simhash is a pure projection (no shuffle beyond widen, no explode)") {
    val p = plan(graft.dedup.DedupOps.simhash(docs))
    val exchanges = "Exchange (\\w+)".r.findAllMatchIn(p).map(_.group(1)).toList
    // widen round-robin + the declared orderBy's range exchange only
    assert(
      exchanges.forall(e => e.startsWith("RoundRobin") || e.startsWith("rangepartitioning")),
      s"unexpected exchanges: $exchanges\n$p"
    )
    assert(!p.contains("Generate"), s"simhash should not explode:\n$p")
  }

  test("no declared pair generator plans an all-pairs operator") {
    val quadratic = Seq("CartesianProduct", "BroadcastNestedLoopJoin")
    val plans = Map(
      "minhash_pairs" -> plan(graft.dedup.DedupOps.minhashCandidatePairs(docs)),
      "simhash_pairs" -> plan(graft.dedup.DedupOps.simhashPairs(docs)),
      "jaccard_pairs" -> plan(graft.dedup.DedupOps.jaccardPairs(docs)),
      "cosine_dups_banded" -> plan(graft.similarity.SimilarityOps.cosineDupPairsBanded(emb)),
      "contamination" -> plan(
        graft.dedup.Contamination.contaminatedPairs(
          docs, graft.sampling.Sampling.sampleByHash(docs, "doc_id", 0.05, "bench").select("doc_id"))
      )
    )
    for ((name, p) <- plans; op <- quadratic)
      assert(!p.contains(op), s"$name plans $op — an all-pairs scale-killer:\n$p")
  }

  test("declared trained-IVF queries assign cells via aggregate argmax, not a vec_id window") {
    // plan shape is centroid-value-independent — synthetic literals suffice
    val cents = Array.tabulate(16, 64)((i, j) => (i * 64 + j + 1).toDouble / 100.0)
    val pa = plan(graft.similarity.SimilarityOps.ivfAssignTrained(emb, cents))
    assert(!pa.contains("Window"), s"ivf_assign plans a window exchange:\n$pa")
    val pt = plan(graft.similarity.SimilarityOps.ivfTopKTrained(emb, cents))
    val windows = pt.linesIterator.filter(_.contains("windowspecdefinition")).toList
    // the only window left ranks narrow (qid, vec_id, sim) candidates by qid;
    // a window partitioned by vec_id is the r4 shape that shuffled 16×|vectors|
    // rows carrying the 64-dim arrays
    assert(
      windows.forall(w => w.contains("windowspecdefinition(qid#") && !w.contains("windowspecdefinition(vec_id#")),
      s"ivf_topk windows over vec_id (wide shuffle):\n$pt"
    )
  }

  test("ivf+pq composition: no full-corpus operator past the cell filter") {
    // plan shape is model-value-independent — synthetic literals suffice
    val cents = Array.tabulate(16, 64)((i, j) => (i * 64 + j + 1).toDouble / 100.0)
    val cbs   = Array.tabulate(4, 16, 16)((m, c, j) => (m * 256 + c * 16 + j + 1).toDouble / 100.0)
    val p = plan(graft.similarity.Pq.ivfPqTopK(emb, cents, cbs))
    assert(!p.contains("CartesianProduct"), s"ivfpq plans a cartesian product:\n$p")
    // r19 in-row shape: cell argmax, PQ codes, and the per-query ADC lookup
    // are all literal-centroid expressions inside projections, so the plan
    // has NO nested-loop join, NO literal centroid relation, and NO
    // aggregate anywhere — every join is a broadcast equi-join
    // (centroid_id / vec_id / qid) and the only wide operators left are the
    // two narrow per-query ranking windows
    assert(!p.contains("BroadcastNestedLoopJoin"), s"ivfpq plans a nested-loop join:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      s"ivfpq shuffles a join side (the r19 shape broadcasts probes/shortlist/q):\n$p")
    assert(!p.contains("HashAggregate") && !p.contains("ObjectHashAggregate") &&
      !p.contains("SortAggregate"),
      s"ivfpq plans an aggregate (the r19 shape is aggregate-free):\n$p")
    val scans = "Scan parquet".r.findAllMatchIn(p).size
    assert(scans <= 4, s"ivfpq scans the table $scans times (r19 shape: ≤4):\n$p")
    // both ranking windows partition the narrow per-query candidate rows;
    // a vec_id-partitioned window is the r4 wide-shuffle shape
    val windows = p.linesIterator.filter(_.contains("windowspecdefinition")).toList
    assert(
      windows.nonEmpty && windows.forall(w =>
        w.contains("windowspecdefinition(qid#") && !w.contains("windowspecdefinition(vec_id#")),
      s"ivfpq windows over vec_id (wide shuffle):\n$p"
    )
  }

  test("quantiles select ranks via zero-shuffle radix histograms — no buffering aggregate, no data shuffle") {
    val li = Tables.load(spark, "/root/testdata/sf0.001", "lineitem")
    val cols = Seq("l_quantity", "l_extendedprice")
    // the r5 scale-killer was `percentile`, a TypedImperativeAggregate whose
    // buffer holds the whole column; the r5–r18 kernel replaced it with a
    // distributed range SORT (one full shuffle of every stacked data row);
    // the r19 kernel removes even that: the histogram pass is a plain
    // map-combined count aggregate whose exchange carries occupied-BUCKET
    // rows only — data rows never shuffle at all
    val stacked = graft.stats.NumericStats.stackedKeys(li, cols, groupCol = None)
    val p = plan(graft.stats.NumericStats.bucketHist(stacked, 48))
    assert(!p.contains("percentile"), s"buffering percentile aggregate back in the plan:\n$p")
    assert(!p.contains("ObjectHashAggregate"), s"object-buffering aggregate in the histogram plan:\n$p")
    assert(!p.contains("rangepartitioning"), s"the radix kernel must not sort the data:\n$p")
    assert(p.contains("HashAggregate") && p.contains("graft_double_order_key"),
      s"expected the map-combined bucket histogram over order keys:\n$p")
    // and the public result plan carries no percentile either (it is driver
    // arithmetic over the ≤ 2·|cols|·|qs| selected rank values)
    val pq = plan(graft.stats.NumericStats.quantiles(li, Seq("l_quantity"), Seq(0.5)))
    assert(!pq.contains("percentile") && !pq.contains("ObjectHashAggregate"),
      s"quantiles result plan buffers:\n$pq")
  }

  test("retrieval/mixture scorers join on token or stratum keys — no all-pairs, no wide windows") {
    val plans = Map(
      "bm25"    -> plan(graft.text.TextOps.bm25(docs, Seq("hash", "join", "dup"))),
      "dsir"    -> plan(graft.text.TextOps.dsirWeights(docs)),
      "mixture" -> plan(graft.text.TextOps.mixture(docs))
    )
    for ((name, p) <- plans) {
      // the only nested-loop joins allowed are sub-|vocab|-row broadcasts
      // (corpus totals, df tables); an unbroadcast product is a scale bug
      assert(!p.contains("CartesianProduct"), s"$name plans a cartesian product:\n$p")
      val bnljs = "BroadcastNestedLoopJoin".r.findAllMatchIn(p).size
      assert(bnljs <= 2, s"$name has $bnljs nested-loop joins:\n$p")
    }
    // mixture's share window runs AFTER aggregation: it must partition the
    // plan's |strata| aggregated rows, never the raw token stream — and the
    // whole plan must stay ONE scan (a totals-broadcast alternative would
    // re-plan the aggregate as a second scan; see bounded-global-window
    // comment at the definition site)
    val m = plans("mixture")
    val windowLine = m.linesIterator.find(_.contains("windowspecdefinition"))
    assert(windowLine.isDefined && m.indexOf("Window") < m.indexOf("HashAggregate"),
      s"mixture window should sit above the aggregate:\n$m")
    assert("FileScan".r.findAllMatchIn(m).size == 1, s"mixture must stay one scan:\n$m")

    // the corpus-count windows of the re-planned text scorers (bigram's
    // c(w1·), dsir's totals, source_kl's c_tot and n_s/n_types) each sit
    // above an aggregate: they partition ≤|vocab|·|sources| aggregated
    // rows, never the raw token stream
    import org.apache.spark.sql.execution.{FilterExec, ProjectExec, SparkPlan}
    import org.apache.spark.sql.execution.aggregate.HashAggregateExec
    import org.apache.spark.sql.execution.window.WindowExec
    def input(p: SparkPlan): SparkPlan = p match {
      case x: ProjectExec => input(x.child)
      case x: FilterExec  => input(x.child)
      case x: WindowExec  => input(x.child)
      case other          => other
    }
    val scorers = Map(
      "bigram"    -> graft.text.BigramLm.bigramScores(docs),
      "dsir"      -> graft.text.TextOps.dsirWeights(docs),
      "source_kl" -> graft.text.SourceDivergence.sourceKl(docs)
    )
    for ((name, df) <- scorers) {
      val windows = df.queryExecution.sparkPlan.collect { case w: WindowExec => w }
      assert(windows.nonEmpty, s"$name plans no window:\n${df.queryExecution.sparkPlan}")
      for (w <- windows)
        assert(input(w.child).isInstanceOf[HashAggregateExec],
          s"$name window does not sit above an aggregate:\n${df.queryExecution.sparkPlan}")
    }
  }

  test("sampling filters sit on the scan — no shuffle at all") {
    val p = plan(graft.sampling.Sampling.sampleByHash(docs, "doc_id", 0.25))
    assert(!p.contains("Exchange") || "Exchange (\\w+)".r.findAllMatchIn(p).forall(_.group(1).startsWith("RoundRobin")),
      s"sampling should be a pure filter:\n$p")
  }

  test("quota rank filter becomes a per-partition group limit before the stratum shuffle") {
    val p = plan(graft.sampling.Sampling.quotaByHash(docs, "doc_id", "source", 18))
    // Spark's WindowGroupLimit turns rank<=k into a partial top-k on the map
    // side — the exchange carries ≤ cap·partitions rows per stratum, never
    // the stratum itself (the hot-domain skew guard this operator relies on)
    assert(p.contains("WindowGroupLimit"),
      s"rank<=cap not pushed to a group limit — full strata would cross the shuffle:\n$p")
  }

  test("dsir top-N cut is a TakeOrdered, not a full corpus sort") {
    val p = plan(graft.text.TextOps.dsirTop(docs, 10))
    assert(p.contains("TakeOrderedAndProject"),
      s"top-N should merge per-partition heads, not globally sort:\n$p")
    val exchanges = "Exchange (\\w+)".r.findAllMatchIn(p).map(_.group(1)).toList
    assert(!exchanges.exists(_.startsWith("rangepartitioning")),
      s"global sort exchange in the top-N plan: $exchanges\n$p")
  }

  test("chunks is a pure per-row generator — no join, no aggregate, no extra exchange") {
    val p = plan(graft.text.TextOps.chunks(docs))
    assert(p.contains("Generate"), s"chunking should posexplode windows:\n$p")
    assert(!p.contains("Join") && !p.contains("HashAggregate"),
      s"chunking must not join or aggregate:\n$p")
    val exchanges = "Exchange (\\w+)".r.findAllMatchIn(p).map(_.group(1)).toList
    // widen round-robin + the declared output order only
    assert(exchanges.forall(e => e.startsWith("RoundRobin") || e.startsWith("rangepartitioning")),
      s"unexpected exchange in a per-row generator: $exchanges\n$p")
  }

  test("rollup/pivot/json reports stay single-aggregation shapes") {
    val events = Tables.load(spark, "/root/testdata/sf0.001", "events")
    // rollup: one Expand feeding one partial/final aggregate pair — no window
    val r = plan(graft.text.TextOps.mixtureRollup(docs))
    assert(r.contains("Expand"), s"rollup should expand grouping sets:\n$r")
    assert(!r.contains("windowspecdefinition"), s"rollup must not window:\n$r")
    // pivot: a single aggregate pass over the enumerated domain — no join
    val pv = plan(graft.text.TextOps.langPivot(docs, Seq("de", "en", "es", "fr", "zh")))
    assert(!pv.contains("Join"), s"pivot should not join:\n$pv")
    // json extraction is scalar: no Generate, one aggregate pair
    val pr = plan(graft.analytics.EventOps.propsStats(events))
    assert(pr.contains("get_json_object"), s"json path should reach the plan:\n$pr")
    assert(!pr.contains("Generate"), s"json profiling must not explode:\n$pr")
  }

  test("group quantiles select ranks via the same zero-shuffle radix kernel — no buffering aggregate, no per-group window") {
    val li = Tables.load(spark, "/root/testdata/sf0.001", "lineitem")
    val stacked = graft.stats.NumericStats.stackedKeys(
      li, Seq("l_quantity", "l_extendedprice"), groupCol = Some("l_returnflag"))
    val p = plan(graft.stats.NumericStats.bucketHist(stacked, 48))
    assert(!p.contains("percentile"), s"buffering percentile aggregate in the grouped histogram plan:\n$p")
    assert(!p.contains("ObjectHashAggregate"), s"object-buffering aggregate in the grouped histogram plan:\n$p")
    assert(!p.contains("windowspecdefinition"), s"per-group window sort in the grouped plan:\n$p")
    assert(!p.contains("rangepartitioning"), s"the radix kernel must not sort the data:\n$p")
    assert(p.contains("HashAggregate") && p.contains("graft_double_order_key"),
      s"expected the map-combined (group, column, bucket) histogram:\n$p")
  }

  test("distributed pagerank round reuses the persisted graph relations — ranks never become a driver-side relation") {
    val events = Tables.load(spark, "/root/testdata/sf0.001", "events")
    val (edges, nodes) = graft.analytics.PageRank.userGraph(events)
    try {
      val p = plan(graft.analytics.PageRank.pageRankGraph(spark, edges, nodes, iters = 1))
      // the property that distinguishes this loop from the bounded variant:
      // the out-weighted edge relation AND the node set are PERSISTED cluster
      // relations each round reads (InMemoryTableScan), and no rank/edge/node
      // relation is ever a driver-built LocalTableScan
      val imts = "InMemoryTableScan".r.findAllMatchIn(p).size
      assert(imts >= 2, s"expected the persisted edge + node relations (found $imts scans):\n$p")
      assert(!p.contains("LocalTableScan"),
        s"driver-side relation in the distributed rank loop:\n$p")
      // contribution aggregation must combine map-side before the dst shuffle
      assert(p.contains("partial_sum"),
        s"contribution aggregate is not partial (no map-side combine):\n$p")
    } finally graft.analytics.PageRank.clearCache() // release the persisted pair
  }

  test("media decode/quarantine are one-pass, join-free plans — kind rides the decode seam") {
    val fx = new java.io.File(graft.multimodal.MediaOps.DefaultFixture)
    assume(fx.exists, s"committed fixture missing at $fx")
    val pd = plan(graft.multimodal.MediaOps.mediaDecode(spark))
    // a join-back for `kind` would broadcast a corpus-sized relation at a
    // real media table; the carry-through shape has exactly one scan and
    // its only exchange is the declared output sort
    assert(!pd.contains("Join"), s"media decode joins:\n$pd")
    assert("FileScan".r.findAllMatchIn(pd).size == 1, s"media decode must stay one scan:\n$pd")
    val pq = plan(graft.multimodal.MediaOps.mediaQuarantine(spark))
    assert(!pq.contains("Join"), s"media quarantine joins:\n$pq")
    assert("FileScan".r.findAllMatchIn(pq).size == 1, s"media quarantine must stay one scan:\n$pq")
    assert(pq.contains("partial_count") || pq.contains("partial_sum"),
      s"quarantine counts must combine map-side:\n$pq")
  }

  test("bucketized range join plans a hash join on the cell, never a nested-loop band scan") {
    val li = Tables.load(spark, "/root/testdata/sf0.001", "lineitem")
    val p  = plan(graft.analytics.RangeJoin.priceBandStats(li))
    // the naive `v >= lo AND v < hi` join is a BroadcastNestedLoopJoin —
    // every row tests every band; the cell equi-join must be a hash lookup
    assert(p.contains("BroadcastHashJoin"), s"cell join is not a hash join:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"range join fell back to an all-bands scan:\n$p")
    // column pruning reaches the fact scan: only the value column is read
    assert(p.contains("ReadSchema: struct<l_extendedprice:double>"),
      s"fact scan reads more than the value column:\n$p")
  }

  test("data-vault generators: hub is one distinct shuffle; satellite is a pure projection") {
    val cust = Tables.load(spark, "/root/testdata/sf0.001", "customer")
    val ph = plan(graft.vault.DataVault.hub(cust, "customer", Seq("c_custkey")))
    val hx = "Exchange (\\w+)".r.findAllMatchIn(ph).map(_.group(1)).toList
    assert(hx.count(_.startsWith("hashpartitioning")) == 1 &&
      hx.count(_.startsWith("rangepartitioning")) == 1 && hx.size == 2,
      s"hub should cost one distinct shuffle + the declared sort, got $hx:\n$ph")
    val ps = plan(graft.vault.DataVault.satellite(cust, "customer", Seq("c_custkey"), Seq("c_name", "c_acctbal")))
    assert(!ps.contains("HashAggregate"), s"satellite should not aggregate:\n$ps")
    val sx = "Exchange (\\w+)".r.findAllMatchIn(ps).map(_.group(1)).toList
    assert(sx.forall(e => e.startsWith("rangepartitioning") || e.startsWith("RoundRobin")),
      s"satellite should shuffle only for the declared sort, got $sx:\n$ps")
  }

  test("ruleReport evaluates the whole suite in one pass — single scan, no Expand, broadcast dim") {
    val ords = Tables.load(spark, "/root/testdata/sf0.001", "orders")
    val cust = Tables.load(spark, "/root/testdata/sf0.001", "customer")
    val p = plan(graft.quality.Checks.orderChecks(ords, cust))
    // the single count(DISTINCT key) plans as the keyed two-phase rewrite,
    // never the multi-distinct Expand that multiplies the scan
    assert(!p.contains("Expand"), s"rule suite multiplies rows through an Expand:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"referential arm is not a broadcast join:\n$p")
    assert("orders\\.parquet".r.findAllMatchIn(p).size == 1,
      s"adding rules must not add scans — orders scanned more than once:\n$p")
  }

  test("diffSummary is the one irreducible full-outer join plus a 1-row aggregate") {
    val p = plan(graft.quality.Diff.diffDocuments(docs))
    assert(p.contains("SortMergeJoin") && p.contains("FullOuter"),
      s"reconciliation must full-outer join on the key:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"diff plans an all-pairs operator:\n$p")
    assert(!p.contains("Window"), s"diff should aggregate, not window:\n$p")
  }

  test("unpivotStats: one Expand, null filter below the map-side combine") {
    val li = Tables.load(spark, "/root/testdata/sf0.001", "lineitem")
    val p = plan(graft.report.Reshape.unpivotStats(li, "l_returnflag",
      Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")))
    assert("Expand".r.findAllMatchIn(p).size == 1, s"melt should be ONE Expand:\n$p")
    // the grouped partial aggregate must sit below the exchange, so the
    // shuffle carries ≤ |groups|·|measures| buffer rows per partition,
    // never the Expand-multiplied fact rows
    assert(p.indexOf("partial_count") > p.indexOf("Exchange hashpartitioning"),
      s"no map-side combine between Expand and exchange:\n$p")
  }

  test("keySkew shares the counts shuffle via ReuseExchange — no anonymous cache entry") {
    val ev = Tables.load(spark, "/root/testdata/sf0.001", "events")
    val df = graft.scale.Partitioning.keySkew(ev, "user_id")
    df.collect() // AQE finalizes the plan; reuse is decided at runtime
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("ReusedExchange"),
      s"totals and top-K arms recompute the counts shuffle instead of sharing it:\n$p")
    assert(!p.contains("InMemoryRelation"),
      s"keySkew left a persisted relation behind (the PageRank r10 leak class):\n$p")
    assert(p.contains("TakeOrderedAndProject"),
      s"top-K probe is not a bounded heap merge:\n$p")
  }

  test("maskedDF is a pure projection — no join, no aggregate, no shuffle beyond widen+sort") {
    val cust = Tables.load(spark, "/root/testdata/sf0.001", "customer")
    val p = plan(graft.governance.Masking.maskedDF(cust,
      Seq(graft.model.ColumnProfile("c_name", "c_name", graft.model.SemanticType.Text,
        piiLevel = graft.model.PiiLevel.High))))
    assert(!p.contains("HashAggregate") && !p.contains("Join"), s"masking should be row-local:\n$p")
    val mx = "Exchange (\\w+)".r.findAllMatchIn(p).map(_.group(1)).toList
    assert(mx.forall(e => e.startsWith("rangepartitioning") || e.startsWith("RoundRobin")),
      s"masking shuffles beyond widen + declared sort: $mx\n$p")
  }

  test("gated join-size validation filters BOTH scans before any exchange — cost is the declared fraction") {
    val li = Tables.load(spark, "/root/testdata/sf0.001", "lineitem")
    val p  = plan(graft.scale.Partitioning.joinSizeProfileGated(li, li, "l_partkey", "l_partkey"))
    // the validation join's md5 gates must sit under the shuffle: both
    // key-projected scan branches filter first, so the exchange (and the
    // join) carry ~1/16 of the keys' rows, never the full fact table
    val gateFilters = p.linesIterator.count(l => l.contains("Filter") && l.contains("md5"))
    assert(gateFilters >= 3, // 2 validation-join scans + ≥1 gated histogram arm
      s"expected the md5 gates as scan-side Filters (found $gateFilters):\n$p")
    assert(!p.contains("CartesianProduct"), s"gated profile plans a cartesian product:\n$p")
    // the only nested-loop joins are the broadcast crossJoins of 1-row
    // aggregate relations stitching the summary row together
    val bnljs = "BroadcastNestedLoopJoin".r.findAllMatchIn(p).size
    assert(bnljs <= 4, s"gated profile has $bnljs nested-loop joins:\n$p")
  }

  test("bloom contamination probe is a native codegen expression — no Scala UDF in the hot loop") {
    val bench = graft.sampling.Sampling.sampleByHash(docs, "doc_id", 0.05, "bench")
      .select("doc_id")
    val p = plan(graft.dedup.Contamination.contaminatedPairsBloom(docs, bench))
    assert(p.contains("graft_bloom_might_contain"), s"native probe missing from plan:\n$p")
    // the probe was the last interpreted per-row function in a declared hot
    // loop (VERDICT r12 #6); a UDF node here would box every corpus shingle
    assert(!p.contains("UDF"), s"interpreted UDF reappeared in the probe path:\n$p")
  }
}
