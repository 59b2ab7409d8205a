package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Source-level tripwires for the driver-side-boundedness doctrine the
  * per-round scale audits sweep by hand: every `.collect()` in main must be
  * a bounded (corpus-size-independent) action, `.rdd` is reserved for the
  * partition-count probe, Scala UDF registration is banned (native
  * expressions only), and every `crossJoin` broadcasts its small side.
  *
  * The inventories pin (file → count) with a written boundedness argument;
  * a NEW site in any file changes its count and fails here, forcing the
  * author to re-argue boundedness instead of silently adding a driver-side
  * bottleneck. Line numbers are deliberately not pinned (they churn on
  * unrelated edits); comment/scaladoc lines are excluded from matching.
  */
class MainSourceLintSpec extends AnyFunSuite {

  private val root = Paths.get("src/main/scala/graft")

  /** file (relative to graft/) -> code lines (comment lines stripped). */
  private lazy val sources: Map[String, Seq[String]] = {
    val files = Files.walk(root).iterator().asScala
      .filter(p => p.toString.endsWith(".scala") && Files.isRegularFile(p))
      .toSeq
    files.map { p: Path =>
      val rel = root.relativize(p).toString
      val code = Files.readAllLines(p).asScala.toSeq.filterNot { l =>
        val t = l.trim
        t.startsWith("//") || t.startsWith("*") || t.startsWith("/*")
      }
      rel -> code
    }.toMap
  }

  private def sites(pattern: scala.util.matching.Regex): Map[String, Int] =
    sources.view.mapValues(_.count(l => pattern.findFirstIn(l).isDefined))
      .filter(_._2 > 0).toMap

  /** Every `.collect()` in main, file -> (count, boundedness argument).
    * VERDICT r12 hand-swept these 30 sites; this pins that sweep.
    */
  private val collectInventory: Map[String, (Int, String)] = Map(
    "text/TextOps.scala" ->
      (1, "vocab-coverage top list is limit(ks.max)-bounded"),
    "text/ApproxVocab.scala" ->
      (2, "candidate list ≤ budget × partitions; exactCounts is the spec-only exact-reference accessor"),
    "stats/BottomKSketch.scala" ->
      (1, "bottom-k sample is k-bounded by construction"),
    "stats/NumericStats.scala" ->
      (7, "1-row aggregates, radix-histogram bucket counts (occupied buckets " +
        "only), and ≤ CollectCap-row target-bucket key fetches (r19 kernel)"),
    "stats/MergeableStats.scala" ->
      (1, "single merged-partials row"),
    "stats/StatsPass.scala" ->
      (3, "grouped pass: ≤ maxDistinctPerJob rows, one per column; 1-row approx-distinct aggregate; 1-row sample capture"),
    "serve/ProfileServer.scala" ->
      (1, "JSONL upload: 1-row good/quarantined count_if aggregate"),
    "vault/DataVault.scala" ->
      (1, "fkCandidates: ONE |suffix-classes|-row collect of per-class 1-row pivot aggregates (orphan counts + uniqueness, r19)"),
    "similarity/KMeans.scala" ->
      (4, "k×dim centroid rows from the capped-sample trainer; the " +
        "one-partition trainer's base, one partition only when Tables.widen " +
        "found it fits one task (≤ TinyBytes on disk)"),
    "similarity/Pq.scala" ->
      (2, "PQ codebook rows (m × k × dsub floats, config-bounded)"),
    "analytics/EventOps.scala" ->
      (1, "funnel step counts: union of |steps| 1-row aggregates"),
    "analytics/PageRank.scala" ->
      (2, "require-gated limit(MaxBounded*+1) probes for the bounded variant"),
    "dedup/DedupClusters.scala" ->
      (1, "gated limit(MaxDriverEdges+1) edge probe for the CC union-find " +
        "fast path (r19) — ≤4 MiB on the driver, falls back to the star loop")
  )

  /** Every `.rdd` in main: reserved for the partition-count probes (the
    * width probe and the trainer's path choice) plus the global-ranks
    * zipWithIndex path.
    */
  private val rddInventory: Map[String, (Int, String)] = Map(
    "stats/NumericStats.scala" ->
      (1, "globalRanks rides zipWithIndex over its ordered relation (the " +
        "quantile kernel is radix histograms since r19 — no RDD view)"),
    "Tables.scala" ->
      (1, "df.rdd.getNumPartitions width probe, cached per input"),
    "similarity/KMeans.scala" ->
      (1, "base.rdd.getNumPartitions picks the one-partition trainer")
  )

  /** crossJoins allowed WITHOUT a broadcast on the same call line: each is
    * scalar×scalar or a documented exact-reference twin, never a declared
    * query's corpus×corpus path (SurfacePlanHygieneSpec holds the plan-level
    * version of this rule for every declared query).
    */
  private val bareCrossJoins: Map[String, (Int, String)] = Map(
    "vault/DataVault.scala" ->
      (1, "compositeKeys: 1-row n_rows aggregate × 1-row n_distinct aggregate"),
    "similarity/SimilarityOps.scala" ->
      (1, "cosineDupPairs: the deliberate all-pairs EXACT twin (oracle semantics); the declared query uses the banded variant")
  )

  private def diff(actual: Map[String, Int], expected: Map[String, (Int, String)]): Seq[String] = {
    val keys = actual.keySet ++ expected.keySet
    keys.toSeq.sorted.flatMap { f =>
      (actual.getOrElse(f, 0), expected.get(f).map(_._1).getOrElse(0)) match {
        case (a, e) if a == e => None
        case (a, e) => Some(s"$f: found $a, inventoried $e")
      }
    }
  }

  test("every .collect() in main is inventoried with a boundedness argument") {
    val d = diff(sites("\\.collect\\(\\)".r), collectInventory)
    assert(d.isEmpty, "collect inventory drifted — re-argue boundedness:\n" + d.mkString("\n"))
  }

  test("every .rdd in main is inventoried") {
    val d = diff(sites("\\.rdd\\b".r), rddInventory)
    assert(d.isEmpty, ".rdd inventory drifted:\n" + d.mkString("\n"))
  }

  test("no Scala UDF registration anywhere in main") {
    val hits = sites("\\budf\\s*\\(".r)
    assert(hits.isEmpty,
      s"udf( found in: ${hits.keys.toSeq.sorted.mkString(", ")} — use a native expression")
  }

  test("every crossJoin broadcasts its small side (or is an inventoried exception)") {
    val bare = sources.view.mapValues(
      _.count(l => l.contains(".crossJoin(") && !l.contains("broadcast("))
    ).filter(_._2 > 0).toMap
    val d = diff(bare, bareCrossJoins)
    assert(d.isEmpty, "non-broadcast crossJoin drifted:\n" + d.mkString("\n"))
  }
}
