package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.vault.DataVault

/** Data Vault generation semantics + FK discovery on the sf0.001 testdata.
  * Cross-engine agreement is covered by the DuckDB oracle gate
  * (dv_hub/dv_sat/dv_link/fk_candidates).
  */
class DataVaultSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark
  private val dir = "/root/testdata/sf0.001"

  test("hub: one row per distinct business key, deterministic hash key") {
    val customer = Tables.load(spark, dir, "customer")
    val h = DataVault.hub(customer, "customer", Seq("c_custkey"))
    assert(h.count() == customer.select("c_custkey").distinct().count())
    val first = h.orderBy("c_custkey").first()
    assert(first.getAs[String]("hub_customer_hk").matches("[0-9a-f]{64}"))
    // re-generation is bit-identical (no randomness, no timestamps)
    assert(DataVault.hub(customer, "customer", Seq("c_custkey")).orderBy("c_custkey").first() == first)
  }

  test("satellite: hashdiff changes iff a descriptive attribute changes") {
    import spark.implicits._
    val v1 = Seq((1L, "alice", 100.00), (2L, "bob", 7.25)).toDF("id", "name", "bal")
    val v2 = Seq((1L, "alice", 100.00), (2L, "bob", 9.99)).toDF("id", "name", "bal")
    def hd(df: org.apache.spark.sql.DataFrame) =
      DataVault.satellite(df, "e", Seq("id"), Seq("name", "bal")).collect()
        .map(r => r.getAs[Long]("id") -> r.getAs[String]("hashdiff")).toMap
    val (h1, h2) = (hd(v1), hd(v2))
    assert(h1(1L) == h2(1L)) // unchanged row → same hashdiff
    assert(h1(2L) != h2(2L)) // changed balance → new hashdiff
  }

  test("link: grain is distinct key pairs; member hub keys match hub generation") {
    val orders = Tables.load(spark, dir, "orders")
    val l = DataVault.link(orders, "order_customer", "order", "o_orderkey", "customer", "o_custkey")
    assert(l.count() == orders.select("o_orderkey", "o_custkey").distinct().count())
    // hub_customer_hk in the link equals the hub's hash for the same key
    val customer = Tables.load(spark, dir, "customer")
    val hubKeys = DataVault.hub(customer, "customer", Seq("c_custkey")).collect()
      .map(r => r.getAs[Long]("c_custkey") -> r.getAs[String]("hub_customer_hk")).toMap
    val sample = l.orderBy("o_orderkey").limit(5).collect()
    for (r <- sample)
      assert(r.getAs[String]("hub_customer_hk") == hubKeys(r.getAs[Long]("o_custkey")))
  }

  test("fkCandidates: discovers the real TPC-H foreign keys and only them") {
    val rows = DataVault.fkCandidates(spark, dir).collect()
    val verdicts = rows.map { r =>
      (r.getAs[String]("child_table"), r.getAs[String]("child_column"),
        r.getAs[String]("parent_table")) -> r.getAs[Boolean]("is_fk")
    }.toMap
    val trueFks = Set(
      ("nation", "n_regionkey", "region"),
      ("customer", "c_nationkey", "nation"),
      ("supplier", "s_nationkey", "nation"),
      ("orders", "o_custkey", "customer"),
      ("lineitem", "l_orderkey", "orders"),
      ("lineitem", "l_partkey", "part"),
      ("lineitem", "l_suppkey", "supplier")
    )
    for (fk <- trueFks)
      assert(verdicts.getOrElse(fk, false), s"missed FK $fk")
    for ((k, v) <- verdicts if !trueFks.contains(k))
      assert(!v, s"false FK $k")
  }

  test("fkCandidates: a candidate pair spanning suffix classes is a named error") {
    DataVault.requireOneSuffixClass(DataVault.candidatePairs)
    val e = intercept[IllegalArgumentException] {
      DataVault.requireOneSuffixClass(Seq(("orders", "o_custkey", "customer", "c_nationkey")))
    }
    assert(e.getMessage.contains("orders.o_custkey -> customer.c_nationkey"), e.getMessage)
    assert(e.getMessage.contains("'custkey'") && e.getMessage.contains("'nationkey'"), e.getMessage)
  }

  test("scd2 episodes: runs collapse, changes open new episodes, valid_to chains") {
    import spark.implicits._
    def t(d: Int) = java.sql.Timestamp.valueOf(f"2024-01-$d%02d 00:00:00")
    val orders = Seq(
      // customer 1: A,A,B,A → 3 episodes
      (101L, 1L, "A", t(1)), (102L, 1L, "A", t(2)), (103L, 1L, "B", t(3)), (104L, 1L, "A", t(5)),
      // customer 2: same-day tie broken by orderkey: B(201) then A(202)
      (201L, 2L, "B", t(1)), (202L, 2L, "A", t(1))
    ).toDF("o_orderkey", "o_custkey", "o_orderpriority", "o_orderdate")
    val eps = graft.vault.Scd2
      .episodes(orders, "o_custkey", "o_orderpriority", "o_orderdate", "o_orderkey")
      .collect()
    val c1 = eps.filter(_.getAs[Long]("o_custkey") == 1L).sortBy(_.getAs[Long]("episode"))
    assert(c1.map(_.getAs[String]("o_orderpriority")).toSeq == Seq("A", "B", "A"))
    assert(c1.map(_.getAs[Long]("n_rows")).toSeq == Seq(2L, 1L, 1L))
    // valid_to chains to the next episode's valid_from; open episode is NULL
    assert(c1(0).getAs[java.sql.Timestamp]("valid_to") == t(3))
    assert(c1(1).getAs[java.sql.Timestamp]("valid_to") == t(5))
    assert(c1(2).getAs[java.sql.Timestamp]("valid_to") == null)
    val c2 = eps.filter(_.getAs[Long]("o_custkey") == 2L).sortBy(_.getAs[Long]("episode"))
    assert(c2.map(_.getAs[String]("o_orderpriority")).toSeq == Seq("B", "A"), "orderkey tie-break")
  }

  test("compositeKeys: set uniqueness decided exactly, null combos count as values") {
    import spark.implicits._
    val df = Seq(
      (1L, Some("a")),
      (1L, Some("b")),
      (2L, Some("a")),
      (2L, None)
    ).toDF("k", "v")
    val got = DataVault.compositeKeys(df, Seq(Seq("k"), Seq("k", "v"))).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getBoolean(3)))).toMap
    assert(got("k") == ((4L, 2L, false)))
    assert(got("k,v") == ((4L, 4L, true))) // (2, null) is a distinct combination
  }

  test("fdCandidates: planted FDs hold, violating groups counted, null is a dependent value") {
    import spark.implicits._
    val df = Seq(
      (1L, "a", "x"),
      (2L, "a", "x"),
      (3L, "b", "y"),
      (4L, "b", "z"),
      (5L, "c", "x")
    ).toDF("id", "g", "v")
      .unionAll(Seq((6L, "d", null.asInstanceOf[String])).toDF("id", "g", "v"))
      .unionAll(Seq((7L, "d", "w")).toDF("id", "g", "v"))
    val out = DataVault.fdCandidates(df, Seq("id", "g", "v")).collect()
      .map(r => (r.getString(0), r.getString(1)) -> ((r.getLong(2), r.getBoolean(3)))).toMap
    assert(out.size == 6)
    assert(out(("id", "g")) == ((0L, true)))  // unique determinant → holds
    assert(out(("id", "v")) == ((0L, true)))
    assert(out(("g", "v")) == ((2L, false)))  // b→{y,z} and d→{null,w} both violate
    assert(out(("g", "id")) == ((3L, false))) // a, b, d are multi-row groups
    assert(out(("v", "g")) == ((1L, false)))  // x→{a,c}; y,z,w,null each single
  }
}
