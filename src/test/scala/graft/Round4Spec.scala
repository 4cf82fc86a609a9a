package graft

import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterEach
import org.scalatest.funsuite.AnyFunSuite

/** Behavior tests for the round-4 additions (q39-q41, t10, e10, p09,
  * s07, CC hop batching). Value-level correctness vs DuckDB is the
  * driver's gate; these assert the properties the oracle can't express.
  */
class Round4Spec extends AnyFunSuite with BeforeAndAfterEach {
  private lazy val spark = SparkTestSession.spark
  private val dir = "/root/testdata/sf0.01"

  override def afterEach(): Unit = {
    spark.sharedState.cacheManager.clearCache()
    super.afterEach()
  }

  test("q39: built-in corr/stddev/covar/var/regr_slope match the exact-decimal manual moments") {
    // The oracle hashes the deterministic manual formulas; this pins the
    // BUILT-IN aggregates to them, so the built-in surface is covered too.
    val manual = SparkEntry.queries("q39_stats_agg")(spark, dir)
      .select("l_returnflag", "corr_qp", "sd_disc", "cov_qd", "var_qty", "slope_pq")
      .collect()
      .map(r => r.getString(0) -> (1 to 5).map(r.getDouble).toVector).toMap
    val builtin = graft.core.Tables.lineitem(spark, dir)
      .groupBy(col("l_returnflag"))
      .agg(
        corr(col("l_quantity"), col("l_extendedprice")).as("c1"),
        stddev_samp(col("l_discount")).as("c2"),
        covar_samp(col("l_quantity"), col("l_discount")).as("c3"),
        var_pop(col("l_quantity")).as("c4"),
        regr_slope(col("l_extendedprice"), col("l_quantity")).as("c5"))
      .collect()
      .map(r => r.getString(0) -> (1 to 5).map(r.getDouble).toVector).toMap
    assert(manual.keySet === builtin.keySet)
    // 1e-6 relative: the BUILT-INS carry merge-order-dependent double
    // accumulation error (measured ~1e-8 relative on regr_slope at
    // sf0.01) — the manual forms are the exact ones
    for ((k, ms) <- manual; (m, b) <- ms.zip(builtin(k)))
      assert(math.abs(b - m) <= 1e-6 * math.max(1.0, math.abs(m)), s"$k: manual=$m builtin=$b")
  }

  test("q40: recursive month spine covers 1995-01..2001-12 and partitions all orders") {
    val rows = SparkEntry.queries("q40_recursive_cte")(spark, dir).collect()
    assert(rows.length === 84)
    val total = rows.map(_.getLong(1)).sum
    assert(total === graft.core.Tables.orders(spark, dir).count())
    // empty months exist (orders stop at 2001-08) and carry explicit zeros
    assert(rows.filter(_.getLong(1) == 0L).map(_.getString(0)).toSet
      === Set("2001-09", "2001-10", "2001-11", "2001-12"))
  }

  test("q41: struct-array fold equals the flat decimal sum per order") {
    val nested = SparkEntry.queries("q41_nested_struct")(spark, dir)
      .select("l_orderkey", "total_qty", "n_lines")
      .collect().map(r => r.getLong(0) -> ((r.getDouble(1), r.getLong(2)))).toMap
    val flat = graft.core.Tables.lineitem(spark, dir)
      .filter(col("l_orderkey") % 100 === 0)
      .groupBy(col("l_orderkey"))
      .agg(graft.core.Num.dsum(col("l_quantity")).as("s"), count(lit(1)).as("n"))
      .collect().map(r => r.getLong(0) -> ((r.getDouble(1), r.getLong(2)))).toMap
    assert(nested === flat)
  }

  test("t10: total pair count equals sum over docs of (tokens - 1) — the pairing identity") {
    // independent of the window/lead implementation: t01 counts tokens
    // per doc, and a doc with k > 0 tokens has exactly k - 1 adjacent
    // pairs (lowercasing never changes token boundaries for the
    // space-split tokenizer), so a dropped/doubled pair anywhere breaks
    // this equality
    val totalPairs = graft.ops.TextAnalysis.bigramPairs(spark, dir)
      .agg(sum(col("n"))).collect()(0).getLong(0)
    val expected = SparkEntry.queries("t01_token_stats")(spark, dir)
      .select(greatest(col("n_tokens") - 1, lit(0L)).as("p"))
      .agg(sum(col("p"))).collect()(0).getLong(0)
    assert(totalPairs === expected)
    val top = SparkEntry.queries("t10_bigram_pairs")(spark, dir).collect()
    assert(top.length === 30)
    val ns = top.map(_.getLong(1))
    assert(ns.forall(_ > 0) && ns.sameElements(ns.sorted(Ordering[Long].reverse)))
  }

  test("e10: every path has <= 5 hops and frequencies are positive") {
    val rows = SparkEntry.queries("e10_top_paths")(spark, dir).collect()
    assert(rows.nonEmpty && rows.length <= 25)
    assert(rows.forall(r => r.getString(0).split(">").length <= 5))
    assert(rows.forall(_.getLong(1) > 0))
  }

  test("p09: proportions sum to 1 per split and drift is their gap") {
    val rows = SparkEntry.queries("p09_split_drift")(spark, dir).collect()
    val pTrain = rows.map(_.getDouble(3)).sum
    val pTest = rows.map(_.getDouble(4)).sum
    assert(math.abs(pTrain - 1.0) < 1e-12 && math.abs(pTest - 1.0) < 1e-12)
    rows.foreach { r =>
      assert(math.abs(r.getDouble(5) - math.abs(r.getDouble(3) - r.getDouble(4))) === 0.0)
    }
  }

  test("s07: quantized scores are bounded, deterministic, and exclude self") {
    def run() = SparkEntry.queries("s07_quantized_knn")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val first = run()
    assert(first.sameElements(run())) // integer scoring: bit-reproducible
    assert(first.nonEmpty)
    val maxDot = 64L * 255 * 255
    first.foreach { case (qid, rk, nid, qdot) =>
      assert(qid != nid && rk >= 1 && rk <= 5 && qdot >= 0 && qdot <= maxDot)
    }
    // exactly 5 neighbors per query, ranks 1..5
    first.groupBy(_._1).foreach { case (_, rs) =>
      assert(rs.map(_._2).sorted.sameElements(1L to 5L))
    }
  }

  test("connectedComponents: hop batching never changes the fixpoint") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val n = 500
    val nodes = (0L until n).toDF("id")
    val edges = Seq.fill(400)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong)).toDF("a", "b")
    def labels(hops: Int) =
      graft.ops.Graph.connectedComponentsWithHops(nodes, edges, maxRounds = 60, hops = hops)._1
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(labels(1) === labels(2))
    assert(labels(3) === labels(2))
  }
}
