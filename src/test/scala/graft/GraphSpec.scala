package graft

import graft.ops.Graph
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, lit}
import org.scalatest.funsuite.AnyFunSuite

/** Connected-components (Graph / d07) behavior on synthetic graphs where
  * the answer is known by construction. Graphs this small take
  * `connectedComponents`' in-memory finish; each exact answer is also
  * checked against the distributed loop (`connectedComponentsWithHops`).
  */
class GraphSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def labelMap(labels: DataFrame): Map[Long, Long] =
    labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  /** The labels of both paths, asserted equal to each other. */
  private def cc(nodes: Seq[Long], edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val (n, e) = (nodes.toDF("id"), edges.toDF("a", "b"))
    val inMemory = labelMap(Graph.connectedComponents(n, e))
    val loop = labelMap(Graph.connectedComponentsWithHops(n, e)._1)
    assert(inMemory === loop, "in-memory finish and label-propagation loop disagree")
    inMemory
  }

  test("two components, a singleton, duplicate + self edges") {
    val labels = cc(
      nodes = Seq(1L, 2L, 3L, 4L, 5L, 6L, 7L),
      // {1,2,3} via 1-2, 2-3 (transitive); {4,5} reversed order; 6-6 self
      edges = Seq((1L, 2L), (3L, 2L), (5L, 4L), (2L, 1L), (6L, 6L)))
    assert(labels === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L, 5L -> 4L, 6L -> 6L, 7L -> 7L))
  }

  test("empty edge set: every node is its own singleton component") {
    val labels = cc(Seq(5L, 9L, 2L), Seq.empty)
    assert(labels === Map(5L -> 5L, 9L -> 9L, 2L -> 2L))
  }

  test("long path converges to the min endpoint (diameter-round propagation)") {
    val n = 12L
    val labels = cc((1L to n), (1L until n).map(i => (i + 1, i)))
    assert(labels === (1L to n).map(_ -> 1L).toMap)
  }

  test("adversarial diameter: a path FAR longer than the hop budget converges (pointer jump)") {
    // 300-node path, diameter 299, hop budget 20: plain min-label
    // propagation would need 299 hops; the per-hop pointer jump makes
    // propagation distance double per hop, so ~9 hops suffice
    val n = 300L
    val labels = labelMap(Graph.connectedComponentsWithHops(
      (1L to n).toDF("id"),
      (1L until n).map(i => (i, i + 1)).toDF("a", "b"),
      maxRounds = 20)._1)
    assert(labels === (1L to n).map(_ -> 1L).toMap)
  }

  /** 2k nodes, ~1500 random edges → a mix of singletons, pairs, chains and blobs. */
  private val randomN = 2000
  private def randomEdges(): Seq[(Long, Long)] = {
    val rnd = new scala.util.Random(42)
    Seq.fill(1500)((rnd.nextInt(randomN).toLong, rnd.nextInt(randomN).toLong))
  }

  test("2k-node random graph matches an in-memory union-find exactly") {
    val n = randomN
    val edges = randomEdges()

    // reference: classic union-find with path compression
    val parent = Array.tabulate(n)(identity)
    def find(x: Int): Int = { if (parent(x) != x) parent(x) = find(parent(x)); parent(x) }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a.toInt), find(b.toInt))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val expected = (0 until n).map(i => i.toLong -> find(i).toLong).toMap

    val got = cc((0L until n.toLong), edges)
    assert(got === expected)
  }

  /** A star centred on 0 with `edges` edges, as (nodes, edges) frames. */
  private def star(edges: Int): (DataFrame, DataFrame) =
    (spark.range(0, edges + 1L).toDF("id"),
      spark.range(1, edges + 1L).select(lit(0L).as("a"), col("id").as("b")))

  test("a small pair graph finishes in driver memory: 4 jobs, not the loop's barriers") {
    val (nodes, edges) = ((0L until randomN.toLong).toDF("id"), randomEdges().toDF("a", "b"))
    val (labels, jobs) = Jobs.counted(spark)(Graph.connectedComponents(nodes, edges))
    val (loopLabels, loopJobs) = Jobs.counted(spark)(Graph.connectedComponentsWithHops(nodes, edges)._1)
    try {
      info(s"in-memory $jobs jobs, loop $loopJobs jobs; partitions " +
        s"${labels.rdd.getNumPartitions} vs ${loopLabels.rdd.getNumPartitions}")
      assert(labelMap(labels) === labelMap(loopLabels))
      assert(jobs === 4, s"the in-memory finish fired $jobs jobs (the loop: $loopJobs)")
      assert(labels.rdd.getNumPartitions <= loopLabels.rdd.getNumPartitions,
        "the in-memory result must not have more partitions than the loop's")
    } finally {
      Graph.release(labels)
      Graph.release(loopLabels)
    }
    // the cap is inclusive: exactly InMemoryEdges edges still finish in memory
    val (starNodes, starEdges) = star(Graph.InMemoryEdges)
    val (starLabels, starJobs) = Jobs.counted(spark)(Graph.connectedComponents(starNodes, starEdges))
    try {
      assert(starJobs === 4, s"a star of InMemoryEdges edges fired $starJobs jobs")
      assert(starLabels.count() === Graph.InMemoryEdges + 1L)
      assert(starLabels.filter(col("comp") =!= 0L).isEmpty)
    } finally Graph.release(starLabels)
  }

  test("one edge past InMemoryEdges takes the label-propagation loop, same all-root labels") {
    val (nodes, edges) = star(Graph.InMemoryEdges + 1)
    val persisted = spark.sparkContext.getPersistentRDDs.keySet
    val (labels, jobs) = Jobs.counted(spark)(Graph.connectedComponents(nodes, edges))
    try {
      assert(jobs > 4, s"a star of InMemoryEdges + 1 edges must run the loop, fired $jobs jobs")
      assert(labels.count() === Graph.InMemoryEdges + 2L)
      assert(labels.filter(col("comp") =!= 0L).isEmpty)
    } finally Graph.release(labels)
    val leaked = spark.sparkContext.getPersistentRDDs.keySet.diff(persisted)
    assert(leaked.isEmpty, s"the loop path leaked persisted blocks $leaked (the probe's edges?)")
  }

  test("ids must be LongType") {
    val e = intercept[IllegalArgumentException](
      Graph.connectedComponents(Seq(1, 2).toDF("id"), Seq((1, 2)).toDF("a", "b")))
    assert(e.getMessage.contains("LongType"))
  }

  test("d07 labels are consistent with the d03 pair graph at sf0.001") {
    val dir = "/root/testdata/sf0.001"
    val pairs = SparkEntry.queries("d03_ngram_jaccard")(spark, dir)
      .select("ida", "idb").collect().map(r => (r.getLong(0), r.getLong(1)))
    val labels = SparkEntry.queries("d07_dedup_clusters")(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // every paired doc shares its cluster with its pair partner
    pairs.foreach { case (a, b) => assert(labels(a) === labels(b), s"pair ($a,$b)") }
    // cluster representative is the min member and is its own label
    labels.groupBy(_._2).foreach { case (comp, members) =>
      assert(members.keys.min === comp)
    }
    // docs in no pair are singletons
    val inPair = pairs.flatMap(p => Seq(p._1, p._2)).toSet
    labels.filterNot(kv => inPair(kv._1)).foreach { case (id, comp) => assert(id === comp) }
    spark.sharedState.cacheManager.clearCache()
  }
}
