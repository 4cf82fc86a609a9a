package graft

import graft.core.MapReduceJob
import org.scalatest.funsuite.AnyFunSuite

/** Full reproduction of the reference's TestBasic
  * (`/root/reference/src/test_test.go:157-170` + oracle `:81-119`):
  * 100,000 unique integer lines, word count through the generic contract
  * (nMap/nReduce analogous split), final `key: value` file globally
  * sorted, verified line-by-line against the self-computed oracle —
  * sorted distinct input with count 1 — plus the exact line-count check.
  */
class ReferenceParitySpec extends AnyFunSuite with ScratchTests {
  private lazy val spark = SparkTestSession.spark
  protected val scratchPrefix = "graft-parity"
  private val nNumber = 100000 // test_test.go:14

  scratchTest("TestBasic analogue: 100k unique tokens through the contract, sorted key:value output") { tmp =>
    import spark.implicits._
    // makeInput (test_test.go:21-34): integers 0..99999, one per line
    val lines = (0 until nNumber).map(_.toString).toDS().repartition(50) // nMap=50

    val result = MapReduceJob.run(
      lines,
      line => line.split("\\s+").iterator.filter(_.nonEmpty).map(w => (w, "1")), // MapFunc
      (_, vs) => vs.map(_.toInt).sum.toString, // ReduceFunc
      nReduce = 5)

    val outDir = tmp.dir("parity") + "/out"
    MapReduceJob.writeSortedText(result, outDir)

    // check (test_test.go:81-119): output == sorted input, each count 1
    val got = spark.read.textFile(outDir).collect()
    assert(got.length === nNumber, "exact line count (test_test.go:116-118)")
    val expected = (0 until nNumber).map(_.toString).sorted
    got.zip(expected).zipWithIndex.foreach { case ((line, key), i) =>
      assert(line === s"$key: 1", s"line $i")
    }
  }

  scratchTest("per-partition sorted output (O4/mrtmp-res contract): each file sorted, keys disjoint") { tmp =>
    import spark.implicits._
    val kvs = (0 until 5000).map(i => (s"k${i % 997}", "1")).toDS()
      .groupByKey(_._1).mapGroups((k, vs) => (k, vs.size.toString))
    val outDir = tmp.dir("psorted") + "/out"
    MapReduceJob.writePartitionedSorted(kvs, outDir, nReduce = 5)

    val files = new java.io.File(outDir).listFiles().filter(_.getName.startsWith("part-"))
    assert(files.length === 5)
    val perFile = files.map(f => scala.io.Source.fromFile(f).getLines().map(_.split(": ")(0)).toVector)
    perFile.foreach(keys => assert(keys === keys.sorted, "sorted within partition"))
    val all = perFile.flatten
    assert(all.distinct.size === all.size, "keys disjoint across partitions")
    assert(all.toSet === (0 until 997).map(i => s"k$i").toSet)
  }
}
