package graft

import graft.core.{MapReduceJob, Sessions}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** The tests' shared session: the bench's config (`Sessions.builder`), at
  * four cores.
  */
object SparkTestSession {
  lazy val spark: SparkSession =
    Sessions.builder("local[4]", "4").appName("graft-test").getOrCreate()
}

/** Reference-parity tests for the generic MapReduce contract.
  *
  * Mirrors the reference's own oracle trick (`test_test.go:81-119`): word
  * count over unique integer tokens must equal the sorted distinct input
  * with count 1.
  */
class CoreSpec extends AnyFunSuite with ScratchTests {
  private lazy val spark = SparkTestSession.spark
  protected val scratchPrefix = "graft-core"

  private val n = 2000

  test("MapReduceJob.run word count over unique tokens == sorted input, count 1") {
    import spark.implicits._
    val lines = (0 until n).map(_.toString).toDS()
    val out = MapReduceJob.run(
      lines,
      line => line.split("\\s+").iterator.filter(_.nonEmpty).map(w => (w, "1")),
      (_, vs) => vs.map(_.toInt).sum.toString,
      nReduce = 5
    ).collect().sortBy(_._1)
    assert(out.length === n)
    assert(out.forall(_._2 == "1"))
    assert(out.map(_._1).toSeq === (0 until n).map(_.toString).sorted)
  }

  test("contract is partition-count invariant (reference fixes nMap/nReduce, oracle doesn't)") {
    import spark.implicits._
    val words = Seq("a b c", "a b", "a")
    val lines = words.toDS()
    def runWith(nReduce: Int) = MapReduceJob.run(
      lines,
      l => l.split(" ").iterator.map(w => (w, "1")),
      (_, vs) => vs.size.toString,
      nReduce
    ).collect().toSet
    assert(runWith(1) === runWith(7))
    assert(runWith(3) === Set(("a", "3"), ("b", "2"), ("c", "1")))
  }

  test("runReduced (algebraic, partial-agg path) agrees with run (general path)") {
    import spark.implicits._
    val lines = (0 until 500).map(i => s"w${i % 37} w${i % 11}").toDS()
    val general = MapReduceJob.run(
      lines, l => l.split(" ").iterator.map(w => (w, "1")),
      (_, vs) => vs.map(_.toInt).sum.toString, nReduce = 4).collect().toSet
    val algebraic = MapReduceJob.runReduced(
      lines, l => l.split(" ").iterator.map(w => (w, "1")),
      (a, b) => (a.toInt + b.toInt).toString).collect().toSet
    assert(general === algebraic)
  }

  test("wordCount (declarative) agrees with the contract path") {
    import spark.implicits._
    val lines = (0 until 500).map(i => s"w${i % 37} w${i % 11}").toDS()
    val declarative = MapReduceJob.wordCount(lines)
      .collect().map { case (w, c) => (w, c.toString) }.toSet
    val contract = MapReduceJob.run(
      lines, l => l.split(" ").iterator.map(w => (w, "1")),
      (_, vs) => vs.map(_.toInt).sum.toString, nReduce = 4).collect().toSet
    assert(declarative === contract)
  }

  test("run combines map output: shuffle records <= map tasks x distinct keys x buffer flushes") {
    import spark.implicits._
    // wc02's shape: few distinct words, each repeated thousands of times
    val vocab = Vector.tabulate(31)(i => s"w$i")
    val mapTasks = 4
    val lines = spark.range(0, 20000, 1, mapTasks)
      .map(i => Seq.tabulate(10)(j => vocab(((i * 7 + j * 13) % 31).toInt)).mkString(" "))
    val words = lines.collect().toSeq.flatMap(_.split(" "))
    val (out, fired) = Jobs.observed(spark) {
      MapReduceJob.run(
        lines, l => l.split(" ").iterator.map(w => (w, "1")),
        (_, vs) => vs.map(_.toInt).sum.toString, nReduce = 4).collect().toMap
    }
    assert(out === words.groupBy(identity).map { case (w, ws) => w -> ws.size.toString })
    // a map task flushes its buffer each time it reaches the bound, and
    // once at its end; each flush ships one record per buffered key. A
    // pair buffers at most its key, its value and the value's 4-byte length
    val bytes = words.map(_.length + "1".length + 4).sum.toLong
    val flushes = bytes / MapReduceJob.CombineBufferBytes + 1
    assert(fired.shuffleRecords >= vocab.size && fired.shuffleRecords <= mapTasks * vocab.size * flushes,
      s"${fired.shuffleRecords} shuffle records for ${words.size} pairs")
  }

  test("run carries null, empty and non-ASCII keys and values through its map-side chunks unchanged") {
    import spark.implicits._
    val pairs = Seq(("", ""), ("", "x"), ("é", "日本"), ("é", ""), ("k", "a\u0000b"), ("k", "😀"),
      ("k", "a\u0000b"), ("k", null), (null, "n"), (null, null))
    val lines = spark.range(0, pairs.size, 1, 2).map(_.toString)
    def show(vs: Iterable[String]) = vs.map(v => if (v == null) "<null>" else v).toSeq.sorted.mkString("|")
    val out = MapReduceJob.run(
      lines, l => Iterator(pairs(l.toInt)), (_, vs) => show(vs.toSeq)).collect().toMap
    assert(out === pairs.groupBy(_._1).map { case (k, kvs) => k -> show(kvs.map(_._2)) })
  }

  test("run's map-side buffer bound is a fixed 1 MiB") {
    assert(MapReduceJob.CombineBufferBytes === (1L << 20))
  }

  test("tools.FaultDemo: contract word counts survive injected task failures (child JVM, local[4,4])") {
    import scala.jdk.CollectionConverters._
    // FaultDemo needs a context of its own with task retries; the shared
    // test session does not retry (local[4])
    val jvmArgs = java.lang.management.ManagementFactory.getRuntimeMXBean.getInputArguments.asScala
      .filterNot(_.startsWith("-Xmx")).toSeq
    val cmd = Seq(s"${System.getProperty("java.home")}/bin/java") ++ jvmArgs ++
      Seq("-Xmx1g", "-cp", System.getProperty("java.class.path"), "graft.tools.FaultDemo")
    val out, err = new StringBuilder
    val code = scala.sys.process.Process(cmd).!(scala.sys.process.ProcessLogger(
      l => out.append(l).append('\n'), l => err.append(l).append('\n')))
    val ok = out.toString.linesIterator.filter(_.startsWith("[fault-demo] OK")).toSeq
    assert(code === 0, s"stdout:\n$out\nstderr (tail):\n${err.takeRight(4000)}")
    assert(ok.map(_.takeWhile(_ != ':')) === Seq(
      "[fault-demo] OK one-failure", "[fault-demo] OK many-failures", "[fault-demo] OK"), out.toString)
  }

  scratchTest("writeSortedText emits `key: value` lines in total key order") { tmp =>
    import spark.implicits._
    val kvs = Seq(("b", "2"), ("a", "1"), ("c", "3")).toDS()
    val dir = tmp.dir("sorted") + "/out"
    MapReduceJob.writeSortedText(kvs, dir)
    val lines = spark.read.textFile(dir).collect().toSeq
    assert(lines === Seq("a: 1", "b: 2", "c: 3"))
  }
}

/** Every declared query must run end-to-end on the smoke scale factor. */
class QuerySmokeSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val dir = "/root/testdata/sf0.001"

  SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
    test(s"$name runs at sf0.001") {
      val df = fn(spark, dir)
      assert(df.columns.nonEmpty)
      assert(df.count() >= 0)
    }
  }

  test("entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every oracle key exists in queries") {
    assert(SparkEntry.oracleSql.keySet.subsetOf(SparkEntry.queries.keySet))
  }

  test("bench warm-sample selection: median of 3, midpoint of 2, lone survivor, -1 on total failure") {
    // median tolerates one spike in EITHER direction (min-selection
    // biased low — the round-6 defect; a lone retry can be a spike too)
    assert(Bench.combineWarm(Seq(1.0, 9.0, 1.2)) === 1.2)
    assert(Bench.combineWarm(Seq(9.0, 0.1, 1.2)) === 1.2)
    // one failed run (-1): midpoint of the two valid samples, never a
    // lone sample (the round-7 ADVICE finding)
    assert(Bench.combineWarm(Seq(-1.0, 1.0, 3.0)) === 2.0)
    assert(Bench.combineWarm(Seq(2.0, -1.0, 2.0)) === 2.0)
    // two failures: the survivor is all the information there is
    assert(Bench.combineWarm(Seq(-1.0, 5.0, -1.0)) === 5.0)
    // all failed: report failure, never a fast-looking number
    assert(Bench.combineWarm(Seq(-1.0, -1.0, -1.0)) === -1.0)
    // escalated 6-sample set: median of six (two spikes tolerated)
    assert(Bench.combineWarm(Seq(1.0, 9.0, 1.2, 1.1, 24.0, 1.3)) === 1.25)
  }

  test("bench load escalation: spread/loadavg decide suspicion; failures don't register as spread") {
    // the round-12 p01 artifact: 24.2/9.8/2.4 s on an unchanged plan —
    // a 10x spread the harness must classify itself instead of leaving
    // a human to adjudicate "probably noise"
    assert(Bench.spreadOf(Seq(24.2, 9.8, 2.4)) > Bench.SpreadMax)
    assert(Bench.spreadOf(Seq(1.0, 1.2, 1.1)) < Bench.SpreadMax)
    // sub-50ms jitter never registers as spread (micro-query floor):
    // even a 50x ratio between tiny samples stays below the threshold
    assert(Bench.spreadOf(Seq(0.001, 0.05)) < Bench.SpreadMax)
    // a failed sample is the errors tripwire's business, not spread's
    assert(Bench.spreadOf(Seq(-1.0, 2.0)) === 1.0)
    assert(Bench.isSuspect(Seq(24.2, 9.8, 2.4), 1.0, 32))
    assert(!Bench.isSuspect(Seq(1.0, 1.2, 1.1), 1.0, 32))
    // core-saturating loadavg is suspect even with tight samples
    assert(Bench.isSuspect(Seq(1.0, 1.1, 1.2), 32.0, 32))
    // a missing load stamp (-1) never triggers
    assert(!Bench.isSuspect(Seq(1.0, 1.1, 1.2), -1.0, 32))
  }

  test("bench summary: a planted failing query reddens BOTH JSON lines; leak guard flags; suspects quarantined") {
    // the round-8 "done" bar: a -1.0 sentinel must never hide inside a
    // green-looking total — it is named in the full artifact AND the
    // compact tail line the driver captures
    val results = Seq(
      "ok_query"   -> Bench.QRec(1.2, 2.0, Seq(1.1, 1.2, 1.3), 0.5, "aa", suspect = false),
      "boom_query" -> Bench.QRec(-1.0, -1.0, Seq(-1.0, -1.0, -1.0), 0.5, "", suspect = false),
      "leak_query" -> Bench.QRec(9.0, 2.0, Seq(9.0, 9.1, 8.9), 0.5, "bb", suspect = false),
      // warm>cold AND load-suspect: the inversion is unattributable —
      // it must land in load_suspect, NOT in the leak list (round-12's
      // es28/s25/s27 flags were exactly this shape)
      "busy_query" -> Bench.QRec(9.0, 2.0, Seq(2.1, 9.0, 24.0, 9.0, 8.0, 30.0), 8.3, "cc",
        suspect = true))
    val (full, compact) = Bench.renderSummary(results, "/sf", "out.json")
    for (line <- Seq(full, compact)) {
      assert(line.contains("\"errors\":[\"boom_query\"]"), line)
      assert(line.contains("\"warm_exceeds_cold\":[\"leak_query\"]"), line)
      assert(line.contains("\"load_suspect\":[\"busy_query\"]"), line)
    }
    // failed queries contribute nothing to the total (never a negative)
    assert(full.contains("\"value\":19.200"), full)
    // clean results render empty tripwire lists, not absent fields
    val (cleanFull, cleanCompact) =
      Bench.renderSummary(results.take(1), "/sf", "out.json")
    for (line <- Seq(cleanFull, cleanCompact)) {
      assert(line.contains("\"errors\":[]"), line)
      assert(line.contains("\"warm_exceeds_cold\":[]"), line)
      assert(line.contains("\"load_suspect\":[]"), line)
    }
  }
}
