package graft.tools

import graft.core.MapReduceJob
import org.apache.spark.TaskContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

/** Per-executor task statistics — the analogue of the reference master's
  * KillWorkers stats collection (`/root/reference/src/master.go:9-23`,
  * `mapreduce.go:332-340`): it gathers how many jobs each worker
  * performed so the test can assert work was actually distributed
  * (`test_test.go:123-129`, checkWorker). Here a SparkListener counts
  * finished task attempts per executor and per (stage, partition).
  */
final class TaskStatsListener extends SparkListener {
  import scala.collection.concurrent.TrieMap
  val perExecutor = new TrieMap[String, Long]()
  val failures    = new java.util.concurrent.atomic.AtomicLong(0)
  val partitions  = new TrieMap[(Int, Int), Long]() // (stageId, partition) -> successes

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    if (e.taskInfo.successful) {
      perExecutor.updateWith(e.taskInfo.executorId) { c => Some(c.getOrElse(0L) + 1) }
      partitions.updateWith((e.stageId, e.taskInfo.index)) { c => Some(c.getOrElse(0L) + 1) }
    } else failures.incrementAndGet()
  }
}

/** Fault-tolerance demo mirroring the reference's fault tests:
  *
  *   - TestOneFailure (`/root/reference/src/test_test.go:172-186`): one
  *     worker dies, the master re-issues its tasks to survivors
  *     (`master.go:39-72`). Spark analogue: one injected first-attempt
  *     task failure, retried under `local[4,4]`.
  *   - TestManyFailures (`test_test.go:188-212`): two fresh dying workers
  *     every second, across BOTH phases. Spark analogue: repeated
  *     failures injected in multiple map partitions (two consecutive
  *     attempts each) AND in the reduce stage of the same job — five
  *     distinct task failures in one job, result still identical to the
  *     clean run.
  *   - checkWorker (`test_test.go:123-129`): every worker performed >= 1
  *     job, via the master's shutdown stats (`master.go:9-23`). Spark
  *     analogue: [[TaskStatsListener]] — every executor ran >= 1 task,
  *     every partition of both stages completed exactly once, and the
  *     observed failure count equals the injected count.
  *
  * Both run on two word counts through [[MapReduceJob.run]]: unique words,
  * and a few words repeated thousands of times. A failing map attempt
  * fails mid-partition, with pairs already combined in its buffer, so
  * the retried attempt must rebuild that buffer from scratch.
  *
  * A main (not a ScalaTest suite) because it needs its own SparkContext
  * with a retrying master URL — the shared test session is local[4]
  * (maxFailures=1).
  */
object FaultDemo {
  /** A failing map attempt throws on this line of its partition, after
    * the lines before it have been mapped into the combining buffer of
    * [[MapReduceJob.run]] but before that buffer is flushed.
    */
  private val FailAtLine = 300
  private val linesSeen = new scala.collection.concurrent.TrieMap[Long, Int]()

  def main(args: Array[String]): Unit = {
    val spark = graft.core.Sessions.builder("local[4,4]", "4") // 4 task attempts
      // also exercises the builder-time extension injection path (the
      // ScalaTest suites share one session, so they can only test the
      // runtime GraftFunctions.register path)
      .withExtensions(new graft.GraftExtensions)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._

    // two word counts: 5000 unique words, and 15000 occurrences of 31
    // words, so every map task combines many values per key
    val unique = (0 until 5000).map(_.toString).toDS().repartition(8)
    val repeated = (0 until 5000)
      .map(i => Seq(i % 31, i * 7 % 31, i * 13 % 31).map(w => s"w$w").mkString(" "))
      .toDS().repartition(8)

    def wordcount(
        lines: org.apache.spark.sql.Dataset[String],
        failMap: (Int, Int) => Boolean,    // (partitionId, attempt) -> fail?
        failReduce: (Int, Int) => Boolean): Map[String, String] =
      MapReduceJob.run(
        lines,
        line => {
          val tc = TaskContext.get()
          if (tc != null && failMap(tc.partitionId(), tc.attemptNumber()) &&
              linesSeen.updateWith(tc.taskAttemptId())(c => Some(c.getOrElse(0) + 1)).contains(FailAtLine))
            throw new RuntimeException(
              s"injected map failure (partition ${tc.partitionId()}, attempt ${tc.attemptNumber()}, line $FailAtLine)")
          line.split("\\s+").iterator.filter(_.nonEmpty).map(w => (w, "1"))
        },
        (_, vs) => {
          val tc = TaskContext.get()
          if (tc != null && failReduce(tc.partitionId(), tc.attemptNumber()))
            throw new RuntimeException(
              s"injected reduce failure (partition ${tc.partitionId()}, attempt ${tc.attemptNumber()})")
          vs.map(_.toInt).sum.toString
        }
      ).collect().toMap

    val clean = wordcount(unique, (_, _) => false, (_, _) => false)
    require(clean.size == 5000, s"clean run: expected 5000 keys, got ${clean.size}")
    val cleanRepeated = wordcount(repeated, (_, _) => false, (_, _) => false)
    require(cleanRepeated.size == 31 && cleanRepeated.values.map(_.toInt).sum == 15000,
      s"clean repeated-key run: expected 31 keys over 15000 words, got $cleanRepeated")

    // --- TestOneFailure analogue -------------------------------------
    val one = wordcount(unique, (p, a) => p == 3 && a == 0, (_, _) => false)
    require(one == clean, "single-failure run must equal the clean run")
    val oneRepeated = wordcount(repeated, (p, a) => p == 3 && a == 0, (_, _) => false)
    require(oneRepeated == cleanRepeated, "single-failure repeated-key run must equal the clean run")
    println(s"[fault-demo] OK one-failure: jobs survived 1 injected map task failure each; " +
      s"${one.size} unique and ${oneRepeated.size} repeated keys correct")

    // --- TestManyFailures analogue + checkWorker stats ----------------
    def manyFailures(lines: org.apache.spark.sql.Dataset[String], expected: Map[String, String]): TaskStatsListener = {
      val stats = new TaskStatsListener
      spark.sparkContext.addSparkListener(stats)
      // two map partitions each fail twice (attempts 0 and 1), and the
      // reduce stage's partition 0 fails its first attempt: 5 distinct
      // task failures spanning both phases of one job
      val many = wordcount(lines,
        (p, a) => (p == 1 || p == 3) && a < 2,
        (p, a) => p == 0 && a == 0)
      spark.sparkContext.removeSparkListener(stats)
      require(many == expected, "many-failures run must equal the clean run")
      require(stats.failures.get() == 5,
        s"expected exactly the 5 injected task failures, observed ${stats.failures.get()}")
      // every partition of every stage of the faulty job completed once —
      // retries re-ran failed attempts, they did not duplicate output
      require(stats.partitions.values.forall(_ == 1L),
        "each (stage, partition) must succeed exactly once")
      // checkWorker: every registered executor performed >= 1 task (local
      // mode has one executor, "driver"; on a cluster this asserts real
      // distribution — same property the reference checks via RPC stats)
      require(stats.perExecutor.nonEmpty && stats.perExecutor.values.forall(_ >= 1),
        "every executor must have run at least one task")
      stats
    }
    val stats = manyFailures(unique, clean)
    manyFailures(repeated, cleanRepeated)
    val execs = spark.sparkContext.getExecutorMemoryStatus.keySet.size
    println(s"[fault-demo] OK many-failures: unique- and repeated-key jobs each survived 5 injected " +
      s"failures across map+reduce; per-executor task counts: ${stats.perExecutor.toMap} (executors=$execs)")

    val d = spark.sql("SELECT vec_dot(array(1.0d,2.0d), array(3.0d,4.0d)) AS d")
      .collect()(0).getDouble(0)
    require(d == 11.0, s"vec_dot via extensions returned $d")
    println("[fault-demo] OK: graft.GraftExtensions injected vec_dot into SQL")
    spark.stop()
  }
}
