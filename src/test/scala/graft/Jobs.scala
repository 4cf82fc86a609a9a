package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

/** Spark jobs a block of code fires, counted by job group. */
object Jobs {

  /** What the jobs of one block fired: job count and shuffle records
    * written by their tasks.
    */
  final case class Fired(jobs: Int, shuffleRecords: Long)

  /** `body`'s result and the number of Spark jobs it fired. */
  def counted[T](spark: SparkSession)(body: => T): (T, Int) = {
    val (result, fired) = observed(spark)(body)
    (result, fired.jobs)
  }

  /** `body`'s result and what its jobs fired. Listener events arrive in
    * order, so once a sentinel job fired after `body` has been seen, every
    * job and task of `body` has been counted.
    */
  def observed[T](spark: SparkSession)(body: => T): (T, Fired) = {
    val sc = spark.sparkContext
    val group = s"jobs-${java.util.UUID.randomUUID}"
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val stages = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val shuffleRecords = new java.util.concurrent.atomic.AtomicLong
    val sentinelSeen = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull match {
          case `group` =>
            jobs.incrementAndGet()
            e.stageIds.foreach(stages.add)
          case g if g == s"$group-sentinel" => sentinelSeen.countDown()
          case _ =>
        }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (stages.contains(e.stageId) && e.taskMetrics != null)
          shuffleRecords.addAndGet(e.taskMetrics.shuffleWriteMetrics.recordsWritten)
    }
    sc.addSparkListener(listener)
    try {
      def inGroup[R](g: String)(f: => R): R = {
        sc.setJobGroup(g, g)
        try f finally sc.clearJobGroup()
      }
      val result = inGroup(group)(body)
      inGroup(s"$group-sentinel")(sc.parallelize(Seq(1), 1).count())
      assert(sentinelSeen.await(60, java.util.concurrent.TimeUnit.SECONDS))
      (result, Fired(jobs.get, shuffleRecords.get))
    } finally sc.removeSparkListener(listener)
  }
}
