package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** Spark jobs a block of code fires, counted by job group. */
object Jobs {

  /** `body`'s result and the number of Spark jobs it fired. Listener
    * events arrive in order, so once a sentinel job fired after `body`
    * has been seen, every job of `body` has been counted.
    */
  def counted[T](spark: SparkSession)(body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val group = s"jobs-${java.util.UUID.randomUUID}"
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val sentinelSeen = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull match {
          case `group` => jobs.incrementAndGet()
          case g if g == s"$group-sentinel" => sentinelSeen.countDown()
          case _ =>
        }
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
      (result, jobs.get)
    } finally sc.removeSparkListener(listener)
  }
}
