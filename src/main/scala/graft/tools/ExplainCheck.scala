package graft.tools

/** Plan-audit helper: for each named registry query (all of them with
  * no args), print the pushed parquet filters, exchange counts, and the
  * executed plan's red flags (cartesian product, single-partition
  * exchange, sort-merge join, broadcast nested-loop join) — the things
  * worth eyeballing before pinning a new entry (e.g. the round-14 check
  * that the stored-index membership read pushes `EqualTo(crn, 1)` down
  * to the scan footer). Full formatted plans: `graft.tools.Run <q>
  * <dir> --explain`.
  *
  * Usage: `sbt "runMain graft.tools.ExplainCheck s32_artifact_serve ..."`
  * (reads /root/testdata/sf0.01 unless SPARK_GRAFT_SF_DIR is set).
  */
object ExplainCheck {
  def main(args: Array[String]): Unit = {
    val spark = graft.core.Sessions.builder("local[8]", "8").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val names =
      if (args.nonEmpty) args.toSeq else graft.SparkEntry.queries.keys.toSeq.sorted
    for (q <- names) {
      val df = graft.SparkEntry.queries(q)(spark, dir)
      df.write.format("noop").mode("overwrite").save() // finalize AQE stages
      val p = df.queryExecution.executedPlan.toString
      val pushed = "PushedFilters: \\[[^\\]]*\\]".r.findAllIn(p).toList
      println(s"== $q pushed: ${pushed.mkString(" | ")}")
      val flags = Seq("CartesianProduct", "SinglePartition", "SortMergeJoin",
        "BroadcastNestedLoopJoin").filter(p.contains(_))
      println(s"   shuffles: ${"Exchange (hash|range)partitioning".r.findAllIn(p).size}, " +
        s"broadcasts: ${"BroadcastExchange".r.findAllIn(p).size}, " +
        s"flags: ${if (flags.isEmpty) "clean" else flags.mkString(", ")}")
      graft.core.Sessions.sweepPersistedState(spark)
    }
    spark.stop()
  }
}
