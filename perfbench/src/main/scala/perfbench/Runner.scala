package perfbench

import graft.SparkEntry
import graft.core.Sessions
import org.apache.spark.sql.{DataFrame, SparkSession}

import scala.collection.mutable
import scala.util.control.NonFatal

/** One benchmark run in one JVM: a closed-loop client that runs the given
  * queries one after another through the engine's public entry points.
  *
  *   1. set-up: `core.Sessions` build, then a minimal warmup;
  *   2. the first pass over the query list (cold: first-use JIT, codegen and
  *      `core.ProcessStore` fixture builds);
  *   3. one settle pass, in no metric: the JIT keeps compiling through
  *      the second pass, which would skew the steady median. It also
  *      writes each query's result for the harness's oracle check, so the
  *      first pass is only what a one-shot batch user runs;
  *   4. `--passes` steady passes;
  *   5. with `--trace 1`, each steady pass is followed by a traced pass,
  *      run with the listeners of [[Tracer]] registered.
  *
  * Every pass runs the queries in its own order, drawn from `--seed` and
  * the pass number, so a run's medians do not rest on one order (a query's
  * time depends on the one before it). A pass runs, per query: build
  * (`SparkEntry.queries(name)(spark, dir)`),
  * exec (the `noop` write) and sweep (`Sessions.sweepPersistedState`).
  * Between exec and sweep an untimed aside may run: in the settle pass, the
  * query's result is written as parquet under `--results` for the harness's
  * oracle check; in traced passes, the state the query left is read. The
  * run's record -- phase timestamps per query and pass, errors, set-up
  * times, peak RSS and, when traced, the listener records -- goes to
  * `--out` as JSON.
  */
object Runner {

  private val t0Nano = System.nanoTime()
  private val t0Epoch = System.currentTimeMillis() / 1e3
  /** Wall-clock seconds since the epoch, at nanosecond-timer resolution. */
  def now(): Double = t0Epoch + (System.nanoTime() - t0Nano) / 1e9

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val data = opt("data")
    val cpus = opt("cpus")
    val record = mutable.LinkedHashMap[String, Any]()

    val tSession = now()
    val spark = Sessions.builder(s"local[$cpus]", cpus)
      // the same scan split settings as the engine's own bench main
      .config("spark.sql.files.maxPartitionBytes", "2m")
      .config("spark.sql.files.openCostInBytes", "262144")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val tWarmup = now()
    warmup(spark, data)
    val tReady = now()
    record ++= Seq("ready_s" -> tReady, "session_s" -> (tWarmup - tSession),
      "warmup_s" -> (tReady - tWarmup), "spark_version" -> spark.version,
      "heap_max_mb" -> Runtime.getRuntime.maxMemory / 1048576, "cores" -> cpus.toInt)

    val names = opt("queries").split(",").toSeq.filter(_.nonEmpty)
    val client = new Client(spark, data, opt("seed").toLong)
    val passes = opt("passes").toInt
    client.pass("first", names)
    client.pass("settle", names, dumpTo = opt.get("results"))
    if (!opt.get("trace").contains("1")) (1 to passes).foreach(_ => client.pass("steady", names))
    else {
      val sc = spark.sparkContext
      val tracer = new Tracer(spark, () => client.tag)
      // untraced and traced passes alternate, so a JIT still settling
      // biases neither side of the tracing overhead
      (1 to passes).foreach { _ =>
        client.pass("steady", names)
        sc.addSparkListener(tracer)
        spark.streams.addListener(tracer.streamListener)
        client.pass("traced", names, readState = true)
        org.apache.spark.perfbench.ListenerBus.drain(sc, 60000)
        spark.streams.removeListener(tracer.streamListener)
        sc.removeSparkListener(tracer)
      }
      record("trace") = tracer.records
    }
    record("runs") = client.runs.toList
    record("results") = client.dumped.toMap
    record("peak_rss_mb") = vmHwmMb()
    record("oracle_sql") = names.flatMap(n => SparkEntry.oracleSql.get(n).map(n -> _)).toMap
    write(opt("out"), record.toMap)
    spark.stop()
  }

  /** One client, one query at a time. */
  final class Client(spark: SparkSession, data: String, seed: Long) {
    private val queries = SparkEntry.queries
    val runs = mutable.ArrayBuffer[Map[String, Any]]()
    /** query -> "" when its result was written, else the error. */
    val dumped = mutable.LinkedHashMap[String, String]()
    private var passNo = 0
    @volatile var tag: String = ""

    private def phase(name: String, p: String): Unit = {
      tag = s"$passNo/$name/$p"
      spark.sparkContext.setLocalProperty(Tracer.TagKey, tag)
    }

    def pass(kind: String, names: Seq[String], dumpTo: Option[String] = None,
        readState: Boolean = false): Unit = {
      new scala.util.Random(seed * 1000003L + passNo).shuffle(names).foreach { n =>
        val r = runQuery(kind, n, dumpTo, readState)
        runs += r
        println(f"[perfbench] $kind pass $passNo $n " +
          f"${r("t_done").asInstanceOf[Double] - r("t_build").asInstanceOf[Double]}%.3f s " +
          Option(r("error")).getOrElse("ok"))
      }
      spark.sparkContext.setLocalProperty(Tracer.TagKey, null)
      passNo += 1
    }

    /** Timestamps: build [t_build, t_exec), exec [t_exec, t_done), untimed
      * aside [t_done, t_sweep), sweep [t_sweep, t_end). */
    private def runQuery(kind: String, name: String, dumpTo: Option[String],
        readState: Boolean): Map[String, Any] = {
      val r = mutable.LinkedHashMap[String, Any]("pass" -> passNo, "kind" -> kind, "query" -> name)
      phase(name, "build")
      val tBuild = now()
      var tExec = tBuild
      var error: String = null
      var df: DataFrame = null
      try {
        df = queries(name)(spark, data)
        tExec = now()
        phase(name, "exec")
        df.write.format("noop").mode("overwrite").save()
      } catch {
        case NonFatal(e) =>
          error = describe(e)
          if (tExec == tBuild) tExec = now()
      }
      val tDone = now()
      phase(name, "aside")
      dumpTo.foreach { dir =>
        dumped(name) =
          if (error != null) error
          else try { df.coalesce(1).write.mode("overwrite").parquet(s"$dir/$name"); "" }
          catch { case NonFatal(e) => describe(e) }
      }
      if (readState) {
        val sc = spark.sparkContext
        r("persisted_rdds_left") = sc.getPersistentRDDs.size
        r("cached_mb_left") = sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / 1048576.0
        r("temp_views_left") = spark.catalog.listTables().collect().count(_.isTemporary)
      }
      phase(name, "sweep")
      val tSweep = now()
      Sessions.sweepPersistedState(spark)
      val tEnd = now()
      r ++= Seq("t_build" -> tBuild, "t_exec" -> tExec, "t_done" -> tDone, "t_sweep" -> tSweep,
        "t_end" -> tEnd, "ok" -> (error == null), "error" -> error)
      r.toMap
    }
  }

  private def describe(e: Throwable): String = s"${e.getClass.getName}: ${e.getMessage}".take(500)

  /** The least that lets a query start on a live session: one aggregate
    * and one parquet read. First-use JIT and codegen of the queries
    * themselves are left to the first pass, which reports them. */
  private def warmup(spark: SparkSession, data: String): Unit = {
    spark.range(1000).selectExpr("id % 10 AS k", "id AS v").groupBy("k").sum("v").collect()
    spark.read.parquet(s"$data/region.parquet").collect()
  }

  private def vmHwmMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .collectFirst { case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024 }
      .getOrElse(-1.0)

  private def write(path: String, value: Map[String, Any]): Unit = {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
      .registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)
    mapper.writeValue(new java.io.File(path), value)
  }
}
