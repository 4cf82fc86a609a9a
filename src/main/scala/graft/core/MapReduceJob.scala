package graft.core

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.spark.sql.{Dataset, SaveMode, SparkSession}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._

import scala.collection.mutable

/** The reference engine's generic MapReduce contract, re-expressed on
  * Datasets.
  *
  * Reference semantics (see SURVEY.md §1.2; `/root/reference/src/mapreduce.go`):
  *   - user Map: whole input chunk -> list of (key, value) string pairs
  *     (`mapreduce.go:173-212`)
  *   - shuffle: hash(key) % nReduce, all values for one key reach exactly one
  *     reduce call (`mapreduce.go:167-171,235-240`)
  *   - user Reduce: (key, all values) -> one value (`mapreduce.go:248-258`)
  *   - observable output: total lexicographic order by key, `key: value`
  *     text lines (`mapreduce.go:312-328`)
  *
  * Spark-first mapping: `mapPartitions` (user Map + in-mapper combining)
  * -> `groupBy(key)` -> `mapGroups` -> `orderBy`. The shuffle, barrier
  * scheduling, retry and worker lifecycle of the reference
  * (master.go/worker.go) are inherited from Spark and not ported.
  *
  * Scale note (100 TB): the general contract (`run`) still delivers the
  * FULL value list to one reduce call, so it cannot fold values map-side
  * the way an algebraic reducer can. It does pack them map-side: each map
  * task groups its own output by key in a bounded buffer and ships one
  * `(key, values-chunk)` record per key per flush, where the reference
  * ships every (k,v) record across the shuffle (`mapreduce.go:194-211`).
  * A word count over few distinct words thus shuffles a few records per
  * key and map task instead of one per word, but the reduce side still
  * reads every value. For algebraic reducers use [[runReduced]]
  * (reduceGroups => partial aggregation before shuffle) or
  * [[runAggregated]] (an [[Aggregator]], fully codegen-friendly
  * partial/final agg). A 100 TB word count must take one of those paths;
  * `run` exists for contract parity with non-algebraic user reducers.
  */
object MapReduceJob {

  /** General (non-algebraic) contract: reduce sees all values of a key,
    * each exactly once, in no specified order.
    *
    * Map side: each map task runs `map` over its lines and combines the
    * pairs in a buffer keyed by key (in-mapper combining), flushing one
    * `(key, values-chunk)` row per buffered key whenever the buffer holds
    * [[CombineBufferBytes]], and once at the end of the task. No value is
    * merged or dropped — a chunk only packs the values' bytes — and the
    * bound is on bytes, not on a value count, so one huge value cannot
    * grow the buffer past it by more than itself.
    *
    * Reduce side: one shuffle — grouping on the key column hash-partitions
    * on the key exactly like the reference's FNV%nReduce bucketing (an
    * explicit repartition(nReduce) first would shuffle the data a second
    * time for nothing; `groupByKey` would ship a second copy of the key)
    * — and `reduce` gets an iterator over the key's chunks, flattened and
    * decoded lazily; no per-key list is built beyond one chunk. `nReduce` is
    * accepted for contract parity; the actual reduce parallelism is
    * governed by spark.sql.shuffle.partitions/AQE, which is the point of
    * building on Spark — results are partition-count invariant either way
    * (PropertySpec).
    */
  def run(
      input: Dataset[String],
      map: String => IterableOnce[(String, String)],
      reduce: (String, Iterator[String]) => String,
      nReduce: Int = 0): Dataset[(String, String)] = {
    val spark = input.sparkSession
    import spark.implicits._
    input
      .mapPartitions(lines => combined(lines.flatMap(map)))
      .groupBy(col("_1")).as[String, (String, Array[Byte])]
      .mapGroups((k, chunks) => (k, reduce(k, chunks.flatMap(c => values(c._2)))))
  }

  /** The map-side buffer bound of [[run]], in buffered bytes: each
    * buffered key's length, and each value's UTF-8 bytes behind a 4-byte
    * length.
    */
  private[graft] val CombineBufferBytes: Long = 1L << 20

  /** `pairs` packed into `(key, values-chunk)` rows, one per key per buffer
    * flush, in no specified order; a chunk is its values, each as a 4-byte
    * length (-1 for null) and its UTF-8 bytes. The input is consumed
    * lazily, one buffer at a time.
    */
  private def combined(pairs: Iterator[(String, String)]): Iterator[(String, Array[Byte])] =
    Iterator.continually(nextBuffer(pairs)).takeWhile(_.nonEmpty).flatMap { buffer =>
      buffer.iterator.map { case (k, chunk) => (k, chunk.result()) }
    }

  private def nextBuffer(pairs: Iterator[(String, String)])
      : mutable.HashMap[String, mutable.ArrayBuilder.ofByte] = {
    val buffer = mutable.HashMap.empty[String, mutable.ArrayBuilder.ofByte]
    var bytes = 0L
    while (bytes < CombineBufferBytes && pairs.hasNext) {
      val (k, v) = pairs.next()
      val chunk = buffer.getOrElseUpdate(k, {
        if (k != null) bytes += k.length
        new mutable.ArrayBuilder.ofByte
      })
      val b = if (v == null) Array.emptyByteArray else v.getBytes(UTF_8)
      val n = if (v == null) -1 else b.length
      chunk.addOne((n >>> 24).toByte).addOne((n >>> 16).toByte).addOne((n >>> 8).toByte).addOne(n.toByte)
      chunk.addAll(b)
      bytes += 4 + b.length
    }
    buffer
  }

  /** The values of one chunk written by [[nextBuffer]]. */
  private def values(chunk: Array[Byte]): Iterator[String] = {
    val in = java.nio.ByteBuffer.wrap(chunk)
    Iterator.continually(in).takeWhile(_.hasRemaining).map { in =>
      val n = in.getInt()
      val at = in.position()
      in.position(at + math.max(n, 0))
      if (n < 0) null else new String(chunk, at, n, UTF_8)
    }
  }

  /** Algebraic contract: value-merge function is associative+commutative, so
    * Spark applies it map-side first (partial aggregation — the combiner the
    * reference lacks). Correct path at scale.
    */
  def runReduced(
      input: Dataset[String],
      map: String => IterableOnce[(String, String)],
      merge: (String, String) => String): Dataset[(String, String)] = {
    val spark = input.sparkSession
    import spark.implicits._
    input
      .flatMap(map)
      .groupByKey(_._1)
      .reduceGroups((a: (String, String), b: (String, String)) => (a._1, merge(a._2, b._2)))
      .map(_._2)
  }

  /** Typed-Aggregator contract: zero/reduce/merge/finish, planned as a real
    * partial+final aggregate (HashAggregateExec) — the most Spark-native and
    * codegen-friendly form of the reference's Reduce.
    */
  def runAggregated[B: org.apache.spark.sql.Encoder, O: org.apache.spark.sql.Encoder](
      input: Dataset[String],
      map: String => IterableOnce[(String, String)],
      agg: Aggregator[String, B, O]): Dataset[(String, O)] = {
    val spark = input.sparkSession
    import spark.implicits._
    input
      .flatMap(map)
      .groupByKey(_._1)
      .mapValues(_._2)
      .agg(agg.toColumn)
  }

  /** The reference's intermediate output contract (`mrtmp.<f>-res-<r>`):
    * nReduce hash-partitioned files, each sorted by key within the
    * partition (`mapreduce.go:243-247`). Spark form: repartition on the
    * key + sortWithinPartitions — no global shuffle-sort, which is why the
    * reference needs its single-threaded global Merge afterwards and
    * [[writeSortedText]] doesn't.
    */
  def writePartitionedSorted(result: Dataset[(String, String)], path: String, nReduce: Int): Unit =
    result
      .repartition(nReduce, col("_1"))
      .sortWithinPartitions(col("_1"))
      .select(concat(col("_1"), lit(": "), col("_2")).as("value"))
      .write.mode(SaveMode.Overwrite).text(path)

  /** The reference's observable output contract: `key: value` lines, total
    * lexicographic order by key (`mapreduce.go:312-328`). Global order comes
    * from Spark's range-partitioned sort; a single text file (like the
    * reference's one merged output) needs coalesce(1) — at warehouse scale
    * drop the coalesce and keep one sorted file per range partition.
    */
  def writeSortedText(result: Dataset[(String, String)], path: String, singleFile: Boolean = true): Unit = {
    val sorted = result
      .orderBy(col("_1"))
      .select(concat(col("_1"), lit(": "), col("_2")).as("value"))
    (if (singleFile) sorted.coalesce(1) else sorted)
      .write.mode(SaveMode.Overwrite).text(path)
  }

  /** Word count — the reference's single shipped query
    * (`test_test.go:56-79`): whitespace-tokenize, count per token.
    * Expressed declaratively so Catalyst plans a partial+final hash
    * aggregate (strict improvement over the reference's combiner-less
    * shuffle of every `(word,"1")` pair).
    */
  def wordCount(lines: Dataset[String]): Dataset[(String, Long)] = {
    val spark = lines.sparkSession
    import spark.implicits._
    lines.toDF("line")
      .select(explode(split(col("line"), "\\s+")).as("word"))
      .where(length(col("word")) > 0)
      .groupBy(col("word"))
      .agg(count(lit(1)).as("cnt"))
      .as[(String, Long)]
  }
}
