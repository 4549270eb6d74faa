package graft.core

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions.{col, concat_ws}

/** Reference-parity surface of drinkbeer/SimpleMapReduce, re-expressed on the
  * typed Dataset API.
  *
  * The reference computes exactly one query shape (see SURVEY.md §1–§2): given
  * input files, a user `mapF: (filename, contents) => [(K,V)]`
  * (src/common/common_map.go:59-65) and a user
  * `reduceF: (key, values) => value` (src/common/common_reduce.go:51-57), emit
  * one `(key, value)` row per distinct key, sorted by key as a string
  * (src/mapreduce/master.go:112-127).
  *
  * Spark-first mapping:
  *   - the JSON intermediate files + FNV hash partitioning
  *     (common.go:61-66, common_map.go:72-96) become Spark's shuffle, induced
  *     by `groupByKey` — nothing to materialize ourselves;
  *   - the phase barrier (master.go:77-78) is the stage boundary at the
  *     shuffle;
  *   - the map tasks (one per input file, master.go:69-85) run on every task
  *     slot: [[textFiles]] splits the files across `defaultParallelism`
  *     partitions;
  *   - the master's single-threaded merge (master.go:87-128) stays a single
  *     writer: [[writeMergedText]] moves the reduced rows, once, into one
  *     partition and sorts them there; `mapReduce*` still end in `orderBy` so
  *     a Dataset caller that collects gets key-sorted rows;
  *   - fault tolerance / scheduling (common_rpc.go:84-136) is the
  *     DAGScheduler's job, zero code here.
  *
  * `reduceF` receives an Iterator rather than a materialized slice so a huge
  * key group streams through the reducer instead of buffering
  * (common_reduce.go:58-76 buffers everything — that would not survive 100 TB).
  */
object MapReduce {

  /** Run mapF/reduceF over (filename, contents) pairs; result sorted by key. */
  def mapReduce(
      spark: SparkSession,
      input: Dataset[(String, String)],
      mapF: (String, String) => IterableOnce[(String, String)],
      reduceF: (String, Iterator[String]) => String): Dataset[(String, String)] = {
    import spark.implicits._
    input
      .flatMap { case (name, contents) => mapF(name, contents) }
      .groupByKey(_._1)
      .mapGroups((k, vs) => (k, reduceF(k, vs.map(_._2))))
      .orderBy($"_1")
  }

  /** The reference-parity `nReduce` path (master.go:69-73 takes nReduce as a
    * first-class job parameter): hash-partition the mapped KVs into exactly
    * `nReduce` partitions on the key (≡ GetHash(key) % nReduce,
    * common.go:61-66), sort within each partition, and stream key runs
    * through `reduceF` — a sort-based reduce with bounded memory, the same
    * physical shape as the reference's DoReduce but spill-safe. Output again
    * globally key-sorted.
    */
  def mapReduce(
      spark: SparkSession,
      input: Dataset[(String, String)],
      mapF: (String, String) => IterableOnce[(String, String)],
      reduceF: (String, Iterator[String]) => String,
      nReduce: Int): Dataset[(String, String)] = {
    import spark.implicits._
    input
      .flatMap { case (name, contents) => mapF(name, contents) }
      .repartition(nReduce, col("_1"))
      .sortWithinPartitions("_1")
      .mapPartitions(it => groupRuns(it, reduceF))
      .orderBy($"_1")
  }

  /** Group a key-sorted iterator into runs and apply reduceF to each run,
    * streaming: no key group is ever materialized.
    */
  private def groupRuns(
      it: Iterator[(String, String)],
      reduceF: (String, Iterator[String]) => String): Iterator[(String, String)] = {
    val buf = it.buffered
    new Iterator[(String, String)] {
      def hasNext: Boolean = buf.hasNext
      def next(): (String, String) = {
        val k = buf.head._1
        val values: Iterator[String] = new Iterator[String] {
          def hasNext: Boolean = buf.hasNext && buf.head._1 == k
          def next(): String = buf.next()._2
        }
        val v = reduceF(k, values)
        while (values.hasNext) values.next() // drain if reduceF stopped early
        (k, v)
      }
    }
  }

  /** Combiner path — the upgrade the reference lacks (common_map.go:74-77
    * ships every raw KV across the shuffle; SURVEY §4.2). `combineF` must be
    * associative+commutative; `reduceGroups` runs it as a typed Aggregator
    * with map-side partial aggregation, so the shuffle carries one partially
    * reduced value per (partition, key) instead of one row per occurrence.
    */
  def mapReduceCombine(
      spark: SparkSession,
      input: Dataset[(String, String)],
      mapF: (String, String) => IterableOnce[(String, String)],
      combineF: (String, String) => String): Dataset[(String, String)] = {
    import spark.implicits._
    input
      .flatMap { case (name, contents) => mapF(name, contents) }
      .groupByKey(_._1)
      .reduceGroups((a, b) => (a._1, combineF(a._2, b._2)))
      .map { case (k, (_, v)) => (k, v) }
      .orderBy($"_1")
  }

  /** Whole-file-per-record input, matching DoMap's ReadFile semantics
    * (common_map.go:66-70): one (path, contents) row per file.
    * `minPartitions` is passed explicitly because `wholeTextFiles` defaults
    * it to `min(defaultParallelism, 2)`, which packs any number of files into
    * at most 2 map tasks; this spreads them over every task slot.
    */
  def textFiles(spark: SparkSession, paths: String): Dataset[(String, String)] = {
    import spark.implicits._
    spark.sparkContext.wholeTextFiles(paths, spark.sparkContext.defaultParallelism).toDS()
  }

  /** The reference's merged result sink (master.go:112-127 via
    * MergeResultName, common.go:57-59): one text file of `"key: value"`
    * lines, key-sorted. This is the reference's single-writer merge: the
    * reduced rows move once into one partition, which sorts them and writes
    * the file. The order does not depend on the caller's: a global `orderBy`
    * in `ds` sits under the `repartition(1)`, so the optimizer drops it and
    * the reduce side runs once, with no range-partitioning sample job.
    */
  def writeMergedText(ds: Dataset[(String, String)], path: String): Unit =
    ds.repartition(1)
      .sortWithinPartitions(col("_1"))
      .select(concat_ws(": ", col("_1"), col("_2")))
      .write.mode("overwrite").text(path)

  /** Whitespace class spelled out to match the DuckDB-RE2 oracle regex
    * (Java \s includes \x0B, RE2's does not). Single source of truth — the
    * escape sequences are interpreted identically by Java's regex compiler
    * and RE2, so the same string is interpolated verbatim into oracle SQL
    * (TextOps.toksSql, MapReduceQueries.toksSql).
    */
  val WhitespaceClass = "[ \\t\\n\\x0B\\f\\r]+"

  private def tokenize(contents: String): Iterator[String] =
    contents.split(WhitespaceClass).iterator.filter(_.nonEmpty)

  /** The reference test workload (common_test_suite.go:31-50): whitespace
    * tokenization to (word, "") and a constant-"" reduce — net semantics is
    * the sorted distinct token set. Runs the generic mapGroups path.
    */
  def distinctTokens(spark: SparkSession, input: Dataset[(String, String)]): Dataset[(String, String)] =
    mapReduce(
      spark,
      input,
      (_, contents) => tokenize(contents).map(w => (w, "")),
      (_, _) => "")

  /** Classic word count through the combiner path: the shuffle carries
    * per-key partial sums, not per-occurrence rows.
    */
  def wordCount(spark: SparkSession, input: Dataset[(String, String)]): Dataset[(String, String)] =
    mapReduceCombine(
      spark,
      input,
      (_, contents) => tokenize(contents).map(w => (w, "1")),
      (a, b) => (a.toLong + b.toLong).toString)

  /** Word count through the explicit-nReduce sort-based reduce path —
    * reference task granularity (master.go:69-73), used by tests and the
    * mr_wordcount_nreduce correctness row.
    */
  def wordCountNReduce(spark: SparkSession, input: Dataset[(String, String)],
      nReduce: Int): Dataset[(String, String)] =
    mapReduce(
      spark,
      input,
      (_, contents) => tokenize(contents).map(w => (w, "1")),
      (_, vs) => vs.map(_.toLong).sum.toString,
      nReduce)
}
