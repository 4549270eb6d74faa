package graft

import java.nio.file.{Files, Path}
import java.util.concurrent.atomic.AtomicInteger
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.catalyst.plans.physical.{RangePartitioning, SinglePartition}
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.{Gen, Prop, Test => SCTest}
import graft.core.MapReduce

/** Mirror of the reference's end-to-end golden test
  * (/root/reference/src/mapreduce/common_test_suite.go:53-114): integers
  * 0..99 split across input files must come back as exactly 100
  * STRING-sorted `"key: value"` lines — plus equivalence checks across the
  * three reduce paths (mapGroups, combiner, explicit-nReduce), tokenizer
  * invariants, the map split over task slots, and the merged write's plan:
  * one single-partition shuffle, so the reduce side runs once.
  */
class MapReduceSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {
  private lazy val spark = TestSpark.spark

  /** MakeInputs parity: 0..99 one per line, contiguous across `num` files. */
  private def makeInputs(dir: Path, num: Int): Unit =
    (0 until num).foreach { f =>
      val lines = (0 until 100).filter(_ % num == f).mkString("\n")
      Files.writeString(dir.resolve(s"824-mrinput-$f.txt"), lines + "\n")
    }

  test("reference golden: whole-file input -> sorted distinct tokens -> merged text file") {
    val dir = Files.createTempDirectory("mrgolden")
    makeInputs(dir, 5)
    val input = MapReduce.textFiles(spark, s"$dir/824-mrinput-*.txt")
    assert(input.count() === 5) // one record per file, DoMap granularity

    val result = MapReduce.distinctTokens(spark, input)
    val rows = result.collect()
    val expected = (0 until 100).map(_.toString).sorted // STRING sort: 0,1,10,...
    assert(rows.map(_._1).toSeq === expected)
    assert(rows.forall(_._2 === ""))

    val out = dir.resolve("merged").toString
    MapReduce.writeMergedText(result, out)
    val files = new java.io.File(out).listFiles().filter(_.getName.endsWith(".txt"))
    assert(files.length === 1) // single merged file, MergeResultName contract
    val lines = spark.read.textFile(out).collect().toSeq
    assert(lines === expected.map(k => s"$k: "))
  }

  test("combiner and nReduce paths agree with the mapGroups path on word count") {
    import spark.implicits._
    val docs = Tables.documents(spark, TestSpark.sfDir)
      .select("doc_id", "text").as[(Long, String)]
      .map { case (id, text) => (s"doc-$id", text) }
    val viaGroups = MapReduce.mapReduce(spark, docs,
      (_: String, c: String) => c.split(MapReduce.WhitespaceClass).iterator
        .filter(_.nonEmpty).map(w => (w, "1")),
      (_: String, vs: Iterator[String]) => vs.map(_.toLong).sum.toString).collect()
    val viaCombine = MapReduce.wordCount(spark, docs).collect()
    val viaNReduce = MapReduce.wordCountNReduce(spark, docs, nReduce = 3).collect()
    assert(viaCombine.toSeq === viaGroups.toSeq)
    assert(viaNReduce.toSeq === viaGroups.toSeq)
  }

  test("nReduce path produces exactly nReduce shuffle partitions before the final sort") {
    import spark.implicits._
    val input = Seq(("f", (1 to 50).map(i => s"w$i").mkString(" "))).toDS()
    val plan = MapReduce.mapReduce(spark, input,
      (_: String, c: String) => c.split(" ").iterator.map(w => (w, "1")),
      (_: String, vs: Iterator[String]) => vs.size.toString,
      nReduce = 7).queryExecution.executedPlan.toString
    assert(plan.contains("hashpartitioning(_1#") && plan.contains(", 7)"),
      s"expected hashpartitioning(..., 7) in plan:\n$plan")
  }

  test("tokenizer: splits on ASCII whitespace, drops empties, preserves token order") {
    val token = Gen.nonEmptyListOf(Gen.alphaNumChar).map(_.mkString)
    val ws = Gen.nonEmptyListOf(Gen.oneOf(' ', '\t', '\n', '\f', '\r')).map(_.mkString)
    val prop = Prop.forAll(Gen.listOf(token), ws) { (toks, sep) =>
      val contents = sep + toks.mkString(sep) + sep // leading/trailing ws too
      val got = contents.split(MapReduce.WhitespaceClass).filter(_.nonEmpty).toList
      got == toks
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(500), prop)
    assert(res.passed, res.status.toString)
  }

  test("textFiles: 8+ small files spread over every task slot, one record per file") {
    val dir = Files.createTempDirectory("mrsplit")
    val names = (0 until 12).map(f => f"in-$f%02d.txt")
    names.foreach(n => Files.writeString(dir.resolve(n), s"$n a b c\n"))
    val input = MapReduce.textFiles(spark, s"$dir/in-*.txt")
    assert(input.rdd.getNumPartitions === spark.sparkContext.defaultParallelism)
    val rows = input.collect()
    assert(rows.length === names.size)
    assert(rows.map { case (p, c) => (p.split('/').last, c) }.sorted.toSeq ===
      names.map(n => (n, s"$n a b c\n")))
  }

  /** LiveListenerBus.waitUntilEmpty is private[spark] but public in the
    * bytecode; listener events are async, so drain before reading them. */
  private def drainBus(): Unit = {
    val bus = spark.sparkContext.getClass.getMethod("listenerBus").invoke(spark.sparkContext)
    bus.getClass.getMethods
      .find(m => m.getName == "waitUntilEmpty" && m.getParameterCount == 0).get
      .invoke(bus)
  }

  test("writeMergedText: one SinglePartition shuffle, no range sort, reduce side runs once") {
    val dir = Files.createTempDirectory("mrplan")
    makeInputs(dir, 5)
    val plans = ArrayBuffer.empty[SparkPlan]
    val qeListener = new QueryExecutionListener {
      def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        plans.synchronized(plans += qe.executedPlan)
      def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    val group = "mr-merged-write-plan"
    val jobs = new AtomicInteger
    val jobListener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group))
          jobs.incrementAndGet()
    }
    drainBus()
    spark.listenerManager.register(qeListener)
    spark.sparkContext.addSparkListener(jobListener)
    spark.sparkContext.setJobGroup(group, "distinctTokens -> writeMergedText")
    try {
      val input = MapReduce.textFiles(spark, s"$dir/824-mrinput-*.txt")
      MapReduce.writeMergedText(MapReduce.distinctTokens(spark, input), dir.resolve("merged").toString)
      drainBus()
    } finally {
      spark.sparkContext.clearJobGroup()
      spark.sparkContext.removeSparkListener(jobListener)
      spark.listenerManager.unregister(qeListener)
    }
    assert(plans.nonEmpty, "no QueryExecution captured for the write")
    val shuffles = plans.toSeq.flatMap(p => collectWithSubqueries(p) { case x: ShuffleExchangeLike => x })
    val plan = plans.mkString("\n")
    assert(!shuffles.exists(_.outputPartitioning.isInstanceOf[RangePartitioning]) &&
      !plan.contains("rangepartitioning"), s"range sort in the merged write:\n$plan")
    assert(shuffles.count(_.outputPartitioning == SinglePartition) === 1, plan)
    assert(jobs.get <= 3, s"${jobs.get} jobs: the reduce side ran more than once\n$plan")
  }

  test("writeMergedText: unsorted input still gives one key-sorted part file") {
    import spark.implicits._
    val keys = new scala.util.Random(7).shuffle((0 until 300).map(i => s"k$i"))
    val ds = keys.map(k => (k, k.reverse)).toDS().repartition(3)
    val out = Files.createTempDirectory("mrunsorted").resolve("merged")
    MapReduce.writeMergedText(ds, out.toString)
    val parts = out.toFile.listFiles().filter(_.getName.startsWith("part-"))
    assert(parts.length === 1)
    val lines = Files.readAllLines(parts.head.toPath).asScala.toSeq
    assert(lines === keys.sorted.map(k => s"$k: ${k.reverse}")) // STRING sort: k0,k1,k10,...
  }
}
