package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{AnalysisException, DataFrame, graftbridge}

import graft.operators.InvertedIndex
import graft.sources.{ArtifactIo, ConditionalPutMockFs, PlanCache, Snapshots, Sources}

/** Sources.readParquet, the artifact read that takes its schema from one
  * footer on the driver: on every artifact layout graft writes it must
  * equal `spark.read.parquet` (schema with nullability and metadata,
  * rows, plan-cache keys of both tiers) while running no Spark job;
  * where the shortcut does not apply (empty or partitioned directories)
  * it must behave exactly as Spark does.
  */
class ParquetReadSpec extends SparkSuite {
  import spark.implicits._

  private def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  private def docs(from: Long, n: Int): DataFrame =
    (from until from + n).map(i => (i, s"tok$i shared w${i % 3} shared")).toDF("doc_id", "text")

  /** Spark jobs `body` starts on this thread (tagged by a job group, so
    * work of other suites' background queries is not counted).
    */
  private def jobsOf[A](body: => A): (A, Int) = {
    val group = s"parquet-read-spec-${System.nanoTime()}"
    val jobs = new AtomicInteger(0)
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        if (Option(j.properties).exists(_.getProperty("spark.jobGroup.id") == group)) {
          jobs.incrementAndGet(): Unit
        }
    }
    spark.sparkContext.addSparkListener(listener)
    spark.sparkContext.setJobGroup(group, "job count")
    try {
      val out = body
      graftbridge.flushListenerBus(spark)
      (out, jobs.get())
    } finally {
      spark.sparkContext.clearJobGroup()
      spark.sparkContext.removeSparkListener(listener)
    }
  }

  private def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).toSeq.sorted

  /** The footer read and the inferring read of the same paths agree on
    * everything a caller or the plan cache can observe, and only the
    * inferring read runs a job.
    */
  private def assertSameRead(what: String, paths: Seq[String]): Unit = {
    val (viaFooter, footerJobs) = jobsOf(Sources.readParquet(spark, paths: _*))
    val (inferred, inferJobs) = jobsOf(spark.read.parquet(paths: _*))
    assert(footerJobs == 0, s"$what: the footer read ran $footerJobs jobs")
    assert(inferJobs >= 1, s"$what: the inferring read ran no job; the count is broken")
    assert(viaFooter.schema == inferred.schema, s"$what: schema")
    assert(viaFooter.schema.json == inferred.schema.json, s"$what: schema json")
    assert(rows(viaFooter) == rows(inferred), s"$what: rows")
    for (tier <- Seq(true, false))
      assert(PlanCache.fingerprint(viaFooter, tier) == PlanCache.fingerprint(inferred, tier),
        s"$what: fingerprint (contentKeys = $tier)")
  }

  test("scored index with appended fragments: footer read equals spark.read.parquet, " +
      "and attachScored with its sidecar runs no job") {
    val idx = tmpDir("pr-scored") + "/idx"
    InvertedIndex.materializeScored(docs(0, 20), "doc_id", "text", idx)
    InvertedIndex.appendScored(docs(20, 5), "doc_id", "text", idx)
    InvertedIndex.appendScored(docs(25, 5), "doc_id", "text", idx)
    assertSameRead("scored index", Seq(idx))
    assert(InvertedIndex.readTotals(idx).isDefined)
    val ((scored, stats), jobs) = jobsOf(InvertedIndex.attachScored(spark, idx, "doc_id"))
    assert(jobs == 0, s"attachScored with a sidecar ran $jobs jobs")
    assert(stats._1 == 30L)
    assert(scored.schema == spark.read.parquet(idx).schema)
  }

  test("positional index: footer read equals spark.read.parquet") {
    val idx = tmpDir("pr-pos") + "/idx"
    InvertedIndex.materializePositional(docs(0, 10), "doc_id", "text", idx)
    InvertedIndex.appendPositional(docs(10, 4), "doc_id", "text", idx)
    assertSameRead("positional index", Seq(idx))
  }

  test("Snapshots versions, plain and manifest-mode: footer read equals spark.read.parquet") {
    val plain = tmpDir("pr-snap") + "/t"
    val v1 = Snapshots.commit(docs(0, 8), plain)
    val v1Files = Snapshots.read(spark, plain, Some(v1)).inputFiles.toSeq
    assertSameRead("replace snapshot version", v1Files)
    assert(rows(Snapshots.read(spark, plain, Some(v1))) == rows(spark.read.parquet(v1Files: _*)))

    val man = tmpDir("pr-snap-man") + "/t"
    Snapshots.commit(docs(0, 8), man)
    Snapshots.commitAppend(docs(8, 3), man)
    val v3 = Snapshots.commitAppend(docs(11, 2), man)
    val files = Snapshots.read(spark, man, Some(v3)).inputFiles.toSeq
    assert(files.size >= 3, files)
    assertSameRead("append snapshot version", files)
    assert(rows(Snapshots.read(spark, man)) == rows(spark.read.parquet(files: _*)))
    assertSameRead("append changes", Snapshots.readChanges(spark, man, 1).inputFiles.toSeq)
  }

  test("CasSnapshots version on a conditional-PUT store: footer read equals spark.read.parquet") {
    val hc = spark.sparkContext.hadoopConfiguration
    hc.set("fs.mock3c.impl", classOf[ConditionalPutMockFs].getName)
    ArtifactIo.addExtraScheme(hc, ArtifactIo.RenameByCopyExtraSchemesKey, "mock3c")
    ArtifactIo.addExtraScheme(hc, ArtifactIo.ConditionalPutExtraSchemesKey, "mock3c")
    val table = "mock3c:" + tmpDir("pr-cas") + "/t"
    Snapshots.commit(docs(0, 8), table)
    val v2 = Snapshots.commitAppend(docs(8, 3), table, tag = Some("b1"))
    val files = Snapshots.read(spark, table, Some(v2)).inputFiles.toSeq
    assert(files.nonEmpty && files.forall(_.startsWith("mock3c:")), files)
    assertSameRead("cas snapshot version", files)
    assert(rows(Snapshots.read(spark, table)) == rows(spark.read.parquet(files: _*)))
  }

  test("a Snapshots version resolving to more than 32 files opens with no job, " +
      "where a path-list read of the same files lists them in one") {
    // above spark.sql.sources.parallelPartitionDiscovery.threshold (32)
    // paths, handing the record's files to spark.read lists them in a
    // Spark job; the snapshot read stats them on the driver instead
    val table = tmpDir("pr-snap-wide") + "/t"
    Snapshots.commit(docs(0, 200).repartition(24), table)
    Snapshots.commitAppend(docs(200, 200).repartition(24), table)
    val (latest, jobs) = jobsOf(Snapshots.read(spark, table))
    val files = latest.inputFiles.toSeq
    assert(files.size > 32, files.size)
    assert(jobs == 0, s"the snapshot read ran $jobs jobs before its action")
    val (changes, feedJobs) = jobsOf(Snapshots.readChanges(spark, table, 1))
    assert(feedJobs == 0, s"the changes read ran $feedJobs jobs before its action")
    // the control: the same files through a path-list read run a job
    val (listed, listJobs) = jobsOf(Sources.readParquet(spark, files: _*))
    assert(listJobs >= 1, "the path-list read ran no job; the count is broken")
    val inferred = spark.read.parquet(files: _*)
    assert(latest.schema == inferred.schema && latest.schema.json == inferred.schema.json)
    assert(rows(latest) == rows(inferred) && rows(listed) == rows(inferred))
    assert(rows(changes) == rows(docs(200, 200)))
  }

  test("a mixed-schema directory: both reads take the first data file's schema") {
    val dir = tmpDir("pr-mixed") + "/t"
    Seq((1L, "a")).toDF("id", "s").write.parquet(dir)
    Seq((2L, 3.5)).toDF("id", "x").write.mode("append").parquet(dir)
    assertSameRead("mixed-schema directory", Seq(dir))
  }

  test("empty and partitioned directories behave exactly as spark.read.parquet") {
    val empty = tmpDir("pr-empty")
    val viaFooter = intercept[AnalysisException](Sources.readParquet(spark, empty))
    val inferred = intercept[AnalysisException](spark.read.parquet(empty))
    assert(viaFooter.getCondition == "UNABLE_TO_INFER_SCHEMA", viaFooter.getMessage)
    assert(viaFooter.getMessage == inferred.getMessage)

    val parts = tmpDir("pr-parts") + "/t"
    Seq((1L, "a", 0), (2L, "b", 1), (3L, "c", 1)).toDF("id", "s", "k")
      .write.partitionBy("k").parquet(parts)
    val p1 = Sources.readParquet(spark, parts)
    val p2 = spark.read.parquet(parts)
    assert(p1.schema == p2.schema && p1.schema.fieldNames.last == "k")
    assert(rows(p1) == rows(p2))
    for (tier <- Seq(true, false))
      assert(PlanCache.fingerprint(p1, tier) == PlanCache.fingerprint(p2, tier))

    val missing = intercept[AnalysisException](Sources.readParquet(spark, parts + "-absent"))
    assert(missing.getCondition == "PATH_NOT_FOUND", missing.getMessage)
  }
}
