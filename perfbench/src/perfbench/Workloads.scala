package perfbench

import java.io.File
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.dset.DSet
import graft.dset.DSet._
import graft.functions.TextFunctions
import graft.operators.{CurationPipeline, Dedup, InvertedIndex, KMeans, Similarity}
import graft.sources.Snapshots
import graft.streaming.{IndexIngest, SnapshotSink}

/** Helpers shared by the workloads. */
object Io {
  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  private def files(dir: String): Seq[Path] = {
    val root = Paths.get(dir)
    if (!Files.exists(root)) Nil
    else {
      val s = Files.walk(root)
      try s.iterator().asScala.filter(p => Files.isRegularFile(p)).toList finally s.close()
    }
  }

  /** Bytes on disk under `dirs`, each hard-linked file counted once. */
  def bytes(dirs: String*): Double =
    dirs.flatMap(files).map { p =>
      Files.getAttribute(p, "unix:ino") -> Files.size(p)
    }.toMap.values.sum.toDouble

  /** Distinct files (by inode) under `dirs`. */
  def fileCount(dirs: String*): Double =
    dirs.flatMap(files).map(p => Files.getAttribute(p, "unix:ino")).distinct.size.toDouble

  /** Parquet data files under `dir` (the fragment count a reader lists). */
  def parquetFiles(dir: String): Double =
    files(dir).count(_.getFileName.toString.endsWith(".parquet")).toDouble

  def inputInfo(dir: String): Map[String, Double] = {
    val txt = new String(Files.readAllBytes(Paths.get(dir, "inputs.json")), "UTF-8")
    "\"([a-z_]+)\": (\\d+)".r.findAllMatchIn(txt).map(m => m.group(1) -> m.group(2).toDouble).toMap
  }

  /** Executor CPU per document of an isolated projection of the public
    * shingle and MinHash Column functions over `docs`, median of 3 runs.
    */
  def kernelNsPerDoc(spark: SparkSession, docs: DataFrame): Double = {
    val n = docs.count().toDouble
    Stats.median((1 to 3).map { _ =>
      Trace.start(spark)
      Trace.span("functions")(noop(docs.select(
        Dedup.minhashSignature(TextFunctions.wordShingles(col("text"), 3), 64).as("sig"))))
      Trace.stop(spark)("functions.exec_cpu_ms") * 1e6 / n
    })
  }

  /** Loop `body` until `seconds` have passed. */
  def timed(seconds: Double)(body: => Unit): Unit = {
    val stop = System.nanoTime() + (seconds * 1e9).toLong
    while (System.nanoTime() < stop) body
  }
}

/** The metrics of a batch workload. Its user sends one request, a full
  * pass, and waits until the pass's result is committed to the sink, so
  * requests and commits are both passes here.
  */
trait BatchMetrics { self: Workload =>
  def inputRows: Double
  def inputRatio: Double

  def metrics(seg: Segment): Map[String, Double] = {
    val passes = seg.ms("pass")
    Map(
      "batch_s" -> Stats.median(passes) / 1000,
      "req_p50_ms" -> Stats.median(passes),
      "req_p95_ms" -> Stats.q(passes, 0.95),
      "req_per_s" -> Stats.rate(passes),
      "commit_p50_ms" -> Stats.median(passes),
      "commit_p90_ms" -> Stats.q(passes, 0.9),
      "ingest_docs_per_s" -> inputRows * Stats.rate(passes),
      "bytes_per_input_byte" -> inputRatio)
  }
}

/** curate_10x: the c1 curation pipeline plus ANN near-duplicate grouping of
  * the vectors, over 10 scrambled copies of an sf0.1-shaped corpus.
  */
final class CurateWorkload(spark: SparkSession, in: String, work: String)
    extends Workload with BatchMetrics {
  private val StratRates = Seq("en" -> 0.05, "de" -> 0.25, "es" -> 0.5, "fr" -> 0.75, "zh" -> 1.0)
  private val info = Io.inputInfo(in)
  private lazy val docs = spark.read.parquet(s"$in/documents.parquet")
  private lazy val emb = spark.read.parquet(s"$in/embeddings.parquet")
  val inputRows: Double = info("docs")
  lazy val inputRatio: Double = {
    val raw = docs.select(sum(length(col("text")))).head().getLong(0) + info("vecs") * 64 * 4
    Io.bytes(s"$in/documents.parquet", s"$in/embeddings.parquet") / raw
  }
  private val AnnThreshold = 0.9

  private def curated: DataFrame =
    CurationPipeline.curate(docs, "doc_id", "text", "lang", "source", StratRates, 42L,
      maxDocFrac = 0.5, capacity = 128L, delim = " ", bands = 16)

  private def vecGroups: (DataFrame, DataFrame) = {
    val pairs = Similarity.annCosinePairs(emb, "vec_id", "embedding", 64, AnnThreshold,
      bits = Similarity.autoBits(info("vecs").toLong))
    (pairs, Dedup.connectedComponents(pairs, "id_a", "id_b"))
  }

  private def pass(seg: Segment): Unit = {
    val t0 = System.nanoTime()
    val a = seg.op("step", "curate")(Trace.span("operators")(Io.noop(curated)))()
    val b = seg.op("step", "ann_groups")(Trace.span("operators")(Io.noop(vecGroups._2)))()
    if (a.isDefined && b.isDefined) seg.samples.add(Sample("pass", "pass", (System.nanoTime() - t0) / 1e6))
  }

  def setup(): Unit = {
    inputRatio
    val warm = new Segment("warmup")
    pass(warm)
    if (!warm.failures.isEmpty) throw new IllegalStateException(warm.failures.peek())
  }

  def run(seg: Segment, seconds: Double): Unit = Io.timed(seconds)(pass(seg))

  override def layerExtras(): Map[String, Double] = {
    val (pairs, _) = vecGroups
    Map("functions.kernel_ns_per_doc" -> Io.kernelNsPerDoc(spark, docs),
      "operators.near_dup_pairs" -> pairs.count().toDouble,
      "operators.kept_docs" -> curated.count().toDouble)
  }

  /** Writes the results the DuckDB replays in check.py compare against. */
  def check(seg: Segment): Unit = {
    seg.checked("write_results") {
      curated.write.mode("overwrite").parquet(s"$work/check/curate.parquet")
      val (pairs, comps) = vecGroups
      pairs.write.mode("overwrite").parquet(s"$work/check/pairs.parquet")
      comps.write.mode("overwrite").parquet(s"$work/check/components.parquet")
      true
    }
  }
}

/** Checksum state of the DKV pass's fold: order-aware, so it also checks
  * that `binSortNByKey` left the keys globally sorted.
  */
final case class FoldState(n: Long, sum: Long, first: Long, last: Long, sorted: Boolean)

object FoldState {
  val zero: FoldState = FoldState(0L, 0L, 0L, 0L, sorted = true)
  def add(s: FoldState, kv: (Long, Long)): FoldState =
    if (s.n == 0) FoldState(1L, kv._1 + kv._2, kv._1, kv._1, sorted = true)
    else FoldState(s.n + 1, s.sum + kv._1 + kv._2, s.first, kv._1, s.sorted && s.last <= kv._1)
  def merge(a: FoldState, b: FoldState): FoldState =
    if (a.n == 0) b else if (b.n == 0) a
    else FoldState(a.n + b.n, a.sum + b.sum, a.first, b.last,
      a.sorted && b.sorted && a.last <= b.first)
}

/** dkv_facade: the paper's DSet/DKV algebra over Zipf-skewed pairs. */
final class DkvWorkload(spark: SparkSession, in: String, work: String)
    extends Workload with BatchMetrics {
  import spark.implicits._
  private val info = Io.inputInfo(in)
  val inputRows: Double = info("pairs")
  lazy val inputRatio: Double =
    Io.bytes(s"$in/pairs.parquet", s"$in/dim.parquet") / ((info("pairs") + info("keys")) * 16)
  private val sums = new java.util.concurrent.ConcurrentLinkedQueue[FoldState]()

  private def chain(): DSet[(Long, Long)] = {
    def d[A](body: => A): A = Trace.span("dset")(body)
    val pairs = d(DSet.loadParquet[(Long, Long)](spark, s"$in/pairs.parquet"))
    val dim = d(DSet.loadParquet[(Long, Long)](spark, s"$in/dim.parquet"))
    val mapped = d(pairs.mapByValue(v => v % 1000))
    val sums = d(mapped.reduceByKey(_ + _))
    val groups = d(mapped.groupByKeySalted(4).mapByValue(vs => vs.size.toLong * 1000000L + vs.max))
    val joined = d(sums.innerJoinByMerge(groups)((s, g) => s * 7 + g)
      .innerJoinByMerge(dim)((x, w) => x * w))
    d(joined.binSortNByKey(8))
  }

  private def pass(seg: Segment, record: Boolean): Unit = {
    val t0 = System.nanoTime()
    val sorted = seg.op("step", "write") {
      val s = chain()
      Trace.span("dset")(Io.noop(s.ds.toDF()))
      s
    }()
    val st = sorted.flatMap(s => seg.op("step", "fold")(
      Trace.span("dset")(s.fold(FoldState.zero)(FoldState.add, FoldState.merge)))(_.sorted))
    st.foreach { s =>
      seg.samples.add(Sample("pass", "pass", (System.nanoTime() - t0) / 1e6))
      if (record) sums.add(s)
    }
  }

  def setup(): Unit = {
    inputRatio
    val warm = new Segment("warmup")
    // the driver-side JIT needs about ten passes before pass times settle
    (1 to 10).foreach(_ => pass(warm, record = false))
    if (!warm.failures.isEmpty) throw new IllegalStateException(warm.failures.peek())
  }

  def run(seg: Segment, seconds: Double): Unit = Io.timed(seconds)(pass(seg, record = true))

  /** Every pass's fold checksum goes to check.py, which replays it in DuckDB. */
  def check(seg: Segment): Unit = seg.checked("write_results") {
    val lines = sums.asScala.map(s => s"${s.n} ${s.sum}").mkString("\n")
    Files.createDirectories(Paths.get(s"$work/check"))
    Files.write(Paths.get(s"$work/check/dkv_sums.txt"), lines.getBytes("UTF-8"))
    true
  }
}

/** One seeded request of serve_lookup. */
final case class Req(kind: String, tokens: Seq[String], queries: Seq[Seq[String]],
    phrase: Seq[String], doc: Long, vec: Array[Float], pin: Int)

/** serve_lookup: a closed loop of two clients over pre-built artifacts. */
final class ServeWorkload(spark: SparkSession, in: String, work: String) extends Workload {
  import spark.implicits._
  private val Clients = 2
  private val TopK = 10
  private val info = Io.inputInfo(in)
  private val reqs: IndexedSeq[Req] = ServeWorkload.parse(s"$in/requests.txt")
  private var scored: DataFrame = _
  private var stats: (Long, Double) = _
  private var positional: DataFrame = _
  private var model: KMeans.Model = _
  private var emb: DataFrame = _
  private val pins = scala.collection.mutable.ArrayBuffer[(Int, Long)]()
  private val next = new AtomicInteger(0)
  private val batchResults = new java.util.concurrent.ConcurrentLinkedQueue[(Req, Array[Row])]()
  private var rawTextBytes = 0.0

  private def dirs = Seq(s"$work/scored", s"$work/positional", s"$work/snap")

  def setup(): Unit = {
    val docs = spark.read.parquet(s"$in/documents.parquet")
    emb = spark.read.parquet(s"$in/embeddings.parquet")
    rawTextBytes = docs.select(sum(length(col("text")))).head().getLong(0).toDouble
    InvertedIndex.materializeScored(docs, "doc_id", "text", s"$work/scored")
    val (sc, st) = InvertedIndex.attachScored(spark, s"$work/scored", "doc_id")
    scored = sc; stats = st
    positional = InvertedIndex.materializePositional(docs, "doc_id", "text", s"$work/positional")
    model = KMeans.fit(emb, "vec_id", "embedding", 8, 5)
    val n = info("docs").toLong
    (1 to 4).foreach { i =>
      val slice = docs.filter(col("doc_id") >= (i - 1) * n / 4 && col("doc_id") < i * n / 4)
      val v = if (i == 1) Snapshots.commit(slice, s"$work/snap")
        else Snapshots.commitAppend(slice, s"$work/snap")
      pins += v -> i * n / 4
    }
    val warm = new Segment("warmup")
    // one request of each kind compiles its plans before timing starts
    val kinds = reqs.map(_.kind).distinct
    kinds.flatMap(k => reqs.find(_.kind == k)).foreach(r => serve(warm, r))
    if (!warm.failures.isEmpty) throw new IllegalStateException(warm.failures.peek())
  }

  private def serve(seg: Segment, r: Req): Unit = r.kind match {
    case "bm25" =>
      seg.op("req", "bm25")(Trace.span("operators")(
        InvertedIndex.searchBm25(scored, "doc_id", r.tokens, TopK, stats = Some(stats)).collect()))(
        rows => rows.length == TopK && rows.map(_.getDouble(1)).sliding(2).forall(p => p.length < 2 || p(0) >= p(1)))
        .foreach(rows => seg.count("rows", rows.length))
    case "bm25batch" =>
      seg.op("req", "bm25batch")(Trace.span("operators")(
        InvertedIndex.searchBm25Batch(scored, "doc_id", r.queries, TopK, stats = Some(stats)).collect()))(
        rows => rows.length == TopK * r.queries.size)
        .foreach { rows =>
          seg.count("rows", rows.length)
          if (batchResults.size < 4) batchResults.add(r -> rows)
        }
    case "phrase" =>
      seg.op("req", "phrase")(Trace.span("operators")(
        InvertedIndex.searchPhrase(positional, "doc_id", r.phrase).collect()))(
        rows => rows.exists(_.getLong(0) == r.doc))
        .foreach(rows => seg.count("rows", rows.length))
    case "ivf" =>
      seg.op("req", "ivf")(Trace.span("operators") {
        val q = Seq((-1L, r.vec)).toDF("vec_id", "embedding")
        KMeans.ivfKnn(q, emb, "vec_id", "embedding", model, 2, TopK).collect()
      })(rows => rows.nonEmpty && rows.length <= TopK)
        .foreach(rows => seg.count("rows", rows.length))
    case "snapread" =>
      val (version, expected) = pins(r.pin - 1)
      seg.op("req", "snapread")(Trace.span("sources")(
        Snapshots.read(spark, s"$work/snap", Some(version)).count()))(_ == expected)
        .foreach(_ => seg.count("rows", 1))
  }

  def run(seg: Segment, seconds: Double): Unit = {
    val stop = System.nanoTime() + (seconds * 1e9).toLong
    val threads = (1 to Clients).map { _ =>
      new Thread(() => {
        while (System.nanoTime() < stop) serve(seg, reqs(next.getAndIncrement() % reqs.size))
      })
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
  }

  def metrics(seg: Segment): Map[String, Double] = {
    val reqMs = seg.ms("req")
    Map(
      "batch_s" -> Stats.median(seg.ms("req", "bm25batch")) / 1000,
      "req_p50_ms" -> Stats.median(reqMs),
      "req_p95_ms" -> Stats.q(reqMs, 0.95),
      "req_per_s" -> Clients * Stats.rate(reqMs),
      "commit_p50_ms" -> Stats.median(reqMs),
      "commit_p90_ms" -> Stats.q(reqMs, 0.9),
      "ingest_docs_per_s" -> Clients * seg.counter("rows") / (reqMs.sum / 1000),
      "bytes_per_input_byte" -> Io.bytes(dirs: _*) / rawTextBytes)
  }

  override def layerExtras(): Map[String, Double] =
    Map("sources.index_files" -> Io.parquetFiles(s"$work/scored"))

  /** searchBm25Batch rows must equal the per-query searchBm25 rows. */
  def check(seg: Segment): Unit =
    batchResults.asScala.foreach { case (r, rows) =>
      seg.checked("bm25batch_vs_single") {
        val batch = rows.map(x => (x.getInt(0), x.getLong(1), x.getDouble(2))).sorted.toSeq
        val single = r.queries.zipWithIndex.flatMap { case (q, i) =>
          InvertedIndex.searchBm25(scored, "doc_id", q, TopK, stats = Some(stats)).collect()
            .map(x => (i, x.getLong(0), x.getDouble(1)))
        }.sorted
        batch == single
      }
    }
}

object ServeWorkload {
  private def words(s: String): Seq[String] = s.split(" ").toSeq.filter(_.nonEmpty)

  /** Parse the generator's request list: one tab-separated request a line. */
  def parse(path: String): IndexedSeq[Req] =
    Files.readAllLines(Paths.get(path)).asScala.toIndexedSeq.map { line =>
      val f = line.split("\t")
      val none = Req(f(0), Nil, Nil, Nil, 0L, Array.empty[Float], 0)
      f(0) match {
        case "bm25" => none.copy(tokens = words(f(1)))
        case "bm25batch" => none.copy(queries = f(1).split("\\|").toSeq.map(words))
        case "phrase" => none.copy(phrase = words(f(1)), doc = f(2).toLong)
        case "ivf" => none.copy(vec = f(1).split(",").map(_.toFloat))
        case "snapread" => none.copy(pin = f(1).toInt)
      }
    }
}

/** ingest_serve: a closed-loop writer landing batch files for two streaming
  * sinks (scored index and snapshot table) while a reader serves BM25
  * searches and latest-version snapshot reads off the same artifacts.
  */
final class IngestWorkload(spark: SparkSession, in: String, work: String) extends Workload {
  private val info = Io.inputInfo(in)
  private val idx = s"$work/index"
  private val snap = s"$work/snap"
  private val src = s"$work/src"
  private val batches: IndexedSeq[File] =
    new File(s"$in/batches").listFiles().filter(_.getName.endsWith(".parquet")).sortBy(_.getName).toIndexedSeq
  private val batchDocs: Map[String, Long] =
    Files.readAllLines(Paths.get(s"$in/batches.txt")).asScala.map(_.split("\t"))
      .map(f => f(0) -> f(1).toLong).toMap
  private val reads: IndexedSeq[Seq[String]] =
    ServeWorkload.parse(s"$in/reads.txt").map(_.tokens)
  private val baseDocs = info("base_docs").toLong
  private val landed = new AtomicInteger(0)
  @volatile private var committedDocs = baseDocs
  private var baseVersion = 0
  private var queries: Seq[org.apache.spark.sql.streaming.StreamingQuery] = Nil
  private var filesAtStart = 0.0
  private var bytesAtStart = 0.0

  def setup(): Unit = {
    val base = spark.read.parquet(s"$in/base.parquet").select("doc_id", "text")
    InvertedIndex.materializeScored(base, "doc_id", "text", idx)
    baseVersion = Snapshots.commit(base, snap)
    Files.createDirectories(Paths.get(src))
    val stream = spark.readStream.schema(base.schema).parquet(src)
    queries = Seq(
      IndexIngest.start(stream, "doc_id", "text", idx, s"$work/ckpt-index"),
      SnapshotSink.start(stream, snap, s"$work/ckpt-snap"))
    // the stream path keeps speeding up over its first batches: warm it
    // with the timed loop's own concurrency for six commits
    val warm = new Segment("warmup")
    loop(warm)(() => landed.get() < 6)
    if (!warm.failures.isEmpty) throw new IllegalStateException(warm.failures.peek())
  }

  /** Docs and snapshot version the sinks reach once `n` batches committed. */
  private def expectedAfter(n: Int): (Long, Int) =
    (baseDocs + batches.take(n).map(f => batchDocs(f.getName)).sum, baseVersion + n)

  /** The sidecar is deleted and rewritten by every append; a poll that
    * meets it mid-rewrite just polls again.
    */
  private def indexedDocs: Option[Long] =
    try InvertedIndex.readTotals(idx).map(_._1)
    catch { case _: java.nio.file.NoSuchFileException => None }

  /** Land the next batch file and wait until both sinks committed it. */
  private def land(seg: Segment): Unit = {
    val b = landed.get()
    if (b >= batches.size) { Thread.sleep(50); return }
    val (expectDocs, expectVersion) = expectedAfter(b + 1)
    seg.op("commit", "commit") {
      val f = batches(b)
      val tmp = Paths.get(src, "." + f.getName)
      Files.copy(f.toPath, tmp)
      Files.move(tmp, Paths.get(src, f.getName), StandardCopyOption.ATOMIC_MOVE)
      landed.incrementAndGet()
      val deadline = System.nanoTime() + 60e9.toLong
      def done = indexedDocs.contains(expectDocs) &&
        Snapshots.latestVersion(snap).contains(expectVersion)
      while (!done) {
        queries.find(_.exception.isDefined).foreach(q => throw q.exception.get)
        if (System.nanoTime() > deadline) throw new IllegalStateException(s"batch $b not committed in 60 s")
        Thread.sleep(2)
      }
    }().foreach { _ =>
      committedDocs = expectDocs
      seg.count("docs", batchDocs(batches(b).getName))
    }
  }

  /** One read: a BM25 search through a fresh attach of the index, then a
    * latest-version snapshot read. Both must see every batch committed
    * before the read began.
    */
  private def read(seg: Segment, i: Int): Unit = {
    val expected = committedDocs
    seg.op("req", "read") {
      val n = Trace.span("operators") {
        val (scored, stats) = InvertedIndex.attachScored(spark, idx, "doc_id")
        InvertedIndex.searchBm25(scored, "doc_id", reads(i % reads.size), 10, stats = Some(stats)).collect()
        stats._1
      }
      (n, Trace.span("sources")(Snapshots.read(spark, snap).count()))
    } { case (n, rows) => n >= expected && rows >= expected }
  }

  def run(seg: Segment, seconds: Double): Unit = {
    filesAtStart = Io.fileCount(idx, snap)
    bytesAtStart = Io.bytes(idx, snap)
    val stop = System.nanoTime() + (seconds * 1e9).toLong
    loop(seg)(() => System.nanoTime() < stop)
  }

  /** One writer and one reader thread, each looping while `more` holds. */
  private def loop(seg: Segment)(more: () => Boolean): Unit = {
    val writer = new Thread(() => while (more()) land(seg))
    val reader = new Thread(() => {
      var i = 0
      while (more()) { read(seg, i); i += 1 }
    })
    writer.start(); reader.start()
    writer.join(); reader.join()
  }

  def metrics(seg: Segment): Map[String, Double] = {
    val commits = seg.ms("commit")
    val reqMs = seg.ms("req")
    Map(
      "batch_s" -> Stats.median(commits) / 1000,
      "req_p50_ms" -> Stats.median(reqMs),
      "req_p95_ms" -> Stats.q(reqMs, 0.95),
      "req_per_s" -> Stats.rate(reqMs),
      "commit_p50_ms" -> Stats.median(commits),
      "commit_p90_ms" -> Stats.q(commits, 0.9),
      "ingest_docs_per_s" -> seg.counter("docs") / (commits.sum / 1000),
      "bytes_per_input_byte" -> Io.bytes(idx, snap) / ingestedTextBytes)
  }

  private def ingested: DataFrame = {
    val landedFiles = batches.take(landed.get()).map(_.getPath)
    val base = spark.read.parquet(s"$in/base.parquet").select("doc_id", "text")
    if (landedFiles.isEmpty) base else base.unionByName(spark.read.parquet(landedFiles: _*))
  }

  private lazy val ingestedTextBytes: Double =
    ingested.select(sum(length(col("text")))).head().getLong(0).toDouble

  override def layerExtras(): Map[String, Double] = Map(
    "functions.kernel_ns_per_doc" -> Io.kernelNsPerDoc(spark, ingested),
    "sources.files_written" -> (Io.fileCount(idx, snap) - filesAtStart),
    "sources.bytes_written_mb" -> (Io.bytes(idx, snap) - bytesAtStart) / 1048576.0,
    "sources.index_files" -> Io.parquetFiles(idx),
    "streaming.backlog_files" -> Io.parquetFiles(src))

  /** End state: the index equals a rebuild over base + landed batches, with
    * exact (N, avgdl) totals, and the latest snapshot holds exactly those rows.
    */
  def check(seg: Segment): Unit = {
    queries.foreach(_.stop())
    val all = ingested
    seg.checked("index_equals_rebuild") {
      val rebuilt = InvertedIndex.buildScored(all, "doc_id", "text")
      val actual = spark.read.parquet(idx).select("doc_id", "token", "tf", "dl")
      val totals = InvertedIndex.readTotals(idx)
      actual.exceptAll(rebuilt).isEmpty && rebuilt.exceptAll(actual).isEmpty &&
        totals.contains(InvertedIndex.corpusTotals(rebuilt, "doc_id"))
    }
    seg.checked("snapshot_equals_ingested") {
      val latest = Snapshots.read(spark, snap).select("doc_id", "text")
      latest.exceptAll(all).isEmpty && all.exceptAll(latest).isEmpty
    }
  }
}
