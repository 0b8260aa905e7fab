package graft.sources

import scala.util.control.NonFatal

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession, graftbridge}
import org.apache.spark.sql.types.StructType

/** Source/sink formats beyond parquet. The reference's storage layer is a
  * custom replicated byte-stream (`HDDStream`, reference
  * `src/CoreLib/storage.fs:75-89`, write path `DSet.fs:1094-1451`); here
  * every format is a Spark DataSource — splittable, predicate/projection
  * aware where the format allows, schema-carrying where it doesn't.
  */
object Sources {

  def writeParquet(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").parquet(path)

  /** Open a parquet artifact graft wrote without Spark's one-task
    * schema-inference job (the reference binds a stored DSet from its
    * metadata with no cluster pass, `DSet.fs` `loadSource`): the schema
    * comes from one footer read on the driver ([[footerSchema]]) and is
    * handed to `spark.read.schema(...)`. Same schema, rows and plan as
    * `spark.read.parquet(paths: _*)`, which it falls back to wherever the
    * shortcut could differ. Reads of user directories, which may be
    * partitioned or mixed-schema, keep `spark.read.parquet`.
    */
  def readParquet(spark: SparkSession, paths: String*): DataFrame =
    footerSchema(spark, paths) match {
      case Some(schema) => spark.read.schema(schema).parquet(paths: _*)
      case None => spark.read.parquet(paths: _*)
    }

  /** Open exactly `files` (parquet data files, e.g. a snapshot commit
    * record's resolution) without listing them: one driver
    * `getFileStatus` per file and the schema from the footer of the
    * first file in path order ([[readParquet]]'s rule), handed to a file
    * index that IS those files. `spark.read.parquet(files: _*)` would
    * list them instead — above `spark.sql.sources
    * .parallelPartitionDiscovery.threshold` (32) paths that listing is a
    * Spark job per read. Same schema and rows as that read; with
    * `spark.sql.parquet.mergeSchema` on it falls back to it.
    */
  def readParquetFiles(spark: SparkSession, files: Seq[String]): DataFrame =
    if (files.isEmpty || spark.sessionState.conf.isParquetSchemaMergingEnabled)
      spark.read.parquet(files: _*)
    else {
      val conf = spark.sessionState.newHadoopConf()
      val statuses = files.map { f =>
        val p = new Path(f)
        p.getFileSystem(conf).getFileStatus(p)
      }
      graftbridge.readParquetFiles(spark, statuses,
        graftbridge.parquetFooterSchema(spark, statuses.minBy(_.getPath.toString), conf))
    }

  /** The schema from the footer of the first data file (by name) of the
    * first of `paths` (in path order) — for one directory or a list of
    * files, the file Spark's inference reads, as it takes the first data
    * file in full-path order — or None where that inference must run:
    *   - `spark.sql.parquet.mergeSchema` on (every file is read);
    *   - a glob path (Spark expands it);
    *   - `_metadata`/`_common_metadata` summaries (Spark prefers them)
    *     or a streaming sink's `_spark_metadata` log (it names the
    *     committed files);
    *   - no direct data file, or a visible subdirectory: empty
    *     directories keep `UNABLE_TO_INFER_SCHEMA`, partitioned layouts
    *     keep partition discovery;
    *   - any failure to list or read (a missing path, a file deleted
    *     mid-read): the inferring read then fails or succeeds as before.
    */
  private def footerSchema(spark: SparkSession, paths: Seq[String]): Option[StructType] =
    if (paths.isEmpty || spark.sessionState.conf.isParquetSchemaMergingEnabled ||
        paths.exists(_.exists("{}[]*?\\".contains(_)))) None
    else try {
      val conf = spark.sessionState.newHadoopConf()
      val first = new Path(paths.min)
      val fs = first.getFileSystem(conf)
      val status = fs.getFileStatus(first)
      val file =
        if (!status.isDirectory) Some(status).filterNot { s =>
          isSummary(s.getPath.getName) || graftbridge.isHiddenFileName(s.getPath.getName)
        }
        else {
          val children = fs.listStatus(first)
          val names = children.map(_.getPath.getName)
          val visible = children.filterNot(c => graftbridge.isHiddenFileName(c.getPath.getName))
          if (names.exists(n => isSummary(n) || n == "_spark_metadata") ||
              visible.exists(_.isDirectory)) None
          else visible.minByOption(_.getPath.getName)
        }
      file.map(graftbridge.parquetFooterSchema(spark, _, conf))
    } catch { case NonFatal(_) => None }

  private def isSummary(name: String): Boolean =
    name == "_metadata" || name == "_common_metadata"

  /** CSV keeps a header; schema must be supplied on read (or inferred) —
    * prefer explicit schema at scale to avoid an inference pass.
    *
    * The write/read pair round-trips string data: the writer keeps
    * leading/trailing whitespace (Spark's CSV writer trims by default)
    * and the reader parses quoted embedded newlines (`multiLine`;
    * without it a quoted "line1\nline2" value splits the record and
    * PERMISSIVE mode silently yields corrupt rows). Caveat inherent to
    * CSV: an empty string comes back as null (the format cannot
    * distinguish them under a null-capable schema).
    *
    * `multiLine` makes a file non-splittable — one task per file — so
    * for newline-free corpora at scale prefer [[readCsvSplittable]].
    */
  def writeCsv(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite")
      .option("header", "true")
      .option("ignoreLeadingWhiteSpace", "false")
      .option("ignoreTrailingWhiteSpace", "false")
      .csv(path)

  def readCsv(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read.option("header", "true").option("multiLine", "true")
      .schema(schema).csv(path)

  /** Splittable CSV read for values known to be newline-free: each file
    * splits into multiple tasks (the scale default when the data allows).
    */
  def readCsvSplittable(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read.option("header", "true").schema(schema).csv(path)

  def writeJson(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").json(path)

  def readJson(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read.schema(schema).json(path)

  /** Line-oriented text: one string column in, one line per row out —
    * the raw-corpus interchange format (requires newline-free values).
    */
  def writeText(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").text(path)

  /** Reads lines as a single `value: string` column. */
  def readText(spark: SparkSession, path: String): DataFrame =
    spark.read.text(path)

  /** ORC: columnar + self-describing like parquet (schema embedded,
    * predicate/projection pushdown, splittable stripes).
    */
  def writeOrc(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").orc(path)

  def readOrc(spark: SparkSession, path: String): DataFrame =
    spark.read.orc(path)
}
