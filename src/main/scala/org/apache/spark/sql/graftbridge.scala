package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Bridge into `private[sql]` Column↔Expression converters — the standard
  * pattern for Spark extension libraries shipping custom Catalyst
  * expressions (Spark 4 wraps Column around ColumnNode, so `new
  * Column(expr)` / `col.expr` are no longer public).
  */
object graftbridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** Register a custom expression as a SQL-callable temp function on an
    * existing session (`sessionState` is private[sql]).
    */
  def registerFunction(spark: SparkSession, name: String, builder: Seq[Expression] => Expression): Unit =
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(name, builder, "scala_udf")

  /** Unpersist every persisted RDD reachable from `df`'s analyzed plan —
    * the `LogicalRDD` leaves that `localCheckpoint()` produces, plus any
    * persisted ancestor in their lineage (a checkpoint wrapped by a later
    * `mapPartitions` is a plan-invisible parent). Returns the number
    * released. After release the DataFrame can no longer be recomputed —
    * its lineage was truncated at the checkpoint — so call this only once
    * the result has been fully consumed (written out or collected).
    * Long-lived sessions use this to stop repeated pipeline invocations
    * from accumulating executor storage.
    */
  def releaseCheckpoints(df: Dataset[_]): Int = {
    val roots = df.asInstanceOf[classic.Dataset[_]].queryExecution.analyzed.collect {
      case l: execution.LogicalRDD => l.rdd
    }
    val seen = scala.collection.mutable.Set.empty[Int]
    var released = 0
    def walk(r: org.apache.spark.rdd.RDD[_]): Unit =
      if (seen.add(r.id)) {
        if (r.getStorageLevel != org.apache.spark.storage.StorageLevel.NONE) {
          r.unpersist(blocking = false)
          released += 1
        }
        r.dependencies.foreach(d => walk(d.rdd))
      }
    roots.foreach(walk)
    released
  }

  /** Bounded top-k collect as a Catalyst-native aggregate: keeps the
    * `num` SMALLEST values of `sortKey` (struct keys compare field by
    * field) and evaluates to an array sorted ascending — Spark's own
    * `CollectTopK` (the pandas-on-Spark `nsmallest` machinery, a
    * `TypedImperativeAggregate` over a bounded priority queue, so
    * partial aggregation trims to k BEFORE the shuffle exactly like the
    * typed `TopKAgg` it replaces). Unlike a typed
    * `groupByKey.mapValues.agg(Aggregator)` pipeline there is no
    * object-serialization boundary on the input rows: no
    * DeserializeToObject/AppendColumns/SerializeFromObject plan nodes,
    * no per-row encoder round trip — input rows stay Tungsten rows and
    * only the ≤ k buffer entries are copied (guide: eliminate
    * non-codegen closures on the hot path).
    *
    * Ordering note: doubles compare by Spark's SQL ordering (NaN
    * greatest; -0.0 < 0.0 via java.lang.Double.compare inside the
    * interpreted struct ordering) — identical to the Scala
    * `Ordering.Double.TotalOrdering` the typed heap used. NULLS RANK
    * FIRST: a null sort key, or a null field inside a struct key,
    * compares below every value, so it takes one of the `num` smallest
    * slots. Callers over external data filter or reject null keys
    * before this aggregate.
    */
  def collectTopK(sortKey: Column, num: Int): Column =
    column(new catalyst.expressions.aggregate.CollectTopK(expression(sortKey), num, true, 0, 0)
      .toAggregateExpression())

  /** The Spark schema of ONE parquet data file, read from its footer on
    * the driver: the schema Spark's inference derives when it touches a
    * single file (`ParquetFileFormat.mergeSchemasInParallel`: Spark's
    * own row-metadata schema when the writer stored one, else the
    * footer's message type through a converter configured exactly as
    * that inference configures it), without the one-task job the
    * inference runs to get there. The footer read skips row groups.
    */
  def parquetFooterSchema(spark: SparkSession, file: org.apache.hadoop.fs.FileStatus,
      hadoopConf: org.apache.hadoop.conf.Configuration): types.StructType = {
    import execution.datasources.parquet._
    val conf = spark.sessionState.conf
    val converter = new ParquetToSparkSchemaConverter(
      assumeBinaryIsString = conf.isParquetBinaryAsString,
      assumeInt96IsTimestamp = conf.isParquetINT96AsTimestamp,
      inferTimestampNTZ = conf.parquetInferTimestampNTZEnabled,
      nanosAsLong = conf.legacyParquetNanosAsLong,
      respectUnknownTypeAnnotation = conf.parquetReaderRespectUnknownTypeAnnotation)
    val footer = ParquetFooterReader.readFooter(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(file, hadoopConf),
      org.apache.parquet.format.converter.ParquetMetadataConverter.SKIP_ROW_GROUPS)
    ParquetFileFormat.readSchemaFromFooter(
      new org.apache.parquet.hadoop.Footer(file.getPath, footer), converter)
  }

  /** A parquet scan of exactly `files` with `dataSchema` — what
    * `spark.read.schema(dataSchema).parquet(paths)` builds, minus the
    * listing: the file index is the given statuses (no partition
    * columns; callers pass data files whose directories carry no
    * `k=v` names). The schema is made nullable as Spark's file-source
    * resolution makes it.
    */
  def readParquetFiles(spark: SparkSession, files: Seq[org.apache.hadoop.fs.FileStatus],
      dataSchema: types.StructType): DataFrame = {
    import execution.datasources._
    val relation = HadoopFsRelation(new FixedFileIndex(spark, files), new types.StructType(),
      dataSchema.asNullable, None, new parquet.ParquetFileFormat, Map.empty)(spark)
    spark.baseRelationToDataFrame(relation)
  }

  private final class FixedFileIndex(spark: SparkSession,
      files: Seq[org.apache.hadoop.fs.FileStatus])
      extends execution.datasources.PartitioningAwareFileIndex(spark, Map.empty, None) {
    override lazy val rootPaths: Seq[org.apache.hadoop.fs.Path] = files.map(_.getPath)
    override lazy val leafFiles =
      scala.collection.mutable.LinkedHashMap(files.map(f => f.getPath -> f): _*)
    override lazy val leafDirToChildrenFiles =
      Map.empty[org.apache.hadoop.fs.Path, Array[org.apache.hadoop.fs.FileStatus]]
    override def partitionSpec(): execution.datasources.PartitionSpec =
      execution.datasources.PartitionSpec.emptySpec
    override def refresh(): Unit = ()
    override def equals(o: Any): Boolean = o match {
      case f: FixedFileIndex => rootPaths.toSet == f.rootPaths.toSet
      case _ => false
    }
    override def hashCode(): Int = rootPaths.toSet.hashCode()
  }

  /** Whether Spark's file listing skips a child NAME (`_`/`.`-prefixed
    * bookkeeping, in-flight `._COPYING_` copies; the `_metadata`
    * summaries are kept) — the rule every file-source read applies.
    */
  def isHiddenFileName(name: String): Boolean =
    org.apache.spark.util.HadoopFSUtils.shouldFilterOutPathName(name)

  /** Wait for queued listener-bus events to be delivered — measurement
    * harnesses (OptProbe) tally task metrics through a SparkListener, and
    * the bus is async, so a read taken right after an action can miss
    * that action's tail events. Bounded (waitUntilEmpty throws on its
    * timeout) and fail-soft: a still-draining bus after 60 s means a
    * slightly stale tally, which must not abort a measurement sweep.
    */
  def flushListenerBus(spark: SparkSession): Unit =
    try spark.sparkContext.listenerBus.waitUntilEmpty(60000L)
    catch { case _: java.util.concurrent.TimeoutException => () }
}
