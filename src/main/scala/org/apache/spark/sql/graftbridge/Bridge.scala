package org.apache.spark.sql.graftbridge

import org.apache.hadoop.fs.{FileStatus, LocatedFileStatus, Path}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.util.CaseInsensitiveMap
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.errors.QueryCompilationErrors
import org.apache.spark.sql.execution.datasources.{DataSourceUtils, FileFormat, FileStatusCache, HadoopFsRelation, InMemoryFileIndex}
import org.apache.spark.sql.execution.datasources.csv.CSVFileFormat
import org.apache.spark.sql.execution.datasources.json.JsonFileFormat
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.SchemaUtils

/** Column ⇄ Expression bridge for custom Catalyst expressions.
  *
  * Spark 4 made the converters `private[sql]`
  * (`org.apache.spark.sql.classic.ExpressionUtils`); placing this one-file
  * shim inside the `org.apache.spark.sql` package tree is the standard
  * pattern extension libraries use to expose native expressions as Columns.
  */
object Bridge {
  def column(e: Expression): Column     = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Strip the propagated origin statistics from a just-checkpointed frame,
    * keeping its RDD, output partitioning and ordering.
    *
    * `Dataset.localCheckpoint` builds a `LogicalRDD` that CARRIES the
    * originating plan's estimated `sizeInBytes`. In an iterative loop whose
    * round output self-joins (connected components' pointer jump, any
    * fixpoint with two consumers of the previous round), the estimate
    * SQUARES every round — a BigInt whose digit count doubles per round,
    * and by round ~25 the driver spends minutes inside
    * `SizeInBytesOnlyStatsPlanVisitor` multiplying million-digit numbers
    * (measured: a 500k-node components run pinned one core for 19 minutes
    * at 4% total CPU, all in `BigInteger.multiplyToomCook3`). Dropping
    * `originStats` resets the frame to `defaultSizeInBytes`, which is what
    * a fresh scan would report — loops stay O(1) at plan time. Joins
    * against such frames won't auto-broadcast (the conservative default),
    * which is fine for loop code that places explicit size-gated hints.
    */
  def dropOriginStats(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    df.queryExecution.analyzed match {
      case lr: org.apache.spark.sql.execution.LogicalRDD =>
        val session = df.sparkSession.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
        org.apache.spark.sql.classic.Dataset.ofRows(
          session,
          new org.apache.spark.sql.execution.LogicalRDD(
            lr.output, lr.rdd, lr.outputPartitioning, lr.outputOrdering,
            lr.isStreaming, lr.stream)(session, None, None))
      case _ => df
    }

  /** Rebuild a Dataset from its logical plan so a NEW QueryExecution is
    * created under the CURRENT session conf — how an action (write) sees a
    * conf change made after the frame was constructed. Dev tooling
    * (PlanDump) uses this to print the plan a gated action actually runs;
    * no query path calls it.
    */
  def reanalyze(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val session = df.sparkSession.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    org.apache.spark.sql.classic.Dataset.ofRows(session, df.queryExecution.logical)
  }

  /** Stamp a just-checkpointed frame's `LogicalRDD` with the hash
    * partitioning its rows PHYSICALLY have.
    *
    * Under AQE, `Dataset.localCheckpoint` loses the plan's output
    * partitioning (the adaptive root reports `UnknownPartitioning` at
    * checkpoint time), so a loop that carefully laid its tables out with
    * `repartition(n, key)` pays a fresh ENSURE_REQUIREMENTS exchange on
    * EVERY round's join anyway — the layout exists on the cluster but the
    * planner can't see it. This restores the declaration. Callers must
    * guarantee the physical layout really is `hashpartitioning(keys, n)`:
    * produce the frame with an EXPLICIT-count `repartition(n, keys)`
    * immediately before the checkpoint (an explicit count is never
    * AQE-coalesced; a coalesced exchange's partitions are unions of hash
    * buckets and must NOT be stamped).
    */
  def stampHashPartitioning(
      df: org.apache.spark.sql.DataFrame,
      keys: Seq[String],
      numPartitions: Int): org.apache.spark.sql.DataFrame =
    df.queryExecution.analyzed match {
      case lr: org.apache.spark.sql.execution.LogicalRDD =>
        require(lr.rdd.getNumPartitions == numPartitions,
          s"stampHashPartitioning: rdd has ${lr.rdd.getNumPartitions} " +
            s"partitions, caller claims $numPartitions")
        val session = df.sparkSession.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
        val attrs = keys.map(k => lr.output.find(_.name == k).getOrElse(
          throw new IllegalArgumentException(
            s"stampHashPartitioning: no output column named $k")))
        org.apache.spark.sql.classic.Dataset.ofRows(
          session,
          new org.apache.spark.sql.execution.LogicalRDD(
            lr.output, lr.rdd,
            org.apache.spark.sql.catalyst.plans.physical.HashPartitioning(
              attrs, numPartitions),
            lr.outputOrdering, lr.isStreaming, lr.stream)(session, None, None))
      case _ => df
    }

  /** Read files the caller has already listed (`csv`, `json` or `parquet`)
    * as one file-source relation, without Spark listing them again.
    *
    * `spark.read.format(f).load(paths: _*)` re-lists every path it is
    * given, and above `spark.sql.sources.parallelPartitionDiscovery.threshold`
    * (32) paths it does so as a distributed job with one task per file. Here
    * the file index is seeded from `files`' own statuses, so building the
    * relation lists nothing. The rest is what `DataSource.resolveRelation`
    * does for a read: schema inference when `schema` is None (a parquet
    * footer job, a CSV/JSON sampling pass), a nullable data schema, the
    * duplicate-column and `verifySchema` checks, and a `LogicalRelation`,
    * so `_metadata` columns resolve exactly as after `spark.read`.
    */
  def readListed(
      spark: SparkSession,
      format: String,
      files: Seq[FileStatus],
      schema: Option[StructType],
      options: Map[String, String]): DataFrame = {
    val session = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val fileFormat: FileFormat = format match {
      case "csv"     => new CSVFileFormat
      case "json"    => new JsonFileFormat
      case "parquet" => new ParquetFileFormat
      case other     => throw new IllegalArgumentException(s"readListed: unsupported format $other")
    }
    // Block locations for split locality, attached as Spark's own listing
    // attaches them to a plain status (this constructor skips the
    // permission lookup, which the local file system serves by a subprocess)
    lazy val hadoopConf = session.sessionState.newHadoopConfWithOptions(options)
    def located(f: FileStatus): FileStatus = f match {
      case _: LocatedFileStatus => f
      case _ if session.sessionState.conf.ignoreDataLocality => f
      case _ =>
        val fs = f.getPath.getFileSystem(hadoopConf)
        new LocatedFileStatus(f.getLen, f.isDirectory, f.getReplication, f.getBlockSize,
          f.getModificationTime, 0, null, null, null, null, f.getPath,
          fs.getFileBlockLocations(f, 0, f.getLen))
    }
    val leaves = files.map(f => f.getPath -> Array(located(f))).toMap
    val listed = new FileStatusCache {
      override def getLeafFiles(path: Path): Option[Array[FileStatus]] = leaves.get(path)
      override def putLeafFiles(path: Path, leafFiles: Array[FileStatus]): Unit = ()
      override def invalidateAll(): Unit = ()
    }
    val index = new InMemoryFileIndex(session, files.map(_.getPath), options, schema, listed)
    val dataSchema = schema
      .orElse(fileFormat.inferSchema(session, options, index.allFiles()))
      .getOrElse(throw QueryCompilationErrors.dataSchemaNotSpecifiedError(format))
    val relation = HadoopFsRelation(index, index.partitionSchema, dataSchema.asNullable,
      bucketSpec = None, fileFormat, CaseInsensitiveMap(options))(session)
    val resolver = session.sessionState.conf.resolver
    SchemaUtils.checkSchemaColumnNameDuplication(relation.dataSchema, resolver)
    SchemaUtils.checkSchemaColumnNameDuplication(relation.partitionSchema, resolver)
    DataSourceUtils.verifySchema(fileFormat, relation.dataSchema, readOnly = true)
    session.baseRelationToDataFrame(relation)
  }
}
