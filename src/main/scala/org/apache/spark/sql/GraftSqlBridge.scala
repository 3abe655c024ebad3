package org.apache.spark.sql

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.util.HadoopInputFile

import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Statistics}
import org.apache.spark.sql.catalyst.plans.logical.statsEstimation.EstimationUtils
import org.apache.spark.sql.classic.{Dataset => CDataset, SparkSession => CSparkSession}
import org.apache.spark.sql.execution.{LogicalRDD, QueryExecution}
import org.apache.spark.sql.execution.datasources.{FileStatusCache, HadoopFsRelation, InMemoryFileIndex}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetFooterReader, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.types.StructType

/** Bridge into `private[sql]` constructors of the classic (non-Connect) Spark
  * implementation. The reference builds its DataFrame by wrapping a
  * `LogicalPlan` and reconstructing the frame
  * (`/root/reference/src/dataframe/sample.rs:40-50`); Spark's analog —
  * `Dataset.ofRows` — is package-private, so this one-file shim in the
  * `org.apache.spark.sql` package is the only place we reach past the public
  * API (SNIPPETS.md pattern [3], Apache-2.0 public pattern).
  */
object GraftSqlBridge {
  def classicSession(spark: SparkSession): CSparkSession =
    spark.asInstanceOf[CSparkSession]

  /** Build a DataFrame from a raw logical plan (analog of Dataset.ofRows). */
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    CDataset.ofRows(classicSession(spark), plan)

  /** Fork an isolated child session sharing the SparkContext and cloning
    * the session state (conf, function registry, temp views) — session
    * confs are per-session, so a conf the child sets can never leak into
    * writes running concurrently on the parent. Classic-only
    * (`cloneSession` is `private[sql]`, hence it lives in this shim). */
  def forkSession(spark: SparkSession): SparkSession =
    classicSession(spark).cloneSession()

  /** The analyzed logical plan underlying a DataFrame. */
  def logicalPlan(df: DataFrame): LogicalPlan =
    df.asInstanceOf[CDataset[Row]].queryExecution.analyzed

  def queryExecution(df: DataFrame): QueryExecution =
    df.asInstanceOf[CDataset[Row]].queryExecution

  /** A `localCheckpoint` leaf restated with its exact row count, known once
    * an action has run over it. A leaf otherwise carries the estimate of
    * the plan it was cut from — for a join product, orders of magnitude
    * past a size gate. */
  def countedLeaf(leaf: DataFrame, rows: Long): DataFrame = {
    val l = logicalPlan(leaf).asInstanceOf[LogicalRDD]
    val stats = Statistics(EstimationUtils.getSizePerRow(l.output) * rows,
                           Some(BigInt(rows)))
    ofRows(leaf.sparkSession,
      LogicalRDD(l.output, l.rdd, l.outputPartitioning, l.outputOrdering,
                 l.isStreaming)(classicSession(leaf.sparkSession), Some(stats)))
  }

  /** Idempotently install graft planner strategies on an existing session
    * (for sessions not built via `SparkSession.builder().withExtensions`):
    * a strategy the session's planner already holds, injected or added
    * here, is not added again.
    */
  def ensureStrategy(
      spark: SparkSession,
      strategy: org.apache.spark.sql.execution.SparkStrategy): Unit = {
    val session = classicSession(spark)
    if (!session.sessionState.planner.strategies.contains(strategy)) {
      val exp = session.experimental
      exp.extraStrategies = exp.extraStrategies :+ strategy
    }
  }

  /** Idempotently add an optimizer rule to an existing session (post-hoc
    * analog of `SparkSessionExtensions.injectOptimizerRule`, and a no-op
    * when that injection already installed it).
    */
  def ensureOptimizerRule(
      spark: SparkSession,
      rule: org.apache.spark.sql.catalyst.rules.Rule[
        org.apache.spark.sql.catalyst.plans.logical.LogicalPlan]): Unit = {
    val session = classicSession(spark)
    val exp = session.experimental
    if (!exp.extraOptimizations.contains(rule) &&
        !session.sessionState.optimizer.extendedOperatorOptimizationRules
          .contains(rule)) {
      exp.extraOptimizations = exp.extraOptimizations :+ rule
    }
  }

  /** Column ⇄ catalyst Expression (classic implementation only). */
  def columnOf(e: org.apache.spark.sql.catalyst.expressions.Expression): Column =
    org.apache.spark.sql.classic.ExpressionUtils.column(e)

  def expressionOf(c: Column): org.apache.spark.sql.catalyst.expressions.Expression =
    org.apache.spark.sql.classic.ExpressionUtils.expression(c)

  /** Idempotently register a SQL function on an existing session (the
    * post-hoc analog of `SparkSessionExtensions.injectFunction`).
    */
  def ensureFunction(
      spark: SparkSession,
      name: String,
      builder: Seq[org.apache.spark.sql.catalyst.expressions.Expression] =>
        org.apache.spark.sql.catalyst.expressions.Expression): Unit = {
    val reg = classicSession(spark).sessionState.functionRegistry
    val id = org.apache.spark.sql.catalyst.FunctionIdentifier(name)
    if (!reg.functionExists(id)) {
      reg.registerFunction(
        id,
        new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
          "graft.functions", name),
        builder)
    }
  }

  /** A parquet scan of exactly `files`, planned from what the caller
    * already knows instead of from storage: the leaf statuses come
    * pre-filled into the file index's status cache (no listing, so no
    * parallel-listing job past `parallelPartitionDiscovery.threshold`
    * files) and `schema` is the data schema (no footer-inference job).
    * `basePath`, when given, keeps the `k=v` directory segments between
    * it and the files as partition columns, inferred from the paths
    * alone exactly as `spark.read.option("basePath", …)` does, so
    * partition pruning and dynamic partition pruning plan unchanged.
    * The statuses' paths must be qualified (`FileSystem.makeQualified`),
    * because they are the cache keys the index looks its root paths up
    * under. */
  def parquetScan(spark: SparkSession, files: Seq[FileStatus],
                  schema: StructType, basePath: Option[String]): DataFrame = {
    val session = classicSession(spark)
    val known: Map[Path, Array[FileStatus]] =
      files.map(f => f.getPath -> Array(f)).toMap
    // immutable files under unique names: nothing to invalidate
    val cache = new FileStatusCache {
      override def getLeafFiles(path: Path): Option[Array[FileStatus]] =
        known.get(path)
      override def putLeafFiles(path: Path, leaf: Array[FileStatus]): Unit = ()
      override def invalidateAll(): Unit = ()
    }
    val options = basePath.map(b => Map("basePath" -> b)).getOrElse(Map.empty)
    val index = new InMemoryFileIndex(session, files.map(_.getPath), options,
                                      None, cache)
    session.baseRelationToDataFrame(HadoopFsRelation(index,
      index.partitionSchema, schema.asNullable, None, new ParquetFileFormat,
      options)(session))
  }

  /** The union schema of parquet `files`, read from their footers by
    * driver threads (no Spark job) — what `mergeSchema = true` inference
    * computes, for files whose schema nothing recorded. */
  def parquetFooterSchema(spark: SparkSession,
                          files: Seq[FileStatus]): StructType = {
    val conf = spark.sparkContext.hadoopConfiguration
    val converter =
      new ParquetToSparkSchemaConverter(classicSession(spark).sessionState.conf)
    require(files.nonEmpty, "parquetFooterSchema: no files")
    org.apache.spark.util.ThreadUtils.parmap(files, "graft-footer", 8) { f =>
      ParquetFileFormat.readSchemaFromFooter(
        new Footer(f.getPath, ParquetFooterReader.readFooter(
          HadoopInputFile.fromStatus(f, conf),
          ParquetMetadataConverter.NO_FILTER)),
        converter)
    }.distinct.reduce(mergeSchemas)
  }

  /** Union of two schemas, fields of `a` first (the merge that
    * `mergeSchema = true` applies across files). */
  def mergeSchemas(a: StructType, b: StructType): StructType = a.merge(b)
}
