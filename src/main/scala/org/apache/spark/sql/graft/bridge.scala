package org.apache.spark.sql.graft

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.hadoop.mapreduce.{Job, TaskAttemptID, TaskType}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession, classic}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.{Alias, Expression}
import org.apache.spark.sql.catalyst.optimizer.ReplaceExpressions
import org.apache.spark.sql.catalyst.plans.logical.{OneRowRelation, Project}
import org.apache.spark.sql.classic.{ColumnNodeToExpressionConverter, ExpressionUtils}
import org.apache.spark.sql.execution.datasources.{FileStatusCache, HadoopFsRelation,
  InMemoryFileIndex, LogicalRelation, PartitionSpec}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types.StructType

/** Column ⇄ Expression bridge for custom Catalyst expressions, a column's
  * value on the driver, `StructType.asNullable`, a parquet read of a given
  * file list and a parquet write of rows held on the driver.
  * `ExpressionUtils` is `private[sql]` in Spark 4, so this lives in the
  * spark.sql package tree — the standard extension-library pattern. */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** The value of `c`, a column over literals, as a `Row` holds it: resolved
    * as `spark`'s analyzer resolves it (its functions, its session time
    * zone) and evaluated on the driver, with no optimizer or physical plan. */
  def eval(spark: SparkSession, c: Column): Any = {
    val session = spark.asInstanceOf[classic.SparkSession]
    session.withActive {
      val e = ReplaceExpressions(session.sessionState.analyzer.execute(
        Project(Seq(Alias(ColumnNodeToExpressionConverter(c.node), "v")()), OneRowRelation())))
        .expressions.head
      CatalystTypeConverters.convertToScala(e.eval(), e.dataType)
    }
  }

  /** `s` with every field, nested ones included, nullable: the schema a
    * file-source read reports (`asNullable` is `private[spark]`). */
  def asNullable(s: StructType): StructType = s.asNullable

  /** The rows of the parquet files `dirs` lists (directory → its files'
    * names and byte lengths), read with `schema`: the relation
    * `spark.read.schema(schema).parquet(dirs)` plans, but its file index
    * takes the files from `dirs` instead of listing the directories. So it
    * runs no listing job, and a listed file that is gone fails the scan
    * (`FAILED_READ_FILE.FILE_NOT_EXIST`) instead of reading as no rows. */
  def parquetFiles(spark: SparkSession, schema: StructType,
      dirs: Seq[(String, Seq[(String, Long)])]): DataFrame = {
    val session = spark.asInstanceOf[classic.SparkSession]
    val fs = FileSystem.getLocal(session.sessionState.newHadoopConf())
    val listed = dirs.map { case (d, files) =>
      val dir = fs.makeQualified(new Path(d))
      dir -> files.map(f => new FileStatus(f._2, false, 0, 0L, 0L, new Path(dir, f._1))).toArray
    }
    val cache = new FileStatusCache {
      override def getLeafFiles(p: Path) = listed.find(_._1 == p).map(_._2)
      def putLeafFiles(p: Path, files: Array[FileStatus]): Unit = ()
      def invalidateAll(): Unit = ()
    }
    val index = new InMemoryFileIndex(session, listed.map(_._1), Map.empty, Some(schema),
      cache, Some(PartitionSpec.emptySpec))
    classic.Dataset.ofRows(session, LogicalRelation(HadoopFsRelation(index,
      new StructType(), schema, None, new ParquetFileFormat, Map.empty)(session)))
  }

  /** Writes `rows` into directory `dir` as one parquet file on the calling
    * thread, with the writer (and settings) a `DataFrame.write.parquet` task
    * uses, so the file equals a one-partition write's; returns its name. */
  def writeParquet(spark: SparkSession, schema: StructType, rows: Seq[Row],
      dir: String): String = {
    val session = spark.asInstanceOf[classic.SparkSession]
    val job = Job.getInstance(session.sessionState.newHadoopConf())
    val factory = new ParquetFileFormat().prepareWrite(session, job, Map.empty, schema)
    val ctx = new TaskAttemptContextImpl(job.getConfiguration,
      new TaskAttemptID("", 0, TaskType.MAP, 0, 0))
    val name = s"part-00000-${java.util.UUID.randomUUID}-c000${factory.getFileExtension(ctx)}"
    val writer = factory.newInstance(new Path(dir, name).toString, schema, ctx)
    val toInternal = CatalystTypeConverters.createToCatalystConverter(schema)
    try rows.foreach(r => writer.write(toInternal(r).asInstanceOf[InternalRow]))
    finally writer.close()
    name
  }
}
