package graft.server

import java.util.UUID

import org.apache.hadoop.fs.Path
import org.apache.hadoop.mapreduce.{Job, TaskAttemptID}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.spark.sql.{Row, SparkSession, classic}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.catalog.CatalogTable
import org.apache.spark.sql.catalyst.util.CharVarcharUtils
import org.apache.spark.sql.execution.command.CommandUtils
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types.StructType

/** One batch appended as one parquet file, written in the driver: no
  * Spark job, no task, no committer — the Appender analog for COPY FROM
  * STDIN and CH `INSERT … FORMAT` ([[Engine.appendBatch]]).
  *
  * The writer is built as `FileFormatWriter` builds it
  * (`ParquetFileFormat.prepareWrite` over the session's Hadoop conf), so
  * compression, timestamp type and legacy-format confs apply exactly as
  * for `insertInto`. The file is written under a hidden `.part-…` name
  * in the table dir, which the file index ignores, and renamed in; a
  * crash leaves at most that hidden file, which boot reclaims
  * ([[Persistence.isAppendTemp]]). After the rename, cached plans over
  * the dir are rebuilt and the table stats updated, which also drops
  * the cached relation, as `InsertIntoHadoopFsRelationCommand` does.
  *
  * Only plain parquet tables qualify ([[target]]); every other target
  * keeps the Spark write path. */
object ParquetAppend {

  /** Rows per partition of the Spark write path's batch; a batch this
    * size or smaller is one task, and so one file, there too. */
  val MaxRows = 65536

  /** The catalog entry of `table` when a batch of `rows` rows into it
    * can be written here: a parquet table with no partition columns, no
    * buckets and no CHAR/VARCHAR column (whose padding and length checks
    * live in `insertInto`). None otherwise, also when the name does not
    * resolve to such a table. */
  def target(spark: SparkSession, table: String, rows: Int): Option[CatalogTable] = {
    if (rows > MaxRows) return None
    val catalog = spark.sessionState.catalog
    try {
      val ident = spark.sessionState.sqlParser.parseTableIdentifier(table)
      if (catalog.isTempView(ident)) None
      else Some(catalog.getTableMetadata(ident)).filter { t =>
        t.provider.exists(_.equalsIgnoreCase("parquet")) &&
          t.partitionColumnNames.isEmpty && t.bucketSpec.isEmpty &&
          !CharVarcharUtils.hasCharVarchar(CharVarcharUtils.getRawSchema(t.schema))
      }
    } catch { case scala.util.control.NonFatal(_) => None }
  }

  /** Append `rows` (values of `columns`, in order) to `table` as one
    * file. `schema` is the table's read schema; its columns missing
    * from `columns` are written null. Every row converts before the
    * file is opened, so a value the Spark path would reject fails with
    * nothing written. */
  def write(spark: SparkSession, table: CatalogTable, schema: StructType,
      columns: Seq[String], rows: Seq[Seq[Any]]): Unit = {
    val pos = schema.fieldNames.map(f => columns.indexWhere(_.equalsIgnoreCase(f)))
    val toCatalyst = CatalystTypeConverters.createToCatalystConverter(schema)
    val encoded = rows.map { r =>
      toCatalyst(Row.fromSeq(pos.toSeq.map(i => if (i < 0) null else r(i)))).asInstanceOf[InternalRow]
    }
    val session = spark.asInstanceOf[classic.SparkSession]
    val options = table.storage.properties
    val job = Job.getInstance(spark.sessionState.newHadoopConfWithOptions(options))
    val factory = new ParquetFileFormat().prepareWrite(spark, job, options, schema)
    val context = new TaskAttemptContextImpl(job.getConfiguration, new TaskAttemptID())
    val dir = new Path(table.location)
    val fs = dir.getFileSystem(job.getConfiguration)
    val name = s"part-00000-${UUID.randomUUID()}-c000${factory.getFileExtension(context)}"
    val tmp = new Path(dir, "." + name)
    try {
      val writer = factory.newInstance(tmp.toString, schema, context)
      try encoded.foreach(writer.write) finally writer.close()
      if (!fs.rename(tmp, new Path(dir, name)))
        throw new java.io.IOException(s"could not rename $tmp into $dir")
    } catch {
      case e: Throwable =>
        try fs.delete(tmp, false) catch { case scala.util.control.NonFatal(_) => }
        throw e
    }
    session.sharedState.cacheManager.recacheByPath(session, dir, fs)
    // drops stale stats and, in every branch, the cached relation
    CommandUtils.updateTableStats(session, table)
  }
}
