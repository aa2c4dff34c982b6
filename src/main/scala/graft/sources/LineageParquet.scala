package graft.sources

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable

import org.apache.hadoop.mapreduce.{Job, TaskAttemptContext}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, UnsafeProjection, XxHash64}
import org.apache.spark.sql.execution.datasources.{OutputWriter, OutputWriterFactory}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types.StructType
import org.apache.spark.util.AccumulatorV2

import SnapshotTable.BucketStat

/** What one parquet writer saw: per bucket value, the rows and the XOR of
  * their `xxhash64(<data columns>)`, for the data file at `file` (relative
  * to the batch dir — under `partitionBy` a task writing two blocks emits
  * the same part-XXXX leaf name in two dirs, so the leaf alone is no key). */
private[sources] final case class FileLineage(file: String, buckets: Vector[BucketStat])

/** Spark's parquet output, unchanged byte for byte, with each data file's
  * [[FileLineage]] folded from the exact rows handed to its writer. The
  * stats travel back in a per-commit accumulator, so only the committed
  * attempt of each write task counts (Spark merges a result task's
  * accumulator updates once, and never a failed attempt's), and the commit
  * needs no second scan of the files it just wrote. Write through
  * [[LineageParquetFormat.record]], which owns the accumulator. */
private[sources] final class LineageParquetFormat extends ParquetFileFormat {
  override def prepareWrite(spark: SparkSession, job: Job, options: Map[String, String],
      dataSchema: StructType): OutputWriterFactory = {
    import LineageParquetFormat._
    val acc = open.get(options(CommitKey))
    require(acc != null, s"no open lineage commit ${options(CommitKey)}")
    new LineageWriterFactory(super.prepareWrite(spark, job, options, dataSchema), acc,
      dataSchema.fieldIndex(options(BucketKey)))
  }
}

private[sources] object LineageParquetFormat {
  private val CommitKey = "graft.lineage.commit"
  private val BucketKey = "graft.lineage.bucket"
  /** Accumulators of the commits writing right now, by commit id. */
  private val open = new ConcurrentHashMap[String, LineageAccumulator]()

  /** Run `write(options)` — a `DataFrameWriter.save` through this format
    * with `options` set — and return the lineage of every file it
    * committed. The accumulator lives only for this call, so concurrent
    * commits never share one. `bucketCol` must be a non-null long. */
  def record(spark: SparkSession, bucketCol: String)(
      write: Map[String, String] => Unit): Vector[FileLineage] = {
    val acc = new LineageAccumulator
    spark.sparkContext.register(acc)
    val id = java.util.UUID.randomUUID().toString
    open.put(id, acc)
    try write(Map(CommitKey -> id, BucketKey -> bucketCol))
    finally open.remove(id)
    acc.value
  }
}

private final class LineageAccumulator
    extends AccumulatorV2[FileLineage, Vector[FileLineage]] {
  @volatile private var files = Vector.empty[FileLineage]
  override def isZero: Boolean = files.isEmpty
  override def copy(): LineageAccumulator = { val a = new LineageAccumulator; a.files = files; a }
  override def reset(): Unit = files = Vector.empty
  override def add(f: FileLineage): Unit = synchronized { files :+= f }
  override def merge(other: AccumulatorV2[FileLineage, Vector[FileLineage]]): Unit =
    synchronized { files ++= other.value }
  override def value: Vector[FileLineage] = files
}

private final class LineageWriterFactory(parquet: OutputWriterFactory,
    acc: LineageAccumulator, bucketIdx: Int) extends OutputWriterFactory {
  override def getFileExtension(ctx: TaskAttemptContext): String = parquet.getFileExtension(ctx)
  override def newInstance(path: String, dataSchema: StructType,
      ctx: TaskAttemptContext): OutputWriter = {
    // the committer writes under <batch dir>/_temporary/…/<attempt id>/ and
    // moves what follows the attempt dir to the batch dir on task commit
    val marker = s"/${ctx.getTaskAttemptID}/"
    val at = path.indexOf(marker)
    val file = if (at < 0) path else path.substring(at + marker.length)
    new LineageWriter(parquet.newInstance(path, dataSchema, ctx), file, dataSchema, bucketIdx, acc)
  }
}

private final class LineageWriter(parquet: OutputWriter, file: String,
    dataSchema: StructType, bucketIdx: Int, acc: LineageAccumulator) extends OutputWriter {
  // the very expression `xxhash64(<data columns>)` evaluates
  private val rowHash = UnsafeProjection.create(Seq(new XxHash64(
    dataSchema.fields.toSeq.zipWithIndex.map { case (f, i) => BoundReference(i, f.dataType, f.nullable) })))
  private val buckets = mutable.LongMap.empty[Array[Long]] // bucket -> (rows, xor)

  override def write(row: InternalRow): Unit = {
    parquet.write(row)
    if (row.isNullAt(bucketIdx))
      throw new IllegalArgumentException(s"null bucket value in a row written to $file")
    val st = buckets.getOrElseUpdate(row.getLong(bucketIdx), new Array[Long](2))
    st(0) += 1
    st(1) ^= rowHash(row).getLong(0)
  }

  override def close(): Unit = {
    parquet.close()
    acc.add(FileLineage(file,
      buckets.iterator.map { case (b, st) => BucketStat(b, st(0), st(1)) }.toVector))
  }

  override def path(): String = parquet.path()
}
