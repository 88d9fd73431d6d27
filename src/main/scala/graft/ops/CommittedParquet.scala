package graft.ops

import org.apache.hadoop.fs.{FileStatus, Path => HPath}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.{FileStatusCache, HadoopFsRelation, InMemoryFileIndex}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StructType}

import java.nio.file.{Files, Path}
import java.nio.file.attribute.BasicFileAttributes

import scala.jdk.CollectionConverters._

/** Parquet reader over files the driver already knows — the engine's
  * own committed files, named by a commit manifest or a java.nio
  * listing of the version directories a store resolved.
  *
  * `spark.read.parquet(paths)` pays up to three Spark jobs before the
  * query runs: a parallel listing job once it names more than
  * `parallelPartitionDiscovery.threshold` paths (32), and a footer job
  * to infer the schema — at the reference's per-block regime these
  * fixed costs, not the data, set a point lookup's latency. Here the
  * file statuses come from the driver's listing through a file-status
  * cache private to the frame's own index (Spark's session-global
  * cache is never written), and the schema is the Spark row schema
  * one file footer carries, read on the driver. The frame is the
  * `HadoopFsRelation` `spark.read` builds: same partition-column
  * inference against `basePath`, data columns nullable, so rows,
  * column order, types and pruning are those of the replaced read.
  *
  * Only files Spark itself wrote qualify: a file without the Spark row
  * schema is refused, never read through a second path.
  */
object CommittedParquet {

  /** Footer key under which Spark's parquet writer stores the row
    * schema as JSON. */
  val RowMetadataKey = "org.apache.spark.sql.parquet.row.metadata"

  /** Data files under `dir`, recursively, skipping every path segment
    * below `dir` that starts with `_` or `.` (commit markers, checksum
    * files, staging dirs and the `_fp` sidecars) — the files Spark's
    * own listing of `dir` yields. Empty for a missing `dir`. */
  def dataFiles(dir: Path): Seq[Path] =
    if (!Files.exists(dir)) Seq.empty
    else Fs.walk(dir).filter(f => Files.isRegularFile(f) &&
      dir.relativize(f).iterator().asScala.forall { s =>
        val n = s.toString
        !n.startsWith("_") && !n.startsWith(".")
      })

  /** A parquet frame over exactly `files`. With `basePath`, the
    * `k=v` directories between it and each file become partition
    * columns (`spark.read.option("basePath", …)`); without it each
    * file's own directory is its base and there are none
    * (`spark.read.parquet(dirs)`). `files` may be empty when
    * `schemaFile` names a file to take the schema from. */
  def read(spark: SparkSession, files: Seq[Path],
           basePath: Option[String] = None,
           schemaFile: Option[Path] = None): DataFrame = {
    val schemaSource = files.headOption.orElse(schemaFile).getOrElse(
      throw new IllegalArgumentException(
        "committed parquet read over no files and no schema file"))
    val hadoopConf = spark.sessionState.newHadoopConf()
    val fs = new HPath(schemaSource.toAbsolutePath.toString)
      .getFileSystem(hadoopConf)
    def status(p: Path): FileStatus = {
      val q = fs.makeQualified(new HPath(p.toAbsolutePath.toString))
      val a = Files.readAttributes(p, classOf[BasicFileAttributes])
      new FileStatus(a.size, false, 1, fs.getDefaultBlockSize(q),
        a.lastModifiedTime.toMillis, q)
    }
    val statuses = files.map(status)
    // one root per leaf directory, each answered from the frame's own
    // cache with exactly the named files — the index lists nothing
    val leaves: Map[HPath, Array[FileStatus]] =
      statuses.groupBy(_.getPath.getParent).map { case (d, in) => d -> in.toArray }
    val cache = new FileStatusCache {
      override def getLeafFiles(path: HPath): Option[Array[FileStatus]] =
        leaves.get(path)
      override def putLeafFiles(path: HPath, in: Array[FileStatus]): Unit = ()
      override def invalidateAll(): Unit = ()
    }
    val options = basePath.map(b => "basePath" -> b).toMap
    val index = new InMemoryFileIndex(spark,
      statuses.map(_.getPath.getParent).distinct, options, None, cache)
    val dataSchema = asNullable(rowSchema(status(schemaSource), hadoopConf))
      .asInstanceOf[StructType]
    spark.baseRelationToDataFrame(HadoopFsRelation(index,
      index.partitionSchema, dataSchema, None, new ParquetFileFormat(),
      options)(spark))
  }

  /** The Spark row schema in one file's footer; refuses a file that
    * does not carry it. */
  private def rowSchema(file: FileStatus,
                        conf: org.apache.hadoop.conf.Configuration): StructType = {
    val reader = ParquetFileReader.open(HadoopInputFile.fromStatus(file, conf))
    val json = try reader.getFooter.getFileMetaData.getKeyValueMetaData
      .get(RowMetadataKey)
    finally reader.close()
    if (json == null) throw new IllegalStateException(
      s"${file.getPath} carries no Spark row schema ($RowMetadataKey) — " +
        "only parquet written by Spark is read as committed")
    DataType.fromJson(json).asInstanceOf[StructType]
  }

  /** Every field, element and value nullable, as `spark.read` types
    * the data columns of a file source. */
  private def asNullable(dt: DataType): DataType = dt match {
    case s: StructType => StructType(s.fields.map(f =>
      f.copy(dataType = asNullable(f.dataType), nullable = true)))
    case a: ArrayType => ArrayType(asNullable(a.elementType), containsNull = true)
    case m: MapType => MapType(asNullable(m.keyType),
      asNullable(m.valueType), valueContainsNull = true)
    case other => other
  }
}
