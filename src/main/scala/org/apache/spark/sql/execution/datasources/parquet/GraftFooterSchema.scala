package org.apache.spark.sql.execution.datasources.parquet

import java.io.FileNotFoundException

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.parquet.hadoop.ParquetFileWriter
import org.apache.spark.deploy.SparkHadoopUtil
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.StructType
import org.apache.spark.util.HadoopFSUtils

/** Driver-side parquet schema resolution. `spark.read.parquet(path)`
  * without a schema infers it with a Spark job whose only work is one
  * footer read (`mergeSchemasInParallel`); this reads the same footer on
  * the driver and converts it with Spark's own code under the session's
  * conf (`readParquetFootersInParallel` + `readSchema`, both
  * `private[parquet]`), so the types match inference by construction —
  * `nanosAsLong`, `binaryAsString`, NTZ inference and the stored Spark
  * schema included.
  */
object GraftFooterSchema {

  /** The data schema `spark.read.parquet(path)` would infer, or None when
    * `path` holds no parquet file (missing path, empty directory).
    *
    * The file read is the one inference reads without `mergeSchema`: a
    * `_common_metadata` then `_metadata` summary at the root, else the
    * first data file in path order. Directories are walked depth-first
    * and stop at that first file; names Spark's listing hides (`_x`,
    * `.x`) are skipped; partition directories (`k=v`) are entered, and
    * the partition columns are left to Spark's path discovery. */
  def read(spark: SparkSession, path: String): Option[StructType] = {
    val conf = spark.sessionState.newHadoopConf()
    val pattern = new Path(path)
    val fs = pattern.getFileSystem(conf)
    val roots = SparkHadoopUtil.get.globPathIfNecessary(fs, fs.makeQualified(pattern))
      .flatMap(p => try Some(fs.getFileStatus(p)) catch {
        case _: FileNotFoundException => None
      })
    firstFile(fs, roots).flatMap { f =>
      ParquetFileFormat.readSchema(ParquetFileFormat.readParquetFootersInParallel(
        conf, Seq(f), spark.sessionState.conf.ignoreCorruptFiles), spark)
    }
  }

  private val summaries =
    Seq(ParquetFileWriter.PARQUET_COMMON_METADATA_FILE, ParquetFileWriter.PARQUET_METADATA_FILE)

  private def firstFile(fs: FileSystem, roots: Seq[FileStatus]): Option[FileStatus] = {
    val top = roots.flatMap(r => if (r.isDirectory) visible(fs, r.getPath) else Seq(r))
    summaries.iterator.flatMap(n => top.find(t => t.isFile && t.getPath.getName == n))
      .nextOption().orElse(firstLeaf(fs, top))
  }

  /** The data file with the smallest path string: a directory sorts by
    * its path plus `/`, the prefix of all its leaves' paths, so
    * depth-first in this order meets data files in the order Spark's
    * listing sorts them. */
  private def firstLeaf(fs: FileSystem, entries: Seq[FileStatus]): Option[FileStatus] =
    entries.filterNot(e => e.isFile && summaries.contains(e.getPath.getName))
      .sortBy(e => e.getPath.toString + (if (e.isDirectory) "/" else ""))
      .iterator.flatMap(e => if (e.isFile) Some(e) else firstLeaf(fs, visible(fs, e.getPath)))
      .nextOption()

  /** A directory's children less the names Spark's listing hides. */
  private def visible(fs: FileSystem, dir: Path): Seq[FileStatus] =
    fs.listStatus(dir).toSeq.filterNot(c => HadoopFSUtils.shouldFilterOutPathName(c.getPath.getName))
}
