package graft.sources

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat,
  ParquetFooterReader, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.types.StructType
import scala.util.control.NonFatal

/** Parquet reads that PLAN WITHOUT A SPARK JOB. A schema-less
  * `spark.read.parquet(paths)` infers its schema with a one-task Spark
  * job that opens one footer (`ParquetUtils.inferSchema` →
  * `mergeSchemasInParallel`); on a store probed far more often than it
  * is rewritten that job is a fixed cost of every look-up. This helper
  * reads the same footer on the driver and hands Spark the schema:
  * `spark.read.schema(s).parquet(paths: _*)`.
  *
  * Which file: Spark's inference (without `mergeSchema`) sorts the
  * file index's files by full path string and reads the FIRST data
  * file, so this does the same over the same files: the leaves of
  * `paths`, listed recursively, without the names Spark's listing hides
  * (`_`-prefixed without `=`, `.`-prefixed, `._COPYING_`), smallest by
  * qualified path string. Spark's file index holds every leaf when the
  * roots have no subdirectory, when every subdirectory is a partition
  * (`k=v`) dir, or with `recursiveFileLookup`; any other layout falls
  * back (below).
  * The schema is that file's Spark schema from its footer key-value
  * metadata (every Spark-written file carries it), else the footer's
  * parquet schema through a converter configured exactly as the
  * inference job's — `ParquetFileFormat.readSchemaFromFooter`, the
  * function the job itself runs. So the result equals the inferred
  * schema, partition columns included: those are still inferred by
  * Spark from the directory names and appended last.
  *
  * Anything outside that model falls back to plain
  * `spark.read.parquet`, so its behaviour (and its errors) stay
  * Spark's: a summary file (`_metadata`, `_common_metadata`, which
  * Spark reads first), non-`k=v` subdirectories without
  * `recursiveFileLookup`, no data file (Spark's
  * `UNABLE_TO_INFER_SCHEMA`), or any failure while listing or reading
  * the footer — a missing path (`PATH_NOT_FOUND`), a glob, a store dir
  * vacuumed away under the listing.
  *
  * `Store.readEvolved` stays on Spark's path: `mergeSchema` unions the
  * footers of EVERY file, which is exactly the per-file work this
  * helper exists to skip.
  */
object ParquetRead {

  def apply(spark: SparkSession, path: String): DataFrame =
    apply(spark, Seq(path))

  /** `spark.read.parquet(paths: _*)`, planned without a Spark job.
    * `listed`: the caller's own `listStatus` of every path in `paths`,
    * concatenated, reused instead of a second listing.
    */
  def apply(spark: SparkSession, paths: Seq[String],
      recursiveFileLookup: Boolean = false,
      listed: Option[Seq[FileStatus]] = None): DataFrame = {
    val reader = spark.read.option("recursiveFileLookup", recursiveFileLookup)
    firstFileSchema(spark, paths, recursiveFileLookup, listed) match {
      case Some(s) => reader.schema(s).parquet(paths: _*)
      case None => reader.parquet(paths: _*)
    }
  }

  /** Names Spark's file listing skips (`HadoopFSUtils
    * .shouldFilterOutPathName`). */
  private def hidden(name: String): Boolean =
    ((name.startsWith("_") && !name.contains("=")) ||
      name.startsWith(".") || name.endsWith("._COPYING_")) &&
      !name.startsWith("_common_metadata") && !name.startsWith("_metadata")

  private def firstFileSchema(spark: SparkSession, paths: Seq[String],
      recursiveFileLookup: Boolean,
      listed: Option[Seq[FileStatus]]): Option[StructType] =
    try {
      val conf = spark.sessionState.newHadoopConf()
      def list(p: Path): Seq[FileStatus] =
        p.getFileSystem(conf).listStatus(p).toSeq
      def visible(ss: Seq[FileStatus]): Seq[FileStatus] =
        ss.filterNot(s => hidden(s.getPath.getName))
      // The leaves below dir `d`, and whether `d` and every dir below it
      // are partition (`k=v`) dirs.
      def below(d: FileStatus): (Seq[FileStatus], Boolean) = {
        val (sub, leaf) = visible(list(d.getPath)).partition(_.isDirectory)
        val nested = sub.map(below)
        (leaf ++ nested.flatMap(_._1),
          d.getPath.getName.contains("=") && nested.forall(_._2))
      }
      val (dirs, files) = visible(listed.getOrElse(
        paths.flatMap(p => list(new Path(p))))).partition(_.isDirectory)
      val nested = dirs.map(below)
      val leaves = files ++ nested.flatMap(_._1)
      val summary = leaves.exists { s =>
        val n = s.getPath.getName
        n == "_metadata" || n == "_common_metadata"
      }
      if (leaves.isEmpty || summary ||
          !(recursiveFileLookup || nested.forall(_._2))) None
      else {
        val first = leaves.minBy(s =>
          s.getPath.getFileSystem(conf).makeQualified(s.getPath).toString)
        // As the inference job builds it: these five from the session
        // conf, the rest at their defaults.
        val sqlConf = spark.sessionState.conf
        val converter = new ParquetToSparkSchemaConverter(
          assumeBinaryIsString = sqlConf.isParquetBinaryAsString,
          assumeInt96IsTimestamp = sqlConf.isParquetINT96AsTimestamp,
          inferTimestampNTZ = sqlConf.parquetInferTimestampNTZEnabled,
          nanosAsLong = sqlConf.legacyParquetNanosAsLong,
          respectUnknownTypeAnnotation =
            sqlConf.parquetReaderRespectUnknownTypeAnnotation)
        val footer = ParquetFooterReader.readFooter(
          HadoopInputFile.fromStatus(first, conf),
          ParquetMetadataConverter.SKIP_ROW_GROUPS)
        Some(ParquetFileFormat.readSchemaFromFooter(
          new Footer(first.getPath, footer), converter))
      }
    } catch { case NonFatal(_) => None }
}
