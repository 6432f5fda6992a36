package org.apache.spark.sql.execution.datasources.parquet

import scala.util.control.NonFatal
import org.apache.hadoop.fs.Path
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.deploy.SparkHadoopUtil
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.classic
import org.apache.spark.sql.types.StructType

/** The schema `spark.read.parquet(path)` would infer, read on the calling
  * thread from one footer instead of by a Spark job — or None wherever
  * Spark's own inference would do more than read that one footer (the
  * rules are in [[graft.Tables.parquet]]). Spark runs its inference as a
  * job even when it touches a single file. Lives in Spark's parquet
  * package because `ParquetFileFormat.readSchemaFromFooter` is
  * `private[parquet]`. */
object FooterSchemaBridge {

  def schema(spark: SparkSession, path: String): Option[StructType] = {
    val state = spark.asInstanceOf[classic.SparkSession].sessionState
    val p = new Path(path)
    if (state.conf.isParquetSchemaMergingEnabled || SparkHadoopUtil.get.isGlobPath(p)) None
    else try {
      val conf = state.newHadoopConf()
      val fs = p.getFileSystem(conf)
      val root = fs.getFileStatus(p)
      val files = if (root.isDirectory) fs.listStatus(p).toSeq else Seq(root)
      val names = files.map(_.getPath.getName)
      if (files.exists(_.isDirectory) ||
          names.exists(n => n.startsWith("_metadata") || n.startsWith("_common_metadata"))) None
      else files.filter(f => isData(f.getPath.getName)).sortBy(_.getPath.toString)
        .headOption.map { f =>
          val footer = ParquetFooterReader.readFooter(HadoopInputFile.fromStatus(f, conf),
            ParquetMetadataConverter.SKIP_ROW_GROUPS)
          ParquetFileFormat.readSchemaFromFooter(new Footer(f.getPath, footer),
            new ParquetToSparkSchemaConverter(state.conf))
        }
    } catch { case NonFatal(_) => None }
  }

  /** A name Spark's file listing keeps as a data file
    * (`InMemoryFileIndex.shouldFilterOutPathName`). */
  private def isData(name: String): Boolean =
    !(name.startsWith("_") && !name.contains("=")) && !name.startsWith(".") &&
      !name.endsWith("._COPYING_")
}
