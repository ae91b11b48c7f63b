package graft

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{Path => HadoopPath}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.metadata.ParquetMetadata
import org.apache.parquet.hadoop.util.HadoopInputFile

/** What parquet footers record about the files a spec wrote. */
object ParquetFooters {

  /** Every parquet file under `root` (recursively, sorted), with `f` of
    * its footer. */
  def footers[A](root: Path)(f: ParquetMetadata => A): Seq[(Path, A)] = {
    val conf = SparkTestSession.spark.sparkContext.hadoopConfiguration
    val walk = Files.walk(root)
    val files =
      try walk.iterator.asScala
        .filter(_.getFileName.toString.endsWith(".parquet")).toList.sorted
      finally walk.close()
    files.map { p =>
      val r = ParquetFileReader.open(HadoopInputFile.fromPath(
        new HadoopPath(p.toString), conf))
      try p -> f(r.getFooter)
      finally r.close()
    }
  }

  /** The codec names of each file's column chunks, e.g. `Set("ZSTD")`. */
  def codecs(root: Path): Seq[(Path, Set[String])] =
    footers(root)(_.getBlocks.asScala
      .flatMap(_.getColumns.asScala.map(_.getCodec.name)).toSet)
}
