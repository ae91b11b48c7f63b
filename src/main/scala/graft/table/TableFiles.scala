package graft.table

import java.nio.file.{Files, Path, Paths}
import java.util.{Collections, UUID}

import scala.collection.mutable.ArrayBuffer

import org.apache.hadoop.conf.Configuration
import org.apache.parquet.conf.ParquetConfiguration
import org.apache.parquet.hadoop.ParquetWriter
import org.apache.parquet.hadoop.api.WriteSupport
import org.apache.parquet.hadoop.api.WriteSupport.WriteContext
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.io.LocalOutputFile
import org.apache.parquet.io.api.{Binary, RecordConsumer}
import org.apache.parquet.schema.{MessageType, MessageTypeParser}
import org.apache.spark.TaskContext
import org.apache.spark.sql.Dataset
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils

import graft.model.ImageRecord

/** The table's data files and seen deltas, written by the tasks
  * themselves, the way Iceberg's Spark writer writes data files: no
  * Spark `FileFormatWriter`, no Hadoop output committer and no session
  * Hadoop conf in the task binary. [[TableIO]]'s snapshot write and
  * hint swap are the commit; this object only lands the files.
  *
  * A write runs in two halves:
  *  - Tasks: each task attempt writes zstd Parquet files with
  *    parquet-hadoop's `ParquetWriter` over a `LocalOutputFile`, under
  *    `<table>/_staging/<rel>/a<taskAttemptId>/`, with a task-local
  *    `new Configuration(false)`. An image task sorts its rows by
  *    `(site, year, month)` first (as Spark's partitioned writer does),
  *    so one file is open at a time, one per partition value. Each task
  *    returns a [[Staged]] row per file.
  *  - Driver: clear the target `<rel>` (the debris of a crashed earlier
  *    attempt at the same version), move the files the job returned
  *    (those of the successful attempts) into place, then delete the
  *    `_staging` tree. Each step is a [[StateFiles]] mutation.
  *
  * A crash or a failed job leaves files only under `_staging` or under
  * the unreferenced `<rel>`: no snapshot names them, and Spark's
  * readers skip `_`-prefixed dirs. The next write, or
  * [[TableIO.expire]], deletes `_staging`.
  *
  * The Hadoop `FileSystem` port swaps `LocalOutputFile` for a Hadoop
  * `OutputFile` built with a task-local conf, and the moves and deletes
  * for their `FileSystem` forms in [[StateFiles]]. */
private[table] object TableFiles {

  /** One file a task staged: its path under the staging dir of its write
    * (`a<attempt>/[site=S/year=Y/month=M/]part-….parquet`), its partition
    * values (null and 0 for a seen delta), its rows and the payload bytes
    * of those rows (a null `bytes` counts 0). */
  final case class Staged(file: String, site: String, year: Int, month: Int,
      rows: Long, bytes: Long)

  /** The staging tree at the table root. */
  val StagingDir = "_staging"

  /** Write `images` as `dir/rel`, `PARTITIONED BY (site, year, month)`,
    * and return what was written, one entry per file. */
  def writeImages(images: Dataset[ImageRecord], dir: String, rel: String)
      : Seq[Staged] =
    write(images.sortWithinPartitions("site", "year", "month"), dir, rel,
      ImageFile)

  /** Write a seen delta as `dir/rel`, one file per non-empty task, and
    * return what was written. */
  def writeSeen(seen: Dataset[Long], dir: String, rel: String)
      : Seq[Staged] =
    write(seen, dir, rel, SeenFile)

  /** Stage `rows` as `kind` files in the tasks, then land them. */
  private def write[T](rows: Dataset[T], dir: String, rel: String,
      kind: Kind[T]): Seq[Staged] = {
    val spark = rows.sparkSession
    import spark.implicits._
    val root = Paths.get(dir, StagingDir, rel).toString
    val writeId = UUID.randomUUID().toString
    land(dir, rel,
      rows.mapPartitions(stage(root, writeId, _, kind)).collect().toSeq)
  }

  /** The driver half: clear `dir/rel`, move each staged file into it,
    * delete the staging tree. */
  private def land(dir: String, rel: String, staged: Seq[Staged])
      : Seq[Staged] = {
    val staging = Paths.get(dir, StagingDir)
    val target = Paths.get(dir, rel)
    StateFiles.delete(target)
    staged.foreach { f =>
      StateFiles.move(staging.resolve(rel).resolve(f.file),
        target.resolve(f.file.substring(f.file.indexOf('/') + 1)))
    }
    StateFiles.delete(staging)
    staged
  }

  // ---- the task half -------------------------------------------------

  /** One kind of file: its Parquet schema, how a row is written, the
    * partition a row belongs to and its payload bytes. */
  private sealed trait Kind[T] extends Serializable {
    def schema: MessageType
    def write(out: RecordConsumer, r: T): Unit
    def partition(r: T): Option[(String, Int, Int)]
    def payload(r: T): Long
  }

  /** The 11 data columns of an image row, in the order and with the
    * Parquet types Spark's writer gave them; the partition columns live
    * in the path. */
  private object ImageFile extends Kind[ImageRecord] {
    val schema: MessageType = MessageTypeParser.parseMessageType(
      """message spark_schema {
        |  optional binary image_id (STRING);
        |  optional binary bytes;
        |  required int32 w;
        |  required int32 h;
        |  optional binary fmt (STRING);
        |  optional binary caption (STRING);
        |  required int64 phash;
        |  optional binary url (STRING);
        |  required int64 urlHash;
        |  required int64 vtimeMs;
        |  required int32 attempts;
        |}""".stripMargin)

    def write(out: RecordConsumer, r: ImageRecord): Unit = {
      string(out, "image_id", 0, r.image_id)
      if (r.bytes != null) field(out, "bytes", 1)(
        out.addBinary(Binary.fromConstantByteArray(r.bytes)))
      field(out, "w", 2)(out.addInteger(r.w))
      field(out, "h", 3)(out.addInteger(r.h))
      string(out, "fmt", 4, r.fmt)
      string(out, "caption", 5, r.caption)
      field(out, "phash", 6)(out.addLong(r.phash))
      string(out, "url", 7, r.url)
      field(out, "urlHash", 8)(out.addLong(r.urlHash))
      field(out, "vtimeMs", 9)(out.addLong(r.vtimeMs))
      field(out, "attempts", 10)(out.addInteger(r.attempts))
    }

    def partition(r: ImageRecord): Option[(String, Int, Int)] =
      Some((r.site, r.year, r.month))

    def payload(r: ImageRecord): Long =
      if (r.bytes == null) 0L else r.bytes.length
  }

  /** A seen delta's one column. */
  private object SeenFile extends Kind[Long] {
    val schema: MessageType = MessageTypeParser.parseMessageType(
      "message spark_schema { required int64 urlHash; }")
    def write(out: RecordConsumer, h: Long): Unit =
      field(out, "urlHash", 0)(out.addLong(h))
    def partition(h: Long): Option[(String, Int, Int)] = None
    def payload(h: Long): Long = 0L
  }

  private def field(out: RecordConsumer, name: String, i: Int)(
      value: => Unit): Unit = {
    out.startField(name, i)
    value
    out.endField(name, i)
  }

  private def string(out: RecordConsumer, name: String, i: Int,
      s: String): Unit =
    if (s != null) field(out, name, i)(out.addBinary(Binary.fromString(s)))

  private final class Support[T](kind: Kind[T]) extends WriteSupport[T] {
    private var out: RecordConsumer = _
    private def context =
      new WriteContext(kind.schema, Collections.emptyMap[String, String]())
    def init(conf: Configuration): WriteContext = context
    override def init(conf: ParquetConfiguration): WriteContext = context
    def prepareForWrite(consumer: RecordConsumer): Unit = out = consumer
    def write(r: T): Unit = {
      out.startMessage()
      kind.write(out, r)
      out.endMessage()
    }
  }

  private final class Builder[T](file: Path, kind: Kind[T])
      extends ParquetWriter.Builder[T, Builder[T]](new LocalOutputFile(file)) {
    protected def self(): Builder[T] = this
    protected def getWriteSupport(conf: Configuration): WriteSupport[T] =
      new Support(kind)
    override protected def getWriteSupport(conf: ParquetConfiguration)
        : WriteSupport[T] = new Support(kind)
  }

  /** Write one task's rows as files under `root/a<attempt>/`, a new file
    * whenever the partition changes. On failure the attempt's files are
    * deleted and the error rethrown: Spark retries or fails the job, and
    * the driver moves nothing. */
  private def stage[T](root: String, writeId: String, rows: Iterator[T],
      kind: Kind[T]): Iterator[Staged] = {
    val task = TaskContext.get()
    val attempt = s"a${task.taskAttemptId()}"
    val name = f"part-${task.partitionId()}%05d-$writeId.zstd.parquet"
    val conf = new Configuration(false)
    val done = ArrayBuffer.empty[Staged]
    var writer: ParquetWriter[T] = null
    var part: Option[(String, Int, Int)] = None
    var file = ""
    var n = 0L
    var bytes = 0L
    def finish(): Unit = if (writer != null) {
      writer.close()
      writer = null
      val (s, y, m) = part.getOrElse((null, 0, 0))
      done += Staged(file, s, y, m, n, bytes)
    }
    try {
      rows.foreach { r =>
        val p = kind.partition(r)
        if (writer == null || p != part) {
          finish()
          part = p
          val dirs = p.toSeq.flatMap { case (s, y, m) => Seq(
            ExternalCatalogUtils.getPartitionPathString("site", s),
            s"year=$y", s"month=$m") }
          file = (attempt +: dirs :+ name).mkString("/")
          val path = Paths.get(root, file)
          Files.createDirectories(path.getParent)
          writer = new Builder(path, kind).withConf(conf)
            .withCompressionCodec(CompressionCodecName.ZSTD).build()
          n = 0L
          bytes = 0L
        }
        writer.write(r)
        n += 1
        bytes += kind.payload(r)
      }
      finish()
      done.iterator
    } catch {
      case e: Throwable =>
        if (writer != null)
          try writer.close() catch { case c: Throwable => e.addSuppressed(c) }
        StateFiles.delete(Paths.get(root, attempt))
        throw e
    }
  }
}
