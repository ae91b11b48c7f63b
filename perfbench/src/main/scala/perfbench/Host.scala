package perfbench

import java.nio.file.{Files, Path, StandardCopyOption}

import scala.jdk.CollectionConverters._
import scala.util.Try

/** Host readings and file-tree helpers. */
object Host {

  private def read(p: String): String = Files.readString(Path.of(p))

  /** (system-wide busy jiffies, this process's jiffies). */
  private def jiffies(): (Long, Long) = {
    val cpu = read("/proc/stat").linesIterator.next().trim.split("\\s+")
      .drop(1).map(_.toLong)
    val busy = cpu.take(math.min(8, cpu.length)).sum - cpu(3) - cpu(4)
    val self = read("/proc/self/stat")
    val f = self.substring(self.lastIndexOf(')') + 2).split(" ")
    (busy, f(11).toLong + f(12).toLong + f(13).toLong + f(14).toLong)
  }

  /** CPU seconds this JVM has used so far (user + system). */
  def cpuSeconds(): Double = jiffies()._2 / 100.0

  /** Garbage-collection seconds this JVM has spent so far. */
  def gcSeconds(): Double = java.lang.management.ManagementFactory
    .getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum / 1e3

  private def loadAvg(): String =
    Try(read("/proc/loadavg").trim.split(" ").take(3).mkString(" "))
      .getOrElse("")

  /** Noise stamp of one run: cores, load average at both ends, and the
    * cores other processes kept busy while the run lasted (system busy
    * jiffies minus this JVM's, USER_HZ = 100). A reading, not a gate. */
  final class Stamp {
    private val t0 = System.nanoTime()
    private val load0 = loadAvg()
    private val j0 = Try(jiffies()).toOption

    def json(): String = {
      val secs = (System.nanoTime() - t0) / 1e9
      val ext = for { (b0, o0) <- j0; (b1, o1) <- Try(jiffies()).toOption }
        yield math.max(0.0, ((b1 - b0) - (o1 - o0)) / 100.0 / secs)
      s"""{"noise": {"nproc": ${Runtime.getRuntime.availableProcessors}, """ +
        s""""loadavg_start": "$load0", "loadavg_end": "${loadAvg()}", """ +
        s""""external_busy_cores": ${ext.getOrElse(-1.0)}, """ +
        s""""seconds": $secs}}"""
    }
  }

  /** Peak resident set of this JVM (VmHWM), in MiB. */
  def peakRssMb(): Double =
    read("/proc/self/status").linesIterator
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0)
      .getOrElse(0.0)

  private def files(dir: Path): Seq[Path] =
    if (!Files.exists(dir)) Nil
    else {
      val s = Files.walk(dir)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).toList
      finally s.close()
    }

  /** (regular files, bytes) under `dir`. */
  def usage(dir: Path): (Long, Long) = {
    val fs = files(dir)
    (fs.size.toLong, fs.map(Files.size).sum)
  }

  def delete(dir: Path): Unit =
    if (Files.exists(dir)) {
      val s = Files.walk(dir)
      try s.iterator().asScala.toList.reverse.foreach(Files.delete)
      finally s.close()
    }

  /** Replaces `to` with a copy of the tree at `from`. */
  def copyTree(from: Path, to: Path): Unit = {
    delete(to)
    val s = Files.walk(from)
    try s.iterator().asScala.foreach { p =>
      val q = to.resolve(from.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(q)
      else Files.copy(p, q, StandardCopyOption.COPY_ATTRIBUTES)
    }
    finally s.close()
  }

  /** Order-free digest of a key set: count and a hash of the sorted keys. */
  def digest(keys: Array[Long]): String = {
    val sorted = keys.sorted
    var h = 0x5EEDL
    sorted.foreach(k => h = graft.url.Hashing.mix(h ^ k))
    f"${sorted.length}:$h%016x"
  }
}
