package graft.table

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.util.concurrent.atomic.AtomicInteger
import scala.jdk.CollectionConverters._
import scala.reflect.ClassTag

import com.fasterxml.jackson.databind.{DeserializationFeature, ObjectMapper}
import com.fasterxml.jackson.module.scala.DefaultScalaModule

/** Every persisted-state file operation that is not a write inside a
  * task: the JSON codec, atomic replace, move, recursive delete and
  * listing — and the delta-chain lifecycle the persisted ops indexes
  * share ([[DeltaChain]]).
  *
  * One commit rule underlies all of it, the reference's tmp+rename
  * (portal_saude_mg.py:777-791): land the data under a name no reader
  * resolves, then atomically replace a small pointer file that names
  * it. [[TableIO]] applies it as snapshot + `version-hint.txt`, the
  * indexes as delta dirs + meta file, [[graft.seen.CuckooSeen]] and
  * [[graft.seen.BloomSeen]] per filter file. Readers resolve only the
  * pointer, so a crash anywhere leaves either the old state or the new
  * one, plus unreferenced debris that no reader sees.
  *
  * Everything here is `java.nio.file`: persisted state assumes the
  * driver and every executor share one POSIX file system.
  */
object StateFiles {

  private val mapper = {
    val m = new ObjectMapper()
    m.registerModule(DefaultScalaModule)
    m.configure(DeserializationFeature.FAIL_ON_UNKNOWN_PROPERTIES, false)
    m
  }

  private def toJson(value: Any, pretty: Boolean): String =
    if (pretty) mapper.writerWithDefaultPrettyPrinter()
      .writeValueAsString(value)
    else mapper.writeValueAsString(value)

  def readText(p: Path): Option[String] =
    if (Files.exists(p)) Some(Files.readString(p)) else None

  def readJson[T](p: Path)(implicit ct: ClassTag[T]): Option[T] =
    readText(p).map(mapper.readValue(_, ct.runtimeClass.asInstanceOf[Class[T]]))

  // ---- crash seam ----------------------------------------------------
  // Every driver-side mutation below passes `mutation` first. A crash
  // spec arms the seam with `crashAt(n)`; the n-th mutation from then on
  // throws before it becomes visible (an atomic replace throws after its
  // tmp file landed, as a real crash there would). Task-side filter
  // writes are not counted: Spark retries a failed task. The throw is
  // an Error, so no `case _: Exception` recovery path can mistake a
  // crash for a recoverable failure.

  private[graft] final class InjectedCrash(n: Int, what: String)
      extends Error(s"injected crash at mutation $n: $what")

  private val mutations = new AtomicInteger
  @volatile private var crashAtN = 0

  /** Restart the mutation count; `n > 0` makes the n-th mutation throw
    * [[InjectedCrash]] (once), 0 only counts. */
  private[graft] def crashAt(n: Int): Unit = {
    mutations.set(0)
    crashAtN = n
  }

  /** Driver-side mutations since the last [[crashAt]]. */
  private[graft] def mutationCount: Int = mutations.get

  private def mutation(what: => String): Unit =
    if (org.apache.spark.TaskContext.get() == null) {
      val n = mutations.incrementAndGet()
      if (n == crashAtN) {
        crashAtN = 0
        throw new InjectedCrash(n, what)
      }
    }

  // ---- mutations -----------------------------------------------------

  /** Atomic replace: write `bytes` to `tmpName` in `target`'s own
    * directory, then ATOMIC_MOVE it over `target`. */
  def replace(target: Path, bytes: Array[Byte],
      tmpName: String = null): Unit = {
    Files.createDirectories(target.getParent)
    val tmp = target.resolveSibling(
      Option(tmpName).getOrElse(s"${target.getFileName}.tmp"))
    Files.write(tmp, bytes)
    mutation(s"replace $target")
    Files.move(tmp, target, StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
  }

  def replaceText(target: Path, content: String,
      tmpName: String = null): Unit =
    replace(target, content.getBytes(java.nio.charset.StandardCharsets.UTF_8),
      tmpName)

  def writeJson(target: Path, value: Any, pretty: Boolean = false,
      tmpName: String = null): Unit =
    replaceText(target, toJson(value, pretty), tmpName)

  /** [[replace]] from inside a task: the tmp name carries the task
    * ATTEMPT id, so two attempts of one partition (speculation, or a
    * zombie racing its retry) never interleave writes into one tmp
    * file — whichever moves last wins with a complete file. */
  def replaceFromTask(target: Path, bytes: Array[Byte]): Unit = {
    val attempt = Option(org.apache.spark.TaskContext.get())
      .map(_.taskAttemptId()).getOrElse(0L)
    replace(target, bytes, s".${target.getFileName}.$attempt.tmp")
  }

  /** Move the file `src` to `dst`, a rename on one file system;
    * `dst`'s parent dirs are created first. */
  def move(src: Path, dst: Path): Unit = {
    Files.createDirectories(dst.getParent)
    mutation(s"move $src to $dst")
    Files.move(src, dst, StandardCopyOption.ATOMIC_MOVE)
  }

  /** Depth-first delete of `p` and everything below it; a missing path
    * is a no-op (and no mutation). */
  def delete(p: Path): Unit =
    if (Files.exists(p)) {
      mutation(s"delete $p")
      def rec(q: Path): Unit = {
        if (Files.isDirectory(q)) list(q).foreach(rec)
        Files.deleteIfExists(q)
      }
      rec(p)
    }

  /** Children of `dir`; empty when it does not exist. */
  def list(dir: Path): Seq[Path] =
    if (!Files.isDirectory(dir)) Nil
    else {
      val ls = Files.list(dir)
      try ls.iterator().asScala.toVector finally ls.close()
    }

  /** Next version after the `…vNNNNN` names in `names`: max over the
    * LIVE names + 1, never size + 1 — after a compaction to one
    * `v00005`, size-based naming would reuse a live name. */
  def nextVersion(names: Seq[String]): Int =
    names.map(d => d.substring(d.lastIndexOf('v') + 1).toInt)
      .foldLeft(0)(math.max) + 1

  /** A delta dir's own name: `vNNNNN`. */
  private val DeltaName = """v\d+""".r

  // ---- delta chains --------------------------------------------------

  /** The lineage fields of an index meta: indexed `docs`, the live
    * delta dirs (oldest first) and the runIds of committed appends
    * (null in metas written before the field existed). */
  trait ChainMeta[M] {
    def docs: Long
    def deltas: Seq[String]
    def runIds: Seq[String]
    def withChain(docs: Long, deltas: Seq[String], runIds: Seq[String]): M
    def committedRunIds: Set[String] =
      if (runIds == null) Set.empty else runIds.toSet
  }

  /** The append-only delta chain of one persisted index kind: the meta
    * file `metaFile` in the index dir names the live delta dirs
    * `<prefix>vNNNNN`. Single writer.
    *
    *  - Append: write the next delta, then swap the meta. A crash
    *    between the two leaves an unreferenced delta that the replay
    *    (same name, Overwrite) rewrites. A non-empty runId already
    *    recorded makes the append a no-op: streaming foreachBatch is
    *    at-least-once, and a re-appended batch would self-pair on
    *    every later probe.
    *  - Rewrite (compact, deleteIds): write ONE delta from the live
    *    ones, swap the meta, then reap every `vNNNNN` dir under the
    *    delta roots that the new meta does not name — by listing, so a
    *    crash mid-reap leaves debris only until the next rewrite. The
    *    write counts its own rows, so emptiness costs no extra job; an
    *    emptied index references no delta and keeps no delta dir.
    *
    * `layout(d)`: the dirs (relative to the index dir) delta `d`
    * occupies. `what`/`create`: the index's name and its creating call,
    * for the refusal message. */
  final class DeltaChain[M <: ChainMeta[M]: ClassTag](metaFile: String,
      prefix: String, what: String, create: String,
      layout: String => Seq[String] = d => Seq(d)) {

    def read(dir: String): Option[M] = readJson[M](Paths.get(dir, metaFile))

    /** The meta at `dir`, or refuse. */
    def current(dir: String): M = read(dir).getOrElse(
      throw new IllegalStateException(
        s"no $what at $dir — call $create first"))

    def write(dir: String, m: M): Unit =
      writeJson(Paths.get(dir, metaFile), m)

    /** Delete the whole index at `dir` (before re-creating it). */
    def drop(dir: String): Unit = delete(Paths.get(dir))

    /** The replay guard: whether `runId` is already committed in `m`. */
    def committed(m: M, runId: String): Boolean =
      runId.nonEmpty && m.committedRunIds.contains(runId)

    /** [[committed]] against the index at `dir`. */
    def replayed(dir: String, runId: String): Boolean =
      committed(current(dir), runId)

    private def nextDelta(m: M): String =
      f"${prefix}v${nextVersion(m.deltas)}%05d"

    /** Append one delta: `land(delta)` writes it and returns the docs it
      * adds; then the meta swap records it (and `runId`). */
    def append(dir: String, m: M, runId: String)(land: String => Long): M =
      if (committed(m, runId)) m
      else {
        val delta = nextDelta(m)
        val added = land(delta)
        val next = m.withChain(m.docs + added, m.deltas :+ delta,
          if (runId.isEmpty) m.runIds
          else Option(m.runIds).getOrElse(Nil) :+ runId)
        write(dir, next)
        next
      }

    /** Rewrite the live chain into ONE delta: `land(delta)` reads the
      * live deltas, transforms them and writes the result, returning the
      * docs it holds as counted by its own write (0 = emptied).
      * `finish` adjusts the next meta (beyond the chain fields) and
      * `superseded` names further dirs to reap once it is swapped in.
      * runIds survive. No-op on an index without deltas. */
    def rewrite(dir: String, m: M, finish: M => M = (x: M) => x,
        superseded: Seq[String] = Nil)(land: String => Long): M =
      if (m.deltas.isEmpty) m
      else {
        val delta = nextDelta(m)
        val docs = land(delta)
        val next = finish(
          if (docs == 0L) m.withChain(0L, Nil, m.runIds)
          else m.withChain(docs, Seq(delta), m.runIds))
        write(dir, next)
        // reap by listing, not from `m`: a crash between an earlier
        // swap and its reap left superseded deltas no meta names
        val base = Paths.get(dir)
        val live = next.deltas.flatMap(layout).map(base.resolve).toSet
        val roots =
          layout(s"${prefix}v").map(r => base.resolve(r).getParent).distinct
        roots.flatMap(list).filterNot(live)
          .filter(p => DeltaName.matches(p.getFileName.toString))
          .foreach(delete)
        superseded.foreach(r => delete(base.resolve(r)))
        // a delta root left empty goes too: an emptied index keeps no
        // delta dir (a schema-less parquet dir would poison a read)
        roots.filter(p => Files.isDirectory(p) && list(p).isEmpty)
          .foreach(delete)
        next
      }
  }
}
