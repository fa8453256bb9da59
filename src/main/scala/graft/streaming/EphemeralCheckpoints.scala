package graft.streaming

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, FileNotFoundException}
import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataInputStream, FileAlreadyExistsException, FileStatus, Path, PathFilter, PositionedReadable, Seekable}
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager.CancellableFSDataOutputStream

/** JVM-local in-memory backing store for [[EphemeralCheckpointFileManager]].
  *
  * Why this exists (guide §1.2/§5 — remove work the result provably
  * never needs): every bounded drain pays two
  * fsync'd filesystem commits per micro-batch (offset WAL + commit log,
  * ~85 ms measured at sf0.1) plus one state-store delta write per state
  * partition — durability plumbing for a checkpoint that is *transient
  * by construction*. The engine's streaming checkpoints are either
  * (a) Spark temp checkpoints (the writer names no checkpoint: the
  * memory-sink drains): created under the JVM's temp dir, dropped by
  * [[EventStreams.drain]] as soon as the query finishes (and deleted by
  * Spark itself at query stop), or (b) checkpoints the caller named
  * (s11, s16, s22, s26, s28, s30 and the pointer-flip drain): paths
  * keyed on the Spark `applicationId` (under `TmpDirs.artifactRoot` or
  * the JVM's temp dir), KEPT here until the family boundary so a
  * re-run over one resumes from its committed offsets, and removed from
  * disk by a JVM shutdown hook. In BOTH cases a
  * checkpoint can never outlive the JVM, so recovery-after-JVM-death was
  * never in the fault-tolerance envelope; the only semantics the rows
  * witness — in-session stop/restart replay, exactly-once foreachBatch
  * versioning, watermark eviction — depend on the checkpoint's
  * *contents*, not on its medium. Holding those contents in a JVM-global
  * map preserves every one of them (a restarted query, on any session of
  * this JVM, reads the same offsets/commits/state deltas) while removing
  * the per-batch fsync tax.
  *
  * A deployment whose checkpoints live on durable shared storage (real
  * streaming, restart-after-crash) sets
  * `spark.graft.streaming.ephemeralCheckpoints=false` on the parent
  * session and gets Spark's default rename-based manager back — the
  * knob is a deployment decision, not a benchmark switch (the bench
  * leaves it at the default, which matches what these bounded
  * temp-checkpoint drains get from local disk today).
  *
  * Hygiene: temp checkpoints leave the map when their drain finishes;
  * [[EventStreams.releaseSinks]] clears the named ones and any crash
  * leftovers at family boundaries when no stream is active.
  */
object EphemeralCheckpoints {
  // Sorted maps so list()/exists()/delete() are prefix-range scans
  // (subMap over "k/".."k0"), not full-map sweeps: the durable-path
  // rows legitimately accumulate state deltas across their in-session
  // restarts, and a state-store reload lists its dir once per
  // partition per batch.
  private[streaming] val files =
    new java.util.concurrent.ConcurrentSkipListMap[String, Array[Byte]]()
  private[streaming] val dirs =
    new java.util.concurrent.ConcurrentSkipListSet[String]()

  /** All keys strictly under directory key `k` — '0' is '/'+1, so
    * ["k/", "k0") is exactly the subtree. */
  private[streaming] def subtree(k: String) = {
    val from = if (k.endsWith("/")) k else k + "/"
    (from, from.dropRight(1) + "0")
  }

  /** Scheme-free canonical key — checkpoint paths arrive both bare
    * (`/tmp/x`) and qualified (`file:/tmp/x`) depending on the caller. */
  private[streaming] def key(p: Path): String = p.toUri.getPath

  private[streaming] def parentKey(k: String): String = {
    val i = k.lastIndexOf('/')
    if (i <= 0) "/" else k.substring(0, i)
  }

  private[streaming] def mkdirsKey(k: String): Unit = {
    var cur = k
    while (cur.nonEmpty && cur != "/" && dirs.add(cur)) cur = parentKey(cur)
  }

  /** Bytes currently held — diagnostics only. */
  def bytesHeld: Long = files.values.asScala.iterator.map(_.length.toLong).sum

  def clear(): Unit = { files.clear(); dirs.clear() }

  /** Drop the checkpoint at `root` and everything under it. */
  def drop(root: String): Unit = {
    val k = key(new Path(root))
    files.remove(k)
    dirs.remove(k)
    val (from, to) = subtree(k)
    files.subMap(from, to).clear()
    dirs.subSet(from, to).clear()
  }

  /** Random-access view over one committed checkpoint file — the
    * Seekable/PositionedReadable surface `FSDataInputStream` requires. */
  private[streaming] final class SeekableBytes(bytes: Array[Byte])
      extends ByteArrayInputStream(bytes) with Seekable with PositionedReadable {
    override def seek(newPos: Long): Unit = {
      if (newPos < 0 || newPos > count)
        throw new java.io.EOFException(s"seek($newPos) past ${count}B")
      pos = newPos.toInt
    }
    override def getPos: Long = pos.toLong
    override def seekToNewSource(targetPos: Long): Boolean = false
    override def read(position: Long, buffer: Array[Byte], offset: Int,
        length: Int): Int = {
      if (position >= count) -1
      else {
        val n = math.min(length, count - position.toInt)
        System.arraycopy(bytes, position.toInt, buffer, offset, n)
        n
      }
    }
    override def readFully(position: Long, buffer: Array[Byte], offset: Int,
        length: Int): Unit =
      if (read(position, buffer, offset, length) < length)
        throw new java.io.EOFException(s"readFully past ${count}B")
    override def readFully(position: Long, buffer: Array[Byte]): Unit =
      readFully(position, buffer, 0, buffer.length)
  }
}

/** In-memory [[CheckpointFileManager]] for the engine's JVM-transient
  * streaming checkpoints — see [[EphemeralCheckpoints]] for the
  * rationale and the opt-out. Instantiated reflectively by Spark via
  * `spark.sql.streaming.checkpointFileManagerClass` with the documented
  * `(Path, Configuration)` constructor; the backing store is JVM-global
  * so the driver's metadata logs and the executors' state-store
  * providers (same JVM in local mode, per-executor maps on a cluster —
  * the same locality a local-disk temp checkpoint has) observe one
  * namespace. */
final class EphemeralCheckpointFileManager(root: Path, conf: Configuration)
    extends CheckpointFileManager {
  import EphemeralCheckpoints._

  override def createAtomic(path: Path,
      overwriteIfPossible: Boolean): CancellableFSDataOutputStream = {
    val k = key(path)
    val buf = new ByteArrayOutputStream(4096)
    new CancellableFSDataOutputStream(buf) {
      private var finished = false
      override def cancel(): Unit = synchronized {
        finished = true
        try super.close() catch { case _: java.io.IOException => }
      }
      override def close(): Unit = synchronized {
        if (!finished) {
          finished = true
          super.close()
          val bytes = buf.toByteArray
          if (overwriteIfPossible) { files.put(k, bytes); () }
          else if (files.putIfAbsent(k, bytes) != null)
            // the batch-file-exists race HDFSMetadataLog relies on
            throw new FileAlreadyExistsException(
              s"ephemeral checkpoint file already exists: $k")
          mkdirsKey(parentKey(k))
        }
      }
    }
  }

  override def open(path: Path): FSDataInputStream = {
    val bytes = files.get(key(path))
    if (bytes == null)
      throw new FileNotFoundException(s"ephemeral checkpoint: ${key(path)}")
    new FSDataInputStream(new EphemeralCheckpoints.SeekableBytes(bytes))
  }

  override def list(path: Path, filter: PathFilter): Array[FileStatus] = {
    val k = key(path)
    val (from, to) = subtree(k)
    def direct(child: String): Boolean =
      !child.substring(from.length).contains('/')
    val fileSt = files.subMap(from, to).entrySet().asScala.iterator
      .filter(e => direct(e.getKey))
      .map(e => new FileStatus(e.getValue.length.toLong, false, 1, 4096L, 0L,
        new Path(e.getKey)))
    val dirSt = dirs.subSet(from, to).asScala.iterator
      .filter(direct)
      .map(d => new FileStatus(0L, true, 1, 4096L, 0L, new Path(d)))
    (fileSt ++ dirSt)
      .filter(st => filter == null || filter.accept(st.getPath))
      .toArray
  }

  override def mkdirs(path: Path): Unit = mkdirsKey(key(path))

  override def exists(path: Path): Boolean = {
    val k = key(path)
    files.containsKey(k) || dirs.contains(k) || {
      val (from, to) = subtree(k)
      !files.subMap(from, to).isEmpty || !dirs.subSet(from, to).isEmpty
    }
  }

  override def delete(path: Path): Unit = drop(path.toString)

  override def isLocal: Boolean = true

  override def createCheckpointDirectory(): Path = {
    mkdirsKey(key(root))
    root
  }
}
