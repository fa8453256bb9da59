package graft.sources

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{FileAlreadyExistsException, Files, Path, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Atomic manifest-commit protocol for the training-export family
  * (r11 verdict ask #3 — closes the documented at-least-once append
  * window in p11/p12/s22). The file-append posture those operators
  * shipped with could double-count a micro-batch replayed after a
  * crash between its append and the checkpoint commit; this protocol
  * makes the export exactly-once without a table format:
  *
  *   - every batch WRITES to a fresh staging directory
  *     (`data/b{batchId}-{uuid}/`) — never into shared files;
  *   - committing is the ATOMIC creation of `manifest-v{N}.json`,
  *     which lists every committed (batchId, dir) pair — the manifest
  *     IS the table state, its creation the one commit point;
  *   - readers resolve the HIGHEST manifest version and read exactly
  *     the directories it lists — an uncommitted (crashed) staging
  *     dir is invisible, a replayed batchId is detected in the
  *     manifest and its re-staged dir deleted instead of committed.
  *
  * Atomicity: the manifest content is written to a temp file and
  * published with `Files.createLink` — hard-link creation is atomic
  * and FAILS if the target exists, so two racing committers cannot
  * both win version N (the loser re-reads and retries at N+1; the
  * re-read also re-checks its batchId, so a replay that lost a race
  * to its own earlier attempt is still dropped). Readers never see a
  * torn manifest: the name appears only after the content is fully
  * durable. This is the single-filesystem recipe; an object-store
  * deployment replaces createLink with a conditional put
  * (if-none-match) and keeps everything else.
  *
  * 100 TB shape: the manifest is (batches × path)-sized — kilobytes
  * for thousands of committed batches; readers plan a union over the
  * listed directories (one scan node per batch dir — linear plan
  * growth, pruned like any multi-path scan); staging adds zero data
  * movement (the batch was being written anyway).
  */
object ExportCommit {

  /** One committed batch: its id and its data directory (root-relative). */
  final case class Entry(batchId: Long, dir: String)

  final case class Manifest(version: Int, entries: Seq[Entry]) {
    def batchIds: Set[Long] = entries.map(_.batchId).toSet
  }

  private val ManifestName = "manifest-v(\\d+)\\.json".r

  /** Highest committed manifest, if any. */
  def latest(root: String): Option[Manifest] = {
    val f = new File(root)
    Option(f.list()).toSeq.flatten
      .collect { case ManifestName(v) => v.toInt }
      .maxOption
      .map(v => parse(v, Files.readString(
        Paths.get(root, s"manifest-v$v.json"), UTF_8)))
  }

  /** Fresh staging directory for a batch attempt — unique per attempt,
    * so a replay never collides with a crashed attempt's files. */
  def stage(root: String, batchId: Long): String = {
    val dir = new File(new File(root, "data"),
      s"b$batchId-${java.util.UUID.randomUUID().toString.take(8)}")
    dir.getParentFile.mkdirs()
    dir.getAbsolutePath
  }

  /** True when `batchId` is already committed under `root` — the
    * at-least-once replay's common path. Every append entry point
    * checks it BEFORE staging ([[commitOnce]] does): a crash-replay
    * loop would otherwise rewrite its whole increment per retry only
    * for commitBatch to discard it. [[commitBatch]]'s CAS remains the
    * correctness gate — this is the one shared fast path. */
  def isCommitted(root: String, batchId: Long): Boolean =
    latest(root).exists(_.batchIds.contains(batchId))

  /** The one append entry point: skip a replayed `batchId` before
    * staging (the [[isCommitted]] fast path), otherwise stage a fresh
    * dir, hand it to `write`, and publish it through [[commitBatch]]'s
    * CAS. Appends are exactly-once under replay: a replay that races
    * its own earlier attempt past the fast path still loses at the
    * CAS. A `write` that throws publishes nothing — its staged dir is
    * a crashed attempt for [[gcStaging]]. Returns true when this call
    * published the batch. */
  def commitOnce(root: String, batchId: Long)(write: String => Unit)
      : Boolean =
    !isCommitted(root, batchId) && {
      val staged = stage(root, batchId)
      write(staged)
      commitBatch(root, batchId, staged)
    }

  /** Commit a staged directory under `batchId`. Returns true if this
    * call published a new manifest version; false if the batchId was
    * already committed (replay) — in which case the staged attempt is
    * deleted, not published. Safe under concurrent committers via the
    * createLink CAS; callers may re-invoke freely (idempotent). */
  def commitBatch(root: String, batchId: Long, staged: String): Boolean = {
    val rootPath = Paths.get(root).toAbsolutePath.normalize()
    val stagedPath = Paths.get(staged).toAbsolutePath.normalize()
    // loud precondition (r12 ADVICE): a staged dir outside the root
    // would either throw an opaque IllegalArgumentException from
    // relativize (relative root + absolute staged) or silently record
    // a ../-escaping manifest entry readers can't trust
    require(stagedPath.startsWith(rootPath),
      s"staged dir $stagedPath is not under the export root $rootPath — " +
        "stage() against the same root you commit to")
    while (true) {
      val cur = latest(root)
      if (cur.exists(_.batchIds.contains(batchId))) {
        deleteRec(new File(staged))
        return false
      }
      val next = cur.map(_.version).getOrElse(0) + 1
      val rel = rootPath.relativize(stagedPath).toString
      val m = Manifest(next,
        cur.map(_.entries).getOrElse(Seq.empty) :+ Entry(batchId, rel))
      val tmp = Files.createTempFile(rootPath, ".manifest", ".tmp")
      try {
        // fsync before the link (r16 ADVICE, see [[Durable]]): the
        // manifest name must never become visible over unflushed bytes
        Durable.writeString(tmp, render(m))
        // Janitor fence (r13 ADVICE): gcStaging renames a GC candidate
        // ASIDE before deleting it, so a writer whose stage-to-commit
        // gap exceeded the grace period observes its dir GONE here and
        // fails loudly instead of publishing a manifest entry pointing
        // at nothing. Checked as late as possible — after the rename
        // the dir can never reappear, so a pass here means the janitor
        // had not claimed it when we looked (see gcStaging for the
        // ordering argument that closes the remaining window).
        if (!Files.isDirectory(stagedPath))
          throw new IllegalStateException(
            s"staged dir $stagedPath vanished before commit — the " +
              "gcStaging janitor reclaimed it (stage-to-commit gap " +
              "exceeded the GC grace period); re-stage and re-commit")
        try {
          Files.createLink(rootPath.resolve(s"manifest-v$next.json"), tmp)
          Durable.fsyncDir(rootPath)
          return true
        } catch {
          case _: FileAlreadyExistsException => () // lost the race; retry
        }
      } finally Files.deleteIfExists(tmp)
    }
    false // unreachable
  }

  /** Garbage-collect staging directories no manifest references —
    * crashed attempts' `data/b*-*` trees are invisible to readers but
    * otherwise accumulate forever in a long-running deployment (r12
    * ADVICE). Deletes only UNREFERENCED dirs matching the staging
    * name shape under `data/`. Returns the deleted paths. Deployments
    * run this from a janitor schedule, never from the write path.
    *
    * Race protocol vs a slow committer (r13 ADVICE — the delete is
    * made VERIFIABLE instead of best-effort): manifest-REFERENCED dirs
    * are never candidates (committed data keeps the staging name shape
    * and its old mtime forever — touching it per sweep would put every
    * committed dir through a transient rename on every janitor run,
    * and a crash mid-sweep would strand it); each UNREFERENCED aged
    * candidate is renamed ASIDE (atomic, to a `.gc-<epochMillis>`
    * suffix no manifest can name — the sweep timestamp rides IN the
    * name, so the stamp is atomic with the rename; r14 ADVICE closed
    * the rename→setLastModified gap a second janitor could race),
    * THEN the latest manifest is re-read; if the original name is
    * referenced by now (a commit raced the sweep) the rename is
    * undone, otherwise the aside copy is deleted. A racing
    * `commitBatch` in turn verifies its staged dir still exists
    * immediately before publishing — after our rename that check fails
    * loudly. Remaining exposure: the commit's existence check and
    * manifest link must BOTH land inside the window between our rename
    * and our re-read (microseconds apart) — and even then the re-read
    * sees the new reference and restores the dir; a dangling entry
    * needs the link to land after the re-read too, i.e. a
    * filesystem-level pause longer than the entire rename+read, on a
    * dir that already sat staged past the 24h grace. A crashed janitor
    * can strand a renamed `.gc-<ts>` dir: the next sweep HEALS it — if
    * its original name is manifest-referenced it is renamed back (a
    * committed dir returns to its canonical path before anything
    * else), otherwise it is an ordinary crashed attempt, age-gated on
    * the PARSED sweep timestamp (never mtime — rename preserves the
    * old mtime, which would mis-age a just-renamed aside). */
  def gcStaging(root: String,
      minAgeMillis: Long = 24L * 3600 * 1000): Seq[String] = {
    val dataDir = new File(root, "data")
    val stagingName = "b\\d+-[0-9a-f]{8}".r
    val strandedName = "(b\\d+-[0-9a-f]{8})\\.gc-(\\d+)".r
    val cutoff = System.currentTimeMillis() - minAgeMillis
    val rootAbs = Paths.get(root).toAbsolutePath.normalize()
    def referenced(): Set[java.nio.file.Path] =
      latest(root).map(_.entries.map(e =>
        rootAbs.resolve(e.dir).normalize()).toSet).getOrElse(Set.empty)
    val all = Option(dataDir.listFiles()).toSeq.flatten
    val refs0 = referenced()
    // stranded aside-dirs from a crashed janitor, handled FIRST: a
    // committed dir caught mid-rename is healed back to its canonical
    // path; an unreferenced one is a crashed attempt, age-gated on the
    // sweep timestamp parsed from its own name. Both branches report
    // the CANONICAL original path (r14 ADVICE: janitor logs must be
    // joinable against manifest entries — one naming convention).
    val legacyStranded = "(b\\d+-[0-9a-f]{8})\\.gc".r
    val stranded = all.flatMap { f =>
      // legacy (pre-timestamp) asides carry no stamp — age-gate them on
      // mtime as the old protocol did, so a dir stranded by an OLD
      // janitor build still heals/retires instead of leaking forever
      // the stamp parse is defensive (r15 ADVICE): \d+ admits >19-digit
      // names a corrupt or adversarial dir could carry, and Long.parse
      // throwing there would abort the ENTIRE sweep — an unparseable
      // stamp falls back to the legacy mtime gate instead. The parsed
      // stamp also assumes janitors share a clock (single-filesystem
      // deployments do); cross-janitor skew larger than the grace
      // period would mis-age an aside, which the heal pass tolerates
      // (a committed dir is always renamed back regardless of age).
      val parsed = (f.getName, f.isDirectory) match {
        case (strandedName(origName, ts), true) =>
          val stamp = scala.util.Try(ts.toLong).toOption
            .getOrElse(newestMtime(f))
          Some((origName, stamp < cutoff))
        case (legacyStranded(origName), true) =>
          Some((origName, newestMtime(f) < cutoff))
        case _ => None
      }
      parsed.flatMap { case (origName, oldEnough) =>
        val orig = new File(f.getParentFile, origName)
        if (refs0.contains(orig.toPath.toAbsolutePath.normalize())) {
          if (!f.renameTo(orig) && !orig.isDirectory)
            throw new IllegalStateException(
              s"gcStaging: could not heal committed dir $orig from " +
                s"stranded $f — manual intervention required")
          None
        } else if (oldEnough) {
          deleteRec(f); Some(orig.getAbsolutePath)
        } else None
      }
    }
    val swept = all
      .filter(f => f.isDirectory && stagingName.matches(f.getName))
      // age gate FIRST: a dir younger than the grace period may belong
      // to an IN-FLIGHT writer (staged, not yet committed) — deleting
      // it would let that writer's commitBatch publish a manifest
      // entry pointing at nothing. The default grace of 24h is far
      // past any batch's write+commit window; crashed attempts are by
      // definition older than it on the janitor's next day.
      .filter(f => newestMtime(f) < cutoff)
      // committed dirs are NEVER candidates (see the doc above)
      .filterNot(f => refs0.contains(f.toPath.toAbsolutePath.normalize()))
      .flatMap { f =>
        // the sweep timestamp is part of the aside NAME — atomic with
        // the rename, so a concurrent janitor's stranded-sweep always
        // sees a fresh stamp (under its grace period) on an aside dir
        // inside our rename→re-read→restore window
        val aside = new File(f.getParentFile,
          s"${f.getName}.gc-${System.currentTimeMillis()}")
        // rename aside, THEN re-read: any reference published before
        // the re-read is honored by restoring; any commit attempt
        // after the rename fails its own existence check
        if (!f.renameTo(aside)) None // concurrent janitor/writer won
        else {
          if (referenced().contains(f.toPath.toAbsolutePath.normalize())) {
            // tolerate a concurrent janitor's heal pass having already
            // renamed the aside back (then aside is gone but f exists —
            // the store is healthy); only a rename failure with the
            // canonical path STILL absent is a real stranding
            if (!aside.renameTo(f) && !f.isDirectory)
              throw new IllegalStateException(
                s"gcStaging: could not restore committed dir $f from " +
                  s"$aside — manual intervention required")
            None
          } else { deleteRec(aside); Some(f.getAbsolutePath) }
        }
      }
    stranded ++ swept
  }

  /** Retire an append/tombstone root whose every committed batch has
    * been FOLDED into an adopted artifact (the missing half of "after
    * adoption, the batch dirs are janitor garbage": [[gcStaging]] only
    * reclaims UNREFERENCED dirs, and a committed dir stays referenced
    * by its root's own manifest forever — without retirement, every
    * compaction leaks its inputs). Deletes the entire root tree:
    * manifests, committed data dirs, staging leftovers.
    *
    * Ordering contract (the one every log-compaction system has): call
    * ONLY after (a) the compacted artifact is adopted — serves read
    * the new versioned dir — and (b) the upstream producer's
    * checkpoint has advanced past every folded batch. A retire
    * violates (b) at its peril: the manifest's batchId replay
    * protection dies with the manifest, so a redelivered OLD batch
    * would re-commit into the fresh root as new data and the NEXT fold
    * would double it. In the streaming paths here, (b) is Structured
    * Streaming's checkpoint guarantee (a batchId is never redelivered
    * once its foreachBatch completed and the checkpoint committed);
    * batch deployments key batchIds to their own ledger. Returns true
    * when something was deleted; idempotent. */
  def retireRoot(root: String): Boolean = {
    val f = new File(root)
    val existed = f.exists()
    deleteRec(f)
    existed
  }

  /** Most recent mtime in a tree — a writer still producing files
    * keeps refreshing it, so the age gate sees activity anywhere in
    * the staged dir, not just at its root. */
  private def newestMtime(f: File): Long =
    (f.lastModified() +: Option(f.listFiles()).toSeq.flatten
      .map(newestMtime)).max

  /** Absolute paths of every committed data directory, commit order. */
  def committedDirs(root: String): Seq[String] =
    latest(root).map(_.entries.map(e =>
      Paths.get(root).resolve(e.dir).toString)).getOrElse(Seq.empty)

  /** Every committed parquet batch under `root`, in `schema`'s column
    * order, read as ONE multi-path scan. An empty manifest reads as a
    * typed empty relation. Loud on a batch dir that lacks a schema
    * column — a dir from an older or mis-built writer fails HERE with
    * `store` and the missing columns named, not as an
    * AnalysisException at the consumer. */
  def committedParquet(s: SparkSession, root: String, schema: StructType,
      store: String): DataFrame = {
    val dirs = committedDirs(root)
    if (dirs.isEmpty)
      s.createDataFrame(s.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        schema)
    else {
      val read = s.read.parquet(dirs: _*)
      val missing = schema.fieldNames.filterNot(read.columns.contains)
      require(missing.isEmpty,
        s"$store $root is missing columns: ${missing.mkString(", ")}")
      read.select(schema.fieldNames.toSeq.map(
        org.apache.spark.sql.functions.col): _*)
    }
  }

  /** Read exactly the committed directories (empty relation when no
    * manifest exists yet). Each dir is read with its own base path so
    * partition columns (`shard=k/`) resolve per batch dir; the
    * explicit schema carries their types. */
  def readCommitted(s: SparkSession, root: String, schema: StructType,
      format: String = "json"): DataFrame =
    readDirs(s, committedDirs(root), schema, format)

  /** Read only the directories committed under one batchId. */
  def readBatch(s: SparkSession, root: String, batchId: Long,
      schema: StructType, format: String = "json"): DataFrame = {
    val dirs = latest(root).map(_.entries.filter(_.batchId == batchId)
      .map(e => Paths.get(root).resolve(e.dir).toString))
      .getOrElse(Seq.empty)
    readDirs(s, dirs, schema, format)
  }

  private def readDirs(s: SparkSession, dirs: Seq[String],
      schema: StructType, format: String): DataFrame =
    if (dirs.isEmpty)
      s.createDataFrame(s.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        schema)
    else dirs.map(d => s.read.schema(schema).format(format).load(d))
      .reduce(_.unionByName(_))

  // ----- tiny hand-rolled manifest codec: the format is two flat
  // arrays, so a JSON library adds nothing but a dependency surface;
  // paths are uuid-safe (no quotes/escapes can occur) -----

  private def render(m: Manifest): String = {
    val es = m.entries.map(e =>
      s"""{"batch_id":${e.batchId},"dir":"${e.dir}"}""").mkString(",")
    s"""{"version":${m.version},"entries":[$es]}"""
  }

  private val EntryRe = """\{"batch_id":(\d+),"dir":"([^"]+)"\}""".r

  private def parse(version: Int, s: String): Manifest =
    Manifest(version,
      EntryRe.findAllMatchIn(s).map(m =>
        Entry(m.group(1).toLong, m.group(2))).toSeq)

  private def deleteRec(f: File): Unit = {
    Option(f.listFiles()).toSeq.flatten.foreach(deleteRec)
    f.delete(); ()
  }
}

/** Session-lifetime tmp-dir registry: every operator that writes a tree
  * under java.io.tmpdir takes its root from [[artifactRoot]] (the only
  * reader of that property in src/main), and ONE JVM shutdown hook
  * deletes every root handed out — sessions leave no tree behind. */
object TmpDirs {
  private val dirs = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  private lazy val hook: Unit = {
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      dirs.forEach(d => deleteRec(new File(d)))))
    ()
  }

  /** Session-scoped artifact root under java.io.tmpdir, registered for
    * exit cleanup — ONE recipe for every harness store (e14/e15 IVF,
    * d20 LSH, t19-style tmp artifacts), so path hygiene changes happen
    * once. Keyed by (applicationId, dataset digest, tag) — a SHA-256
    * prefix of the dataset path, not String.hashCode (r13 ADVICE: two
    * datasets colliding on the 32-bit hash under the same tag and app
    * would silently share one store directory; 64 digest bits make
    * that effectively impossible). */
  def artifactRoot(s: org.apache.spark.sql.SparkSession, dataset: String,
      tag: String): String = {
    hook
    val path = new File(System.getProperty("java.io.tmpdir"),
      s"graft_${tag}_${s.sparkContext.applicationId}_" + pathDigest(dataset)).getAbsolutePath
    dirs.add(path)
    path
  }

  /** First 8 bytes of SHA-256(path), hex — collision-resistant tmp-dir
    * key component. */
  private[graft] def pathDigest(path: String): String =
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(path.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .take(8).map(b => f"$b%02x").mkString

  private def deleteRec(f: File): Unit = {
    Option(f.listFiles()).toSeq.flatten.foreach(deleteRec)
    f.delete(); ()
  }
}
