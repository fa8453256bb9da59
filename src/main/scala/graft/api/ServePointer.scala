package graft.api

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{FileAlreadyExistsException, Files, Paths}

/** Atomic CURRENT pointer over versioned artifact directories — the
  * operational primitive every store here implied but nothing
  * provided: [[IvfStore.versionedDir]] / [[DocIndexStore]] write
  * immutable versioned dirs, compactions and rebuilds produce NEW dirs, and the
  * question "which version does the fleet serve RIGHT NOW" needs an
  * atomic, auditable answer. This is the staged-rollout / rollback
  * switch: adopting a new artifact is one CAS; rolling back is
  * adopting the previous dir again (a NEW pointer version — the
  * history is append-only, so the audit trail records the revert
  * instead of erasing the rollout).
  *
  * Protocol (the [[graft.sources.ExportCommit]] manifest recipe): each
  * adoption writes `current-v{N}.json` via temp-file + hard-link —
  * link creation is atomic and fails if version N exists, so two
  * racing adopters serialize (the loser re-reads and retries at N+1;
  * adoption order IS the CAS order). Readers resolve the highest
  * version — never a torn file, never a half-adopted pointer. The
  * pointer content is fsynced BEFORE the link and the directory entry
  * after it ([[graft.sources.Durable]] — r16 ADVICE: without the
  * content force, a power failure between journal and data flush
  * could surface a visible-but-empty pointer file, which the loud
  * load would then misdiagnose as corruption). An object-store
  * deployment swaps createLink for a conditional put.
  *
  * Re-adopting the dir that is already current is a no-op (returns the
  * current version) — replayed rollout steps must not churn the
  * pointer. Adopted dirs are NORMALIZED (absolute, `..`/`.`-free,
  * no trailing slash) and must not contain `"` or `\` (r16 ADVICE:
  * a verbatim quote would produce a pointer file the parser rejects —
  * a self-inflicted loud-load; a non-normalized path would dodge
  * [[retirable]]'s protection by string inequality and let the
  * janitor delete a dir still inside the rollback window).
  *
  * 100 TB shape: the pointer is one kilobyte-scale file per adoption;
  * serves resolve [[current]] from the HIGHEST-numbered filename with
  * ONE file read (r16 ADVICE: the history is append-only and e27-style
  * replays append per session, so an every-call full-history read
  * would grow O(N) per resolve, O(N²) over the pointer's lifetime —
  * [[history]] stays the full-scan audit API, the serving path does
  * not pay for it). Immutable versioned dirs plus an atomic pointer
  * is the reader-isolation recipe (e25's witness): a serve pinned to
  * its loaded version is unaffected by a concurrent adoption, and the
  * janitor retires a dir only when no pointer version inside the
  * rollback retention window still names it ([[retirable]]). */
object ServePointer {

  private val PointerName = "current-v(\\d+)\\.json".r
  private val DirRe = """\{"version":(\d+),"dir":"([^"]+)"\}""".r

  /** Committed pointer versions in ascending order — filename-only
    * (no content reads), the shared index every resolve path starts
    * from. */
  private def versions(root: String): Seq[Int] =
    Option(new java.io.File(root).list()).toSeq.flatten
      .collect { case PointerName(v) => v.toInt }
      .sorted

  /** Read ONE pointer version's dir. LOUD on a pointer file that
    * exists but does not parse (the loud-load discipline every store
    * here follows): silently skipping a corrupt `current-v{N}.json`
    * would serve the PREVIOUS version — an invisible rollback. The
    * commit protocol fsyncs content before the name appears, so a
    * parse failure is disk corruption or foreign writes and must stop
    * the serve, not redirect it. */
  private def readVersion(root: String, v: Int): String = {
    val s = Files.readString(Paths.get(root, s"current-v$v.json"), UTF_8)
    DirRe.findFirstMatchIn(s).map(_.group(2))
      .getOrElse(throw new IllegalStateException(
        s"corrupt serve pointer current-v$v.json under $root — " +
          "refusing to resolve a version (a skip would silently " +
          "serve the previous artifact)"))
  }

  /** Normalized form every adopted dir is stored in, and every
    * [[retirable]] candidate is compared in — absolute, `..`-free, no
    * trailing slash, so protection is path identity, not string
    * identity. */
  private[api] def normalize(dir: String): String =
    Paths.get(dir).toAbsolutePath.normalize().toString

  /** Read one pointer version's dir, tolerating the file VANISHING
    * between the directory listing and the read (r17 ADVICE: a
    * concurrent [[pruneHistory]] deleting a low version mid-scan is a
    * benign janitor race, not corruption — surfacing it as a raw
    * NoSuchFileException made the two indistinguishable). A file that
    * EXISTS but fails to parse still loads loudly via [[readVersion]]. */
  private def readVersionIfPresent(root: String, v: Int): Option[String] =
    try Some(readVersion(root, v))
    catch { case _: java.nio.file.NoSuchFileException => None }

  /** All adoptions, version order — the audit trail (reads every
    * pointer file; serving paths use [[current]], which reads one).
    * Versions pruned by a concurrent janitor between the listing and
    * the read are skipped (they are no longer part of the history). */
  def history(root: String): Seq[(Int, String)] =
    versions(root).flatMap(v => readVersionIfPresent(root, v).map((v, _)))

  /** The currently adopted dir, if any pointer version exists — ONE
    * directory listing + ONE file read, regardless of history length.
    * If the head version vanishes between the listing and the read (a
    * concurrent prune that listed AFTER a newer adoption landed may
    * delete this reader's head), re-resolve from a fresh listing — the
    * newer head is there by construction. */
  @scala.annotation.tailrec
  def current(root: String): Option[String] =
    versions(root).lastOption match {
      case None => None
      case Some(v) =>
        readVersionIfPresent(root, v) match {
          case Some(dir) => Some(dir)
          case None => current(root)
        }
    }

  /** The janitor's retirement predicate: of `candidates`, the dirs
    * named by NO pointer version in the retention window (the last
    * `keepLast` adoptions). The history is append-only, so without a
    * window nothing would ever retire; the window is the rollback
    * horizon — a dir inside it may be re-adopted by a revert and must
    * survive, one outside it has no pointer that can reach it short of
    * a fresh adoption (which would re-protect it). Candidates are
    * path-normalized before the membership test (adopt() stores
    * normalized dirs), so a trailing slash or `./` spelling cannot
    * smuggle a protected dir past the window. Deployments size
    * `keepLast` to their rollback policy and feed the survivors to the
    * artifact janitor ([[graft.sources.ExportCommit.retireRoot]]'s
    * ordering contract applies: retire only after the upstream
    * checkpoint passed the folded batches). */
  @scala.annotation.tailrec
  def retirable(root: String, candidates: Seq[String],
      keepLast: Int = 2): Seq[String] = {
    require(keepLast >= 1, "keepLast must retain at least the current dir")
    // A version inside OUR window that vanishes mid-scan means a
    // concurrent pruner (possibly with a smaller keepLast) ran between
    // the listing and the read — dropping it from the protected set
    // could offer the currently-serving dir for retirement (r18
    // ADVICE). Re-resolve from a fresh listing instead (mirrors
    // [[current]]'s retry): the surviving window is complete by
    // construction once a listing's tail all reads back.
    val window = versions(root).takeRight(keepLast)
    val resolved = window.flatMap(v => readVersionIfPresent(root, v))
    if (resolved.size != window.size) retirable(root, candidates, keepLast)
    else {
      val protected_ = resolved.map(normalize).toSet
      candidates.filterNot(c => protected_.contains(normalize(c)))
    }
  }

  /** Idempotent post-fold debt retirement (r17 ADVICE): once the
    * pointer names the fold, the folded append/tombstone roots are
    * garbage whose manifest replay protection died WITH the fold — but
    * a crash between [[adopt]] and retirement must not leak them
    * forever. The maintenance-day rows replay-guard their whole day on
    * "pointer already names the fold", so a retire INSIDE that guard
    * never re-runs after such a crash; this helper runs on EVERY
    * entry, outside the guard: it retires any debt root still on disk
    * iff the pointer currently names `foldDir`, and is a no-op
    * otherwise (pre-fold entries must not touch live debt). */
  def retireFoldedDebt(ptr: String, foldDir: String,
      debtRoots: Seq[String]): Unit =
    if (current(ptr).contains(normalize(foldDir)))
      debtRoots.filter(r => new java.io.File(r).exists())
        .foreach(graft.sources.ExportCommit.retireRoot)

  /** Prune pointer HISTORY outside the retention window: deletes
    * `current-v{N}.json` files older than the last `keepLast`
    * adoptions and returns the pruned versions. The history is
    * append-only by design (an audit trail), but an e27-style
    * deployment that replays adoptions every session grows it without
    * bound — this is the janitor's bound, sized to the same rollback
    * horizon as [[retirable]] (a pruned version could name a dir only
    * a fresh adoption can re-protect, so pruning at `keepLast` never
    * removes a version a revert inside the window needs). Version
    * NUMBERING is untouched: [[adopt]] and [[current]] resolve from
    * the highest-numbered FILENAME, so deleting low versions can never
    * re-issue a version number or move the pointer. Deployments that
    * need the full audit trail archive the files before pruning
    * instead of skipping the prune. */
  def pruneHistory(root: String, keepLast: Int = 2): Seq[Int] = {
    require(keepLast >= 1, "keepLast must retain at least the current version")
    val vs = versions(root)
    val prune = vs.dropRight(keepLast)
    prune.foreach(v =>
      Files.deleteIfExists(Paths.get(root, s"current-v$v.json")))
    prune
  }

  /** Atomically adopt `dir` as the serving version. Returns the
    * pointer version that names `dir` (the existing one when `dir` is
    * already current — replay no-op). The stored dir is the
    * NORMALIZED path; `"` and `\` are rejected at the door (they
    * cannot round-trip through the pointer codec — failing here beats
    * writing a file the loud load will refuse). Safe under concurrent
    * adopters: the createLink CAS serializes them; the last adoption
    * wins. Content is fsynced before the link, the directory entry
    * after it — the published pointer survives power loss.
    *
    * PATH CONTRACT (r17 ADVICE — explicit, not incidental): adopted
    * dirs are POSIX paths; relative dirs are resolved against the
    * JVM's working directory at adopt time (so two processes must
    * agree on a cwd or pass absolute paths — pass absolute paths), and
    * Windows-style `\`-separated paths are NOT adoptable (the `\`
    * rejection below; this store's deployments are POSIX/object-store
    * — a Windows deployment would escape the codec instead, but then
    * [[retirable]]'s path-identity normalization would need a
    * platform-aware equivalence too, which verbatim escaping alone
    * does not buy). */
  def adopt(root: String, dir: String): Int = {
    val normalized = normalize(dir)
    require(!normalized.exists(c => c == '"' || c == '\\'),
      s"""adopted dir must not contain '"' or '\\' (got: $normalized) — """ +
        "the pointer codec cannot represent it and the eventual load " +
        "would fail loudly as corruption")
    val rootPath = Paths.get(root).toAbsolutePath.normalize()
    Files.createDirectories(rootPath)
    while (true) {
      val vs = versions(root)
      // replay no-op: ONE read of the head version, never the history.
      // A head that VANISHES between the listing and the read is a
      // concurrent prune racing a newer adoption (r18 ADVICE) — fall
      // through to the CAS write; FileAlreadyExists re-lists if the
      // newer head took our number.
      vs.lastOption match {
        case Some(last) =>
          readVersionIfPresent(root, last) match {
            case Some(d) if d == normalized => return last
            case _ => ()
          }
        case None => ()
      }
      val next = vs.lastOption.getOrElse(0) + 1
      val tmp = Files.createTempFile(rootPath, ".current", ".tmp")
      try {
        graft.sources.Durable.writeString(tmp,
          s"""{"version":$next,"dir":"$normalized"}""")
        try {
          Files.createLink(rootPath.resolve(s"current-v$next.json"), tmp)
          graft.sources.Durable.fsyncDir(rootPath)
          return next
        } catch {
          case _: FileAlreadyExistsException => () // lost the race; retry
        }
      } finally Files.deleteIfExists(tmp)
    }
    -1 // unreachable
  }
}
