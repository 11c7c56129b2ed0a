package graft.sources

import java.nio.file.{Files, Path, Paths, StandardOpenOption}

/** THE commit-coordination seam of [[Versioned]] — the one contract a
  * cluster deployment swaps to run the table format on its store.
  *
  * `putIfAbsent(path, v, payload)` must atomically bind version slot
  * `v` of table `path` to `payload` and answer whether THIS caller
  * won. Its postconditions carry every correctness proof above it
  * (the one optimistic retry loop, `Versioned.commitLoop`, every
  * writer commits through; txn dedup; cross-process exactly-once):
  *
  *  1. exactly one caller per slot ever sees `true`;
  *  2. after ANY return (true or false), the slot's manifest file
  *     `<table>/_versions/v{N}.json` exists and holds the winner's
  *     payload — a loser never observes a claimed-but-unreadable slot
  *     (implementations for crash-prone stores must RECOVER a dead
  *     winner's publish before reporting the loss).
  *
  * Two implementations ship:
  *  - [[CommitArbiter.LocalFs]]: create-exclusive `link(2)` — the
  *    POSIX/HDFS-class primitive (rename-no-overwrite on HDFS, `If-
  *    None-Match: *` conditional put on stores that support it). The
  *    store's own atomicity IS the arbiter; postcondition 2 is free
  *    because the winning write and the publish are the same call.
  *  - [[CommitArbiter.ExternalLog]]: for stores with NO fail-if-exists
  *    write at all (legacy S3 semantics: every PUT overwrites
  *    silently). Slot ownership moves to an external CAS log
  *    (DynamoDB-style conditional put; modeled locally as a
  *    create-exclusive claim file in a coordination directory OUTSIDE
  *    the data store's semantics), and the store itself is touched
  *    only with overwrite-capable writes. A winner that dies between
  *    claiming and publishing is finished by the next contender
  *    (commit recovery — the Delta DynamoDB LogStore discipline), so
  *    postcondition 2 holds even across crashes.
  */
trait CommitArbiter {
  def putIfAbsent(path: String, v: Int, payload: Array[Byte]): Boolean
}

object CommitArbiter {

  private def manifestFile(path: String, v: Int): Path =
    Paths.get(path, "_versions", s"v$v.json")

  /** Create-exclusive link(2): stage the payload to a temp name, then
    * link into the slot name — EEXIST loses. Identical contract to
    * HDFS rename-no-overwrite / object-store conditional put. */
  object LocalFs extends CommitArbiter {
    def putIfAbsent(path: String, v: Int, payload: Array[Byte]): Boolean = {
      val dir = Paths.get(path, "_versions")
      Files.createDirectories(dir)
      val tmp = dir.resolve(s".tmp-${java.util.UUID.randomUUID()}")
      Files.write(tmp, payload)
      try {
        Files.createLink(manifestFile(path, v), tmp)
        Files.deleteIfExists(tmp)
        true
      } catch {
        case _: java.nio.file.FileAlreadyExistsException =>
          Files.deleteIfExists(tmp)
          false
      }
    }
  }

  /** Slot CAS through an external coordination log, for stores whose
    * every write OVERWRITES (no conditional put, no atomic rename).
    *
    * Protocol per attempt:
    *  1. STAGE: write the payload under a unique name
    *     `.claim-v{N}-<uuid>.json` next to the manifests (unique ⇒
    *     overwrite-safe on any store);
    *  2. CLAIM: conditional-put a record for (table, v) into the LOG
    *     naming the staged uuid — the only atomic step, supplied by
    *     the log system, not the data store;
    *  3. PUBLISH: the claim winner copies its staged bytes to
    *     `v{N}.json` with a plain overwriting write — safe because
    *     the log says this slot is ours alone.
    *
    * A losing CLAIM reads the winner's record and, if the winner has
    * not yet published (crashed in the 2→3 window), publishes the
    * winner's staged payload itself — idempotent: every recoverer
    * writes the same bytes the claim names, so late or concurrent
    * recoveries converge. Only then does it report the loss, so
    * callers never observe a burned-but-empty slot and the retry loop
    * above cannot livelock on a dead winner.
    *
    * `logDir` stands in for the external CAS system; deployments back
    * it with DynamoDB/ZooKeeper/etcd — anything with conditional put.
    * `postClaimHook` is a test-only crash-injection point between
    * CLAIM and PUBLISH. */
  final class ExternalLog(logDir: Path) extends CommitArbiter {
    @volatile private[sources] var postClaimHook: () => Unit = () => ()
    /** Test-only injection point INSIDE the loser-recovery TOCTOU
      * window — after the `Files.exists(winnerStaged)` check, before
      * the staged read — so a spec can deterministically make the
      * live winner publish-and-delete exactly there (the race the
      * NoSuchFileException fallback below exists for). */
    @volatile private[sources] var preRecoveryReadHook: () => Unit =
      () => ()

    private def slotKey(path: String, v: Int): String = {
      // table path → filesystem-safe log key (the real system keys on
      // the string pair; the digest only flattens it into one name)
      val h = java.security.MessageDigest.getInstance("MD5")
        .digest(path.getBytes("UTF-8")).map("%02x".format(_)).mkString
      s"$h-v$v"
    }

    private def claimFile(path: String, v: Int): Path =
      logDir.resolve(s"${slotKey(path, v)}.claim")

    /** Overwriting publish of `payload` to the slot's manifest name —
      * deliberately never create-exclusive: this models the only
      * write primitive the target store has. An object-store PUT is
      * atomic-or-nothing to readers, so the local stand-in must be
      * too: an in-place CREATE+TRUNCATE write would let a concurrent
      * `readManifest`/`latestVersion` poller observe a truncated JSON
      * (and concurrent recoverers re-truncate each other). Stage to a
      * temp name and ATOMIC_MOVE over the slot — an overwriting atomic
      * rename models an atomic PUT faithfully; readers see either the
      * old bytes or the new, never a prefix. */
    private def publish(path: String, v: Int, payload: Array[Byte]): Unit = {
      val target = manifestFile(path, v)
      Files.createDirectories(target.getParent)
      val tmp = target.getParent.resolve(
        s".pub-${java.util.UUID.randomUUID()}")
      Files.write(tmp, payload)
      Files.move(tmp, target,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING): Unit
    }

    def putIfAbsent(path: String, v: Int, payload: Array[Byte]): Boolean = {
      Files.createDirectories(logDir)
      val dir = Paths.get(path, "_versions")
      Files.createDirectories(dir)
      // 1. STAGE under a unique (uncontended) name
      val uuid = java.util.UUID.randomUUID().toString
      val staged = dir.resolve(s".claim-v$v-$uuid.json")
      Files.write(staged, payload)
      // 2. CLAIM via the log's conditional put
      val tmp = writeTmp(uuid.getBytes("UTF-8"))
      val won =
        try { Files.createLink(claimFile(path, v), tmp); true }
        catch { case _: java.nio.file.FileAlreadyExistsException => false }
        finally Files.deleteIfExists(tmp) // the claim link survives
      if (won) {
        postClaimHook() // test-only crash window
        // 3. PUBLISH with the store's overwriting write
        publish(path, v, payload)
        Files.deleteIfExists(staged)
        true
      } else {
        Files.deleteIfExists(staged)
        // commit recovery: finish a dead winner's publish before
        // reporting the loss (postcondition 2)
        if (!Files.exists(manifestFile(path, v))) {
          val winnerUuid = new String(
            Files.readAllBytes(claimFile(path, v)), "UTF-8")
          val winnerStaged = dir.resolve(s".claim-v$v-$winnerUuid.json")
          // The winner may publish (and delete its stage) concurrently
          // with this recovery — either way the same bytes land. The
          // exists→read pair is a TOCTOU window: a LIVE winner can
          // publish+delete between the two calls, so the read itself
          // must tolerate the file vanishing. A vanished stage means
          // the winner published (it deletes only after publish), so
          // the loss is clean — re-verify the manifest and move on
          // rather than abort a retry loop that actually lost fine.
          if (Files.exists(winnerStaged)) {
            preRecoveryReadHook()
            try publish(path, v, Files.readAllBytes(winnerStaged))
            catch {
              case _: java.nio.file.NoSuchFileException
                if Files.exists(manifestFile(path, v)) => ()
            }
          }
        }
        false
      }
    }

    /** Unique temp file inside the log dir (claim records are tiny —
      * they carry only the staged uuid). */
    private def writeTmp(payload: Array[Byte]): Path = {
      val t = logDir.resolve(s".tmp-${java.util.UUID.randomUUID()}")
      Files.write(t, payload)
      t
    }
  }
}
