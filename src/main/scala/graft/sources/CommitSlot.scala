package graft.sources

import java.io.File

/** Nonce-verified commit-slot claims — the shared locking primitive
  * behind [[Versioned]]'s and [[graft.dedup.ClusterLedger]]'s publish
  * steps (and the index family's compaction).
  *
  * The first-generation claim (`createNewFile` + bare `delete`/
  * `createNewFile` steal) had a non-atomic steal: two retrying writers
  * that both observed a crashed claim could interleave
  * delete→create→delete→create and BOTH believe they owned the slot —
  * the loser's cleanup could then delete the winner's just-renamed
  * data. This claim closes that:
  *
  *  - the claim file's CONTENT is the owner's nonce; ownership is a
  *    property you can re-verify at any time ([[Claim.owned]]), not a
  *    one-shot create result;
  *  - a steal is ONE atomic rename of the stale claim to a
  *    nonce-suffixed graveyard name — of N concurrent stealers exactly
  *    one wins the rename; the losers observe the failure and refuse;
  *  - acquisition ends with a content read-back: a writer whose claim
  *    was stolen between its write and the read-back sees a foreign
  *    nonce and refuses before touching the slot;
  *  - callers re-verify [[Claim.owned]] immediately before every
  *    destructive step under the claim (the pre-rename target reclaim,
  *    the rename itself) — a stall long enough for another writer to
  *    judge this one crashed is detected at the last possible instant
  *    instead of silently deleting the usurper's committed data.
  *
  * Staleness is still mtime-based (`lastModified < startedMs` — the
  * claim predates the would-be stealer's whole publish), so the
  * residual window is a writer that stalls longer than a retry's full
  * stage+audit between its OWN ownership re-verify and the very next
  * filesystem op — narrowed from the whole claim-to-commit span to
  * one instruction boundary. On object stores without atomic
  * create/rename, point commits at a consistent metadata service
  * (every manifest-based table format's caveat).
  *
  * Graveyard files (`<claim>.stale.<nonce>`) are deleted by the
  * winning stealer immediately; a crash between rename and delete
  * strands one, swept by the owners' vacuum passes (they match the
  * claim-file prefix). */
object CommitSlot {

  /** A held (or believed-held) claim. Ownership can be re-verified at
    * any time; release deletes the file only when still owned (never
    * a usurper's claim). */
  final class Claim private[CommitSlot] (val file: File, nonce: String) {
    /** True iff the claim file still exists and carries OUR nonce —
      * i.e. no other writer has stolen the slot. */
    def owned(): Boolean =
      try {
        file.exists() &&
          new String(java.nio.file.Files.readAllBytes(file.toPath), "UTF-8") == nonce
      } catch { case _: java.io.IOException => false }

    /** Delete the claim iff still owned (a committed writer's normal
      * exit). A stolen claim belongs to the usurper — left alone. */
    def release(): Unit = if (owned()) file.delete()
  }

  /** Filesystem mtime can lag the JVM clock (kernel coarse clock,
    * second-granularity stores), making a claim created a moment AFTER
    * a publish began look older than it — a live claimant would be
    * stolen from. The slack means "stale" requires the claim to
    * predate the stealer's publish by a clear margin; genuine crashed
    * leftovers are a full stage+audit+backoff older, far past it. */
  private val StealSlackMs = 2000L

  /** Acquire the slot named by `file`. A pre-existing claim CLEARLY
    * OLDER than `startedMs` (it predates this writer's whole publish
    * by more than the mtime slack — under the single-writer contract,
    * a crashed attempt's leftover) is stolen atomically; a fresher
    * claim is a racing writer mid-commit. Returns None on any
    * conflict — the caller refuses without touching the slot. */
  def acquire(file: File, startedMs: Long): Option[Claim] = {
    val nonce = java.util.UUID.randomUUID().toString
    def writeAndVerify(): Option[Claim] = {
      java.nio.file.Files.write(file.toPath, nonce.getBytes("UTF-8"))
      val c = new Claim(file, nonce)
      // read-back: if a stealer renamed this claim away and re-created
      // it between our write and here, we see a foreign nonce — refuse
      if (c.owned()) Some(c) else None
    }
    try {
      if (file.createNewFile()) writeAndVerify()
      else if (file.lastModified() + StealSlackMs < startedMs) {
        // atomic steal: exactly one of N concurrent stealers wins the
        // rename of the stale claim to its private graveyard name
        val grave = new File(file.getParentFile, s"${file.getName}.stale.$nonce")
        if (!file.renameTo(grave)) None
        else {
          grave.delete()
          if (file.createNewFile()) writeAndVerify() else None
        }
      } else None
    } catch { case _: java.io.IOException => None }
  }

  /** Atomic small-file commit — write beside, rename over: `content`
    * goes to a `.`-prefixed temporary next to `target` (hidden from
    * Spark's and the streaming source's file listings), then one
    * atomic rename replaces `target`. Readers see the old content or
    * the new, never a torn file; a crash before the rename strands
    * only the hidden temporary. The single commit step behind every
    * manifest and pointer file ([[Versioned]]'s manifest and change
    * feed, [[graft.dedup.ClusterLedger]]'s manifest, the index
    * family's generation pointers). */
  def writeAtomically(target: File, content: String): Unit = {
    val tmp = new File(target.getParentFile, s".${target.getName}.tmp${System.nanoTime()}")
    java.nio.file.Files.write(tmp.toPath, content.getBytes("UTF-8"))
    java.nio.file.Files.move(tmp.toPath, target.toPath,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
  }
}
