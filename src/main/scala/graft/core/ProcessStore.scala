package graft.core

import scala.util.control.NonFatal

/** Build-once, per-process keyed artifact directories — the ONE
  * implementation of "key → UUID-named dir under a process-random temp
  * base, reclaimed by a shutdown hook" that the label store
  * ([[graft.ops.Graph.materializedOnce]]), the trained index store
  * ([[graft.ops.Similarity]]), and the compaction bench fixtures
  * ([[graft.streaming.IngestPipeline]]) all ride. Round 14 grew three
  * parallel copies of this pattern; a fix to the lifecycle (locking,
  * cleanup, key derivation) now lands once.
  *
  * Per-process scoping is the safety contract: a regenerated testdata
  * directory can never serve stale artifacts across JVM runs, and the
  * random base means concurrent gate + bench processes can never race
  * each other's paths (the round-13 ADVICE tmpdir race). Callers fold
  * an input fingerprint ([[Tables.fileFingerprint]]) into the key to
  * catch an input rewritten under the SAME path within one process.
  *
  * Concurrency (round-14 ADVICE): builds lock PER KEY, not globally —
  * a slow build (index training, fixture ingest) must not serialize
  * unrelated keys' first requests in the parallel-test process. Each
  * key's cell is created once via `computeIfAbsent` (cheap, never
  * blocks on a build) and the build runs inside that cell's own lazy
  * initializer, so one key builds exactly once while other keys
  * proceed. Crash hygiene: the build writes into a RANDOM `.tmp-*`
  * sibling and the finished dir is renamed into place, so a build that
  * throws mid-write leaves no debris under the keyed path for a retry
  * to build over (a failed lazy init is re-attempted on the next
  * request, against a fresh tmp dir).
  */
object ProcessStore {

  private[graft] lazy val base: java.io.File = {
    val f = java.nio.file.Files.createTempDirectory("graft_store").toFile
    // deleteOnExit is a no-op on non-empty directories — a recursive
    // shutdown hook is what actually reclaims the store
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      try org.apache.commons.io.FileUtils.deleteDirectory(f)
      catch { case NonFatal(_) => () }))
    f
  }

  /** One key's build cell: the lazy val IS the per-key lock (its
    * initializer runs under the cell's monitor), and a throwing build
    * leaves the val uninitialized so the next request retries cleanly.
    */
  private final class Cell(key: String, build: java.io.File => Unit) {
    lazy val path: String = {
      val dst = new java.io.File(base,
        java.util.UUID.nameUUIDFromBytes(key.getBytes("UTF-8")).toString)
      if (!dst.exists()) {
        val tmp = new java.io.File(base,
          dst.getName + ".tmp-" + java.util.UUID.randomUUID())
        try {
          tmp.mkdirs()
          build(tmp)
          java.nio.file.Files.move(tmp.toPath, dst.toPath,
            java.nio.file.StandardCopyOption.ATOMIC_MOVE)
        } catch {
          case t: Throwable =>
            try org.apache.commons.io.FileUtils.deleteDirectory(tmp)
            catch { case NonFatal(_) => () }
            throw t
        }
      }
      dst.getAbsolutePath
    }
  }

  private val cells =
    new java.util.concurrent.ConcurrentHashMap[String, Cell]()

  /** The directory for `key`, building it on first request; every
    * later request returns the same path without re-building.
    * Concurrent first requests for ONE key build exactly once (the
    * cell's lazy initializer); requests for DISTINCT keys never block
    * each other. A failed build evicts its cell (it captured the
    * failing closure), so the next request installs and runs a fresh
    * one instead of replaying the dead closure forever.
    */
  def once(key: String)(build: java.io.File => Unit): String = {
    val cell = cells.computeIfAbsent(key, k => new Cell(k, build))
    try cell.path
    catch { case t: Throwable => cells.remove(key, cell); throw t }
  }

  /** A named scratch path under the store base (per-process random,
    * reclaimed at exit) — for working copies and per-run outputs that
    * are rebuilt rather than cached.
    */
  def scratch(name: String): java.io.File = new java.io.File(base, name)
}
