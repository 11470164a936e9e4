package graft.streaming

import java.io.{BufferedInputStream, BufferedOutputStream, ObjectInputStream, ObjectOutputStream}
import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.util.Using

import graft.index.{TableIndex, WheelIndexIO, WheelKey, WheelRegistry}

/** The publisher both streaming wheels ([[StreamingWheelIndex]],
  * [[StreamingTypedWheel]]) are built on: the ingest lock and version, the
  * registry key it publishes under, publish and withdraw with layering,
  * the persisted snapshot and the checkpoint file. A wheel supplies its
  * families ([[ownFamiliesInto]]), the keys it withdraws ([[withdraws]]),
  * its configuration signature ([[configSig]]) and its checkpoint payload
  * ([[writeState]], [[readState]]).
  *
  * Publishing LAYERS, never clobbers: wheel families another stream
  * publisher registered for the same key (entries are keyed by family,
  * columns and filter key) are carried into each republish. A BATCH-built
  * index (file fingerprint ≠ 0) answers from a different row set than the
  * stream's watermark-consistent state, so the two must not mix: it is
  * displaced with a warning and restored by [[deregister]]. The published
  * index carries fingerprint 0, which skips the batch-build listing gate:
  * its staleness is the stream's version. */
private[streaming] abstract class StreamPublisher(timeColumn: String) {

  /** The ingest lock: batch merges, publishes, snapshots and checkpoints
    * hold it. */
  protected final val lock = new Object
  /** Batches (and restores) merged so far; guarded by [[lock]]. */
  protected final var version = 0L
  @volatile private var publishKey: Option[String] = None
  /** The batch-built index the first publish displaced, if any. */
  @volatile private var displaced: Option[TableIndex] = None

  /** Adds this publisher's current families to `t`; holds [[lock]]. */
  protected def ownFamiliesInto(t: TableIndex): Unit
  /** The keys of `cur`, a stream-published index, that are this
    * publisher's to withdraw: a republish replaces them with its current
    * families, a deregister drops them. */
  protected def withdraws(cur: TableIndex): WheelKey => Boolean
  /** Stamped into checkpoints: a checkpoint of a differently-configured
    * wheel would mis-route or mis-merge its state, so [[restoreState]]
    * refuses it. */
  protected def configSig: String
  protected def writeState(o: ObjectOutputStream): Unit
  /** Merges a checkpoint's payload into the live state; returns the saved
    * watermark (ms). */
  protected def readState(in: ObjectInputStream): Long

  /** Publishes under registry key `key` now and after every batch. */
  protected final def registerUnder(key: String): Unit = {
    publishKey = Some(key)
    lock.synchronized(publishLocked())
  }

  /** Merges one batch into the live state under the lock, then republishes. */
  protected final def ingest(merge: => Unit): Unit = lock.synchronized {
    merge
    version += 1
    publishLocked()
  }

  private def publishLocked(): Unit = publishKey.foreach { key =>
    WheelRegistry.update(key, { existing =>
      val t = new TableIndex(key, timeColumn, tsAllNonNull = false, 0L)
      existing match {
        case Some(cur) if cur.fingerprint != 0L =>
          if (displaced.isEmpty) {
            displaced = Some(cur)
            System.err.println(s"[graft] streaming register displaces the " +
              s"batch-built index for $key; it will be restored on deregister()")
          }
        case Some(cur) =>
          val own = withdraws(cur)
          t.addMissing(cur, k => !own(k))
        case None => ()
      }
      ownFamiliesInto(t)
      Some(t)
    })
  }

  /** Withdraws THIS publisher's families: other stream publishers'
    * families stay registered, and a displaced batch-built index is
    * restored only when no live stream family would be lost by the swap.
    * A batch index that re-registered over us is left untouched. */
  def deregister(): Unit = lock.synchronized {
    publishKey.foreach { key =>
      WheelRegistry.update(key, {
        case Some(cur) if cur.fingerprint == 0L =>
          val own = withdraws(cur)
          val rest = new TableIndex(key, cur.timeColumn, tsAllNonNull = false, 0L)
          rest.addMissing(cur, k => !own(k))
          if (rest.isEmpty) displaced
          else {
            displaced.foreach(_ => System.err.println(
              s"[graft] deregister keeps live stream families for $key; the " +
                "displaced batch-built index is NOT restored (re-build to re-register)"))
            Some(rest)
          }
        case Some(cur) => Some(cur)
        case None      => displaced
      })
    }
    publishKey = None
    displaced = None
  }

  /** Persists the PUBLISHED families — this publisher's only, fingerprint
    * 0 — in [[graft.index.WheelIndexIO]]'s atomic format. A restarted
    * service `WheelIndexIO.load`s the file and serves plan-time rewrites at
    * the saved watermark before any stream is reconstructed; a publisher
    * that later registers the same key republishes over it. State files
    * ([[saveState]]) restore the ingest side instead. Requires a prior
    * register (the snapshot carries the table key); safe while the stream
    * runs. */
  def saveSnapshot(file: String): Unit = lock.synchronized {
    val key = publishKey.getOrElse(throw new IllegalStateException(
      "saveSnapshot requires register first: the snapshot carries the table key"))
    val t = new TableIndex(key, timeColumn, tsAllNonNull = false, 0L)
    ownFamiliesInto(t)
    WheelIndexIO.save(t, file)
  }

  /** Checkpoints the ingest state to `file`, atomically (temp file + move).
    * Safe while the stream runs: the file is a consistent cut between two
    * batches. With the source's own checkpoint trimmed to batches past the
    * saved watermark, a restarted process recovers in O(new batches). */
  def saveState(file: String): Unit = lock.synchronized {
    val target = Paths.get(file)
    val tmp = Files.createTempFile(
      Option(target.getParent).getOrElse(Paths.get(".")), ".wheelstream", ".tmp")
    try {
      Using.resource(new ObjectOutputStream(
          new BufferedOutputStream(Files.newOutputStream(tmp), 1 << 20))) { o =>
        o.writeObject(configSig)
        writeState(o)
      }
      Files.move(tmp, target, StandardCopyOption.REPLACE_EXISTING, StandardCopyOption.ATOMIC_MOVE)
    } finally Files.deleteIfExists(tmp)
  }

  /** Restores a checkpoint into this fresh instance and returns the saved
    * watermark (ms), the event time the re-attached source resumes after.
    * Restored state merges additively, so it must run before any batch. */
  def restoreState(file: String): Long = lock.synchronized {
    require(version == 0L,
      "restoreState must run on a fresh instance, before any batch (restore merges additively)")
    val wm = Using.resource(new ObjectInputStream(
        new BufferedInputStream(Files.newInputStream(Paths.get(file)), 1 << 20))) { in =>
      val sig = in.readObject().asInstanceOf[String]
      require(sig == configSig,
        s"checkpoint was written by a differently-configured wheel ($sig != $configSig)")
      readState(in)
    }
    version += 1
    wm
  }
}

/** A frozen view of live state, re-frozen only when its change counter
  * moved. Guarded by the ingest lock. */
private[streaming] final class FreezeCache[T <: AnyRef] {
  private var at = 0L
  private var frozen: T = _

  def apply(counter: Long)(freeze: => T): T = {
    if (frozen == null || at != counter) {
      frozen = freeze
      at = counter
    }
    frozen
  }
}
