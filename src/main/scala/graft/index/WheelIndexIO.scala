package graft.index

import java.io.{ObjectInputStream, ObjectOutputStream}
import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.util.Using

/** Persistence for built indexes, so a restarted service re-registers its
  * wheels instead of re-scanning the table (the reference keeps wheels
  * in-memory only and rebuilds on every process start,
  * `datafusion-uwheel/src/lib.rs:92-122`).
  *
  * Safety — scoped to FINGERPRINTED BATCH indexes: such a saved
  * [[TableIndex]] carries the build-time file-listing fingerprint, and the
  * optimizer rule re-fingerprints the table's CURRENT listing on every
  * lookup — a loaded index over data that changed since the save is inert
  * (no rewrites, queries fall back to scans), never silently wrong.
  * [[load]] also reports that staleness eagerly so callers can schedule a
  * rebuild. STREAM SNAPSHOTS (fingerprint 0, written by the streaming
  * wheels' shared `saveSnapshot`, `graft.streaming.StreamPublisher`) are
  * OUTSIDE this guarantee: their consistency domain is the stream's
  * watermark, not a file listing, so [[load]] reports them fresh
  * unconditionally and the rule serves them as-is. A snapshot loaded
  * WITHOUT re-attaching its stream therefore answers at the saved
  * watermark forever, growing staler as the table grows — use
  * [[savedWatermarkMs]] after load to decide whether snapshot-only service
  * is acceptable or a stream re-attach / rebuild is required. Writes are
  * atomic (temp file + move), so a crash mid-save cannot leave a truncated
  * file behind.
  *
  * Format: Java serialization of the [[TableIndex]], in which every typed
  * (sketch, moment, top-k) wheel writes itself as ONE compact run — its
  * per-second keys as one primitive array, its partials as length-prefixed
  * bytes through the aggregator's `partialSerde` ([[graft.wheel.TypedHawWheel]]).
  * There is one format rule: a change to any persisted class bumps
  * [[TableIndex]]'s `SerialVersionUID`. A file saved under any earlier
  * version, numeric-only or typed, fails [[load]] with the "stale index
  * format … rebuild" error; rebuild the index and save it again.
  */
object WheelIndexIO {

  /** Serializes a built parquet-table index (all wheels + metadata) to
    * `file`, atomically. View-built indexes ([[UWheelIndex.buildFromDataFrame]])
    * are rejected: they are matched by in-process ExprIds, which do not
    * survive a restart — a reloaded one could never answer a query. */
  def save(t: TableIndex, file: String): Unit = {
    require(!t.pathKey.startsWith("view::"),
      s"${t.pathKey} is an in-memory (DataFrame-built) index; its ExprId " +
        "registration dies with the process, so persisting it is meaningless — rebuild instead")
    val target = Paths.get(file)
    val tmp = Files.createTempFile(
      Option(target.getParent).getOrElse(Paths.get(".")), ".wheelidx", ".tmp")
    try {
      Using.resource(new ObjectOutputStream(new java.io.BufferedOutputStream(
        Files.newOutputStream(tmp), 1 << 20)))(_.writeObject(t))
      Files.move(tmp, target, StandardCopyOption.REPLACE_EXISTING,
        StandardCopyOption.ATOMIC_MOVE)
    } finally Files.deleteIfExists(tmp)
  }

  /** Loads and registers a saved index. Returns the index and whether it is
    * still fresh (fingerprint matches the table's current file listing).
    * A corrupt or unreadable file throws (`IOException` family) — with
    * atomic saves that indicates external damage, and the caller's recovery
    * is the same as for a stale index: rebuild. */
  def load(spark: org.apache.spark.sql.SparkSession, file: String): (TableIndex, Boolean) = {
    val t =
      try Using.resource(new ObjectInputStream(new java.io.BufferedInputStream(
        Files.newInputStream(Paths.get(file)), 1 << 20)))(
        _.readObject().asInstanceOf[TableIndex])
      catch {
        // a file saved under another version of a persisted class: there
        // is no path back to it, so fail with the operational answer
        // instead of a bare serialization stack trace
        case e: java.io.InvalidClassException =>
          throw new java.io.InvalidObjectException(
            s"$file was saved by an incompatible graft version (stale index " +
              s"format): rebuild the index and re-save — ${e.getMessage}")
      }
    WheelRegistry.register(t)
    // Stream-published snapshots (StreamPublisher.saveSnapshot, shared by
    // both streaming wheels) carry fingerprint 0: their consistency domain is the
    // stream's WATERMARK, not a file listing, and the rule serves
    // fingerprint-0 indexes unconditionally — so no listing staleness
    // probe applies and the load reports them fresh. The answer is the
    // saved watermark's row set; re-attaching the stream republishes over
    // this snapshot as batches arrive.
    // rootsOfKey, not the bare pathKey: a multi-root index's key is the
    // newline-joined root set — not a readable path — and the swallowed
    // failure would report every such load permanently stale (inert
    // forever; same symptom class as the pre-round-15 multi-root decline)
    val fresh = t.fingerprint == 0L || scala.util.Try {
      graft.Tables.ensureNanosConf(spark)
      UWheelIndex.fingerprintOfListing(
        UWheelIndex.listingOfRoots(spark, WheelRegistry.rootsOfKey(t.pathKey))) == t.fingerprint
    }.getOrElse(false)
    (t, fresh)
  }

  /** Upper edge (epoch MILLISECONDS, exclusive) of the loaded index's
    * answerable time range — the saved-watermark proxy callers use to
    * decide whether a fingerprint-0 stream snapshot may be served without
    * re-attaching its stream ("answers at most this stale") or must be
    * republished first. Derived as the max data edge across every wheel
    * family (second-domain wheels scaled ×1000, ms wheels taken as-is);
    * None for an index with no data-bearing wheel (nothing answerable
    * anyway). Meaningful for batch indexes too: it is the end of the last
    * indexed slot. */
  def savedWatermarkMs(t: TableIndex): Option[Long] = {
    // empty wheels carry the (0, 0) sentinel extent — only data-bearing
    // wheels (end > start) vote
    WheelFamily.all.flatMap(f => t.all(f).map(_.extent).collect {
      case (s, e) if e > s => e * f.tickMs
    }).maxOption
  }
}
