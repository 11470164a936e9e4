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
  * rebuild. STREAM SNAPSHOTS (fingerprint 0, written by
  * `StreamingWheelIndex.saveSnapshot` / `StreamingTypedWheel.saveSnapshot`)
  * are OUTSIDE this guarantee: their consistency domain is the stream's
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
  * Files saved by builds before that format hold one Java object per active
  * second; they fail [[load]] with the "stale index format … rebuild" error,
  * and the index must be rebuilt and saved again.
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
        // Class-shape mismatch = a file saved by an INCOMPATIBLE graft
        // version (e.g. pre-round-11 files with top-k wheels predate the
        // pinned @SerialVersionUID and the filter fields; files with typed
        // wheels saved before their compact form carry TypedHawWheel's old
        // shape-computed UID). There is no
        // byte-level compat path back to those files; fail with the
        // operational answer instead of a bare serialization stack trace.
        case e: java.io.InvalidClassException =>
          throw new java.io.InvalidObjectException(
            s"$file was saved by an incompatible graft version (stale index " +
              s"format): rebuild the index and re-save — ${e.getMessage}")
      }
    // Canonical-form restore (round-7 advice): a file written by a
    // pre-sparse-HLL build holds dense register slots whose content may now
    // be canonically sparse, and combine() preserves density — mixing such
    // a wheel with fresh ones would break the bit-for-bit register
    // equality the rewrite specs assert. Any distinct wheel carrying a
    // non-canonical per-second partial is rebuilt from canonicalized
    // partials (every level re-derives from them, so all stored partials
    // come out canonical). Current-format files pass the probe untouched.
    t.allDistinctWheels.foreach { d =>
      if (d.wheel.slotPartials.exists { case (_, p) => d.agg.canonicalize(p) ne p }) {
        val rebuilt = graft.wheel.TypedHawWheel.fromSecondPartials(
          d.wheel.slotPartials.map { case (s, p) => (s, d.agg.canonicalize(p)) }, d.agg)
        t.putDistinct(d.copy(wheel = rebuilt))
      }
    }
    // Same-UID evolution guard: under the pinned SerialVersionUID, fields
    // added AFTER a file was saved deserialize as null/0, and a future
    // re-keying of the top-k map would deserialize raw via type erasure —
    // re-put entries through putTopK so lookups work and null filter
    // fields normalize. NOTE this cannot resurrect pre-round-11 top-k
    // files: those predate the pinned UID entirely and fail readObject
    // above with the stale-format error (rebuild is the only path).
    t.renormalizeTopKs()
    WheelRegistry.register(t)
    // Stream-published snapshots (StreamingWheelIndex/StreamingTypedWheel
    // .saveSnapshot) carry fingerprint 0: their consistency domain is the
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
    // wheels (endSec > startSec) vote
    val secEdges =
      t.allWheels.map(w => (w.wheel.startSec, w.wheel.endSec)) ++
        t.allDistinctWheels.map(w => (w.wheel.startSec, w.wheel.endSec)) ++
        t.allQuantileWheels.map(w => (w.wheel.startSec, w.wheel.endSec)) ++
        t.allFreqWheels.map(w => (w.wheel.startSec, w.wheel.endSec)) ++
        t.allMomentWheels.map(w => (w.wheel.startSec, w.wheel.endSec)) ++
        t.allCoMomentWheels.map(w => (w.wheel.startSec, w.wheel.endSec)) ++
        t.allTopKWheels.map(w => (w.wheel.startSec, w.wheel.endSec))
    val msEdges = t.allMsWheels.map(w => (w.wheel.startSec, w.wheel.endSec))
    val all = secEdges.collect { case (s, e) if e > s => e * 1000L } ++
      msEdges.collect { case (s, e) if e > s => e }
    if (all.isEmpty) None else Some(all.max)
  }
}
