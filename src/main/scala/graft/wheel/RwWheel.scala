package graft.wheel

import scala.collection.mutable

/** Read-write wheel: the streaming ingestion surface of the reference's
  * µWheel (`RwWheel::insert` / `advance_to`,
  * `/root/reference/datafusion-uwheel/src/lib.rs:1005-1010,1075-1080`).
  *
  * Inserts are accepted at millisecond timestamps at or ahead of the
  * watermark, buffered in per-second partials, and sealed into an immutable
  * [[HawWheel]] by [[freeze]] (the reference's `ReaderWheel` conversion with
  * SIMD/prefix finalization, `lib.rs:1082-1087`). Mirroring the reference's
  * 65,536-slot write-ahead ring (`lib.rs:978-982`), the accepting window is
  * `writeAheadSlots` seconds wide and ROTATES with the newest write: in-order
  * inserts always land, while inserts more than `writeAheadSlots` behind the
  * newest write are late and rejected. [[advanceTo]] can push the window
  * further forward explicitly (sealing more history as late). [[mergePartial]]
  * is the trusted build/merge path and is exempt: there the source's own
  * watermark bounds lateness and the build has no notion of progress.
  *
  * Count and scaled sum are accumulated as Longs so integer exactness holds
  * all the way to Long range (a Double slot would silently lose exactness
  * above 2^53); only min/max are Doubles.
  *
  * Two wheels built from the same rows merge associatively ([[merge]]), which
  * is what makes a distributed per-partition build correct.
  */
final class RwWheel private ()
    extends Serializable with com.esotericsoftware.kryo.KryoSerializable {
  import RwWheel.Slot

  // Config lives in private vars behind accessors (not constructor vals):
  // Kryo instantiates WITHOUT running a constructor, so
  // KryoSerializable.read must be able to restore EVERY field — final
  // fields can't be assigned there. The public auxiliary constructor
  // keeps the original parameter names, so named-argument call sites
  // (`new RwWheel(scale = 2, hasValues = true)`) are unaffected.
  private var scaleF: Int = 0
  private var hasValuesF: Boolean = false
  private var writeAheadSlotsF: Long = RwWheel.DefaultWriteAheadSlots
  private var maxFutureSkewSecF: Option[Long] = None

  /** @param maxFutureSkewSec Opt-in sanity bound on event-time PROGRESS: an
    * insert more than this many seconds ahead of the newest write so far
    * throws instead of rotating the window (None = trust the source, the
    * reference ring's behavior). Without it, one corrupt far-future
    * timestamp is silently indexed and — worse — rotates the window so
    * every subsequent good row is rejected as late; with it, the corrupt
    * row is the one that fails. Choose ≫ the source's real replay gaps. */
  def this(scale: Int, hasValues: Boolean,
      writeAheadSlots: Long = RwWheel.DefaultWriteAheadSlots,
      maxFutureSkewSec: Option[Long] = None) = {
    this()
    scaleF = scale
    hasValuesF = hasValues
    writeAheadSlotsF = writeAheadSlots
    maxFutureSkewSecF = maxFutureSkewSec
    scaleFactor = math.pow(10, scale)
  }

  def scale: Int = scaleF
  def hasValues: Boolean = hasValuesF
  def writeAheadSlots: Long = writeAheadSlotsF
  def maxFutureSkewSec: Option[Long] = maxFutureSkewSecF

  @transient private var slots = mutable.LongMap.empty[Slot] // epoch second -> partials
  private var watermarkMs: Long = Long.MinValue
  private var newestSec: Long = Long.MinValue
  private var dropped: Long = 0L
  private var scaleFactor: Double = 1.0

  // Compact serialization: slots as raw primitive runs — one Java object
  // per wheel, not one Slot object per active second. The distributed
  // build tree-merges these wheels (11 numeric specs × 100k active
  // seconds on the bench's events table); per-slot handle-table work in
  // ObjectOutputStream was a top executor cost (round-9 task 3).
  // BOTH serializer families are covered: Java via writeObject/readObject
  // (defaultWriteObject carries the non-transient fields), Kryo via
  // KryoSerializable (Kryo's FieldSerializer would neither call the Java
  // hooks nor ship transient fields, silently emptying every wheel under
  // spark.serializer=KryoSerializer — round-10 review finding).
  private def writeSlots(writeLong: Long => Unit, writeDouble: Double => Unit): Unit = {
    writeLong(slots.size.toLong)
    slots.foreach { case (sec, s) =>
      writeLong(sec); writeLong(s.count); writeLong(s.sumScaled)
      writeDouble(s.min); writeDouble(s.max)
    }
  }

  private def readSlots(readLong: () => Long, readDouble: () => Double): Unit = {
    slots = mutable.LongMap.empty[Slot]
    val n = readLong().toInt
    var i = 0
    while (i < n) {
      val sec = readLong()
      val s = new Slot
      s.count = readLong(); s.sumScaled = readLong()
      s.min = readDouble(); s.max = readDouble()
      slots.update(sec, s)
      i += 1
    }
  }

  private def writeObject(out: java.io.ObjectOutputStream): Unit = {
    out.defaultWriteObject()
    writeSlots(out.writeLong, out.writeDouble)
  }

  private def readObject(in: java.io.ObjectInputStream): Unit = {
    in.defaultReadObject()
    readSlots(() => in.readLong(), () => in.readDouble())
  }

  override def write(kryo: com.esotericsoftware.kryo.Kryo,
      out: com.esotericsoftware.kryo.io.Output): Unit = {
    out.writeInt(scaleF)
    out.writeBoolean(hasValuesF)
    out.writeLong(writeAheadSlotsF)
    out.writeBoolean(maxFutureSkewSecF.isDefined)
    maxFutureSkewSecF.foreach(out.writeLong)
    out.writeLong(watermarkMs)
    out.writeLong(newestSec)
    out.writeLong(dropped)
    writeSlots(out.writeLong, out.writeDouble)
  }

  override def read(kryo: com.esotericsoftware.kryo.Kryo,
      in: com.esotericsoftware.kryo.io.Input): Unit = {
    scaleF = in.readInt()
    hasValuesF = in.readBoolean()
    writeAheadSlotsF = in.readLong()
    maxFutureSkewSecF = if (in.readBoolean()) Some(in.readLong()) else None
    scaleFactor = math.pow(10, scaleF)
    watermarkMs = in.readLong()
    newestSec = in.readLong()
    dropped = in.readLong()
    readSlots(() => in.readLong(), () => in.readDouble())
  }

  def watermark: Long = watermarkMs

  /** Partials rejected by [[tryMergePartial]] for lying beyond the horizon. */
  def droppedBeyondHorizon: Long = dropped

  /** Insert one row. `value` ignored for count-only wheels. The write-ahead
    * window TRAILS the newest write, the way the reference's ring rotates as
    * it fills (`lib.rs:978-982`): an in-order insert far ahead of the
    * watermark rotates the window forward instead of throwing, so a monotone
    * bulk loader never needs interleaved [[advanceTo]] calls (round-3
    * advice — the previous anchor-at-first-insert horizon threw after ~18 h
    * of event time). The cost, identical to the reference ring's, is that
    * rotation re-classifies data more than `writeAheadSlots` behind the
    * newest write as late, and late inserts are rejected. */
  def insert(tsMs: Long, value: Double): Unit = {
    require(tsMs >= watermarkMs,
      s"insert at $tsMs behind watermark $watermarkMs " +
        s"(more than $writeAheadSlots s older than the newest write)")
    val sec = Math.floorDiv(tsMs, 1000L)
    maxFutureSkewSec.foreach { skew =>
      require(newestSec == Long.MinValue || sec - newestSec <= skew,
        s"insert at second $sec jumps ${sec - newestSec} s ahead of newest write " +
          s"$newestSec (maxFutureSkewSec = $skew) — corrupt timestamp?")
    }
    if (sec > newestSec) newestSec = sec
    val trailMs = (sec - writeAheadSlots) * 1000L
    if (trailMs > watermarkMs) watermarkMs = trailMs
    val slot = slots.getOrElseUpdate(sec, new Slot)
    slot.count += 1
    if (hasValues) {
      slot.sumScaled = Math.addExact(slot.sumScaled, math.rint(value * scaleFactor).toLong)
      if (RwWheel.sparkCompare(value, slot.min) < 0) slot.min = value
      if (RwWheel.sparkCompare(value, slot.max) > 0) slot.max = value
    }
  }

  /** Newest slot second seen by any write path (Long.MinValue when empty) —
    * what a per-batch merge wheel reports so the live wheel can advance its
    * watermark past the batch. */
  def newestSlotSec: Long = newestSec

  /** Merge one pre-aggregated per-second partial (the distributed-build and
    * streaming-ingest fast path: executors aggregate rows to per-second
    * partials, the driver merges). Accepts any second — cross-batch
    * lateness is bounded upstream by the source's watermark, not here. */
  def mergePartial(sec: Long, count: Long, sumScaled: Long, min: Double, max: Double): Unit = {
    if (sec > newestSec) newestSec = sec
    val slot = slots.getOrElseUpdate(sec, new Slot)
    slot.count = Math.addExact(slot.count, count)
    if (hasValues) {
      slot.sumScaled = Math.addExact(slot.sumScaled, sumScaled)
      if (RwWheel.sparkCompare(min, slot.min) < 0) slot.min = min
      if (RwWheel.sparkCompare(max, slot.max) > 0) slot.max = max
    }
  }

  /** Horizon-guarded [[mergePartial]] for untrusted ingest (streaming):
    * partials beyond `watermark + writeAheadSlots` are DROPPED and counted
    * rather than merged (failing the whole stream on one corrupt far-future
    * event would be worse than bounded loss — the counter makes the loss
    * observable). Behind-watermark partials are accepted as in
    * [[mergePartial]]. The first partial anchors the watermark, so feed
    * batches in ascending-second order. Returns true iff merged. */
  def tryMergePartial(sec: Long, count: Long, sumScaled: Long, min: Double, max: Double): Boolean = {
    if (watermarkMs == Long.MinValue) watermarkMs = sec * 1000L
    if (sec * 1000L - watermarkMs > writeAheadSlots * 1000L) {
      dropped += 1
      false
    } else {
      mergePartial(sec, count, sumScaled, min, max)
      true
    }
  }

  /** Event-time progression; inserts behind the new watermark are rejected. */
  def advanceTo(tsMs: Long): Unit = if (tsMs > watermarkMs) watermarkMs = tsMs

  def merge(other: RwWheel): RwWheel = {
    require(other.scale == scale && other.hasValues == hasValues)
    other.slots.foreach { case (sec, o) =>
      val slot = slots.getOrElseUpdate(sec, new Slot)
      slot.count = Math.addExact(slot.count, o.count)
      slot.sumScaled = Math.addExact(slot.sumScaled, o.sumScaled)
      if (RwWheel.sparkCompare(o.min, slot.min) < 0) slot.min = o.min
      if (RwWheel.sparkCompare(o.max, slot.max) > 0) slot.max = o.max
    }
    if (other.watermarkMs > watermarkMs) watermarkMs = other.watermarkMs
    if (other.newestSec > newestSec) newestSec = other.newestSec
    this
  }

  def freeze(): HawWheel = freeze(1L)

  /** Seals into a HawWheel at the given slot span (partials are re-aligned,
    * so a second-granular ingest can still freeze into a coarse wheel).
    * `packLevels` stores the frozen min/max hierarchy codec-compressed
    * ([[HawWheel.fromSecondPartials]]). */
  def freeze(slotSpan: Long, packLevels: Boolean = false): HawWheel =
    if (slotSpan == 1L) {
      // fast path: LongMap keys are unique — primitive key sort + ordered
      // lookups, no boxed-tuple sort, no dedupe pass
      val ks = new Array[Long](slots.size)
      var i = 0
      slots.foreachKey { k => ks(i) = k; i += 1 }
      java.util.Arrays.sort(ks)
      val n = ks.length
      val counts = new Array[Long](n)
      val sums = if (hasValues) new Array[Long](n) else Array.emptyLongArray
      val mins = if (hasValues) new Array[Double](n) else Array.emptyDoubleArray
      val maxs = if (hasValues) new Array[Double](n) else Array.emptyDoubleArray
      i = 0
      while (i < n) {
        val s = slots(ks(i))
        counts(i) = s.count
        if (hasValues) { sums(i) = s.sumScaled; mins(i) = s.min; maxs(i) = s.max }
        i += 1
      }
      HawWheel.fromSortedUnique(ks, counts, sums, mins, maxs, scale, hasValues,
        slotSpan, packLevels)
    } else
      HawWheel.fromSecondPartials(
        slots.iterator.map { case (sec, s) => (sec, s.count, s.sumScaled, s.min, s.max) },
        scale, hasValues, slotSpan, packLevels)
}

object RwWheel {
  /** Spark's order on doubles, in which every slot min/max combines: NaN
    * above every value, -0.0 equal to 0.0. A slot then keeps the same
    * extrema however its rows fall into partitions or batches — a NaN
    * max survives a merge as it survives Spark's per-slot aggregate. */
  private[graft] def sparkCompare(x: Double, y: Double): Int =
    if (x == y) 0 else java.lang.Double.compare(x, y)

  /** Write-ahead horizon in seconds — the reference's ring capacity
    * (`lib.rs:978-982`). */
  final val DefaultWriteAheadSlots: Long = 65536L

  /** Top-level (no outer pointer) so a serialized wheel ships only slot
    * payloads — the distributed build tree-merges wheels across executors. */
  private[wheel] final class Slot extends Serializable {
    var count: Long = 0L
    var sumScaled: Long = 0L
    var min: Double = Double.PositiveInfinity
    var max: Double = Double.NegativeInfinity
  }
}
