package graft.streaming

import java.io.{ObjectInputStream, ObjectOutputStream}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.StreamingQuery

import graft.index.{IndexedWheel, NumericPart, PartAcc, PartFilter, TableIndex, UWheelIndex, WheelKey, WheelRegistry, WheelScope}
import graft.index.WheelFamily.Numeric
import graft.wheel.HawWheel

/** Continuously-maintained wheel index over a Structured Streaming source —
  * the streaming half of µWheel that the reference leaves unexposed (its
  * `RwWheel` has watermark + write-ahead inserts, `advance_to` progression —
  * `/root/reference/datafusion-uwheel/src/lib.rs:1005-1010,1075-1080` — but
  * datafusion-uwheel only ever builds indices once from a static table).
  *
  * Spark-first design: each micro-batch runs the batch build's fused scan
  * ([[graft.index.UWheelIndex.planFused]], [[graft.index.UWheelIndex.scanFused]])
  * over one [[graft.index.NumericPart]] per wheel — the unfiltered wheel
  * plus any residual-keyed wheels — so ONE distributed scan per batch
  * maintains every wheel, and the driver receives one accumulator per
  * batch, bounded by the batch's distinct active seconds. The live state
  * is the parts' accumulators; each batch's merge is proportional to its
  * slots, and their value-quality flags gate which rewrite kinds a
  * REGISTERED wheel may serve, as in the batch build. Late data is
  * governed by the upstream watermark (`withWatermark` on the source);
  * whatever the watermark admits, the wheel merges exactly.
  *
  * Residual-KEYED wheels (`keyedWheels`, same semantics as the batch
  * build's `withKeyedWheel`) maintain conditional aggregates in the same
  * fused scan, so a streamed table serves `uw_keyed_sum`-shaped rewrites
  * (`WHERE range AND event_type = 'click'`) too.
  *
  * Readers call [[snapshot]] for an immutable [[HawWheel]] (freeze-on-read,
  * the reference's `ReaderWheel` conversion) and query `range`/`groupBy`/
  * `landmark` on it — or [[register]] the wheels under a table path so
  * batch SQL rewrites answer from them at plan time.
  */
final class StreamingWheelIndex(
    timeColumn: String,
    valueColumn: Option[String],
    scale: Int = 2,
    /** Snapshot slot span in seconds (1, 60, 3600 or 86400): long-running
      * ingest over months of event time can coarsen its read-side wheels
      * the same way batch builds do (`UWheelBuilder.withSlotSpan`) — the
      * per-second ingest state is unchanged; only [[snapshot]] compacts. */
    slotSpanSec: Long = 1L,
    /** Residual-keyed conditional wheels: (value column, filter SQL), e.g.
      * `("value", "event_type = 'click'")`. Maintained in the same fused
      * per-batch scan; published with the canonical filter key so the
      * optimizer routes matching residual queries to them. */
    keyedWheels: Seq[(String, String)] = Nil) extends StreamPublisher(timeColumn) {
  require(HawWheel.AllowedSlotSpans.contains(slotSpanSec),
    s"slot span must be one of ${HawWheel.AllowedSlotSpans.mkString(", ")} s")

  // part 0 = the unfiltered wheel; 1..k = keyedWheels. Until attach
  // resolves them against the stream's schema, the measures key by their
  // raw names and the keyed parts have no filter key, so only part 0
  // publishes.
  private var parts: IndexedSeq[NumericPart] =
    NumericPart(Numeric, WheelScope(valueColumn.toList), scale) +:
      keyedWheels.map { case (m, sql) =>
        NumericPart(Numeric, WheelScope(List(m), PartFilter(Some(sql))), scale)
      }.toIndexedSeq
  private var attached = false
  // all guarded by the ingest lock
  private var live: IndexedSeq[NumericPart#Acc] = parts.map(_.newAcc())
  // per-part change counters: a part re-freezes only when a batch merged
  // slots into it (freezing is O(total slots))
  private val changes = new Array[Long](parts.length)
  private val frozen = parts.map(_ => new FreezeCache[IndexedWheel])
  private var watermark = Long.MinValue

  def watermarkMs: Long = lock.synchronized(watermark)

  private def frozenPart(i: Int): IndexedWheel =
    frozen(i)(changes(i))(live(i).freeze(slotSpanSec, packLevels = false))

  /** Immutable point-in-time view of the unfiltered wheel; cheap when no
    * batch arrived since the last call. */
  def snapshot(): HawWheel = lock.synchronized(frozenPart(0).wheel)

  /** Publishes freeze-on-read snapshots of this stream's wheels into the
    * optimizer's [[WheelRegistry]] under `path`'s key, re-published after
    * every batch, layered with other stream publishers' families (see
    * [[StreamPublisher]]). From then on BATCH SQL over the parquet table
    * at `path` rewrites at plan time from the stream-maintained wheels.
    *
    * Contract: the caller asserts this stream IS the feed of the table at
    * `path` — the rewrite answers with the wheel's watermark-consistent
    * state, which is exactly the rows the stream has admitted (files the
    * stream hasn't delivered yet, or rows a sink hasn't committed, are not
    * in the answer). Unbounded-time arms stay on the scan (the stream
    * cannot prove the table's time column NULL-free: ingest skips NULL
    * times). */
  def register(path: String): Unit = registerUnder(WheelRegistry.normalizePath(path))

  /** Multi-root variant: publishes under the canonical sorted root-SET key
    * ([[WheelRegistry.rootSetKey]]), so a `spark.read.parquet(a, b)`
    * relation over the member directories rewrites from this stream's
    * wheels at plan time (the rule's per-member-root fallback rightly
    * EXCLUDES fingerprint-0 snapshots, so a stream registered under ONE
    * member root can never serve a multi-directory read). Same contract
    * as the single-root form, extended to the union: the caller asserts
    * this stream IS the combined feed of ALL member directories. Root
    * order is irrelevant (the key sorts). */
  def register(paths: Seq[String]): Unit = {
    require(paths.nonEmpty, "register needs at least one root path")
    registerUnder(WheelRegistry.rootSetKey(paths))
  }

  private def published: IndexedSeq[Int] = if (attached) parts.indices else IndexedSeq(0)

  /** The count wheel (no column, "") shares part 0's frozen wheel, so a
    * COUNT query and a measure query over one range agree. */
  protected def ownFamiliesInto(t: TableIndex): Unit = published.foreach { i =>
    val w = frozenPart(i)
    t.put(Numeric, w)
    if (i == 0 && w.valueColumn.isDefined) t.put(Numeric, UWheelIndex.countSharing(w, None))
  }

  /** Exclusively ours: the keyed wheels and the measure wheel, under its
    * resolved key and its raw name (a pre-attach publish used the raw name
    * of an expression measure, and that stale entry must go). The count
    * family is shared by every numeric stream publisher on the key, so it
    * is withdrawn only when no FOREIGN numeric family survives: its owner
    * refreshes the count wheel every batch, while nobody would refresh a
    * count left beside sketch families alone. */
  protected def withdraws(cur: TableIndex): WheelKey => Boolean = {
    val excl: Set[WheelKey] =
      (published.tail.map(i => WheelKey(Numeric, parts(i).scope.columns, parts(i).filter.key)) ++
        (parts.head.valueColumn ++ valueColumn).map(k => WheelKey(Numeric, List(k), ""))).toSet
    val count = WheelKey(Numeric, Nil, "")
    val othersNumeric = cur.allWheels.map(Numeric.keyOf).exists(k => !excl(k) && k != count)
    k => excl(k) || (!othersNumeric && k == count)
  }

  protected def configSig: String =
    s"swi-v3|$timeColumn|${valueColumn.getOrElse("")}|$scale|$slotSpanSec|" +
      keyedWheels.map { case (c, f) => s"$c=$f" }.mkString(";")

  /** The parts' accumulators (slots and value-quality flags) and the
    * watermark. */
  protected def writeState(o: ObjectOutputStream): Unit = {
    o.writeObject(live.toArray[PartAcc])
    o.writeLong(watermark)
  }

  protected def readState(in: ObjectInputStream): Long = {
    merge(in.readObject().asInstanceOf[Array[PartAcc]])
    watermark = math.max(watermark, in.readLong())
    watermark
  }

  /** Merges one accumulator per part into the live state. */
  private def merge(accs: Array[PartAcc]): Unit = accs.indices.foreach { i =>
    val a = accs(i).asInstanceOf[NumericPart#Acc]
    if (a.newestSlotSec != Long.MinValue) {
      live(i).merge(a)
      changes(i) += 1
    }
  }

  /** Starts the maintenance query on a streaming DataFrame. The time column
    * takes every type the batch build takes, via the same conversion
    * ([[graft.index.UWheelIndex.secExprOf]]): TIMESTAMP, raw-nanos LONG,
    * DATE (days × 86400 s, zone-free), and TIMESTAMP_NTZ. Measures are a
    * column or a derived expression, keyed as the batch build keys them
    * ([[graft.index.UWheelIndex.colOrExprKeyOf]]); keyed filters key by
    * their canonical form against the stream's schema, which matches the
    * batch table's. */
  def attach(stream: DataFrame, queryName: String): StreamingQuery = {
    def part(m: Option[String], filter: PartFilter): NumericPart = {
      val keyed = m.map(UWheelIndex.colOrExprKeyOf(stream, _)).toList
      NumericPart(Numeric, WheelScope(keyed.map(_._1), filter, keyed.map(_._2)), scale)
    }
    val resolved = part(valueColumn, PartFilter()) +:
      keyedWheels.map { case (m, sql) => part(Some(m), PartFilter.of(stream, sql)) }.toIndexedSeq
    lock.synchronized {
      // the live state moves into the resolved parts' accumulators
      live = resolved.indices.map { i => val a = resolved(i).newAcc(); a.merge(live(i)); a }
      parts = resolved
      attached = true
      changes.indices.foreach(changes(_) += 1)
    }
    stream.writeStream
      .queryName(queryName)
      .outputMode("update")
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val acc = UWheelIndex.scanFused(batch, timeColumn,
          Seq(UWheelIndex.planFused(batch, timeColumn, resolved))).accs(0)
        val newest = acc.parts(0).asInstanceOf[NumericPart#Acc].newestSlotSec
        ingest {
          merge(acc.parts)
          // part 0's rows are a superset of every keyed part's
          if (newest != Long.MinValue) watermark = math.max(watermark, (newest + 1) * 1000L)
        }
      }
      .start()
  }
}
