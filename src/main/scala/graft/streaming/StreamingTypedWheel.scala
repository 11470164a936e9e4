package graft.streaming

import java.io.{ObjectInputStream, ObjectOutputStream}

import scala.reflect.ClassTag

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.streaming.StreamingQuery

import graft.index.{FamilyWheel, SketchFacts, SketchWheel, TableIndex, TopKIndexedWheel, TypedWheelBuild, WheelFamily, WheelKey, WheelRegistry, WheelScope}
import graft.wheel.{TypedHawWheel, TypedRwWheel, WheelAggregator, WheelAggregators}

/** Continuously-maintained TYPED wheel over a Structured Streaming source —
  * the custom-aggregator counterpart of [[StreamingWheelIndex]]. Each
  * micro-batch runs the distributed typed build ([[TypedWheelBuild]]):
  * executors fold their partitions into per-partition wheels that
  * tree-merge, and the driver merges ONE wheel per batch into the live
  * state, so ingest cost is bounded by (active slots) × (partial size),
  * never batch row count.
  *
  * With [[graft.wheel.WheelAggregators.HllDistinct]] this is a live
  * "distinct users over any time range" service: partials are fixed 2^p
  * bytes and register-max merging is idempotent, so re-delivered rows
  * (at-least-once sources) can only re-assert bits, never double-count.
  * Late data is governed by the upstream watermark; whatever the source
  * admits, the wheel merges — slot merging is order-free.
  *
  * Readers call [[snapshot]] for an immutable [[TypedHawWheel]]
  * (freeze-on-read), or [[register]] it so batch SQL rewrites answer from
  * it at plan time.
  */
final class StreamingTypedWheel[In, P: ClassTag, Out](
    timeColumn: String,
    valueCol: Column,
    agg: WheelAggregator[In, P, Out],
    readIn: Row => In,
    /** For MOMENT wheels ([[StreamingTypedWheel.moments]]): (failCond,
      * absExpr) — per batch, rows where failCond holds are counted into
      * the publish-gating castFail (a row whose value escaped the exact
      * fixed-point probe was silently dropped from the wheel, so serving
      * would be wrong), and max(absExpr) feeds the ANSI-overflow proof.
      * The counters ride the checkpoint. */
    momProbe: Option[(Column, Column)] = None) extends StreamPublisher(timeColumn) {

  // all guarded by the ingest lock
  private val live = new TypedRwWheel(agg)
  private val frozen = new FreezeCache[TypedHawWheel[P, Out]]
  /** The column this wheel registers under. */
  private var column: String = _
  // moment publish gates
  private var facts: SketchFacts = momProbe.fold(SketchFacts())(_ => SketchFacts(0L, List(0.0)))
  // heavy-hitter publish gate: rows with a live time but a NULL key,
  // skipped by the wheel — the optimizer's topK arm serves only when 0
  // (a GROUP BY key query has a NULL group the summary cannot see)
  private var topkNullKeys: Long = 0L

  /** Immutable point-in-time view; cheap when no batch arrived since the
    * last call. */
  def snapshot(): TypedHawWheel[P, Out] = lock.synchronized(frozen(version)(live.freeze()))

  /** Publishes freeze-on-read snapshots of this wheel into the optimizer's
    * [[WheelRegistry]] as the `column` index of its family for the table at
    * `path`, re-published after every batch and layered with other stream
    * publishers' families (see [[StreamPublisher]]). From then on batch SQL
    * such as `hll_distinct(column)` over a time range of that table answers
    * at plan time with the stream's watermark-consistent state — a LIVE
    * "distinct users over any range" service. Only aggregators a rule arm
    * reads can publish; the caller asserts this stream is the table's feed,
    * as with [[StreamingWheelIndex.register]]. */
  def register(path: String, column: String): Unit = {
    family // refuses an aggregator no rule arm reads
    lock.synchronized(this.column = column)
    registerUnder(WheelRegistry.normalizePath(path))
  }

  /** The registry family this wheel publishes into. */
  private def family: WheelFamily[_ <: FamilyWheel] = agg match {
    case _: WheelAggregators.HllDistinct => WheelFamily.Hll
    case _: WheelAggregators.MomentStats => WheelFamily.Moment
    case _: WheelAggregators.CmsFreq     => WheelFamily.Cms
    case _: WheelAggregators.HdrQuantile => WheelFamily.Hdr
    case _: WheelAggregators.TopTalkers  => WheelFamily.TopK
    case other => throw new IllegalArgumentException(
      s"only HllDistinct, MomentStats, CmsFreq, HdrQuantile or TopTalkers wheels can register, got ${other.getClass.getSimpleName}")
  }

  /** Its (column, "") entry of its family is exclusively this wheel's. */
  protected def withdraws(cur: TableIndex): WheelKey => Boolean = {
    val own = WheelKey(family, List(column), "")
    _ == own
  }

  /** Adds THIS publisher's entry, over its column and unfiltered. P/Out are
    * fixed by the agg the wheel was constructed with, so the casts are
    * sound by construction. */
  protected def ownFamiliesInto(t: TableIndex): Unit = {
    val scope = WheelScope(List(column))
    t.put(family.asInstanceOf[WheelFamily[FamilyWheel]], agg match {
      case k: WheelAggregators.TopTalkers => TopKIndexedWheel(scope,
        snapshot().asInstanceOf[TypedHawWheel[WheelAggregators.TopKSummary, WheelAggregators.TopKSummary]],
        k, topkNullKeys)
      case _ => SketchWheel(scope, snapshot(), agg, facts)
    })
  }

  /** The aggregator kind (and its parameters: a different HLL precision
    * means incompatible registers) plus the wheel's columns. */
  protected def configSig: String = {
    val aggSig = agg match {
      case h: WheelAggregators.HllDistinct => s"hll(p=${h.p})"
      case m: WheelAggregators.MomentStats => s"moments(scale=${m.scale})"
      case c: WheelAggregators.CmsFreq     => s"cms(d=${c.d},logW=${c.logW})"
      case q: WheelAggregators.HdrQuantile => s"hdr(s=${q.s})"
      // `,nk`: the checkpoint carries the trailing NULL-key gate long, so
      // a checkpoint without it refuses on the signature instead of
      // hitting EOF mid-read
      case k: WheelAggregators.TopTalkers  => s"topk(cap=${k.cap},nk)"
      case other                           => other.getClass.getName
    }
    s"stw-v1|$timeColumn|$valueCol|$aggSig"
  }

  /** The live wheel, then the moment gates (moment wheels) or the NULL-key
    * gate (top-k wheels). */
  protected def writeState(o: ObjectOutputStream): Unit = {
    o.writeObject(live)
    if (momProbe.isDefined) { o.writeLong(facts.castFail); o.writeDouble(facts.absMax.head) }
    if (agg.isInstanceOf[WheelAggregators.TopTalkers]) o.writeLong(topkNullKeys)
  }

  /** Register-max merging is idempotent for sketches, so even an overlap
    * between the restored state and replayed batches cannot double-count;
    * the fresh-instance guard still holds for non-idempotent aggregators. */
  protected def readState(in: ObjectInputStream): Long = {
    live.merge(in.readObject().asInstanceOf[TypedRwWheel[In, P, Out]])
    if (momProbe.isDefined) facts = facts ++ SketchFacts(in.readLong(), List(in.readDouble()))
    if (agg.isInstanceOf[WheelAggregators.TopTalkers]) topkNullKeys += in.readLong()
    live.watermark
  }

  /** Starts the maintenance query on a streaming DataFrame. */
  def attach(stream: DataFrame, queryName: String): StreamingQuery =
    stream.writeStream
      .queryName(queryName)
      .outputMode("update")
      .foreachBatch { (batch: DataFrame, _: Long) =>
        // heavy-hitter wheels ride the counted build: the NULL-key publish
        // gate is accumulated INSIDE the same pass (a separate count()
        // action would double per-batch ingest work)
        val (bw, nullKeys) = agg match {
          case _: WheelAggregators.TopTalkers =>
            TypedWheelBuild.buildRwCounted(batch, timeColumn, valueCol, agg, readIn)
          case _ =>
            (TypedWheelBuild.buildRw(batch, timeColumn, valueCol, agg, readIn), 0L)
        }
        // moment gates: one cheap extra aggregate over the (already
        // materialized) micro-batch — the publish is unsound without them
        val probe = momProbe.map { case (failCond, absExpr) =>
          import org.apache.spark.sql.functions.{lit, max, sum, when}
          val r = batch.agg(
            sum(when(failCond, lit(1L)).otherwise(lit(0L))), max(absExpr)).head()
          (if (r.isNullAt(0)) 0L else r.getLong(0),
            if (r.isNullAt(1)) 0.0 else r.getDouble(1))
        }
        ingest {
          probe.foreach { case (fails, am) => facts = facts ++ SketchFacts(fails, List(am)) }
          topkNullKeys += nullKeys
          live.merge(bw)
        }
      }
      .start()
}

object StreamingTypedWheel {
  /** A continuously-maintained EXACT-moment wheel over `column` — the live
    * "variance over any time range" service: once registered, batch SQL
    * `wheel_var_samp(CAST(column AS DECIMAL(18, scale)))` (and the other
    * three stats) over a time range of the table answers at plan time from
    * the stream's moments. The value rides the same exact fixed-point
    * probe as the batch build ([[graft.index.UWheelIndex]]): rows that
    * fail it are counted and poison the publish gate rather than silently
    * skewing the moments. */
  def moments(timeColumn: String, column: String, scale: Int = 2)
      : StreamingTypedWheel[Long, WheelAggregators.Moments, WheelAggregators.Moments] = {
    import org.apache.spark.sql.functions.{abs, col, lit}
    val f = col(column).try_cast(s"decimal(18,$scale)")
    val u = (f * lit(math.pow(10, scale).toLong).cast("decimal(10,0)")).cast("long")
    new StreamingTypedWheel(timeColumn, u,
      new WheelAggregators.MomentStats(scale), (r: Row) => r.getLong(1),
      momProbe = Some((col(column).isNotNull && f.isNull, abs(col(column).cast("double")))))
  }

  /** A continuously-maintained HDR-quantile wheel over `column` — the live
    * "p99 over any time range" service: once registered, batch SQL
    * `hdr_quantile(column, q[, s])` over a time range of the table answers
    * at plan time from the stream's per-second bin partials. The double
    * cast is the same value image the batch build projects
    * ([[graft.index.UWheelIndex]]'s quantile columns), so bins agree
    * bit-for-bit with what the SQL aggregate over the raw rows computes. */
  def quantiles(timeColumn: String, column: String, s: Int = 7)
      : StreamingTypedWheel[Double, Array[Byte], Array[Byte]] = {
    import org.apache.spark.sql.functions.col
    new StreamingTypedWheel(timeColumn, col(column).cast("double"),
      new WheelAggregators.HdrQuantile(s), (r: Row) => r.getDouble(1))
  }

  /** A continuously-maintained Count-Min frequency wheel over `key` — the
    * live "how often did key k occur in any time range" service: once
    * registered, batch SQL `cms_freq(key, k[, d, logW])` answers at plan
    * time from the stream's per-second counter partials. Counter addition
    * is NOT idempotent — an at-least-once source that re-delivers a batch
    * overcounts, consistent with the CMS upper-bound contract but worth
    * knowing; use exactly-once sinks/sources when the estimate must match
    * a batch build. */
  def freq(timeColumn: String, key: String, d: Int = 4, logW: Int = 12)
      : StreamingTypedWheel[Long, Array[Byte], Array[Byte]] = {
    import org.apache.spark.sql.functions.col
    new StreamingTypedWheel(timeColumn, col(key).cast("long"),
      new WheelAggregators.CmsFreq(d, logW), (r: Row) => r.getLong(1))
  }

  /** A continuously-maintained temporal heavy-hitter wheel over `key` —
    * the live "WHICH keys dominated any time range" service
    * ([[graft.index.TopKIndexedWheel]]'s streaming twin): [[register]]
    * publishes freeze-on-read snapshots so
    * `TableIndex.topKWheel(key).topK(s, e, k)` serves certified-exact
    * top-k from the stream's summaries. The live state keeps EXACT
    * per-second summaries (ingest combine is a pointwise sum), so
    * at-least-once re-delivery overcounts like any counting family —
    * use exactly-once sources when the certificate must match a batch
    * build. Compaction to `cap` candidates happens only at the
    * deterministic freeze, identical to the batch build. */
  def topTalkers(timeColumn: String, key: String, cap: Int = 64)
      : StreamingTypedWheel[Long, WheelAggregators.TopKSummary, WheelAggregators.TopKSummary] = {
    import org.apache.spark.sql.functions.col
    new StreamingTypedWheel(timeColumn, col(key).cast("long"),
      new WheelAggregators.TopTalkers(cap), (r: Row) => r.getLong(1))
  }
}
