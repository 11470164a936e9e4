package graft.index

import java.util.concurrent.ConcurrentHashMap
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.{functions => F}
import org.apache.spark.sql.types.DecimalType

import graft.wheel.{HawWheel, TypedHawWheel, WheelAggregators}

/** A registered wheel: the [[HawWheel]] plus the metadata the optimizer rule
  * needs to decide whether a rewrite is exact.
  *
  * @param valueColumn     None for the count-only wheel
  * @param filterKey       canonicalized residual predicate ("" = unfiltered);
  *                        mirrors the reference's string-keyed wheel registry
  *                        (`/root/reference/datafusion-uwheel/src/lib.rs:164-173`)
  * @param valueAllNonNull true iff no NULL values were seen in valueColumn —
  *                        required for AVG rewrites (count(*) vs count(col))
  * @param valuesExactAtScale true iff every value round-trips through
  *                        DECIMAL(38,scale) unchanged — i.e. the scaled-long
  *                        sum is the mathematically exact sum. Plain
  *                        SUM/AVG(double) rewrites are gated on this; without
  *                        it only the sum-over-decimal-cast form is exact.
  *                        (When true, the rewritten SUM is the correctly
  *                        rounded true sum — a scan's float accumulation may
  *                        differ from it by ulps, in the scan's disfavor.)
  * @param valuesNaNFree   true iff no NaN was seen in valueColumn. The
  *                        wheel's min/max roll-up uses Java double ordering,
  *                        which drops NaN, while Spark orders NaN above
  *                        every value — so MIN/MAX rewrites and min/max
  *                        emptiness pruning are only sound on NaN-free
  *                        wheels. (±Infinity compares normally and is fine.)
  * @param coverage        time range (epoch sec) the build was restricted to;
  *                        None = full table. Restricted wheels only answer
  *                        queries whose range lies inside the coverage.
  * @param filterSql       the raw filter SQL the wheel was built with (None
  *                        for unfiltered wheels) — kept so incremental
  *                        refresh ([[UWheelIndex.refresh]]) can re-apply the
  *                        same filter to appended data (the canonical
  *                        `filterKey` is a matching key, not executable).
  * @param keyEq           Some((column, literal)) when the wheel's filter is
  *                        exactly `column = literal` — the structured form
  *                        the multi-column GROUP BY arm enumerates: a set of
  *                        same-column equality wheels partitions the rows by
  *                        key value (disjoint by construction), letting
  *                        `GROUP BY date_trunc(...), column` materialize one
  *                        row per (bucket, value). None for every other
  *                        filter shape (those wheels still serve their
  *                        residual-predicate rewrites via `filterKey`).
  * @param exprSql         Some(sql) when the wheel's measure is a derived
  *                        EXPRESSION over the table's columns rather than a
  *                        bare column (`l_extendedprice * (1 - l_discount)`).
  *                        `valueColumn` then holds the expression's CANONICAL
  *                        Catalyst form ([[graft.expr.Canon.canonExpr]]) — the
  *                        key the rewrite rule computes from a query's
  *                        aggregate child — and this field keeps the raw SQL
  *                        so incremental refresh can re-project the same
  *                        expression over appended data.
  */
@SerialVersionUID(1L)
final case class IndexedWheel(
    wheel: HawWheel,
    valueColumn: Option[String],
    filterKey: String,
    valueAllNonNull: Boolean,
    valuesExactAtScale: Boolean = true,
    valuesNaNFree: Boolean = true,
    coverage: Option[(Long, Long)] = None,
    filterSql: Option[String] = None,
    keyEq: Option[(String, org.apache.spark.sql.catalyst.expressions.Literal)] = None,
    exprSql: Option[String] = None) {
  /** Null-safe [[keyEq]]: an index persisted before the field existed
    * deserializes it as null (Java default), not None. */
  def keyEqOpt: Option[(String, org.apache.spark.sql.catalyst.expressions.Literal)] =
    Option(keyEq).flatten
  /** Null-safe [[exprSql]] (same pre-field deserialization contract). */
  def exprSqlOpt: Option[String] = Option(exprSql).flatten
}

/** HLL distinct-count sketch wheel for one column — the typed-wheel twin of
  * [[IndexedWheel]] that answers `hll_distinct(column)` over any time range
  * (the aggregate no exact wheel can carry: exact distinct partials grow
  * with cardinality, these are fixed 2^p bytes per active second). Always
  * full-table in TIME and per-second slots regardless of the table's
  * numeric-wheel slot span — so the rewrite rule needs no span or coverage
  * gate for it; a non-empty `filterKey` marks a KEYED variant whose
  * registers saw only rows matching the residual predicate ("distinct
  * purchasers"), routed exactly like keyed numeric wheels. The aggregator
  * instance rides along so the rule can combine partials across disjoint
  * OR-ranges and lower them with the exact same arithmetic the build used.
  * `filterSql` is kept so incremental refresh can re-apply the filter to
  * appended data. */
@SerialVersionUID(1L)
final case class DistinctIndexedWheel(
    wheel: TypedHawWheel[Array[Byte], Long],
    column: String,
    agg: WheelAggregators.HllDistinct,
    filterKey: String = "",
    filterSql: Option[String] = None,
    /** Seconds per register slot. The fused build groups by the table's
      * (possibly coarsened) slot expression, so a span-coarsened build
      * produces span-aligned register slots — the rewrite rule must then
      * gate on span-aligned query bounds exactly like the numeric wheels
      * (an unaligned range would silently include/exclude whole slots of
      * users). After a refresh that coarsened, this records the COARSEST
      * span present (divisibility chains across AllowedSlotSpans make
      * coarse-aligned reads exact over mixed-granularity partials). */
    slotSpan: Long = 1L,
    /** Structured `column = literal` form of the residual filter when it
      * has one — the multi-column GROUP BY arm routes per key value on it,
      * exactly like [[IndexedWheel.keyEq]]. */
    keyEq: Option[(String, org.apache.spark.sql.catalyst.expressions.Literal)] = None,
    /** Raw SQL when the measure is a derived expression (see [[IndexedWheel.exprSql]]). */
    exprSql: Option[String] = None) {
  /** Null-safe [[exprSql]] (pre-field persisted indexes deserialize null). */
  def exprSqlOpt: Option[String] = Option(exprSql).flatten
  def p: Int = agg.p
  /** Null/zero-safe span (an old serialized wheel defaults the field to 0). */
  def span: Long = if (slotSpan <= 0L) 1L else slotSpan
  /** Null-safe [[keyEq]] (persisted-before-the-field indexes deserialize null). */
  def keyEqOpt: Option[(String, org.apache.spark.sql.catalyst.expressions.Literal)] =
    Option(keyEq).flatten
}

/** HDR log-bucketed quantile-sketch wheel for one column — the second
  * typed-sketch family after [[DistinctIndexedWheel]], answering
  * `hdr_quantile(column, q[, s])` over any time range ("p99 latency last
  * week") at plan time. Partials are canonical sorted (bucket, count)
  * arrays merged ADDITIVELY — sound on the wheel's disjoint range
  * decompositions exactly like count/sum — and the aggregator instance
  * rides along so the rule can combine per-range partials and lower them
  * with the same arithmetic the SQL aggregate uses. A non-empty
  * `filterKey` marks a KEYED variant (bins over only matching rows),
  * routed like keyed numeric wheels; `keyEq` is its structured form for
  * the per-value GROUP BY arms. */
@SerialVersionUID(1L)
final case class QuantileIndexedWheel(
    wheel: TypedHawWheel[Array[Byte], Array[Byte]],
    column: String,
    agg: WheelAggregators.HdrQuantile,
    filterKey: String = "",
    filterSql: Option[String] = None,
    /** Seconds per sketch slot — span-coarsened builds produce span-aligned
      * slots, gated by the rule exactly like the other families. */
    slotSpan: Long = 1L,
    keyEq: Option[(String, org.apache.spark.sql.catalyst.expressions.Literal)] = None,
    /** Raw SQL when the measure is a derived expression (see [[IndexedWheel.exprSql]]). */
    exprSql: Option[String] = None) {
  /** Null-safe [[exprSql]] (pre-field persisted indexes deserialize null). */
  def exprSqlOpt: Option[String] = Option(exprSql).flatten
  def s: Int = agg.s
  def span: Long = if (slotSpan <= 0L) 1L else slotSpan
  def keyEqOpt: Option[(String, org.apache.spark.sql.catalyst.expressions.Literal)] =
    Option(keyEq).flatten
}

/** Count-Min frequency-sketch wheel for one integral key column — the
  * typed family answering `cms_freq(key, target)` over any time range
  * ("how many times did user 12345 appear last week") at plan time, for
  * ANY target value: the high-cardinality complement to exact per-value
  * keyed wheels, which need one wheel per key value. Counter partials are
  * canonical sorted (slot, count) arrays merged ADDITIVELY — sound on the
  * wheel's disjoint range decompositions exactly like count/sum — and the
  * aggregator instance rides along so the rule can combine per-range
  * partials and lower them with the same arithmetic the SQL aggregate
  * uses. A non-empty `filterKey` marks a KEYED variant (counters over
  * only matching rows), routed like keyed numeric wheels; `keyEq` is its
  * structured form for the per-value GROUP BY arms. */
@SerialVersionUID(1L)
final case class FreqIndexedWheel(
    wheel: TypedHawWheel[Array[Byte], Array[Byte]],
    column: String,
    agg: WheelAggregators.CmsFreq,
    filterKey: String = "",
    filterSql: Option[String] = None,
    /** Seconds per sketch slot — span-coarsened builds produce span-aligned
      * slots, gated by the rule exactly like the other families. */
    slotSpan: Long = 1L,
    keyEq: Option[(String, org.apache.spark.sql.catalyst.expressions.Literal)] = None,
    /** Raw SQL when the measure is a derived expression (see [[IndexedWheel.exprSql]]). */
    exprSql: Option[String] = None) {
  /** Null-safe [[exprSql]] (pre-field persisted indexes deserialize null). */
  def exprSqlOpt: Option[String] = Option(exprSql).flatten
  def d: Int = agg.d
  def logW: Int = agg.logW
  def span: Long = if (slotSpan <= 0L) 1L else slotSpan
  def keyEqOpt: Option[(String, org.apache.spark.sql.catalyst.expressions.Literal)] =
    Option(keyEq).flatten
}

/** Temporal heavy-hitter wheel for one key column — "top-k users by
  * activity in ANY time range" answered from per-slot candidate summaries
  * ([[WheelAggregators.TopTalkers]]). [[topK]] CERTIFIES the exact top-k
  * (keys and counts) whenever the range read's slack bound is zero (every
  * slot in range held ≤ cap distinct keys — the common sparse-slot case);
  * otherwise [[topKBounds]] serves candidates with [lower, upper] count
  * intervals and the caller decides whether bounds suffice or the scan
  * runs. Unfiltered by default, with keyed (residual-filtered) variants
  * via [[UWheelBuilder.withKeyedTopKWheel]]; always per-second (slot
  * coarsening would widen the slack for no memory win at typical caps). */
@SerialVersionUID(1L)
final case class TopKIndexedWheel(
    wheel: TypedHawWheel[WheelAggregators.TopKSummary, WheelAggregators.TopKSummary],
    column: String,
    agg: WheelAggregators.TopTalkers,
    /** Canonical residual-filter key ("" = unfiltered): the keyed variant
      * covers only rows matching its build filter, and the optimizer arm
      * routes a query's residual to the wheel registered under the SAME
      * canonical key — `withKeyedTopKWheel("user_id",
      * "event_type = 'purchase'")` answers "top purchasers over any
      * range". Null after deserializing a pre-field index (Java default);
      * [[TableIndex.putTopK]] normalizes. */
    filterKey: String = "",
    /** The filter's original SQL, re-applied by [[UWheelIndex.refresh]]. */
    filterSql: Option[String] = None,
    /** Rows with a non-NULL time but a NULL key, counted at build. The
      * wheel skips them (SQL aggregate-input discipline), but a `GROUP BY
      * key` query has a NULL group the wheel cannot see — the optimizer
      * rewrite therefore requires this to be 0 (or an explicit
      * `key IS NOT NULL` residual). Counted via an accumulator inside the
      * build pass; task retries can only OVERcount, which declines — never
      * mis-serves — the rewrite. Persistence note: adding this field (and
      * pinning the UID) breaks Java-deserialization of indexes SAVED
      * before the field existed — such a file fails to load with
      * InvalidClassException and must be rebuilt; from here on the pinned
      * UID keeps future evolution load-compatible (absent new fields
      * default to 0/null). */
    keyNullCount: Long = 0L) {
  def cap: Int = agg.cap
  /** Certified EXACT top-k over [s, e) seconds (count desc, key asc), or
    * None when the slack bound cannot prove exactness. Reads COARSE-FIRST
    * ([[TypedHawWheel.combineRangeDescend]]): a coarse slot whose rollup
    * never engaged compaction (slack 0) is bit-identical to folding its
    * per-second children, so the common sparse case reads O(coarse slots)
    * instead of O(active seconds); only a compacted coarse slot descends
    * to its children. Result — certified or not — is therefore EXACTLY the
    * per-second fold's, at sublinear cost (round-10 verdict, task 3). */
  def topK(s: Long, e: Long, k: Int): Option[Seq[(Long, Long)]] =
    read(s, e).flatMap(agg.topK(_, k))
  /** Approximate reading: top candidates with [lower, upper] bounds (empty
    * when the read overran the fold budget — callers scan). */
  def topKBounds(s: Long, e: Long, k: Int): Seq[(Long, Long, Long)] =
    read(s, e).map(agg.topKBounds(_, k)).getOrElse(Nil)
  /** The combined range summary both readers certify from; None when the
    * accumulated candidate set overruns [[TopKIndexedWheel.ReadKeyBudget]]
    * — a slack-0 summary over a wide range is the FULL key histogram, and
    * an unbounded driver-side merge over 100 TB cardinalities would stall
    * the planner; past the budget the caller falls back to the scan. */
  private[graft] def read(s: Long, e: Long): Option[WheelAggregators.TopKSummary] = {
    // Hash-merge accumulation over the descend visitor instead of the
    // generic combine fold: the fold RE-COPIES the whole accumulated
    // summary per visited slot (O(slots × keys) — the raw-read p99.9 tail
    // on dense multi-level ranges, round-11 verdict task 7); the hash
    // merge is O(total slot entries) + one final sort. Result is
    // structurally identical to the fold's summary (same sorted keys,
    // exactly-summed counts, exactly-summed slack) — pinned by the
    // descend-equals-fine-fold property spec.
    // thread-local reuse, presized for wide-range reads (the common
    // plan-time shape folds most of the corpus's active keys): per-read
    // allocation of the table arrays was measurable GC churn at 2+ MiB a
    // read, and growth rehashes from a small table cost more than the
    // upfront size. Reads run on the planner thread; clear() wipes only
    // the presence bitset.
    val m = TopKIndexedWheel.readMap.get()
    m.clear()
    var slack = 0L
    val ok = wheel.visitRangeDescend(s, e)(_.slack == 0L) { p =>
      var i = 0
      while (i < p.keys.length) { m.add(p.keys(i), p.lowers(i)); i += 1 }
      slack = Math.addExact(slack, p.slack)
      m.size <= TopKIndexedWheel.ReadKeyBudget
    }
    if (!ok) None
    else {
      val (ks, ls) = m.toSortedArrays
      Some(WheelAggregators.TopKSummary(ks, ls, slack))
    }
  }
}

object TopKIndexedWheel {
  /** Max accumulated candidate keys a single certified read may fold
    * (~32 MiB of (key, lower) pairs): plan-time protection, not a
    * correctness bound — overruns decline to the scan. */
  val ReadKeyBudget: Int = 1 << 21

  /** Reused read accumulator (see [[TopKIndexedWheel.read]]); retained
    * size is bounded by the largest read's key count ≤ [[ReadKeyBudget]]
    * per thread that ever planned a heavy-hitter query. */
  private[index] val readMap: ThreadLocal[graft.wheel.LongLongSumMap] =
    ThreadLocal.withInitial(() => new graft.wheel.LongLongSumMap(1 << 17))
}

/** Exact-moment wheel (n, Σx, Σx² as exact integers at a fixed decimal
  * scale) for one column — the third typed family after
  * [[DistinctIndexedWheel]] and [[QuantileIndexedWheel]], answering
  * `wheel_var_samp` / `wheel_var_pop` / `wheel_stddev_samp` /
  * `wheel_stddev_pop` ([[graft.functions.MomentStatsAgg]]) over any time
  * range at plan time. Moments are ADDITIVE and INVERTIBLE, so the frozen
  * wheel keeps a prefix array and serves any range in O(1) like count/sum.
  *
  * Serving is gated on build-recorded facts, not hope: `castFail` counts
  * rows whose value did NOT survive the exact (18, scale) fixed-point
  * probe (NaN/Infinity/overflow) — any nonzero count declines every
  * rewrite, because the wheel skipped rows the scan would aggregate (or
  * throw on, under ANSI). `absMax` is the largest |value| seen; a query
  * casting to DECIMAL(p, s) is served only when absMax proves the cast can
  * never overflow (ANSI would throw mid-scan where the wheel would answer).
  */
@SerialVersionUID(1L)
final case class MomentIndexedWheel(
    wheel: TypedHawWheel[WheelAggregators.Moments, WheelAggregators.Moments],
    column: String,
    agg: WheelAggregators.MomentStats,
    /** Rows whose value failed the exact fixed-point probe at build time. */
    castFail: Long,
    /** Max |value| over all ingested rows (double image; 0 when empty). */
    absMax: Double,
    filterKey: String = "",
    filterSql: Option[String] = None,
    /** Seconds per slot — span-coarsened builds produce span-aligned
      * slots, gated by the rule exactly like the other families. */
    slotSpan: Long = 1L,
    keyEq: Option[(String, org.apache.spark.sql.catalyst.expressions.Literal)] = None,
    /** Raw SQL when the measure is a derived expression (see [[IndexedWheel.exprSql]]). */
    exprSql: Option[String] = None) {
  def scale: Int = agg.scale
  def span: Long = if (slotSpan <= 0L) 1L else slotSpan
  def keyEqOpt: Option[(String, org.apache.spark.sql.catalyst.expressions.Literal)] =
    Option(keyEq).flatten
  /** Null-safe [[exprSql]] (pre-field persisted indexes deserialize null). */
  def exprSqlOpt: Option[String] = Option(exprSql).flatten
}

/** Exact CO-moment wheel for a column PAIR — (n, Σx, Σy, Σx², Σy², Σxy) as
  * exact integers — answering `wheel_covar_samp` / `wheel_covar_pop` /
  * `wheel_corr` ([[graft.functions.CoMomentStatsAgg]]) over any time range
  * at plan time, O(1) via the prefix array like [[MomentIndexedWheel]].
  * Same decline gates: `castFail` ≠ 0 (a row escaped either column's exact
  * fixed-point probe) refuses every rewrite; `absMaxX`/`absMaxY` prove a
  * query's explicit casts can never overflow under ANSI. */
@SerialVersionUID(1L)
final case class CoMomentIndexedWheel(
    wheel: TypedHawWheel[WheelAggregators.CoMoments, WheelAggregators.CoMoments],
    columnX: String,
    columnY: String,
    agg: WheelAggregators.CoMomentStats,
    castFail: Long,
    absMaxX: Double,
    absMaxY: Double,
    filterKey: String = "",
    filterSql: Option[String] = None,
    slotSpan: Long = 1L,
    keyEq: Option[(String, org.apache.spark.sql.catalyst.expressions.Literal)] = None,
    exprSqlX: Option[String] = None,
    exprSqlY: Option[String] = None) {
  def scaleX: Int = agg.scaleX
  def scaleY: Int = agg.scaleY
  def span: Long = if (slotSpan <= 0L) 1L else slotSpan
  def keyEqOpt: Option[(String, org.apache.spark.sql.catalyst.expressions.Literal)] =
    Option(keyEq).flatten
  def exprSqlXOpt: Option[String] = Option(exprSqlX).flatten
  def exprSqlYOpt: Option[String] = Option(exprSqlY).flatten
}

/** All wheels for one table (identified by its parquet root path).
  *
  * @param fingerprint hash of the table's file listing (path, length,
  *                    modification time) at build time. The optimizer rule
  *                    re-hashes the current listing on every lookup and
  *                    refuses to rewrite when they differ, so appends or
  *                    overwrites after the build make the index inert instead
  *                    of silently serving stale answers (the reference never
  *                    invalidates — `lib.rs:154-239` keys wheels forever).
  */
@SerialVersionUID(1L)
final class TableIndex(
    val pathKey: String,
    val timeColumn: String,
    val tsAllNonNull: Boolean,
    val fingerprint: Long = 0L,
    /** (path → (length, modificationTime)) of every file at build time —
      * the data [[UWheelIndex.refresh]] diffs the current listing against
      * to decide append-merge vs full rebuild. */
    val filesAtBuild: Map[String, (Long, Long)] = Map.empty,
    /** The build's slot budget, re-applied on refresh so a growing time
      * range coarsens the merged wheels exactly as a fresh build would. */
    val slotBudget: Option[Long] = None,
    /** The build's `withPackedLevels` setting, re-applied by refreshes and
      * ad-hoc wheel additions. A persisted FIELD, not an inference from the
      * wheels: an empty initial build produces empty (necessarily unpacked)
      * wheels, and inferring from them would silently drop the user's
      * opt-in forever. Old persisted indexes deserialize to false — exactly
      * right, their wheels are raw. */
    val packLevels: Boolean = false) extends Serializable {
  private val wheels = new ConcurrentHashMap[(Option[String], String), IndexedWheel]()
  // HLL distinct-sketch wheels by (column, residual filter key). Null after
  // deserializing an index persisted before the field existed (Java
  // serialization default) — reads guard on that; such an index simply has
  // no distinct wheels.
  private val distinct = new ConcurrentHashMap[(String, String), DistinctIndexedWheel]()
  // MILLISECOND-domain wheels by measure column (None = row count): their
  // HawWheel ticks are epoch MILLISECONDS, not seconds — only the
  // sub-second window arm may read them, with ms-scaled bounds. Unfiltered
  // and never coarsened, so no filterKey/span dimension. Null after
  // deserializing an index persisted before the field existed (Java
  // default) — reads guard on that; such an index simply has no ms wheels.
  private val millis = new ConcurrentHashMap[Option[String], IndexedWheel]()

  def put(w: IndexedWheel): Unit = wheels.put((w.valueColumn, w.filterKey), w)
  def putMs(w: IndexedWheel): Unit = millis.put(w.valueColumn, w)
  /** Millisecond bottom-level wheel for a measure column (None = the count
    * wheel). Remember: the returned wheel's tick unit is the MILLISECOND. */
  def msWheel(col: Option[String]): Option[IndexedWheel] =
    Option(millis).flatMap(m => Option(m.get(col)))
  /** Any ms wheel (every one covers the same unfiltered rows, so any one's
    * count enumerates buckets). */
  def anyMsWheel: Option[IndexedWheel] =
    msWheel(None).orElse(allMsWheels.headOption)
  def allMsWheels: Seq[IndexedWheel] =
    Option(millis).map(_.asScala.values.toSeq).getOrElse(Nil)
  def putDistinct(d0: DistinctIndexedWheel): Unit = {
    // normalize fields a pre-keyed-era serialized wheel defaults to null
    val d = if (d0.filterKey == null)
      d0.copy(filterKey = "", filterSql = Option(d0.filterSql).flatten) else d0
    distinct.put((d.column, d.filterKey), d)
  }
  def distinctWheel(col: String, filterKey: String = ""): Option[DistinctIndexedWheel] =
    Option(distinct).flatMap(m => Option(m.get((col, filterKey))))
  def allDistinctWheels: Seq[DistinctIndexedWheel] =
    Option(distinct).map(_.asScala.values.toSeq).getOrElse(Nil)
  // HDR quantile-sketch wheels by (column, residual filter key); same
  // null-after-old-deserialization guard as `distinct`
  private val quantiles = new ConcurrentHashMap[(String, String), QuantileIndexedWheel]()
  def putQuantile(qw: QuantileIndexedWheel): Unit =
    quantiles.put((qw.column, qw.filterKey), qw)
  def quantileWheel(col: String, filterKey: String = ""): Option[QuantileIndexedWheel] =
    Option(quantiles).flatMap(m => Option(m.get((col, filterKey))))
  def allQuantileWheels: Seq[QuantileIndexedWheel] =
    Option(quantiles).map(_.asScala.values.toSeq).getOrElse(Nil)
  // Count-Min frequency-sketch wheels by (column, residual filter key);
  // same null-after-old-deserialization guard as `distinct`
  private val freqs = new ConcurrentHashMap[(String, String), FreqIndexedWheel]()
  def putFreq(fw: FreqIndexedWheel): Unit =
    freqs.put((fw.column, fw.filterKey), fw)
  def freqWheel(col: String, filterKey: String = ""): Option[FreqIndexedWheel] =
    Option(freqs).flatMap(m => Option(m.get((col, filterKey))))
  def allFreqWheels: Seq[FreqIndexedWheel] =
    Option(freqs).map(_.asScala.values.toSeq).getOrElse(Nil)
  // temporal heavy-hitter wheels by (key column, residual filter key);
  // same null-after-old-deserialization guard as `distinct`
  private val topKs = new ConcurrentHashMap[(String, String), TopKIndexedWheel]()
  def putTopK(tw0: TopKIndexedWheel): Unit = {
    // normalize fields a pre-keyed-era serialized wheel defaults to null
    val tw = if (tw0.filterKey == null)
      tw0.copy(filterKey = "", filterSql = Option(tw0.filterSql).flatten) else tw0
    topKs.put((tw.column, tw.filterKey), tw)
  }
  def topKWheel(col: String, filterKey: String = ""): Option[TopKIndexedWheel] =
    Option(topKs).flatMap(m => Option(m.get((col, filterKey))))
  def allTopKWheels: Seq[TopKIndexedWheel] =
    Option(topKs).map(_.asScala.values.toSeq).getOrElse(Nil)
  /** Load-time re-key guard for SAME-UID evolution of the top-k map: under
    * the pinned SerialVersionUID, a future re-keying would deserialize old
    * entries raw via type erasure (every tuple lookup silently missing —
    * the heavy-hitter arm would stop rewriting), and fields added after a
    * save deserialize null. Raw-keyed entries re-put through [[putTopK]],
    * which also normalizes null filter fields. NOT a pre-round-11 compat
    * path: files from before the UID was pinned fail readObject wholesale
    * ([[WheelIndexIO.load]] reports stale-format; rebuild required).
    * Called by [[WheelIndexIO.load]]. */
  private[index] def renormalizeTopKs(): Unit = Option(topKs).foreach { m =>
    val raw = m.asInstanceOf[ConcurrentHashMap[Any, TopKIndexedWheel]]
    val stale = raw.asScala.collect {
      case (k, v) if !k.isInstanceOf[Tuple2[_, _]] => (k, v)
    }.toList
    stale.foreach { case (k, v) => raw.remove(k); putTopK(v) }
  }
  // exact-moment wheels by (column, residual filter key); same
  // null-after-old-deserialization guard as the other typed families
  private val moments = new ConcurrentHashMap[(String, String), MomentIndexedWheel]()
  def putMoment(mw: MomentIndexedWheel): Unit =
    moments.put((mw.column, mw.filterKey), mw)
  def momentWheel(col: String, filterKey: String = ""): Option[MomentIndexedWheel] =
    Option(moments).flatMap(m => Option(m.get((col, filterKey))))
  def allMomentWheels: Seq[MomentIndexedWheel] =
    Option(moments).map(_.asScala.values.toSeq).getOrElse(Nil)
  // exact co-moment wheels by (columnX, columnY, residual filter key)
  private val coMoments = new ConcurrentHashMap[(String, String, String), CoMomentIndexedWheel]()
  def putCoMoment(cw: CoMomentIndexedWheel): Unit =
    coMoments.put((cw.columnX, cw.columnY, cw.filterKey), cw)
  def coMomentWheel(colX: String, colY: String, filterKey: String = ""): Option[CoMomentIndexedWheel] =
    Option(coMoments).flatMap(m => Option(m.get((colX, colY, filterKey))))
  def allCoMomentWheels: Seq[CoMomentIndexedWheel] =
    Option(coMoments).map(_.asScala.values.toSeq).getOrElse(Nil)
  def get(col: Option[String], filterKey: String): Option[IndexedWheel] =
    Option(wheels.get((col, filterKey)))
  def allWheels: Seq[IndexedWheel] = wheels.asScala.values.toSeq
  /** Any wheel whose row coverage is the given residual filter (for COUNT(*)). */
  def anyForFilter(filterKey: String): Option[IndexedWheel] = {
    val cw = get(None, filterKey)
    if (cw.isDefined) cw
    else wheels.asScala.collectFirst { case ((_, fk), w) if fk == filterKey => w }
  }
  def countWheel: Option[IndexedWheel] = get(None, "")
  def minMaxWheel(col: String): Option[IndexedWheel] = get(Some(col), "")
  /** Retained bytes across wheels, counting shared HawWheels (e.g. the
    * count wheel aliasing the first min/max wheel) once. HLL distinct
    * wheels report their MEASURED register payload across granularity
    * levels — canonical sparse partials make this ∝ values seen per slot
    * (≈ 10 B per low-traffic second), with 2^p bytes per slot only once a
    * slot's distinct count earns a dense representation. */
  def indexUsageBytes: Long = indexUsageBytesByFamily.values.sum

  /** [[indexUsageBytes]] attributed per wheel family (round-11 verdict
    * task 4: the single MiB number grew every round without naming which
    * family grew). Keys: numeric (count/min-max/keyed sum wheels), ms
    * (millisecond bottom levels), hll, hdr, cms, topk, moment, comoment.
    * A HawWheel shared between the numeric and ms sets (the count wheel
    * aliasing the first min/max wheel) counts once, under numeric. */
  def indexUsageBytesByFamily: Map[String, Long] = {
    val numericWheels = wheels.asScala.values.map(_.wheel).toList.distinct
    val msOnly = allMsWheels.map(_.wheel).distinct
      .filterNot(w => numericWheels.exists(_ eq w))
    Map(
      "numeric" -> numericWheels.map(_.sizeBytes).sum,
      "ms" -> msOnly.map(_.sizeBytes).sum,
      "hll" -> allDistinctWheels.map(_.wheel.measuredBytes).sum,
      "hdr" -> allQuantileWheels.map(_.wheel.measuredBytes).sum,
      "cms" -> allFreqWheels.map(_.wheel.measuredBytes).sum,
      // top-k summaries: measured across ALL granularity levels (the
      // hierarchy keeps coarse slots exact under TopTalkers.coarseBudget,
      // so it is real memory, not an 8-byte-per-slot estimate)
      "topk" -> allTopKWheels.map(_.wheel.measuredBytes).sum,
      // moment partials: ~3 numbers per slot; the 8-byte-per-partial
      // estimate understates BigInt headers, so count a measured 48 B each
      "moment" -> allMomentWheels.map(_.wheel.numSecs.toLong * 48L).sum,
      "comoment" -> allCoMomentWheels.map(_.wheel.numSecs.toLong * 112L).sum,
    )
  }
}

/** Driver-side registry of wheel indices, consulted by the optimizer rule at
  * plan time (reference: `BuiltInWheels`, `wheels.rs:19-37`). Keys are
  * normalized parquet root paths. */
object WheelRegistry {
  private val tables = new ConcurrentHashMap[String, TableIndex]()

  def normalizePath(p: String): String = rootSetKey(p.split('\n').toIndexedSeq)

  /** Canonical registry key for a root SET of USER-SUPPLIED paths (round-14
    * verdict task 4: a multi-directory relation used to be looked up under
    * `rootPaths.headOption` only, so an index built over both roots never
    * served). Each member is first qualified the way Spark's DataSource
    * qualifies a read path — relative paths against the file system's
    * working directory, `file:///x` as `file:/x` — so the key equals the
    * one [[keyOfQualified]] derives from the relation's `rootPaths`; a
    * relative or `file:///` build used to register under a key no query
    * could find. */
  def rootSetKey(paths: Seq[String]): String = keyOfQualified(paths.map(qualify))

  /** Registry key for roots Spark has ALREADY qualified (a relation's
    * `FileIndex.rootPaths`): each member is scheme/slash-normalized, then
    * the set is deduped and SORTED before newline-joining — so
    * `spark.read.parquet(a, b)` and `parquet(b, a)` resolve to the same
    * key. String work only: the optimizer rule keys every query through
    * this. Newline is the join character because it cannot appear in a
    * normalized Hadoop path URI. */
  def keyOfQualified(roots: Seq[String]): String =
    roots.map(_.stripPrefix("file:").replaceAll("/+$", ""))
      .distinct.sorted.mkString("\n")

  /** `p` as a qualified Hadoop path string; view keys and strings Hadoop
    * cannot resolve to a file system pass through unchanged. */
  private def qualify(p: String): String =
    if (p.startsWith("view::")) p
    else scala.util.Try {
      val path = new org.apache.hadoop.fs.Path(p)
      val conf = SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
        .fold(new org.apache.hadoop.conf.Configuration())(_.sparkContext.hadoopConfiguration)
      path.getFileSystem(conf).makeQualified(path).toString
    }.getOrElse(p)

  /** Inverse of [[rootSetKey]]: the member root paths of a registry key
    * (size 1 for ordinary single-root tables). */
  def rootsOfKey(key: String): Seq[String] = key.split('\n').toIndexedSeq

  /** Registry key for an in-memory DataFrame index (display only). */
  def viewKey(name: String): String = "view::" + name.toLowerCase

  // In-memory (no file backing) indexes are found by the attribute ExprIds
  // of the indexed DataFrame (names and SubqueryAlias nodes are gone by the
  // time the optimizer rule runs; ExprIds survive and are globally unique),
  // BUT ExprId identity alone is unsound: Catalyst's ConvertToLocalRelation
  // folds filters/projections INTO local data before our rule runs, so a
  // leaf carrying the registered ids may be an arbitrary row SUBSET of the
  // indexed data. The leaf must therefore also be semantically identical
  // (sameResult) to the plan the index was built from.
  private val byExprId =
    new ConcurrentHashMap[Long, (org.apache.spark.sql.catalyst.plans.logical.LogicalPlan, TableIndex)]()

  def registerExprIds(
      ids: Seq[Long],
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan,
      t: TableIndex): Unit = {
    tables.put(t.pathKey, t)
    ids.foreach(id => byExprId.put(Long.box(id).longValue(), (plan, t)))
  }

  def lookupLeaf(
      leaf: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): Option[TableIndex] = {
    import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
    leaf.output.view
      .flatMap(a => Option(byExprId.get(a.exprId.id)))
      .collectFirst {
        case (plan, t) if leaf.sameResult(plan) => t
        // Column pruning projects the leaf but keeps ExprIds and rows.
        // Folding rules (Filter/Limit/Sample) can only DROP rows and an
        // id-preserving Project passes values through unchanged, so a leaf
        // whose attrs are all registered ids with the registered row count
        // is exactly the indexed data, projected.
        case (reg: LocalRelation, t)
            if leaf.isInstanceOf[LocalRelation] &&
              leaf.asInstanceOf[LocalRelation].data.length == reg.data.length &&
              leaf.output.forall(a => reg.output.exists(_.exprId == a.exprId)) =>
          t
      }
  }

  def register(t: TableIndex): Unit = tables.put(t.pathKey, t)
  /** Removes a table's index — the operational complement of register for
    * dropped tables, so a scheduled [[UWheelIndex.refreshAll]] stops
    * reporting them as failed forever. */
  def deregister(rootPath: String): Unit = tables.remove(normalizePath(rootPath))
  /** Atomic read-modify-write of one key (ConcurrentHashMap.compute): the
    * streaming publishers use it to LAYER their wheel families over
    * whatever another publisher already registered for the same path,
    * instead of last-writer-wins clobbering (round-6 advice). `f` returns
    * None to remove the key. `key` must already be normalized. */
  def update(key: String, f: Option[TableIndex] => Option[TableIndex]): Unit =
    tables.compute(key, (_, cur) => f(Option(cur)).orNull)
  def registeredPaths: Seq[String] = tables.keySet().asScala.toSeq.sorted
  /** O(1) membership probe for the optimizer's top-level pre-check
    * ([[graft.rules.UWheelRule]]) over a relation's qualified `rootPaths`:
    * true when any single root OR the canonical root-set key is
    * registered. Over-approximate by design — the rewrite itself still
    * runs the full fingerprint/sameResult lookup. */
  def mayMatchRoots(roots: Seq[String]): Boolean =
    roots.exists(r => tables.containsKey(keyOfQualified(Seq(r)))) ||
      (roots.lengthCompare(1) > 0 && tables.containsKey(keyOfQualified(roots)))
  def mayMatchExprId(id: Long): Boolean = byExprId.containsKey(id)
  /** Index registered for a user-supplied path or registry key. A key as
    * registered hits without qualification. */
  def lookup(rootPath: String): Option[TableIndex] =
    Option(tables.get(rootPath)).orElse(Option(tables.get(normalizePath(rootPath))))
  /** Index registered for a relation's qualified `rootPaths` — the rule's
    * per-query lookup, string work only ([[keyOfQualified]]). */
  def lookupQualified(roots: Seq[String]): Option[TableIndex] =
    Option(tables.get(keyOfQualified(roots)))
  def isEmpty: Boolean = tables.isEmpty
  def clear(): Unit = tables.clear()
}

/** Ad-hoc index request — API parity with the reference's `IndexBuilder`
  * (`/root/reference/datafusion-uwheel/src/index/mod.rs:42-182`). The wheel we
  * build always carries count+sum+min+max partials, so a single build serves
  * SUM/AVG/MIN/MAX/COUNT over the same (column, filter). */
final case class IndexBuilder(
    column: String,
    filterSql: Option[String] = None,
    timeRangeSec: Option[(Long, Long)] = None) {
  def withFilter(sql: String): IndexBuilder = copy(filterSql = Some(sql))
  def withTimeRange(startSec: Long, endSec: Long): IndexBuilder =
    copy(timeRangeSec = Some((startSec, endSec)))
}

/** Builder mirroring the reference's `Builder`
  * (`/root/reference/datafusion-uwheel/src/builder.rs:59-252`): constructs the
  * COUNT(*) wheel and per-column min/max wheels for one parquet table, then
  * registers the result for plan-time rewrites. */
final case class UWheelBuilder(
    timeColumn: String,
    minMaxColumns: Seq[String] = Nil,
    timeRangeSec: Option[(Long, Long)] = None,
    scale: Int = 2,
    keyedWheels: Seq[IndexBuilder] = Nil,
    slotSpanSec: Long = 1L,
    slotBudget: Option[Long] = None,
    packLevels: Boolean = false,
    distinctColumns: Seq[String] = Nil,
    hllPrecision: Int = 11,
    keyedDistinctWheels: Seq[(String, String)] = Nil,
    millisColumns: Option[Seq[String]] = None,
    quantileColumns: Seq[(String, Int)] = Nil,
    keyedQuantileWheels: Seq[(String, String, Int)] = Nil,
    momentColumns: Seq[String] = Nil,
    keyedMomentWheels: Seq[(String, String)] = Nil,
    coMomentColumns: Seq[(String, String)] = Nil,
    keyedCoMomentWheels: Seq[(String, String, String)] = Nil,
    exprWheels: Seq[(String, Int)] = Nil,
    keyedExprWheels: Seq[(String, String, Int)] = Nil,
    freqColumns: Seq[(String, Int, Int)] = Nil,
    keyedFreqWheels: Seq[(String, String, Int, Int)] = Nil,
    topKColumns: Seq[(String, Int)] = Nil,
    keyedTopKWheels: Seq[(String, String, Int)] = Nil) {
  def withMinMaxWheels(cols: Seq[String]): UWheelBuilder = copy(minMaxColumns = cols)
  def withTimeRange(startSec: Long, endSec: Long): UWheelBuilder =
    copy(timeRangeSec = Some((startSec, endSec)))
  /** Fuses an ad-hoc keyed/filtered wheel into the same single build scan
    * (equivalent to a later `UWheelIndex.buildIndex` call, minus the pass). */
  def withKeyedWheel(ib: IndexBuilder): UWheelBuilder =
    copy(keyedWheels = keyedWheels :+ ib)
  /** Coarsens every wheel of this build to `span` seconds per slot (60,
    * 3600 or 86400): wheel memory drops by the span factor; rewrites then
    * require span-aligned predicates (emptiness pruning still works for any
    * bounds, conservatively). The memory guard for always-active multi-year
    * tables — a decade of dense per-second slots is 315M entries, of
    * per-minute slots 5.3M. */
  def withSlotSpan(span: Long): UWheelBuilder = {
    // validate here, not after the full build scan has already run
    require(graft.wheel.HawWheel.AllowedSlotSpans.contains(span),
      s"slot span must be one of ${graft.wheel.HawWheel.AllowedSlotSpans.mkString(", ")} s, got $span")
    copy(slotSpanSec = span)
  }
  /** Auto-coarsen: picks the finest allowed span — never finer than an
    * explicit [[withSlotSpan]] — whose worst-case slot count over the
    * table's [min, max] time range stays within `maxSlots`. Costs one extra
    * min/max scan of the time column before the build. */
  def withSlotBudget(maxSlots: Long): UWheelBuilder = copy(slotBudget = Some(maxSlots))

  /** Adds an HLL distinct-count sketch wheel over an integral column, so
    * `hll_distinct(col)` over any time range answers from the index at plan
    * time ([[graft.functions.HllDistinctAgg]]). Fused into the SAME single
    * build scan as every other wheel (the registers form of the native
    * aggregate becomes one more column of the per-second aggregation, and
    * the tree merge ships ONE wheel to the driver) — requesting distinct
    * wheels costs zero extra passes over the table. `p` sizes the
    * registers — 2^p bytes per active second at stderr ≈ 1.04/√(2^p).
    * Distinct wheels are always full-table, unfiltered, per-second. */
  def withDistinctWheel(col: String, p: Int = 11): UWheelBuilder = {
    requireHllP(p)
    copy(distinctColumns = distinctColumns :+ col, hllPrecision = p)
  }

  /** A KEYED distinct-sketch wheel: registers see only rows matching
    * `filterSql`, so `hll_distinct(col)` composed with that residual
    * predicate ("distinct purchasers last week") answers from the index.
    * Routed by the same canonical filter key as keyed numeric wheels;
    * fused into the same single build scan. */
  def withKeyedDistinctWheel(col: String, filterSql: String, p: Int = 11): UWheelBuilder = {
    requireHllP(p)
    copy(keyedDistinctWheels = keyedDistinctWheels :+ ((col, filterSql)), hllPrecision = p)
  }

  /** Adds an HDR log-bucketed quantile-sketch wheel over a numeric column,
    * so `hdr_quantile(col, q[, s])` over any time range ("p99 latency last
    * week") answers from the index at plan time
    * ([[graft.functions.HdrQuantileAgg]]). Fused into the SAME single
    * build scan like the HLL wheels — the bins form of the native
    * aggregate is one more column of the per-second aggregation, zero
    * extra passes. `s` fixes the bucketing resolution: relative bucket
    * width ≤ 2^−s (default 7 → 0.79 %), memory ∝ distinct (exponent,
    * s-bit-mantissa) buckets per active second. */
  def withQuantileWheel(col: String, s: Int = 7): UWheelBuilder =
    copy(quantileColumns = quantileColumns :+ ((col, s)))

  /** A KEYED quantile-sketch wheel: bins over only rows matching
    * `filterSql` ("p99 checkout latency"), routed by the same canonical
    * filter key as keyed numeric wheels; fused into the same scan. */
  def withKeyedQuantileWheel(col: String, filterSql: String, s: Int = 7): UWheelBuilder =
    copy(keyedQuantileWheels = keyedQuantileWheels :+ ((col, filterSql, s)))

  /** Adds an EXACT-moment wheel (n, Σx, Σx² as exact integers) over a
    * numeric column, so `wheel_var_samp` / `wheel_var_pop` /
    * `wheel_stddev_samp` / `wheel_stddev_pop`
    * ([[graft.functions.MomentStatsAgg]]) over any time range ("value
    * volatility last week") answers from the index at plan time — exactly,
    * not as a sketch. Fixed-point scale: the column's own scale for a
    * DECIMAL column, the builder's [[scale]] otherwise. Moments are
    * invertible, so the frozen wheel serves any range in O(1) via its
    * prefix array. Fused into the SAME single build scan (five plain
    * codegen'd aggregate columns), zero extra passes. */
  def withMomentWheel(col: String): UWheelBuilder =
    copy(momentColumns = momentColumns :+ col)

  /** A KEYED exact-moment wheel: moments over only rows matching
    * `filterSql` ("checkout-value variance"), routed by the same canonical
    * filter key as keyed numeric wheels; fused into the same scan. */
  def withKeyedMomentWheel(col: String, filterSql: String): UWheelBuilder =
    copy(keyedMomentWheels = keyedMomentWheels :+ ((col, filterSql)))

  /** Adds an exact CO-moment wheel over a column PAIR, so
    * `wheel_covar_samp(x, y)` / `wheel_covar_pop(x, y)` / `wheel_corr(x, y)`
    * ([[graft.functions.CoMomentStatsAgg]]) over any time range ("did
    * quantity and price move together last quarter?") answers from the
    * index at plan time — exactly. Same scale policy as
    * [[withMomentWheel]], per column; fused into the same single scan
    * (nine plain codegen'd aggregate columns). */
  def withCoMomentWheel(colX: String, colY: String): UWheelBuilder =
    copy(coMomentColumns = coMomentColumns :+ ((colX, colY)))

  /** A KEYED co-moment wheel: co-moments over only rows matching
    * `filterSql`, routed by the canonical filter key. */
  def withKeyedCoMomentWheel(colX: String, colY: String, filterSql: String): UWheelBuilder =
    copy(keyedCoMomentWheels = keyedCoMomentWheels :+ ((colX, colY, filterSql)))

  /** Adds a Count-Min frequency-sketch wheel over an integral key column,
    * so `cms_freq(col, target)` over any time range ("how many times did
    * user 12345 appear last week") answers from the index at plan time —
    * for ANY target value, where exact per-value keyed wheels would need
    * one wheel per key ([[graft.functions.CmsFreqAgg]]). Fused into the
    * SAME single build scan like the HLL/HDR wheels (the sketch form of
    * the native aggregate is one more column of the per-second
    * aggregation, zero extra passes). `logW`/`d` size the counter matrix:
    * estimates overshoot by ≤ 2n/2^logW with probability ≥ 1 − 2^−d. */
  def withFreqWheel(col: String, logW: Int = 12, d: Int = 4): UWheelBuilder =
    copy(freqColumns = freqColumns :+ ((col, logW, d)))

  /** A KEYED frequency-sketch wheel: counters over only rows matching
    * `filterSql` ("purchase frequency per user"), routed by the same
    * canonical filter key as keyed numeric wheels; fused into the same
    * scan. */
  def withKeyedFreqWheel(col: String, filterSql: String, logW: Int = 12, d: Int = 4): UWheelBuilder =
    copy(keyedFreqWheels = keyedFreqWheels :+ ((col, filterSql, logW, d)))

  /** Adds a temporal HEAVY-HITTER wheel over an integral key column, so
    * "top-k keys by occurrence count in ANY time range" answers from the
    * index ([[TopKIndexedWheel.topK]]) — certified EXACT (keys and counts)
    * whenever the range's slack bound is zero, which holds exactly when
    * every second in range saw ≤ `cap` distinct keys; denser slots keep
    * their top-`cap` candidates and serve [lower, upper] bounds instead
    * ([[TopKIndexedWheel.topKBounds]], the mergeable-summaries ε = slack
    * guarantee). Complements [[withFreqWheel]]: CMS answers "how often did
    * key X occur", this answers "WHICH keys occurred most". Built in one
    * extra distributed typed pass (per-partition wheels tree-merge;
    * per-slot summaries stay exact until the deterministic freeze-time
    * compaction, so the build is partition-count-independent). */
  def withTopKWheel(col: String, cap: Int = 64): UWheelBuilder =
    copy(topKColumns = topKColumns :+ ((col, cap)))

  /** Keyed variant of [[withTopKWheel]]: heavy hitters among the rows
    * matching `filterSql` only ("top purchasers"). Registered under the
    * filter's canonical key, so the optimizer's heavy-hitter arm routes a
    * query's residual predicate to it like every other keyed family. */
  def withKeyedTopKWheel(col: String, filterSql: String, cap: Int = 64): UWheelBuilder =
    copy(keyedTopKWheels = keyedTopKWheels :+ ((col, filterSql, cap)))

  /** Adds a wheel over a derived EXPRESSION of the table's columns — the
    * revenue shape: `sum(l_extendedprice * (1 - l_discount))` over any
    * ship-date range answers from one O(1) read instead of a scan. The
    * wheel is registered under the expression's CANONICAL Catalyst form
    * ([[graft.expr.Canon.canonExpr]] of the analyzed, constant-folded
    * expression — the same key the rewrite rule computes from a query's
    * aggregate child), so `SUM/AVG/MIN/MAX/COUNT(<expr>)` route to it
    * through the exact same machinery as bare-column wheels, including
    * every bucket arm (date_trunc / window() group-bys), OR-range unions,
    * HAVING, and emptiness pruning. The same exactness discipline applies:
    * plain `sum(<expr>)` over doubles only rewrites when every expression
    * value is representable at `scale` ([[IndexedWheel.valuesExactAtScale]]);
    * the `sum(cast(<expr> as decimal(p, scale)))` form matches the wheel's
    * decimal arithmetic by construction (both sides round HALF_UP at
    * `scale`), which is the recommended form for products of decimals
    * stored as doubles (a 2-dec price × 2-dec rate product needs scale 4).
    * Must be deterministic and aggregate-free; fused into the same single
    * build scan (the expression is one more projected column). */
  def withExprWheel(sql: String, scale: Int = 4): UWheelBuilder =
    copy(exprWheels = exprWheels :+ ((sql, scale)))

  /** A KEYED expression wheel: the derived measure over only rows matching
    * `filterSql` ("returned-line revenue"), routed by the same canonical
    * filter key as every keyed wheel family; fused into the same scan. */
  def withKeyedExprWheel(sql: String, filterSql: String, scale: Int = 4): UWheelBuilder =
    copy(keyedExprWheels = keyedExprWheels :+ ((sql, filterSql, scale)))

  private def requireHllP(p: Int): Unit = {
    require(p >= 4 && p <= 16, s"hll precision must be in [4, 16], got $p")
    require((distinctColumns.isEmpty && keyedDistinctWheels.isEmpty) || p == hllPrecision,
      "all distinct wheels of one build share a precision")
  }

  /** Adds MILLISECOND bottom-level wheels (count + one per listed measure
    * column), so sub-second `GROUP BY window(ts, …)` shapes — `window(ts,
    * '1 second', '500 milliseconds')` on an ops dashboard — rewrite to O(1)
    * per-bucket reads instead of paying the scan's Expand multiplication.
    * The wheels are ordinary [[graft.wheel.HawWheel]]s whose tick unit is
    * the epoch millisecond (the wheel's integer arithmetic is unit-blind),
    * unfiltered and never slot-coarsened. Costs ONE extra build scan
    * grouped by millisecond — deliberately not fused into the per-second
    * scan, whose shuffle cardinality (∝ active seconds) is the 100 TB
    * design point; opting in bounds the extra shuffle by active
    * MILLISECONDS instead (≤ row count), which is the honest price of
    * sub-second slots and the reason they are opt-in. */
  def withMillisWheels(cols: String*): UWheelBuilder =
    copy(millisColumns = Some(cols.toSeq))

  /** Stores every value wheel's min/max hierarchy as codec-compressed
    * blocks — the remaining memory lever AFTER slot-span coarsening for
    * always-active multi-year tables. Lossless: rewritten answers stay
    * bit-identical (`WheelPackSpec`); reads pay a bounded one-block decode,
    * amortized by a per-level block memo (measured ~26 µs vs ~10 µs per
    * random range on a 200k-slot wheel — 300× below the ~8 ms SQL floor, so
    * end-to-end latency is unchanged). Count/sum prefix arrays stay raw
    * (their O(1) access is the point), so this compresses the non-invertible
    * min/max partials the way the reference's aggregator-level compression
    * hook does (`aggregator/mod.rs:36-63`). */
  def withPackedLevels(): UWheelBuilder = copy(packLevels = true)

  def build(spark: SparkSession, path: String): TableIndex =
    UWheelIndex.build(spark, path, this)

  /** Multi-root build: index `spark.read.parquet(paths…)` as one table,
    * registered under the canonical sorted root-set key so the relation
    * serves at plan time ([[UWheelIndex.build]]). */
  def build(spark: SparkSession, paths: Seq[String]): TableIndex =
    UWheelIndex.build(spark, paths, this)
}

object UWheelIndex {

  /** Serialized byte size of the final merged build accumulator — the
    * driver's ENTIRE receive for the fused build scan — from the most
    * recent build run with `-Dgraft.build.measurePayload=true`; −1 when
    * never measured. One volatile slot (builds under the measurement flag
    * are sequential bench probes); consumed by the build-scale record
    * ([[graft.tools.BenchBuildScale]]) to assert the payload tracks active
    * slots, not row count. */
  @volatile var lastBuildPayloadBytes: Long = -1L

  /** Distributed wheel build. One shuffle: rows are pre-aggregated to
    * per-second partials by a map-side-combining `groupBy`, then folded into
    * per-partition [[graft.wheel.RwWheel]]s and tree-merged on the executors
    * — the driver receives one compact accumulator, never a Row per active
    * second. Data volume at every stage is bounded by the table's *distinct
    * active seconds*, independent of row count, which is what makes this
    * viable at 100 TB (the reference instead collects every row to one
    * process, `lib.rs:1130-1158`). */
  /** @param sawNullTs whether any row had a NULL time value (null seconds
    *                   group present in the partials) — derived from the same
    *                   single scan instead of a separate pass. */
  final case class BuiltWheel(wheel: IndexedWheel, sawNullTs: Boolean)

  /** Epoch-second slot of the time column. TimestampType → cast; a raw
    * nanosecond Long (events.ts via Tables) → floor-div by 1e9; DATE →
    * days × 86400 s, timezone-free (the reference's Date32 arm copies day
    * counts as milliseconds, `lib.rs:1250-1258` — support the type, not the
    * unit bug); NTZ → wall-clock seconds from purely timezone-free pieces
    * (date diff + hour/minute/second), so the build never depends on — or
    * has to mutate — the session zone. */
  private[graft] def secExprOf(df: DataFrame, timeColumn: String): Column =
    df.schema(timeColumn).dataType match {
      case org.apache.spark.sql.types.LongType =>
        F.expr(s"`$timeColumn` div 1000000000")
      case org.apache.spark.sql.types.DateType =>
        F.expr(s"CAST(unix_date(`$timeColumn`) AS BIGINT) * 86400")
      case org.apache.spark.sql.types.TimestampNTZType =>
        F.expr(
          s"""CAST(datediff(CAST(`$timeColumn` AS DATE), DATE '1970-01-01') AS BIGINT) * 86400
             | + hour(`$timeColumn`) * 3600 + minute(`$timeColumn`) * 60 + second(`$timeColumn`)""".stripMargin)
      case _ => F.col(timeColumn).cast("long")
    }

  /** Epoch-MILLISECOND slot of the time column — the sub-second twin of
    * [[secExprOf]] for the optional millisecond bottom-level wheels
    * ([[UWheelBuilder.withMillisWheels]]). Floors toward −∞ everywhere
    * (pmod-subtract before `div`, since Spark's `div` truncates toward
    * zero and would misalign pre-1970 instants). NTZ stays zone-free:
    * `extract(SECOND)` carries the fractional seconds as DECIMAL(8,6), so
    * `sec*1000 + msOfSecond` never consults the session zone. */
  private[graft] def msExprOf(df: DataFrame, timeColumn: String): Column =
    df.schema(timeColumn).dataType match {
      case org.apache.spark.sql.types.LongType => // raw nanoseconds
        F.expr(s"(`$timeColumn` - pmod(`$timeColumn`, 1000000)) div 1000000")
      case org.apache.spark.sql.types.DateType =>
        F.expr(s"CAST(unix_date(`$timeColumn`) AS BIGINT) * 86400000")
      case org.apache.spark.sql.types.TimestampNTZType =>
        F.expr(
          s"""CAST(datediff(CAST(`$timeColumn` AS DATE), DATE '1970-01-01') AS BIGINT) * 86400000
             | + hour(`$timeColumn`) * 3600000 + minute(`$timeColumn`) * 60000
             | + CAST(extract(SECOND FROM `$timeColumn`) * 1000 AS BIGINT)""".stripMargin)
      case _ =>
        F.expr(s"(unix_micros(`$timeColumn`) - pmod(unix_micros(`$timeColumn`), 1000)) div 1000")
    }

  /** One wheel to build: which column (None = row count), under which
    * residual filter, over which time coverage. */
  final case class WheelSpec(
      valueColumn: Option[String],
      filter: Option[Column],
      filterKey: String,
      timeRangeSec: Option[(Long, Long)],
      scale: Int,
      filterSql: Option[String] = None,
      keyEq: Option[(String, org.apache.spark.sql.catalyst.expressions.Literal)] = None,
      /** For derived-EXPRESSION measures: the raw SQL to project (the
        * `valueColumn` is then the expression's canonical key, not a schema
        * column — see [[IndexedWheel.exprSql]]). */
      exprSql: Option[String] = None)

  /** One distinct-sketch wheel to build: which column, at which precision,
    * under which residual filter (None/"" = unfiltered). */
  final case class DistinctSpec(
      column: String,
      p: Int,
      filter: Option[Column] = None,
      filterKey: String = "",
      filterSql: Option[String] = None,
      keyEq: Option[(String, org.apache.spark.sql.catalyst.expressions.Literal)] = None,
      exprSql: Option[String] = None)

  /** One quantile-sketch wheel to build: which column, at which bucketing
    * resolution, under which residual filter (""/None = unfiltered). */
  final case class QuantileSpec(
      column: String,
      s: Int,
      filter: Option[Column] = None,
      filterKey: String = "",
      filterSql: Option[String] = None,
      keyEq: Option[(String, org.apache.spark.sql.catalyst.expressions.Literal)] = None,
      exprSql: Option[String] = None)

  /** One Count-Min frequency-sketch wheel to build: which key column, at
    * which counter-matrix size, under which residual filter. */
  final case class CmsSpec(
      column: String,
      logW: Int,
      d: Int,
      filter: Option[Column] = None,
      filterKey: String = "",
      filterSql: Option[String] = None,
      keyEq: Option[(String, org.apache.spark.sql.catalyst.expressions.Literal)] = None,
      exprSql: Option[String] = None)

  /** One exact CO-moment wheel to build: which column pair, at which
    * fixed-point scales, under which residual filter. */
  final case class CoMomentSpec(
      columnX: String,
      columnY: String,
      scaleX: Int,
      scaleY: Int,
      filter: Option[Column] = None,
      filterKey: String = "",
      filterSql: Option[String] = None,
      keyEq: Option[(String, org.apache.spark.sql.catalyst.expressions.Literal)] = None,
      exprSqlX: Option[String] = None,
      exprSqlY: Option[String] = None)

  /** One exact-moment wheel to build: which column, at which fixed-point
    * scale, under which residual filter (""/None = unfiltered). */
  final case class MomentSpec(
      column: String,
      scale: Int,
      filter: Option[Column] = None,
      filterKey: String = "",
      filterSql: Option[String] = None,
      keyEq: Option[(String, org.apache.spark.sql.catalyst.expressions.Literal)] = None,
      exprSql: Option[String] = None)

  /** Structured `column = literal` form of a wheel filter, when it has one
    * (the multi-column GROUP BY arm routes on it). Matched on the ANALYZED
    * predicate so folding/cast normalization has already run. */
  private[graft] def keyEqOf(df: DataFrame, cond: Column): Option[(String, org.apache.spark.sql.catalyst.expressions.Literal)] = {
    import org.apache.spark.sql.catalyst.expressions.{AttributeReference, EqualTo, Literal}
    df.filter(cond).queryExecution.analyzed.collectFirst {
      case org.apache.spark.sql.catalyst.plans.logical.Filter(c, _) => c
    } flatMap {
      case EqualTo(a: AttributeReference, l: Literal) => Some((a.name, l))
      case EqualTo(l: Literal, a: AttributeReference) => Some((a.name, l))
      case _ => None
    }
  }

  /** Canonical registry key for a derived-expression measure: the
    * expression analyzed against `df` and passed through the session's own
    * optimizer (constant folding, implicit-cast normalization), then
    * canonicalized by [[graft.expr.Canon.canonExpr]] — exactly the
    * transformation pipeline a QUERY's aggregate child has been through
    * when the rewrite rule canonicalizes it, so build-side and query-side
    * keys agree structurally (`1 - l_discount` and `CAST(1 AS DOUBLE) -
    * l_discount` both key as `(1.0 - l_discount)`). */
  private[graft] def exprKeyOf(df: DataFrame, sql: String): String = {
    // STREAMING frames cannot run the batch optimizer (the analyzer's
    // UnsupportedOperationChecker throws), but skipping optimization would
    // key the wheel by a less-normalized form than the rewrite rule
    // computes (e.g. a no-op CAST the optimizer strips) — so resolve the
    // expression against an empty LOCAL twin with the same schema instead:
    // identical attributes, full optimizer, identical key to a batch build.
    if (df.isStreaming)
      return exprKeyOf(df.sparkSession.createDataFrame(
        java.util.Collections.emptyList[org.apache.spark.sql.Row](), df.schema), sql)
    val sel = df.select(F.expr(sql).as("_graft_expr"))
    // an aggregate "expression" analyzes to an Aggregate node, not a
    // Project — refuse it here, before any plan-shape assumption below
    // could turn the contract violation into an opaque ClassCastException
    require(sel.queryExecution.analyzed
      .isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.Project],
      s"expression wheel must be aggregate-free: $sql")
    val resolved = sel.queryExecution.optimizedPlan.collectFirst {
      case p: org.apache.spark.sql.catalyst.plans.logical.Project =>
        p.projectList.collectFirst {
          case a: org.apache.spark.sql.catalyst.expressions.Alias
              if a.name == "_graft_expr" => a.child
        }
    }.flatten.getOrElse(
      // a bare-column "expression" optimizes the Project away; fall back to
      // the analyzed form (canonExpr folds foldable subtrees itself)
      sel.queryExecution.analyzed.asInstanceOf[org.apache.spark.sql.catalyst.plans.logical.Project]
        .projectList.head.asInstanceOf[org.apache.spark.sql.catalyst.expressions.Alias].child)
    require(resolved.deterministic, s"expression wheel must be deterministic: $sql")
    require(!resolved.exists(
      _.isInstanceOf[org.apache.spark.sql.catalyst.expressions.aggregate.AggregateExpression]),
      s"expression wheel must be aggregate-free: $sql")
    require(resolved.references.nonEmpty, s"expression wheel must reference a column: $sql")
    graft.expr.Canon.canonExpr(resolved)
  }

  /** Column-or-EXPRESSION registry key: a schema column keys by its own
    * name; anything else is a derived expression keyed by its canonical
    * Catalyst form, with the raw SQL returned for re-projection. Shared by
    * the batch builder and the streaming publishers so both register under
    * the key the rewrite rule computes. */
  private[graft] def colOrExprKeyOf(df: DataFrame, s: String): (String, Option[String]) =
    if (df.schema.exists(_.name == s)) (s, None) else (exprKeyOf(df, s), Some(s))

  /** `try_cast(v AS decimal(p, s))` of a DOUBLE column via the scaled-long
    * fast path ([[graft.functions.FastDecimalImage]] — identical result,
    * minus the `Double.toString` parse that priced the lineitem build). */
  private def fastDecCol(v: Column, precision: Int, scale: Int): Column =
    org.apache.spark.sql.graft.ColumnBridge.column(
      graft.functions.FastDecimalImage(
        org.apache.spark.sql.graft.ColumnBridge.expression(v), precision, scale))

  /** The fixed-point probe image for a moment/co-moment source: the fast
    * double path when the source IS a double, Spark's own `try_cast` for
    * every other input type (DECIMAL sources stay in exact decimal
    * arithmetic end-to-end; int/long casts are already cheap). */
  private def fastDecIfDouble(df: DataFrame, src: Column, precision: Int,
      scale: Int): Column =
    if (df.select(src).schema.head.dataType == org.apache.spark.sql.types.DoubleType)
      fastDecCol(src, precision, scale)
    else src.try_cast(s"decimal($precision,$scale)")

  /** Builds ANY number of wheels in ONE distributed scan: each spec becomes
    * six conditional aggregate columns of a single map-side-combining
    * `groupBy(second)`, so index construction over 100 TB is one pass
    * regardless of how many count/min-max/keyed wheels are requested (the
    * reference runs one full query per wheel, `lib.rs:154-239,912-965`).
    * Rows a spec filters out contribute nothing to that spec's aggregates
    * (`WHEN keep` → NULL / 0). */
  private def buildWheels(
      df: DataFrame,
      timeColumn: String,
      specs: Seq[WheelSpec],
      slotSpan: Long = 1L,
      packLevels: Boolean = false,
      /** HLL distinct-sketch wheels — fused into the SAME scan as
        * register-array aggregate columns, so requesting distinct wheels
        * costs zero extra passes over the table. */
      distinctSpecs: Seq[DistinctSpec] = Nil,
      /** Overrides the group key (the wheel's tick domain): the millisecond
        * wheel build passes [[msExprOf]] here so the same fused-aggregate
        * machinery produces per-MILLISECOND partials. Specs must then carry
        * no timeRangeSec (coverage filters are second-domain). */
      slotExprOverride: Option[Column] = None,
      /** HDR quantile-sketch wheels — fused into the same scan as bin-array
        * aggregate columns, zero extra passes, like the HLL registers. */
      quantileSpecs: Seq[QuantileSpec] = Nil,
      /** Exact-moment wheels — fused into the same scan as five plain
        * (codegen'd) aggregate columns per spec, zero extra passes. */
      momentSpecs: Seq[MomentSpec] = Nil,
      /** Exact co-moment wheels — nine plain aggregate columns per spec. */
      coMomentSpecs: Seq[CoMomentSpec] = Nil,
      /** Count-Min frequency-sketch wheels — fused like the HLL/HDR
        * families, one sketch-array aggregate column per spec. */
      freqSpecs: Seq[CmsSpec] = Nil,
      /** When set, [[BuildPhases]] sub-attributes this build's fused scan:
        * `fusedplan_<tag>` = Catalyst analysis + optimization + physical
        * planning of the ~40-aggregate scan, `fusedexec_<tag>` = the scan +
        * fold itself (including first-run codegen compilation on a cold
        * JVM) — so the cold `index_build` headline names its cost instead
        * of reporting one opaque number (round-12 task 2). */
      phaseTag: Option[String] = None)
      : (Seq[BuiltWheel], Seq[DistinctIndexedWheel], Seq[QuantileIndexedWheel],
         Seq[MomentIndexedWheel], Seq[CoMomentIndexedWheel], Seq[FreqIndexedWheel]) = {
    require(specs.nonEmpty)
    require(slotExprOverride.isEmpty || specs.forall(_.timeRangeSec.isEmpty),
      "coverage-restricted specs are second-domain and cannot ride an overridden slot expression")
    val secExpr = secExprOf(df, timeColumn)
    // Per-ROW work is projected ONCE per distinct (valueColumn, scale) pair
    // and shared across specs: six keyed wheels over the same measure
    // column would otherwise each evaluate the double cast, the
    // DECIMAL(38) exactness round-trip, and the NaN probe per row — the
    // round-trip decimal cast in particular priced the round-6 events
    // build. Catalyst cannot unify them itself (each sat under a
    // spec-specific `when(keep, …)` guard, so the subtrees differ); with
    // the shared projection the per-row cost is one cast set total, and
    // each spec's aggregate columns reduce to cheap conditional folds the
    // hash aggregate codegens. The `keep` gates are evaluated inside the
    // aggregate exprs (they are per-spec by nature and cheap: a residual
    // equality + optional range test).
    val valKeys = specs.flatMap(sp => sp.valueColumn.map(c => (c, sp.scale))).distinct
    val valIdx = valKeys.zipWithIndex.toMap
    // Derived-expression measures: the spec's valueColumn is a canonical
    // key, not a schema column — the per-row source is the re-projected SQL.
    val exprSrc: Map[(String, Int), String] = specs.collect {
      case sp if sp.valueColumn.isDefined && sp.exprSql.isDefined =>
        (sp.valueColumn.get, sp.scale) -> sp.exprSql.get
    }.toMap
    val projCols = valKeys.zipWithIndex.flatMap { case ((c, scale), k) =>
      val srcCol = exprSrc.get((c, scale)).map(F.expr).getOrElse(F.col(c))
      val isDec = exprSrc.get((c, scale)) match {
        case Some(sql) => df.select(F.expr(sql)).schema.head.dataType
          .isInstanceOf[org.apache.spark.sql.types.DecimalType]
        case None => df.schema.find(_.name == c)
          .exists(_.dataType.isInstanceOf[org.apache.spark.sql.types.DecimalType])
      }
      if (isDec) {
        // Decimal source column at its own scale: the sum path widens the
        // decimal directly (exact — no double anywhere), and the exactness
        // probe flips direction: it asks whether the DOUBLE image converts
        // back to the original decimal exactly, which is what gates the
        // double-stored MIN/MAX rewrite. Decimals cannot be NaN.
        val d = srcCol.cast(s"decimal(38,$scale)")
        val v = srcCol.cast("double")
        val rt = v.try_cast(s"decimal(38,$scale)")
        Seq(
          v.as(s"_v$k"),
          d.as(s"_d$k"),
          (srcCol.isNotNull && (rt.isNull || rt =!= d)).as(s"_b$k"),
          F.lit(false).as(s"_n$k"))
      } else {
        val v = srcCol.cast("double")
        // Exactness probe: does v survive a round-trip through
        // DECIMAL(38,scale)? NaN/Infinity/overflow become NULL and count as
        // non-representable — `try_cast` semantics, via the scaled-long
        // fast path ([[graft.functions.FastDecimalImage]]): the
        // Decimal.set(double) → Double.toString parse behind the plain
        // cast was ~40% of the lineitem build's executor samples
        // (round-10 verdict task 6).
        val asDec = fastDecCol(v, 38, scale)
        val roundTrip = asDec.cast("double") // decimal→double never errors
        Seq(
          v.as(s"_v$k"),
          asDec.as(s"_d$k"),
          (v.isNotNull && (roundTrip.isNull || roundTrip =!= v)).as(s"_b$k"),
          F.isnan(v).as(s"_n$k"))
      }
    }
    val aggCols = specs.zipWithIndex.flatMap { case (sp, i) =>
      val inRange = sp.timeRangeSec
        .map { case (s, e) => secExpr >= s && secExpr < e }
        .getOrElse(F.lit(true))
      val keep = sp.filter.map(_ && inRange).getOrElse(inRange)
      val (v, asDec, bad, nan) = sp.valueColumn match {
        case Some(c) =>
          val k = valIdx((c, sp.scale))
          (F.when(keep, F.col(s"_v$k")), F.when(keep, F.col(s"_d$k")),
            F.col(s"_b$k"), F.col(s"_n$k"))
        case None =>
          val nul = F.lit(null).cast("double")
          (nul, nul, F.lit(false), F.lit(false))
      }
      Seq(
        F.sum(F.when(keep, F.lit(1L)).otherwise(F.lit(0L))).as(s"c$i"),
        F.count(v).as(s"cv$i"),
        F.sum(asDec).as(s"s$i"),
        F.min(v).as(s"mn$i"),
        F.max(v).as(s"mx$i"),
        F.sum(F.when(keep && bad, F.lit(1L)).otherwise(F.lit(0L))).as(s"b$i"),
        F.sum(F.when(keep && nan, F.lit(1L)).otherwise(F.lit(0L))).as(s"nan$i"))
    } ++ distinctSpecs.zipWithIndex.map { case (ds, j) =>
      // per-second register partials from the registers form of the native
      // aggregate — bit-identical fold semantics to the SQL hll_distinct
      // and the wheel's own aggregator (they are the same code). A keyed
      // spec folds its residual filter into the aggregate's child: rows
      // not matching become NULL and are skipped, exactly like the SQL
      // aggregate over the filtered query would skip them. A derived-
      // expression measure re-projects its SQL (column = canonical key).
      val srcD = ds.exprSql.map(F.expr).getOrElse(F.col(ds.column))
      val in = ds.filter match {
        case Some(f) => F.when(f, srcD)
        case None    => srcD
      }
      org.apache.spark.sql.graft.ColumnBridge.column(
        graft.functions.HllDistinctAgg(
          org.apache.spark.sql.graft.ColumnBridge.expression(in.cast("long")),
          ds.p, returnRegisters = true).toAggregateExpression()).as(s"h$j")
    } ++ quantileSpecs.zipWithIndex.map { case (qs, j) =>
      // per-second bin partials from the bins form of the native quantile
      // aggregate — identical content semantics to the wheel aggregator
      // (they share bucketing and canonical encoding). The double cast is
      // the same image the numeric wheels project, so buckets agree with
      // what the SQL aggregate over the raw column computes.
      val srcQ = qs.exprSql.map(F.expr).getOrElse(F.col(qs.column))
      val in = qs.filter match {
        case Some(f) => F.when(f, srcQ)
        case None    => srcQ
      }
      org.apache.spark.sql.graft.ColumnBridge.column(
        graft.functions.HdrQuantileAgg(
          org.apache.spark.sql.graft.ColumnBridge.expression(in.cast("double")),
          q = 0.0, s = qs.s, returnBins = true).toAggregateExpression()).as(s"qt$j")
    } ++ momentSpecs.zipWithIndex.flatMap { case (ms, j) =>
      // Exact moments, all in native codegen'd arithmetic: the value is
      // probed through an exact DECIMAL(18, scale) fixed-point image `f`
      // (rows that don't survive — NaN/Infinity/overflow — are COUNTED,
      // and any nonzero count makes the wheel decline every rewrite), the
      // unscaled integer u = f·10^s is exact in a BIGINT (|u| < 10^18),
      // and Σu / Σu² accumulate in DECIMAL(38,0) — u² < 10^36 always fits
      // a tight (19,0)×(19,0) product, so no precision loss anywhere.
      val s = ms.scale
      val src = ms.exprSql.map(F.expr).getOrElse(F.col(ms.column))
      val vd = src.cast("double")
      val f = fastDecIfDouble(df, src, 18, s)
      val fail = src.isNotNull && f.isNull
      val u = (f * F.lit(math.pow(10, s).toLong).cast("decimal(10,0)")).cast("long")
      val u19 = u.cast("decimal(19,0)")
      val keepM = ms.filter.getOrElse(F.lit(true))
      Seq(
        F.count(F.when(keepM, u)).as(s"mn$j"),
        F.sum(F.when(keepM, u.cast("decimal(38,0)"))).as(s"ms$j"),
        F.sum(F.when(keepM, u19 * u19)).as(s"mq$j"),
        F.sum(F.when(keepM && fail, F.lit(1L)).otherwise(F.lit(0L))).as(s"mf$j"),
        F.max(F.when(keepM, F.abs(vd))).as(s"ma$j"))
    } ++ coMomentSpecs.zipWithIndex.flatMap { case (cs, j) =>
      // Exact co-moments: both columns go through the same fixed-point
      // probe as the unary moments; a row contributes only when BOTH
      // values are non-NULL (SQL binary-aggregate discipline), and a probe
      // failure in EITHER column (NaN/Infinity/overflow — which would make
      // the scan's explicit cast throw under ANSI) is counted to decline.
      def probe(src: Column, s: Int) = {
        val f = fastDecIfDouble(df, src, 18, s)
        val u = (f * F.lit(math.pow(10, s).toLong).cast("decimal(10,0)")).cast("long")
        (src, f, u, src.cast("double"))
      }
      val (sx0, fx, ux, xd) = probe(
        cs.exprSqlX.map(F.expr).getOrElse(F.col(cs.columnX)), cs.scaleX)
      val (sy0, fy, uy, yd) = probe(
        cs.exprSqlY.map(F.expr).getOrElse(F.col(cs.columnY)), cs.scaleY)
      val fail = (sx0.isNotNull && fx.isNull) || (sy0.isNotNull && fy.isNull)
      val keepC = cs.filter.getOrElse(F.lit(true))
      val both = keepC && ux.isNotNull && uy.isNotNull
      val ux19 = ux.cast("decimal(19,0)")
      val uy19 = uy.cast("decimal(19,0)")
      Seq(
        F.sum(F.when(both, F.lit(1L)).otherwise(F.lit(0L))).as(s"cn$j"),
        F.sum(F.when(both, ux.cast("decimal(38,0)"))).as(s"cx$j"),
        F.sum(F.when(both, uy.cast("decimal(38,0)"))).as(s"cy$j"),
        F.sum(F.when(both, ux19 * ux19)).as(s"cxx$j"),
        F.sum(F.when(both, uy19 * uy19)).as(s"cyy$j"),
        F.sum(F.when(both, ux19 * uy19)).as(s"cxy$j"),
        F.sum(F.when(keepC && fail, F.lit(1L)).otherwise(F.lit(0L))).as(s"cf$j"),
        F.max(F.when(keepC, F.abs(xd))).as(s"cax$j"),
        F.max(F.when(keepC, F.abs(yd))).as(s"cay$j"))
    } ++ freqSpecs.zipWithIndex.map { case (fs, j) =>
      // per-second counter partials from the sketch form of the native
      // cms_freq aggregate — identical hash/content semantics to the wheel
      // aggregator (they are the same code). A keyed spec folds its
      // residual filter into the aggregate's child like the HLL column.
      val srcF = fs.exprSql.map(F.expr).getOrElse(F.col(fs.column))
      val in = fs.filter match {
        case Some(f) => F.when(f, srcF)
        case None    => srcF
      }
      org.apache.spark.sql.graft.ColumnBridge.column(
        graft.functions.CmsFreqAgg(
          org.apache.spark.sql.graft.ColumnBridge.expression(in.cast("long")),
          target = 0L, logW = fs.logW, d = fs.d, returnSketch = true)
          .toAggregateExpression()).as(s"fq$j")
    }
    // Executor-side merge: each shuffle partition folds its per-second rows
    // into compact RwWheels, and partials meet in a depth-2 aggregation tree
    // — the driver receives ONE serialized accumulator (primitive slot
    // payloads), never a Row per active second. At a 1000-executor scale a
    // flat collect of per-second Rows is the driver bottleneck; the tree
    // merge is bounded per node by active-seconds/branching. RwWheel.merge
    // is associative (RwWheelSpec), so tree shape cannot change the result.
    val scales  = specs.map(_.scale).toArray
    val hasVals = specs.map(_.valueColumn.isDefined).toArray
    // Coarse builds align the shuffle key itself, so the per-second → per-slot
    // reduction happens map-side too (pmod keeps pre-1970 seconds aligned
    // down, where `div` would truncate toward zero).
    val slotExpr = slotExprOverride.getOrElse(
      if (slotSpan == 1L) secExpr
      else secExpr - F.pmod(secExpr, F.lit(slotSpan)))
    val hllPs = distinctSpecs.map(_.p).toArray
    val hdrSs = quantileSpecs.map(_.s).toArray
    val momScales = momentSpecs.map(_.scale).toArray
    val coScales = coMomentSpecs.map(cs => (cs.scaleX, cs.scaleY)).toArray
    val cmsParams = freqSpecs.map(fs => (fs.d, fs.logW)).toArray
    // widen, don't replace: filters/secExpr/distinct columns still resolve
    // by name against the original schema
    val projected0 =
      if (valKeys.isEmpty) df else df.select(F.col("*") +: projCols: _*)
    // Tiny-input parallelism: one small parquet file plans ONE scan split,
    // which serializes the whole map-side partial aggregation (measured:
    // the 11 MB bench lineitem build ran its 600k-row × 40-column fold on
    // a single core). Spread rows across the session's cores first when
    // the scan is far below them — a no-op on genuinely large tables,
    // whose split count exceeds any executor's core count by construction.
    // HASH-partitioned BY THE SLOT, not round-robin (round-10 task 6:
    // round-robin was ~0.6 s of the 2.2 s lineitem build — it pays
    // sort-before-repartition for determinism AND leaves the aggregate
    // needing its own exchange; hashing by the group key costs neither,
    // since the exchange it introduces IS the aggregate's distribution).
    // Slot-hash skew equals the aggregate's own reduce skew — no new
    // hotspot. Eight ways amortizes the fold while keeping the shuffle's
    // file fan-out small on local mode.
    val parallelism = math.min(8, df.sparkSession.sparkContext.defaultParallelism)
    val projected =
      if (projected0.rdd.getNumPartitions < parallelism)
        projected0.repartition(parallelism, slotExpr)
      else projected0
    val aggDf = projected.groupBy(slotExpr.as("sec")).agg(aggCols.head, aggCols.tail: _*)
    def phased[T](kind: String)(body: => T): T = phaseTag match {
      case Some(tag) => BuildPhases.timed(s"$kind$tag")(body)
      case None      => body
    }
    // .rdd forces analysis/optimization/physical planning of the fused
    // aggregate — the driver-side share of the cold build
    val aggRdd = phased("fusedplan_")(aggDf.rdd)
    // Post-agg rows are hash-partitioned DISJOINT by slot, so executor-side
    // pre-merge (depth 2) reduces the number of serialized accumulators the
    // driver sees, never the bytes — pure latency at local partition counts
    // (one extra stage), essential at cluster counts (10k reduce partitions
    // → ~100 accs at the driver instead of 10k open connections' worth).
    val acc = phased("fusedexec_")(aggRdd
      .treeAggregate(new WheelBuildAcc(scales, hasVals, hllPs, hdrSs, momScales, coScales,
        cmsParams))(
        (a, row) => { a.add(row); a },
        (a, b) => a.merge(b),
        depth = if (aggRdd.getNumPartitions <= 64) 1 else 2))
    // Opt-in scale evidence (-Dgraft.build.measurePayload=true): the byte
    // size of the ONE merged accumulator the treeAggregate hands the
    // driver, through the same serializer that shipped it. Payload scales
    // with ACTIVE SLOTS (the time span), not row count — the number the
    // build-scale record asserts stays flat from 1× to 100× rows. Off by
    // default: the extra serialization pass is pure measurement cost.
    if (java.lang.Boolean.getBoolean("graft.build.measurePayload"))
      lastBuildPayloadBytes =
        try org.apache.spark.SparkEnv.get.serializer.newInstance()
          .serialize(acc)(scala.reflect.ClassTag(acc.getClass)).limit().toLong
        catch { case scala.util.control.NonFatal(_) => -1L }
    val built = specs.zipWithIndex.map { case (sp, i) =>
      val hasValues = sp.valueColumn.isDefined
      BuiltWheel(
        IndexedWheel(acc.wheels(i).freeze(slotSpan, packLevels), sp.valueColumn, sp.filterKey,
          valueAllNonNull = !hasValues || acc.allNonNull(i),
          valuesExactAtScale = !hasValues || acc.badRep(i) == 0L,
          valuesNaNFree = !hasValues || acc.nanCount(i) == 0L,
          sp.timeRangeSec, sp.filterSql, sp.keyEq, sp.exprSql),
        acc.sawNullTs(i))
    }
    val builtDistinct = distinctSpecs.zip(acc.distinct).map { case (ds, rw) =>
      DistinctIndexedWheel(rw.freeze(), ds.column,
        rw.agg.asInstanceOf[WheelAggregators.HllDistinct], ds.filterKey, ds.filterSql,
        slotSpan, ds.keyEq, ds.exprSql)
    }
    val builtQuantile = quantileSpecs.zip(acc.sketch).map { case (qs, rw) =>
      QuantileIndexedWheel(rw.freeze(), qs.column,
        rw.agg.asInstanceOf[WheelAggregators.HdrQuantile], qs.filterKey, qs.filterSql,
        slotSpan, qs.keyEq, qs.exprSql)
    }
    val builtMoment = momentSpecs.zipWithIndex.map { case (ms, j) =>
      MomentIndexedWheel(acc.moment(j).freeze(), ms.column,
        acc.moment(j).agg.asInstanceOf[WheelAggregators.MomentStats],
        acc.momCastFail(j), acc.momAbsMax(j), ms.filterKey, ms.filterSql,
        slotSpan, ms.keyEq, ms.exprSql)
    }
    val builtCoMoment = coMomentSpecs.zipWithIndex.map { case (cs, j) =>
      CoMomentIndexedWheel(acc.coMoment(j).freeze(), cs.columnX, cs.columnY,
        acc.coMoment(j).agg.asInstanceOf[WheelAggregators.CoMomentStats],
        acc.coCastFail(j), acc.coAbsMaxX(j), acc.coAbsMaxY(j), cs.filterKey, cs.filterSql,
        slotSpan, cs.keyEq, cs.exprSqlX, cs.exprSqlY)
    }
    val builtFreq = freqSpecs.zip(acc.freq).map { case (fs, rw) =>
      FreqIndexedWheel(rw.freeze(), fs.column,
        rw.agg.asInstanceOf[WheelAggregators.CmsFreq], fs.filterKey, fs.filterSql,
        slotSpan, fs.keyEq, fs.exprSql)
    }
    (built, builtDistinct, builtQuantile, builtMoment, builtCoMoment, builtFreq)
  }

  /** Optimizer-construction build (reference `try_new` + `build`,
    * `lib.rs:92-122,912-965`): COUNT(*) wheel + one min/max wheel per
    * requested column, registered under the table's path. */
  /** Stable hash of a file listing — the staleness fingerprint. */
  def fingerprintOf(location: org.apache.spark.sql.execution.datasources.FileIndex): Long =
    fingerprintOfListing(location.listFiles(Nil, Nil).flatMap(_.files)
      .map(f => (f.getPath.toString, f.getLen, f.getModificationTime)))

  private[graft] def fingerprintOfListing(files: Seq[(String, Long, Long)]): Long =
    files.sortBy(_._1).foldLeft(1125899906842597L) { case (h, (p, l, m)) =>
      ((h * 31 + p.##) * 31 + l) * 31 + m
    }

  /** Current (path, length, modificationTime) listing of a file-backed
    * DataFrame; None for non-file plans (views, local data). */
  private def listingOf(df: DataFrame): Option[Seq[(String, Long, Long)]] =
    df.queryExecution.analyzed.collectFirst {
      case lr: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        lr.relation
    } match {
      case Some(h: org.apache.spark.sql.execution.datasources.HadoopFsRelation) =>
        Some(h.location.listFiles(Nil, Nil).flatMap(_.files)
          .map(f => (f.getPath.toString, f.getLen, f.getModificationTime)))
      case _ => None
    }

  private[graft] def fingerprintOfDf(df: DataFrame): Long = fingerprintOf(df)

  /** Current listing of parquet `roots` from the file index a read of them
    * builds (the same kind the rule lists through `fs.location.listFiles`:
    * an InMemoryFileIndex, or the sink log under a streaming sink's
    * `_spark_metadata`), but under a placeholder schema: a plain read
    * infers the parquet schema with a Spark job, and the listing needs no
    * data. */
  private[graft] def listingOfRoots(spark: SparkSession, roots: Seq[String]): Seq[(String, Long, Long)] =
    listingOfDf(spark.read.schema(ListingProbeSchema).parquet(roots: _*))

  private val ListingProbeSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("__graft_listing_probe",
      org.apache.spark.sql.types.LongType)))

  /** Current (path, length, modificationTime) listing of a file-backed
    * DataFrame, empty for non-file plans — [[graft.queries.AnnIndexIO]]
    * diffs it against a saved listing to find append-only refresh work. */
  private[graft] def listingOfDf(df: DataFrame): Seq[(String, Long, Long)] =
    listingOf(df).getOrElse(Seq.empty)

  private def fingerprintOf(df: DataFrame): Long =
    listingOf(df).map(fingerprintOfListing).getOrElse(0L)

  def build(spark: SparkSession, path: String, conf: UWheelBuilder): TableIndex =
    build(spark, Seq(path), conf)

  /** Multi-root build (round-14 verdict task 4): indexes a relation read
    * from SEVERAL directories — `spark.read.parquet(dirA, dirB)` — in one
    * fused scan, registered under the canonical sorted root-set key
    * ([[WheelRegistry.rootSetKey]]) and fingerprinted over the COMBINED
    * listing, so the optimizer rule serves such relations instead of
    * soundly declining them. */
  def build(spark: SparkSession, paths: Seq[String], conf: UWheelBuilder): TableIndex = {
    require(paths.nonEmpty, "build needs at least one root path")
    graft.Tables.ensureNanosConf(spark)
    val df0 = spark.read.parquet(paths: _*)
    // ONE listing feeds both the sizing decision and the staleness
    // fingerprint. (buildFrom's later listingOf(df) reads the relation's
    // ALREADY-CONSTRUCTED InMemoryFileIndex — cached leaf files, no second
    // LIST round-trip; the only unavoidable re-list is the isolated small-
    // build session's own read.parquet, which must build its own relation.)
    val listing = listingOf(df0)
    val session = buildSessionFor(spark, listing.map(_.map(_._2).sum))
    val df = if (session eq spark) df0 else session.read.parquet(paths: _*)
    buildFrom(df, WheelRegistry.rootSetKey(paths),
      listing.map(fingerprintOfListing).getOrElse(0L), conf)
  }

  /** SMALL builds run INTERPRETED (round-13 task 2): the fused build scan
    * executes exactly once, so whole-stage codegen pays a driver-side
    * janino compile per codegen unit (fused + ms + topk scans ≈ several
    * seconds cold) to speed up a single pass — measured end-to-end on a
    * cold JVM (local[32], BuildFloorProbe): 2 MB corpus 9.76 s codegen vs
    * 8.11 s interpreted (−17%), 60 MB 48.4 vs 33.4 (−31%), 277 MB 59.0 vs
    * 55.7 (−6%) — codegen catches up as rows amortize the compile, with
    * the crossover around half a GiB on this hardware. Below
    * [[SmallBuildScanBytes]] the build therefore runs on an ISOLATED
    * session (`newSession` — same SparkContext, own SQLConf, so the
    * caller's session is never mutated) with `spark.sql.codegen.wholeStage
    * = false`; at-scale builds — the 100 TB design point, where the
    * per-row interpreted penalty would dwarf any compile — keep codegen
    * untouched. Runtime confs are copied so zone/nanos behavior matches
    * the caller's session exactly. */
  /** Tunable via `-Dgraft.build.smallScanBytes=N` or env
    * `GRAFT_BUILD_SMALL_SCAN_BYTES` (0 disables the interpreted-build path
    * entirely — the measurement escape hatch). A `def`, not a `lazy val`:
    * the prop lookup is cheap and per-build, so a caller that sets the
    * system property between builds sees the change take effect (a lazy
    * val would pin the first build's value for the JVM's lifetime). */
  private def smallBuildScanBytes: Long =
    sys.props.get("graft.build.smallScanBytes")
      .orElse(sys.env.get("GRAFT_BUILD_SMALL_SCAN_BYTES")) match {
      case Some(v) => v.trim.toLongOption.getOrElse {
        // a malformed override must not fail every build (review finding):
        // warn and keep the default rather than throw before any work
        System.err.println(
          s"[graft] ignoring malformed graft.build.smallScanBytes value '$v' (want a byte count)")
        256L * 1024 * 1024
      }
      case None => 256L * 1024 * 1024
    }
  private def buildSessionFor(spark: SparkSession, scanBytes: Option[Long]): SparkSession =
    if (!scanBytes.exists(b => b <= smallBuildScanBytes && smallBuildScanBytes > 0)) spark
    else {
      val s = spark.newSession()
      // carry the caller's RUNTIME confs (session timezone, nanos flag,
      // shuffle partitions…); static confs refuse modification — skip them
      spark.conf.getAll.foreach { case (k, v) =>
        try s.conf.set(k, v)
        catch { case _: org.apache.spark.sql.AnalysisException => () }
      }
      s.conf.set("spark.sql.codegen.wholeStage", "false")
      s
    }

  /** Indexes an arbitrary DataFrame (no file backing) — the in-memory-table
    * path of the reference (`examples/memtable/src/main.rs:86-114`). The
    * rule recognizes the data by the DataFrame's attribute ExprIds, which
    * survive optimization and pruning; queries against a temp view over the
    * same DataFrame (or the DataFrame itself) rewrite. Local data is
    * immutable, so no staleness fingerprint applies; re-creating the view
    * from a NEW DataFrame yields new ExprIds and the old index goes inert. */
  def buildFromDataFrame(df: DataFrame, viewName: String, conf: UWheelBuilder): TableIndex = {
    val t = buildFrom(df, WheelRegistry.viewKey(viewName), 0L, conf)
    WheelRegistry.registerExprIds(
      df.queryExecution.analyzed.output.map(_.exprId.id),
      df.queryExecution.optimizedPlan, t)
    t
  }

  private def buildFrom(df: DataFrame, pathKey: String, fingerprint: Long,
      conf: UWheelBuilder): TableIndex = {
    // phase-attribution key: the table's basename (BuildPhases doc)
    val tbl = pathKey.split('/').last.stripSuffix(".parquet")
    val tSpec0 = System.nanoTime()
    // ONE distributed scan builds everything: per-column min/max wheels,
    // keyed wheels, and the count wheel (derived from the first min/max
    // wheel's partials — same per-second counts — or built as its own spec
    // when no columns are requested). The reference runs one full table
    // query per wheel (`lib.rs:912-965,154-239`).
    // DecimalType measure columns index at the COLUMN'S OWN scale: the
    // wheel's scaled-long slot sums then reproduce the column's exact
    // decimal arithmetic (no double round-trip in the sum path), and the
    // rule's decScale gate routes SUM(decimal_col) to exactly this wheel.
    def scaleFor(c: String): Int = df.schema.find(_.name == c).map(_.dataType) match {
      case Some(d: org.apache.spark.sql.types.DecimalType) => d.scale
      case _ => conf.scale
    }
    val colSpecs = conf.minMaxColumns.map(c =>
      WheelSpec(Some(c), None, "", conf.timeRangeSec, scaleFor(c))) ++
      conf.exprWheels.map { case (sql, sc) =>
        WheelSpec(Some(exprKeyOf(df, sql)), None, "", conf.timeRangeSec, sc,
          exprSql = Some(sql))
      }
    val keyedSpecs = conf.keyedWheels.map { ib =>
      val fc = F.expr(ib.filterSql.getOrElse(
        throw new IllegalArgumentException("keyed wheel requires a filter")))
      WheelSpec(Some(ib.column), Some(fc),
        graft.expr.Canon.canonFilterKey(df.filter(fc)),
        ib.timeRangeSec.orElse(conf.timeRangeSec), scaleFor(ib.column), ib.filterSql,
        keyEqOf(df, fc))
    } ++ conf.keyedExprWheels.map { case (sql, fsql, sc) =>
      val fc = F.expr(fsql)
      WheelSpec(Some(exprKeyOf(df, sql)), Some(fc),
        graft.expr.Canon.canonFilterKey(df.filter(fc)),
        conf.timeRangeSec, sc, Some(fsql), keyEqOf(df, fc), Some(sql))
    }
    val countSpec =
      if (colSpecs.isEmpty) Seq(WheelSpec(None, None, "", conf.timeRangeSec, conf.scale))
      else Nil
    val slotSpan = effectiveSlotSpan(df, conf)
    // Column-or-EXPRESSION measure: every typed family accepts a derived
    // expression wherever it accepts a column — a schema column keys by
    // its own name, anything else by its canonical Catalyst form (the same
    // registration contract as withExprWheel), with the raw SQL retained
    // for refresh re-projection. `wheel_var_samp(cast(price*(1-disc) as
    // decimal(18,4)))`, `hdr_quantile(price*(1-disc), 0.99)`, and
    // `cms_freq(user_id % 50, 7)` all answer from their wheels.
    def colOrExpr(s: String): (String, Option[String]) = colOrExprKeyOf(df, s)
    val dSpecs = conf.distinctColumns.map { c0 =>
      val (c, ex) = colOrExpr(c0)
      DistinctSpec(c, conf.hllPrecision, exprSql = ex)
    } ++
      conf.keyedDistinctWheels.map { case (c0, sql) =>
        val (c, ex) = colOrExpr(c0)
        val fc = F.expr(sql)
        DistinctSpec(c, conf.hllPrecision, Some(fc),
          graft.expr.Canon.canonFilterKey(df.filter(fc)), Some(sql),
          keyEqOf(df, fc), ex)
      }
    val qSpecs = conf.quantileColumns.map { case (c0, s) =>
      val (c, ex) = colOrExpr(c0)
      QuantileSpec(c, s, exprSql = ex)
    } ++
      conf.keyedQuantileWheels.map { case (c0, sql, s) =>
        val (c, ex) = colOrExpr(c0)
        val fc = F.expr(sql)
        QuantileSpec(c, s, Some(fc),
          graft.expr.Canon.canonFilterKey(df.filter(fc)), Some(sql),
          keyEqOf(df, fc), ex)
      }
    // moment wheels fix their scale from the source: a DECIMAL column's own
    // scale, 0 for integral columns (so bare-column `wheel_var_samp(int_col)`
    // matches), the builder's scale otherwise — including derived
    // expressions, whose queries cast explicitly at that scale
    def momentScaleFor(c: String): Int = df.schema.find(_.name == c).map(_.dataType) match {
      case Some(d: org.apache.spark.sql.types.DecimalType) => d.scale
      case Some(org.apache.spark.sql.types.ByteType | org.apache.spark.sql.types.ShortType |
                org.apache.spark.sql.types.IntegerType | org.apache.spark.sql.types.LongType) => 0
      case _ => conf.scale
    }
    val mSpecs = conf.momentColumns.map { c0 =>
      val (c, ex) = colOrExpr(c0)
      MomentSpec(c, momentScaleFor(c0), exprSql = ex)
    } ++
      conf.keyedMomentWheels.map { case (c0, sql) =>
        val (c, ex) = colOrExpr(c0)
        val fc = F.expr(sql)
        MomentSpec(c, momentScaleFor(c0), Some(fc),
          graft.expr.Canon.canonFilterKey(df.filter(fc)), Some(sql),
          keyEqOf(df, fc), ex)
      }
    val cSpecs = conf.coMomentColumns.map { case (x0, y0) =>
      val (x, ex) = colOrExpr(x0); val (y, ey) = colOrExpr(y0)
      CoMomentSpec(x, y, momentScaleFor(x0), momentScaleFor(y0),
        exprSqlX = ex, exprSqlY = ey)
    } ++ conf.keyedCoMomentWheels.map { case (x0, y0, sql) =>
      val (x, ex) = colOrExpr(x0); val (y, ey) = colOrExpr(y0)
      val fc = F.expr(sql)
      CoMomentSpec(x, y, momentScaleFor(x0), momentScaleFor(y0), Some(fc),
        graft.expr.Canon.canonFilterKey(df.filter(fc)), Some(sql),
        keyEqOf(df, fc), ex, ey)
    }
    val fSpecs = conf.freqColumns.map { case (c0, lw, dd) =>
      val (c, ex) = colOrExpr(c0)
      CmsSpec(c, lw, dd, exprSql = ex)
    } ++
      conf.keyedFreqWheels.map { case (c0, sql, lw, dd) =>
        val (c, ex) = colOrExpr(c0)
        val fc = F.expr(sql)
        CmsSpec(c, lw, dd, Some(fc),
          graft.expr.Canon.canonFilterKey(df.filter(fc)), Some(sql),
          keyEqOf(df, fc), ex)
      }
    // spec prep is ~25 Catalyst analyses for the events build (one
    // df.filter canonicalization per keyed spec) — real cold-JVM cost,
    // attributed separately from the scan
    BuildPhases.add(s"spec_$tbl", (System.nanoTime() - tSpec0) / 1e9)
    // The ms-wheel scan and the typed top-k pass read the SAME immutable
    // df and depend on nothing the fused scan produces — launch them
    // concurrently so the build's wall-clock is max(fused, ms, topk) +
    // assembly rather than their sum (the cold-JVM fused scan alone is
    // multi-second: codegen compile dominates, and the other two passes
    // compile their stages in parallel with it). Puts into the TableIndex
    // happen after the fused results construct it, on this thread.
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    import scala.concurrent.ExecutionContext.Implicits.global
    val msFut: Option[(Seq[(String, Int)], Future[Seq[BuiltWheel]])] =
      conf.millisColumns.map { cols0 =>
        val cols = cols0.map(c => (c, scaleFor(c)))
        (cols, Future(BuildPhases.timed(s"ms_$tbl")(computeMsWheels(df, conf.timeColumn, cols))))
      }
    // heavy-hitter wheels: one extra distributed typed pass (the per-slot
    // exact-until-freeze summaries don't fit the fused SQL aggregation's
    // fixed-width columns); per-second always — coarser slots would only
    // widen the slack. The whole family set — unfiltered + every keyed
    // (residual-filtered) variant — builds in ONE pass
    // (TypedWheelBuild.buildTopKSet): family count must not multiply table
    // scans at 100 TB. Keyed wheels register under the residual's
    // canonical key so the optimizer arm routes "top purchasers over any
    // range" like every other keyed family.
    val topKSpecs: Seq[(String, Option[String], graft.wheel.WheelAggregators.TopTalkers)] =
      conf.topKColumns.map { case (c, cap) =>
        (c, None, new graft.wheel.WheelAggregators.TopTalkers(cap))
      } ++ conf.keyedTopKWheels.map { case (c, sql, cap) =>
        (c, Some(sql), new graft.wheel.WheelAggregators.TopTalkers(cap))
      }
    val topKFut =
      if (topKSpecs.isEmpty) None
      else Some(Future(BuildPhases.timed(s"topk_$tbl")(
        TypedWheelBuild.buildTopKSet(df, conf.timeColumn,
          topKSpecs.map { case (c, sql, agg) =>
            (F.col(c).cast("long"), sql.map(F.expr), agg)
          },
          (r: org.apache.spark.sql.Row, ord: Int) => r.getLong(ord)))))
    val (built, builtDistinct, builtQuantile, builtMoment, builtCoMoment, builtFreq) =
      BuildPhases.timed(s"fused_$tbl")(buildWheels(df, conf.timeColumn,
        colSpecs ++ keyedSpecs ++ countSpec, slotSpan, conf.packLevels, dSpecs,
        quantileSpecs = qSpecs, momentSpecs = mSpecs, coMomentSpecs = cSpecs,
        freqSpecs = fSpecs, phaseTag = Some(tbl)))
    val (colBuilt, rest) = built.splitAt(colSpecs.length)
    val countBuilt = colBuilt.headOption match {
      case Some(bw) =>
        BuiltWheel(IndexedWheel(bw.wheel.wheel, None, "",
          valueAllNonNull = true, valuesExactAtScale = true,
          coverage = conf.timeRangeSec),
          bw.sawNullTs)
      case None => rest.last
    }
    val unfiltered = colBuilt :+ countBuilt
    val tsAllNonNull = !unfiltered.exists(_.sawNullTs)
    val t = new TableIndex(pathKey, conf.timeColumn, tsAllNonNull, fingerprint,
      filesAtBuild = listingOf(df).getOrElse(Nil).map(f => f._1 -> (f._2, f._3)).toMap,
      slotBudget = conf.slotBudget, packLevels = conf.packLevels)
    t.put(countBuilt.wheel)
    (colBuilt ++ rest.take(keyedSpecs.length)).foreach(bw => t.put(bw.wheel))
    builtDistinct.foreach(t.putDistinct)
    builtQuantile.foreach(t.putQuantile)
    builtMoment.foreach(t.putMoment)
    builtCoMoment.foreach(t.putCoMoment)
    builtFreq.foreach(t.putFreq)
    msFut.foreach { case (cols, fut) =>
      putMsWheels(t, cols.nonEmpty, Await.result(fut, Duration.Inf))
    }
    topKFut.foreach { fut =>
      val builtTopK = Await.result(fut, Duration.Inf)
      topKSpecs.zip(builtTopK).foreach { case ((c, sql, agg), (w, nullKeys)) =>
        t.putTopK(TopKIndexedWheel(w, c, agg,
          filterKey = sql.map(s => graft.expr.Canon.canonFilterKey(df.filter(F.expr(s))))
            .getOrElse(""),
          filterSql = sql, keyNullCount = nullKeys))
      }
    }
    // Registration is an atomic read-modify-write, NOT last-writer-wins
    // (round-10 verdict, task 1): a rebuild over a path whose registered
    // index came from the SAME data must layer, so a narrower build cannot
    // silently withdraw families it didn't re-request.
    var registered: TableIndex = t
    WheelRegistry.update(pathKey, {
      case Some(cur) if fingerprint != 0L && cur.fingerprint == fingerprint &&
          cur.timeColumn == conf.timeColumn && !(cur eq t) =>
        registered = layerOnto(t, cur)
        Some(registered)
      case _ => Some(t)
    })
    registered
  }

  /** Batch parity with the streaming publishers' layered registration
    * ([[graft.streaming.StreamingWheelIndex]]'s read-modify-write): when a
    * build registers over a path whose existing index was built from the
    * SAME files (fingerprint match, same time column), the fresh build's
    * families win on key collision — they are a rebuild of the same data —
    * and every family the fresh build lacks is carried forward instead of
    * being silently withdrawn (a bare `UWheelBuilder("ts").build` used to
    * clobber e.g. the top-k family a full build had registered; the
    * reference simply overwrites per-key, `lib.rs:164-173`). `tsAllNonNull`
    * merges conservatively (AND): a landmark proof on the merged index must
    * have held for both builds' scans. When the files changed (fingerprint
    * mismatch) the old families are stale and the fresh index replaces the
    * registration wholesale, exactly as before. */
  private def layerOnto(fresh: TableIndex, cur: TableIndex): TableIndex = {
    val out =
      if (!fresh.tsAllNonNull || cur.tsAllNonNull) fresh
      else {
        val n = new TableIndex(fresh.pathKey, fresh.timeColumn, tsAllNonNull = false,
          fresh.fingerprint, fresh.filesAtBuild, fresh.slotBudget, fresh.packLevels)
        fresh.allWheels.foreach(n.put)
        fresh.allMsWheels.foreach(n.putMs)
        fresh.allDistinctWheels.foreach(n.putDistinct)
        fresh.allQuantileWheels.foreach(n.putQuantile)
        fresh.allMomentWheels.foreach(n.putMoment)
        fresh.allCoMomentWheels.foreach(n.putCoMoment)
        fresh.allFreqWheels.foreach(n.putFreq)
        fresh.allTopKWheels.foreach(n.putTopK)
        n
      }
    cur.allWheels.foreach(w => if (out.get(w.valueColumn, w.filterKey).isEmpty) out.put(w))
    cur.allMsWheels.foreach(w => if (out.msWheel(w.valueColumn).isEmpty) out.putMs(w))
    cur.allDistinctWheels.foreach(d =>
      if (out.distinctWheel(d.column, Option(d.filterKey).getOrElse("")).isEmpty)
        out.putDistinct(d))
    cur.allQuantileWheels.foreach(q =>
      if (out.quantileWheel(q.column, q.filterKey).isEmpty) out.putQuantile(q))
    cur.allMomentWheels.foreach(m =>
      if (out.momentWheel(m.column, m.filterKey).isEmpty) out.putMoment(m))
    cur.allCoMomentWheels.foreach(c =>
      if (out.coMomentWheel(c.columnX, c.columnY, c.filterKey).isEmpty) out.putCoMoment(c))
    cur.allFreqWheels.foreach(f =>
      if (out.freqWheel(f.column, f.filterKey).isEmpty) out.putFreq(f))
    cur.allTopKWheels.foreach(k =>
      if (out.topKWheel(k.column, Option(k.filterKey).getOrElse("")).isEmpty)
        out.putTopK(k))
    out
  }

  /** Millisecond bottom-level wheels: ONE extra scan grouped by
    * [[msExprOf]], reusing the fused-aggregate machinery. The count wheel
    * shares the first measure wheel's HawWheel (unfiltered — identical
    * per-ms counts) or gets its own spec when no measures are listed.
    * Shared by the fresh build and [[refresh]]. */
  private def buildMsWheels(df: DataFrame, t: TableIndex,
      cols: Seq[(String, Int)]): Unit =
    putMsWheels(t, cols.nonEmpty, computeMsWheels(df, t.timeColumn, cols))

  /** Compute half of [[buildMsWheels]] — pure scan, no TableIndex needed,
    * so `buildFrom` can run it concurrently with the fused scan. */
  private def computeMsWheels(df: DataFrame, timeColumn: String,
      cols: Seq[(String, Int)]): Seq[BuiltWheel] = {
    val msSpecs =
      if (cols.isEmpty) Seq(WheelSpec(None, None, "", None, 2))
      else cols.map { case (c, sc) => WheelSpec(Some(c), None, "", None, sc) }
    buildWheels(df, timeColumn, msSpecs,
      slotExprOverride = Some(msExprOf(df, timeColumn)))._1
  }

  private def putMsWheels(t: TableIndex, hasCols: Boolean, msBuilt: Seq[BuiltWheel]): Unit = {
    msBuilt.foreach(bw => t.putMs(bw.wheel))
    if (hasCols)
      t.putMs(IndexedWheel(msBuilt.head.wheel.wheel, None, "", valueAllNonNull = true))
  }

  /** Finest allowed span ≥ `floor` (an explicit span is a floor — a budget
    * may only coarsen) whose ALIGNED slot count over [lo, hi] fits the
    * budget. Aligned count, not raw-span division: a 61 s span at sp=60 is
    * one slot by division but can straddle two aligned slots (round-3
    * advice). Shared by the fresh build and [[refresh]] so the two can
    * never diverge in how they coarsen. */
  private def fitSpan(lo: Long, hi: Long, floor: Long, budget: Long): Long =
    graft.wheel.HawWheel.AllowedSlotSpans
      .filter(_ >= floor)
      .find(sp => Math.floorDiv(hi, sp) - Math.floorDiv(lo, sp) + 1 <= budget)
      .getOrElse(graft.wheel.HawWheel.AllowedSlotSpans.last)

  /** Explicit span, or the finest allowed span fitting the budget (worst
    * case: every slot in the table's [min, max] time range is active). */
  private def effectiveSlotSpan(df: DataFrame, conf: UWheelBuilder): Long =
    conf.slotBudget match {
      case None => conf.slotSpanSec
      case Some(budget) =>
        val sec = secExprOf(df, conf.timeColumn)
        val mm = df.agg(F.min(sec), F.max(sec)).head()
        if (mm.isNullAt(0)) conf.slotSpanSec
        else fitSpan(mm.getLong(0), mm.getLong(1), conf.slotSpanSec, budget)
    }

  /** Ad-hoc keyed/filtered index build (reference `build_index`,
    * `lib.rs:154-239`). The table must already have been registered via
    * [[build]]; the new wheel inherits the table's slot span so all wheels
    * of one table gate identically. */
  def buildIndex(spark: SparkSession, path: String, ib: IndexBuilder, scale: Int = 2): Unit =
    maintenanceLock.synchronized { buildIndexLocked(spark, path, ib, scale) }

  /** Multi-root form: adds the ad-hoc wheel to a root-SET index (the
    * `build(spark, paths, conf)` overload) — the lock/fingerprint
    * discipline is identical, keyed through the canonical sorted
    * root-set key. */
  def buildIndex(spark: SparkSession, paths: Seq[String], ib: IndexBuilder): Unit =
    maintenanceLock.synchronized {
      buildIndexLocked(spark, WheelRegistry.rootSetKey(paths), ib, 2)
    }

  private def buildIndexLocked(
      spark: SparkSession, path: String, ib: IndexBuilder, scale: Int): Unit = {
    val key = WheelRegistry.normalizePath(path)
    val t = WheelRegistry.lookup(key).getOrElse(
      throw new IllegalStateException(s"no TableIndex registered for $key — call build() first"))
    graft.Tables.ensureNanosConf(spark)
    val df = spark.read.parquet(WheelRegistry.rootsOfKey(key): _*)
    // Invariant every refresh relies on: ALL wheels of a TableIndex are
    // built from the same file-listing snapshot. A keyed wheel built over a
    // GROWN listing would already contain the new files' rows, and the next
    // append-only refresh would merge them again — double counting. Refuse
    // instead of silently mixing snapshots.
    if (t.fingerprint != 0L && fingerprintOf(df) != t.fingerprint)
      throw new IllegalStateException(
        s"$key changed since its index was built — call UWheelIndex.refresh first, then add wheels")
    val (filterCol, filterKey) = ib.filterSql match {
      case Some(sql) =>
        val c = F.expr(sql)
        (Some(c), graft.expr.Canon.canonFilterKey(df.filter(c)))
      case None => (None, "")
    }
    val span = t.countWheel.map(_.wheel.slotSpan).getOrElse(1L)
    t.put(buildWheels(df, t.timeColumn,
      Seq(WheelSpec(Some(ib.column), filterCol, filterKey, ib.timeRangeSec, scale, ib.filterSql,
        filterCol.flatMap(keyEqOf(df, _)))),
      span, t.packLevels)._1.head.wheel)
  }

  /** Outcome of an incremental [[UWheelIndex.refresh]]. */
  sealed trait RefreshOutcome
  object RefreshOutcome {
    /** File listing unchanged — the index is already fresh. */
    case object NoChange extends RefreshOutcome
    /** Only new files appeared: one delta scan over them, merged into the
      * existing wheels. */
    final case class Appended(newFiles: Int) extends RefreshOutcome
    /** Existing files were modified or removed (or the index predates
      * refresh metadata) — rebuilt from the full table. */
    case object Rebuilt extends RefreshOutcome
    /** This table's refresh threw ([[UWheelIndex.refreshAll]] isolates
      * failures per table); the previous index stays registered — stale but
      * guarded by the fingerprint gate, so queries fall back to scans
      * rather than serve wrong answers. */
    final case class Failed(error: String) extends RefreshOutcome
  }

  /** Incremental index maintenance. The staleness fingerprint makes a grown
    * table's index inert (safe, but every query scans again); `refresh`
    * makes it CURRENT again at the cost of scanning only the data that
    * changed. The current file listing is diffed against the build-time
    * snapshot ([[TableIndex.filesAtBuild]]):
    *
    *  - unchanged → [[RefreshOutcome.NoChange]];
    *  - strictly grown (append-only writers — new parquet part-files, old
    *    ones byte-identical) → wheels for the NEW files only are built with
    *    the same one-scan pipeline and merged slot-wise into the existing
    *    ones ([[graft.wheel.HawWheel.slotPartials]]; counts/scaled-sums add,
    *    min/max combine — associative, so merged ≡ rebuilt bit-for-bit);
    *  - anything rewritten in place → full rebuild (incremental merge could
    *    double-count; correctness first).
    *
    * A configured slot budget is re-applied over the grown time range, so
    * refresh coarsens the merged wheels exactly where a fresh build would.
    * At 100 TB this is the difference between a daily index touch of one
    * day's partitions and a 10-year rescan; the reference has no
    * invalidation at all (`lib.rs:154-239` keys wheels forever). */
  def refresh(spark: SparkSession, path: String): RefreshOutcome =
    maintenanceLock.synchronized { refreshLocked(spark, path) }

  /** Multi-root form: refreshes a root-SET index without the caller
    * hand-assembling the joined registry key. */
  def refresh(spark: SparkSession, paths: Seq[String]): RefreshOutcome =
    refresh(spark, WheelRegistry.rootSetKey(paths))

  /** Serializes the read-modify-write maintenance ops (refresh, ad-hoc
    * wheel additions) against each other. Without it, a background
    * [[scheduleRefresh]] tick snapshotting a table's wheels could race a
    * foreground [[buildIndex]] and register an index missing the freshly
    * added wheel (lost update). [[build]] is deliberately NOT serialized
    * under it: a full build may scan for minutes and both writers register
    * complete fresh snapshots — if a stale one wins the race its older
    * fingerprint just gates it inert until the next tick replaces it
    * (eventual freshness, never wrong). */
  private[this] val maintenanceLock = new Object

  private def refreshLocked(spark: SparkSession, path: String): RefreshOutcome = {
    val key = WheelRegistry.normalizePath(path)
    require(!key.startsWith("view::"),
      "in-memory (DataFrame-built) indexes have no file listing to refresh — rebuild instead")
    val t = WheelRegistry.lookup(key).getOrElse(
      throw new IllegalStateException(s"no TableIndex registered for $key — call build() first"))
    graft.Tables.ensureNanosConf(spark)
    val df = spark.read.parquet(WheelRegistry.rootsOfKey(key): _*)
    val listing = listingOf(df).getOrElse(
      throw new IllegalStateException(s"$key is not a file-backed table"))
    val now = listing.map(f => f._1 -> (f._2, f._3)).toMap
    // null-safe: an index deserialized from a pre-refresh save has no
    // listing snapshot (Java deserialization defaults, not Scala's)
    val fab = Option(t.filesAtBuild).getOrElse(Map.empty[String, (Long, Long)])
    if (fab.nonEmpty && now == fab) return RefreshOutcome.NoChange

    val wheels = t.allWheels
    val colWheels = wheels.filter(w => w.filterKey.isEmpty && w.valueColumn.isDefined)
      .sortBy(_.valueColumn.get)
    val keyedWheels = wheels.filter(_.filterKey.nonEmpty)
    val countWheel = wheels.find(w => w.filterKey.isEmpty && w.valueColumn.isEmpty)
    val oldSpan = countWheel.orElse(wheels.headOption).map(_.wheel.slotSpan).getOrElse(1L)

    val appendOnly = fab.nonEmpty && keyedWheels.forall(_.filterSql.isDefined) &&
      t.allDistinctWheels.forall(d =>
        Option(d.filterKey).getOrElse("").isEmpty || Option(d.filterSql).flatten.isDefined) &&
      t.allQuantileWheels.forall(qw =>
        Option(qw.filterKey).getOrElse("").isEmpty || Option(qw.filterSql).flatten.isDefined) &&
      t.allFreqWheels.forall(fw =>
        Option(fw.filterKey).getOrElse("").isEmpty || Option(fw.filterSql).flatten.isDefined) &&
      fab.forall { case (p, lm) => now.get(p).contains(lm) }

    // One spec per REGISTERED wheel, carrying that wheel's own scale,
    // coverage, and filter — wheels added later via buildIndex may differ
    // from the original builder conf, and a refresh must not homogenize
    // them. A keyed wheel whose filter SQL wasn't retained (pre-refresh
    // metadata) cannot be reconstructed: a rebuild DROPS it (safe — those
    // queries scan again) rather than silently rebuilding it unfiltered.
    // The count wheel shares a column wheel's HawWheel only when their
    // coverage matches (their per-slot counts are identical then);
    // otherwise it gets its own spec.
    val keyedKept = keyedWheels.filter(_.filterSql.isDefined)
    val colSpecs = colWheels.map(w =>
      WheelSpec(w.valueColumn, None, "", w.coverage, w.wheel.scale,
        exprSql = w.exprSqlOpt))
    val keyedSpecs = keyedKept.map(w => WheelSpec(w.valueColumn,
      w.filterSql.map(F.expr), w.filterKey, w.coverage, w.wheel.scale, w.filterSql,
      w.keyEqOpt, w.exprSqlOpt))
    val shareIdx = countWheel.map(cw => colWheels.indexWhere(_.coverage == cw.coverage))
      .getOrElse(-1)
    val needOwnCount = countWheel.isDefined && shareIdx < 0
    val countSpec =
      if (needOwnCount)
        Seq(WheelSpec(None, None, "", countWheel.get.coverage, countWheel.get.wheel.scale))
      else Nil
    val newPaths = listing.collect { case (p, _, _) if !fab.contains(p) => p }
    // basePath keeps Hive-partition columns (dt=.../ directories — the
    // canonical append layout) in the delta schema when reading leaf
    // files. ONE basePath cannot describe a multi-root table (and the
    // joined registry key is not a path at all — it broke the delta read
    // outright), so the delta files group by their owning member root,
    // each read against its own base; single-root reduces to one group.
    // Union order is irrelevant: the wheel fold is order-free.
    val scanDf =
      if (!appendOnly) df
      else {
        val roots = WheelRegistry.rootsOfKey(key)
        // a delta file that prefix-matches NO member root signals key/
        // listing normalization drift (e.g. a scheme/qualification
        // mismatch) — fail loud rather than read it under an arbitrary
        // basePath, which could silently misparse Hive partition columns
        // (round-15 advice)
        def owner(p: String): String = {
          val n = WheelRegistry.keyOfQualified(Seq(p))
          roots.find(r => n == r || n.startsWith(r + "/")).getOrElse(
            throw new IllegalStateException(
              s"refresh: delta file $p matches no member root of $key — " +
                "path normalization drifted between listing and registration; rebuild the index"))
        }
        newPaths.groupBy(owner).map { case (r, ps) =>
          spark.read.option("basePath", r).parquet(ps: _*)
        }.reduce(_ unionByName _)
      }

    // re-apply the slot budget over the grown range (old wheels realign
    // during the merge if this coarsens); the previous span is the floor,
    // so refresh only ever coarsens — never silently re-finens
    val span = t.slotBudget match {
      case None => oldSpan
      case Some(budget) =>
        val sec = secExprOf(scanDf, t.timeColumn)
        val mm = scanDf.agg(F.min(sec), F.max(sec)).head()
        val oldW = countWheel.orElse(colWheels.headOption).map(_.wheel).filter(_.numSecs > 0)
        val bounds = Seq(
          if (appendOnly) oldW.map(w => (w.startSec, w.endSec - w.slotSpan)) else None,
          if (mm.isNullAt(0)) None else Some((mm.getLong(0), mm.getLong(1)))).flatten
        if (bounds.isEmpty) oldSpan
        else fitSpan(bounds.map(_._1).min, bounds.map(_._2).max, oldSpan, budget)
    }

    // Keyed distinct wheels whose filter SQL wasn't retained cannot be
    // reconstructed — a rebuild DROPS them (safe: those queries scan again),
    // mirroring the keyed numeric wheel policy above.
    val oldDistinct = t.allDistinctWheels.filter(d =>
      Option(d.filterKey).getOrElse("").isEmpty || Option(d.filterSql).flatten.isDefined)
    val oldQuantile = t.allQuantileWheels.filter(qw =>
      Option(qw.filterKey).getOrElse("").isEmpty || Option(qw.filterSql).flatten.isDefined)
    val oldMoment = t.allMomentWheels.filter(mw =>
      Option(mw.filterKey).getOrElse("").isEmpty || Option(mw.filterSql).flatten.isDefined)
    val oldCoMoment = t.allCoMomentWheels.filter(cw =>
      Option(cw.filterKey).getOrElse("").isEmpty || Option(cw.filterSql).flatten.isDefined)
    val oldFreq = t.allFreqWheels.filter(fw =>
      Option(fw.filterKey).getOrElse("").isEmpty || Option(fw.filterSql).flatten.isDefined)
    val (built, freshDistinct, freshQuantile, freshMoment, freshCoMoment, freshFreq) = buildWheels(scanDf, t.timeColumn,
      colSpecs ++ keyedSpecs ++ countSpec, span, t.packLevels,
      oldDistinct.map(d => DistinctSpec(d.column, d.p,
        Option(d.filterSql).flatten.map(F.expr), Option(d.filterKey).getOrElse(""),
        Option(d.filterSql).flatten, exprSql = d.exprSqlOpt)),
      quantileSpecs = oldQuantile.map(qw => QuantileSpec(qw.column, qw.s,
        Option(qw.filterSql).flatten.map(F.expr), Option(qw.filterKey).getOrElse(""),
        Option(qw.filterSql).flatten, exprSql = qw.exprSqlOpt)),
      momentSpecs = oldMoment.map(mw => MomentSpec(mw.column, mw.scale,
        Option(mw.filterSql).flatten.map(F.expr), Option(mw.filterKey).getOrElse(""),
        Option(mw.filterSql).flatten, exprSql = mw.exprSqlOpt)),
      coMomentSpecs = oldCoMoment.map(cw => CoMomentSpec(cw.columnX, cw.columnY,
        cw.scaleX, cw.scaleY,
        Option(cw.filterSql).flatten.map(F.expr), Option(cw.filterKey).getOrElse(""),
        Option(cw.filterSql).flatten,
        exprSqlX = cw.exprSqlXOpt, exprSqlY = cw.exprSqlYOpt)),
      freqSpecs = oldFreq.map(fw => CmsSpec(fw.column, fw.logW, fw.d,
        Option(fw.filterSql).flatten.map(F.expr), Option(fw.filterKey).getOrElse(""),
        Option(fw.filterSql).flatten, exprSql = fw.exprSqlOpt)))
    val (colBuilt, rest) = built.splitAt(colSpecs.length)
    val keyedBuilt = rest.take(keyedSpecs.length)

    // append: slot-wise merge (counts/scaled sums add, min/max combine —
    // associative, so merged ≡ rebuilt bit-for-bit); rebuild: the fresh
    // wheel replaces the old outright. Packedness survives both paths.
    def finish(old: IndexedWheel, fresh: BuiltWheel): IndexedWheel =
      if (!appendOnly) fresh.wheel
      else old.copy(
        wheel = HawWheel.fromSecondPartials(
          old.wheel.slotPartials ++ fresh.wheel.wheel.slotPartials,
          old.wheel.scale, old.wheel.hasValues, span, t.packLevels),
        valueAllNonNull = old.valueAllNonNull && fresh.wheel.valueAllNonNull,
        valuesExactAtScale = old.valuesExactAtScale && fresh.wheel.valuesExactAtScale,
        valuesNaNFree = old.valuesNaNFree && fresh.wheel.valuesNaNFree)

    val newCols = colWheels.zip(colBuilt).map { case (o, d) => finish(o, d) }
    val newKeyed = keyedKept.zip(keyedBuilt).map { case (o, d) => finish(o, d) }
    val newCount = countWheel.map { cw =>
      if (needOwnCount) finish(cw, rest.last)
      else cw.copy(wheel = newCols(shareIdx).wheel)
    }
    val unfilteredDelta = colBuilt ++ (if (needOwnCount) Seq(rest.last) else Nil)
    val sawNull = unfilteredDelta.exists(_.sawNullTs)
    val nt = new TableIndex(key, t.timeColumn,
      if (appendOnly) t.tsAllNonNull && !sawNull else !sawNull,
      fingerprintOfListing(listing), now, t.slotBudget, t.packLevels)
    (newCols ++ newKeyed ++ newCount).foreach(nt.put)
    // Distinct (HLL) wheels ride the same delta-vs-rebuild decision — and
    // the same SINGLE delta scan: a register array is the max over its
    // rows' contributions, so merging old + delta partials slot-wise
    // (register max, idempotent) is bit-identical to a full rebuild when
    // the delta rows are exactly the appended ones.
    oldDistinct.zip(freshDistinct).foreach { case (d, f) =>
      val merged =
        if (appendOnly)
          TypedHawWheel.fromSecondPartials(d.wheel.slotPartials ++ f.wheel.slotPartials, d.agg)
        else f.wheel
      // a budget-driven coarsening leaves old finer-grained partials in the
      // merge; recording the coarsest span keeps reads exact (coarse-aligned
      // bounds are also fine-aligned along the AllowedSlotSpans chain)
      nt.putDistinct(d.copy(wheel = merged,
        slotSpan = if (appendOnly) math.max(d.span, span) else f.span))
    }
    // Quantile-sketch wheels ride the same single delta scan: bin counts
    // are ADDITIVE, so merging old + delta partials slot-wise is
    // bit-identical to a full rebuild when the delta rows are exactly the
    // appended ones (same argument as the numeric count/sum wheels).
    oldQuantile.zip(freshQuantile).foreach { case (qw, f) =>
      val merged =
        if (appendOnly)
          TypedHawWheel.fromSecondPartials(qw.wheel.slotPartials ++ f.wheel.slotPartials, qw.agg)
        else f.wheel
      nt.putQuantile(qw.copy(wheel = merged,
        slotSpan = if (appendOnly) math.max(qw.span, span) else f.span))
    }
    // Count-Min frequency wheels: counters are ADDITIVE, so old + delta
    // partials merge slot-wise bit-identical to a rebuild on append-only
    // growth (same argument as the quantile bins).
    oldFreq.zip(freshFreq).foreach { case (fw, f) =>
      val merged =
        if (appendOnly)
          TypedHawWheel.fromSecondPartials(fw.wheel.slotPartials ++ f.wheel.slotPartials, fw.agg)
        else f.wheel
      nt.putFreq(fw.copy(wheel = merged,
        slotSpan = if (appendOnly) math.max(fw.span, span) else f.span))
    }
    // Exact-moment wheels: moments are additive, so old + delta partials
    // merge slot-wise bit-identical to a rebuild; the decline gates
    // (castFail, absMax) accumulate across the refresh like the numeric
    // exactness flags.
    oldMoment.zip(freshMoment).foreach { case (mw, f) =>
      val merged =
        if (appendOnly)
          TypedHawWheel.fromSecondPartials(mw.wheel.slotPartials ++ f.wheel.slotPartials, mw.agg)
        else f.wheel
      nt.putMoment(mw.copy(wheel = merged,
        castFail = (if (appendOnly) mw.castFail else 0L) + f.castFail,
        absMax = if (appendOnly) math.max(mw.absMax, f.absMax) else f.absMax,
        slotSpan = if (appendOnly) math.max(mw.span, span) else f.span))
    }
    oldCoMoment.zip(freshCoMoment).foreach { case (cw, f) =>
      val merged =
        if (appendOnly)
          TypedHawWheel.fromSecondPartials(cw.wheel.slotPartials ++ f.wheel.slotPartials, cw.agg)
        else f.wheel
      nt.putCoMoment(cw.copy(wheel = merged,
        castFail = (if (appendOnly) cw.castFail else 0L) + f.castFail,
        absMaxX = if (appendOnly) math.max(cw.absMaxX, f.absMaxX) else f.absMaxX,
        absMaxY = if (appendOnly) math.max(cw.absMaxY, f.absMaxY) else f.absMaxY,
        slotSpan = if (appendOnly) math.max(cw.span, span) else f.span))
    }
    // Millisecond bottom-level wheels ride the same delta-vs-rebuild
    // decision through one extra scan grouped by millisecond (their tick
    // domain — the per-second delta scan cannot produce ms partials).
    // Always reconstructible: ms wheels are unfiltered by construction.
    // Slot budgets never apply to them (slots stay 1 ms), so the merge is
    // a plain slot-wise fold, bit-identical to a rebuild on append-only
    // growth like every other wheel family here.
    val oldMs = t.allMsWheels
    if (oldMs.nonEmpty) {
      val ordered = oldMs.sortBy(_.valueColumn)
      val msSpecs = ordered.map(w => WheelSpec(w.valueColumn, None, "", None, w.wheel.scale))
      val (msBuilt, _, _, _, _, _) = buildWheels(scanDf, t.timeColumn, msSpecs,
        slotExprOverride = Some(msExprOf(scanDf, t.timeColumn)))
      ordered.zip(msBuilt).foreach { case (o, f) =>
        val merged =
          if (!appendOnly) f.wheel
          else o.copy(
            wheel = HawWheel.fromSecondPartials(
              o.wheel.slotPartials ++ f.wheel.wheel.slotPartials,
              o.wheel.scale, o.wheel.hasValues, 1L, packLevels = false),
            valueAllNonNull = o.valueAllNonNull && f.wheel.valueAllNonNull,
            valuesExactAtScale = o.valuesExactAtScale && f.wheel.valuesExactAtScale,
            valuesNaNFree = o.valuesNaNFree && f.wheel.valuesNaNFree)
        nt.putMs(merged)
      }
    }
    // Heavy-hitter wheels: one extra typed pass over the delta (or the
    // full table on rebuild). Append merges old + delta slot summaries
    // and re-compacts — BOUND-SOUND (the slack semantics compose) but
    // not necessarily bit-identical to a from-scratch rebuild on slots
    // dense enough to have compacted (a rebuild compacts the union once;
    // the merge compacts twice). Certified topK answers are unaffected:
    // certification requires slack 0, where compaction never engaged.
    val oldTopK = t.allTopKWheels
    if (oldTopK.nonEmpty) {
      // the whole family set refreshes in ONE pass over the delta (or the
      // full table on rebuild), keyed wheels behind their filter booleans
      val fresh = TypedWheelBuild.buildTopKSet(scanDf, t.timeColumn,
        oldTopK.map(tw =>
          // Option(...) guard: a pre-keyed-era deserialized wheel carries
          // Java-default null here (like every other family's old files)
          (F.col(tw.column).cast("long"), Option(tw.filterSql).flatten.map(F.expr),
            tw.agg)),
        (r: org.apache.spark.sql.Row, ord: Int) => r.getLong(ord))
      oldTopK.zip(fresh).foreach { case (tw, (fw, freshNulls)) =>
        val merged =
          if (!appendOnly) fw
          else TypedHawWheel.fromSecondPartials(
            tw.wheel.slotPartials ++ fw.slotPartials, tw.agg)
        // the NULL-key decline gate accumulates across appends, like castFail
        nt.putTopK(tw.copy(wheel = merged,
          keyNullCount = (if (appendOnly) tw.keyNullCount else 0L) + freshNulls))
      }
    }
    WheelRegistry.register(nt)
    if (appendOnly) RefreshOutcome.Appended(newPaths.length) else RefreshOutcome.Rebuilt
  }

  /** [[refresh]] for every file-backed registered index — the one-call
    * maintenance tick a scheduler runs after each ingest cycle. In-memory
    * (view-built) indexes are skipped: their data is immutable. Failures
    * are isolated PER TABLE (reported as [[RefreshOutcome.Failed]]): one
    * table whose directory vanished mid-rewrite must not starve every other
    * table's refresh for as long as it stays broken. */
  def refreshAll(spark: SparkSession): Map[String, RefreshOutcome] =
    WheelRegistry.registeredPaths
      .filterNot(_.startsWith("view::"))
      .map { p =>
        p -> (try refresh(spark, p)
        catch {
          case scala.util.control.NonFatal(e) =>
            RefreshOutcome.Failed(s"${e.getClass.getSimpleName}: ${e.getMessage}")
        })
      }
      .toMap

  /** The steady-state service hook: a daemon thread ticking [[refreshAll]]
    * every `intervalMs`, so a long-lived session's indexes track ingest
    * without any query-path involvement. Fixed-DELAY scheduling — the next
    * tick waits for the previous one to finish, so a refresh that takes
    * longer than the interval (a full rebuild after an in-place rewrite)
    * never piles up concurrent refreshes. Per-TABLE failures are already
    * isolated inside [[refreshAll]] ([[RefreshOutcome.Failed]]); failed
    * tables are logged and the schedule continues — one bad table (or one
    * bad cycle) must not kill the service. Close the returned handle to
    * stop the tick; the no-change case is one file listing per table, so
    * sub-second intervals are fine in tests and ~minutes are typical in
    * production. */
  def scheduleRefresh(spark: SparkSession, intervalMs: Long): AutoCloseable = {
    require(intervalMs > 0, s"intervalMs must be positive, got $intervalMs")
    val ex = java.util.concurrent.Executors.newSingleThreadScheduledExecutor { r =>
      val t = new Thread(r, "uwheel-refresh-tick")
      t.setDaemon(true)
      t
    }
    ex.scheduleWithFixedDelay(
      () =>
        try {
          val failed = refreshAll(spark).collect {
            case (p, RefreshOutcome.Failed(err)) => s"$p: $err"
          }
          if (failed.nonEmpty)
            org.slf4j.LoggerFactory.getLogger(getClass)
              .warn(s"uwheel refresh tick: ${failed.size} table(s) failed — " +
                failed.mkString("; "))
        } catch {
          // registry-level breakage (refreshAll itself) — log, keep ticking
          case scala.util.control.NonFatal(e) =>
            org.slf4j.LoggerFactory.getLogger(getClass)
              .warn(s"uwheel refresh tick failed: $e")
        },
      intervalMs, intervalMs, java.util.concurrent.TimeUnit.MILLISECONDS)
    () => {
      // graceful stop: cancel FUTURE ticks but let an in-flight one finish
      // (shutdownNow would interrupt it mid-Spark-job), then wait it out —
      // however long it takes — so callers can stop the session right after
      // close() without pulling it out from under a running refresh
      ex.shutdown()
      while (!ex.awaitTermination(60, java.util.concurrent.TimeUnit.SECONDS))
        org.slf4j.LoggerFactory.getLogger(getClass)
          .warn("still waiting for an in-flight uwheel refresh tick to finish")
      ()
    }
  }
}
