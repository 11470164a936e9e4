package graft.wheel

import scala.collection.mutable
import scala.reflect.ClassTag

/** User-extensible aggregation typeclass — the extension surface the
  * reference demonstrates with its µWheel `Aggregator` trait and the
  * `BitPackingSumAggregator` example
  * (`/root/reference/datafusion-uwheel/src/aggregator/mod.rs:8-64`):
  * `IDENTITY`/`lift`/`combine`/`combine_inverse`/`lower`.
  *
  * `inverse` is optional; when present the frozen wheel keeps a prefix array
  * and answers any range in O(1) (the reference's `to_prefix_wheels`,
  * `lib.rs:1122-1124`); without it ranges decompose greedily across the
  * granularity hierarchy in O(log + slots), like min/max.
  *
  * The fused count/sum/min/max engine ([[HawWheel]]) remains the optimizer's
  * index; this typed surface is for custom aggregates the fused partials
  * can't express.
  */
trait WheelAggregator[In, P, Out] extends Serializable {
  def identity: P
  def lift(in: In): P
  /** Must NOT mutate its arguments — combined partials are shared across
    * wheel levels and snapshots. */
  def combine(a: P, b: P): P
  /** Per-row ingest step. Defaults to the pure `combine(p, lift(in))`;
    * aggregators with heavy partials (sketches) may override it to mutate
    * and return `p` — the caller passes OWNED accumulation state and treats
    * the argument as consumed ([[TypedRwWheel]] snapshots partials through
    * `combine(identity, _)` at freeze time, so frozen wheels never alias
    * live state regardless of what accumulate does). */
  def accumulate(p: P, in: In): P = combine(p, lift(in))
  /** `Some((ab, a) => b)` for invertible aggregates — enables prefix wheels. */
  def inverse: Option[(P, P) => P] = None
  def lower(p: P): Out
  /** Optional lossless slot-block codec (the reference demonstrates
    * BitPacker4x partial compression on its aggregator trait,
    * `aggregator/mod.rs:36-63`). When present, the frozen typed wheel
    * stores NON-invertible level partials as compressed 128-slot blocks,
    * decoded on access — trading a per-read decode for span-factor memory.
    * Invertible aggregators keep their prefix arrays raw (O(1) random
    * access is the whole point of the prefix path). */
  def slotCodec: Option[SlotCodec[P]] = None
  /** Optional per-partial byte serde (`dec(enc(p))` ≡ `p`), used by the
    * ingest wheels' custom Java serialization: a shuffled/tree-merged
    * [[TypedRwWheel]] then writes one length-prefixed byte run per slot
    * into the raw stream instead of one object graph per slot — at 100k
    * active seconds × a dozen sketch wheels, per-object
    * ObjectOutputStream handle-table work was the events build's single
    * largest executor cost (round-9 task 3). */
  def partialSerde: Option[(P => Array[Byte], Array[Byte] => P)] = None
  /** Freeze-time bound on a partial's SIZE, applied at deterministic
    * points only — per slot when a wheel freezes, and per level slot when
    * the granularity hierarchy rolls up — never during the order-free
    * ingest combine, so distributed builds stay partition-count-
    * independent: ingest accumulates the exact (unbounded) partial, and
    * every run compacts the identical slot content in the identical
    * single-threaded order. Must preserve the aggregator's documented
    * error contract ([[WheelAggregators.TopTalkers]]: dropping a key
    * folds its count into the summary's slack bound). Identity by
    * default — exact/sketch families whose partials are already
    * size-bounded don't compact. */
  def compact(p: P): P = p
  /** [[compact]] as applied when the granularity hierarchy rolls a level
    * up to slots of `span` seconds. Defaults to `compact`; an error-
    * accumulating aggregator may keep COARSE slots exact under a larger
    * budget than its per-second cap so wide-range reads stay sublinear —
    * [[WheelAggregators.TopTalkers]] keeps a coarse summary uncompacted
    * (slack unchanged) while it fits [[WheelAggregators.TopTalkers!.coarseBudget]]
    * entries, and [[TypedHawWheel.combineRangeDescend]] then reads
    * coarse-first, descending only into slots whose rollup engaged
    * compaction. Must, like `compact`, preserve the aggregator's
    * documented error contract. */
  def compactAtSpan(span: Long, p: P): P = compact(p)
}

/** Lossless block codec for slot partials. `decode(encode(a))` must equal
  * `a` element-for-element — the wheel's exactness contract does not bend
  * for compression. */
trait SlotCodec[P] extends Serializable {
  def encode(parts: Array[P]): Array[Byte]
  def decode(bytes: Array[Byte]): Array[P]
}

/** Zigzag-delta varint codec for Long partials: deltas between consecutive
  * partials zigzag-mapped to unsigned and LEB128-encoded — small for slot
  * sequences that move smoothly (counters, monotone maxima), never wrong
  * for ones that don't. */
object ZigZagDeltaLongCodec extends SlotCodec[Long] {
  def encode(parts: Array[Long]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(parts.length * 2)
    var prev = 0L
    var i = 0
    while (i < parts.length) {
      val delta = parts(i) - prev
      prev = parts(i)
      var z = (delta << 1) ^ (delta >> 63) // zigzag: sign bit to bit 0
      var more = true
      while (more) {
        val b = (z & 0x7f).toInt
        z >>>= 7
        more = z != 0
        out.write(if (more) b | 0x80 else b)
      }
      i += 1
    }
    out.toByteArray
  }
  def decode(bytes: Array[Byte]): Array[Long] = {
    val out = Array.newBuilder[Long]
    var prev = 0L
    var i = 0
    while (i < bytes.length) {
      var z = 0L
      var shift = 0
      var b = 0
      do {
        b = bytes(i) & 0xff
        z |= (b & 0x7fL) << shift
        shift += 7
        i += 1
      } while ((b & 0x80) != 0)
      val delta = (z >>> 1) ^ -(z & 1L)
      prev += delta
      out += prev
    }
    out.result()
  }
}

/** Byte-aligned XOR codec for Double partials (the byte-granular cousin of
  * Gorilla-style timestamp/value compression): each value's raw bits are
  * XORed with the previous value's, the leading zero BYTES dropped, and a
  * 1-byte significant-byte count written before the remaining bytes.
  * Repeated values cost 1 byte; values sharing sign/exponent/high-mantissa
  * bits cost a few; adversarial series cost 9 — more than raw, never wrong.
  * Operating on raw bits makes it exact for every Double: NaN payloads,
  * ±Infinity, -0.0 and denormals all round-trip bit-for-bit. */
object XorDoubleCodec extends SlotCodec[Double] {
  def encode(parts: Array[Double]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(parts.length * 3)
    var prev = 0L
    var i = 0
    while (i < parts.length) {
      val bits = java.lang.Double.doubleToRawLongBits(parts(i))
      val x = bits ^ prev
      prev = bits
      val nBytes = (64 - java.lang.Long.numberOfLeadingZeros(x) + 7) / 8
      out.write(nBytes)
      var b = 0
      while (b < nBytes) { out.write(((x >>> (b * 8)) & 0xff).toInt); b += 1 }
      i += 1
    }
    out.toByteArray
  }
  def decode(bytes: Array[Byte]): Array[Double] = {
    val out = Array.newBuilder[Double]
    var prev = 0L
    var i = 0
    while (i < bytes.length) {
      val nBytes = bytes(i) & 0xff
      i += 1
      var x = 0L
      var b = 0
      while (b < nBytes) { x |= (bytes(i) & 0xffL) << (b * 8); b += 1; i += 1 }
      prev ^= x
      out += java.lang.Double.longBitsToDouble(prev)
    }
    out.result()
  }
}

object WheelAggregators {
  object LongSum extends WheelAggregator[Long, Long, Long] {
    val identity = 0L
    def lift(in: Long): Long = in
    def combine(a: Long, b: Long): Long = a + b
    override val inverse: Option[(Long, Long) => Long] = Some(_ - _)
    def lower(p: Long): Long = p
  }
  object DoubleSum extends WheelAggregator[Double, Double, Double] {
    val identity = 0.0
    def lift(in: Double): Double = in
    def combine(a: Double, b: Double): Double = a + b
    override val inverse: Option[(Double, Double) => Double] = Some(_ - _)
    def lower(p: Double): Double = p
  }
  object DoubleMin extends WheelAggregator[Double, Double, Double] {
    val identity = Double.PositiveInfinity
    def lift(in: Double): Double = in
    def combine(a: Double, b: Double): Double = math.min(a, b)
    def lower(p: Double): Double = p
  }
  object DoubleMax extends WheelAggregator[Double, Double, Double] {
    val identity = Double.NegativeInfinity
    def lift(in: Double): Double = in
    def combine(a: Double, b: Double): Double = math.max(a, b)
    def lower(p: Double): Double = p
  }
  /** (sum, count) pair lowered to the mean (reference `F64AvgAggregator`;
    * partials kept un-lowered per SURVEY §7.4 trap 7). */
  object DoubleAvg extends WheelAggregator[Double, (Double, Long), Double] {
    val identity = (0.0, 0L)
    def lift(in: Double): (Double, Long) = (in, 1L)
    def combine(a: (Double, Long), b: (Double, Long)): (Double, Long) =
      (a._1 + b._1, a._2 + b._2)
    override val inverse: Option[((Double, Long), (Double, Long)) => (Double, Long)] =
      Some((ab, a) => (ab._1 - a._1, ab._2 - a._2))
    def lower(p: (Double, Long)): Double = if (p._2 == 0) Double.NaN else p._1 / p._2
  }
  /** Demonstration custom aggregator in the spirit of the reference's
    * `BitPackingSumAggregator` (32-bit sum partials with an inverse). Note a
    * deliberate difference: the reference pairs *saturating* add with
    * saturating subtract (`aggregator/mod.rs:30-34`), which is not a true
    * inverse — once a prefix saturates, subtraction reconstructs wrong range
    * sums. Wrapping Int arithmetic is an exact group (a+b-a == b mod 2³²),
    * so prefix-wheel range queries stay exact for any data. */
  object WrappingIntSum extends WheelAggregator[Int, Int, Int] {
    val identity = 0
    def lift(in: Int): Int = in
    def combine(a: Int, b: Int): Int = a + b
    override val inverse: Option[(Int, Int) => Int] = Some(_ - _)
    def lower(p: Int): Int = p
  }
  /** Non-invertible Long maximum with the delta-varint slot codec attached —
    * the compressed-partials demonstration (slot maxima that move smoothly
    * delta-pack to ~1–2 bytes each; adversarial ones just pack worse, never
    * wrong). */
  object LongMax extends WheelAggregator[Long, Long, Long] {
    val identity = Long.MinValue
    def lift(in: Long): Long = in
    def combine(a: Long, b: Long): Long = math.max(a, b)
    def lower(p: Long): Long = p
    override val slotCodec: Option[SlotCodec[Long]] = Some(ZigZagDeltaLongCodec)
  }

  /** HyperLogLog distinct-count sketch as a wheel partial — the temporal
    * "distinct users over any time range" aggregate that no exact wheel can
    * carry at 100 TB (exact distinct partials grow with cardinality; these
    * are fixed 2^p bytes per active slot). The partial is the register
    * array; `combine` is register-wise max — commutative, associative and
    * IDEMPOTENT, so the wheel's greedy level decomposition returns the
    * bit-identical sketch to a flat fold over the same rows, in any
    * grouping (the property [[graft.HllWheelSpec]] asserts). Deterministic:
    * inputs hash through the SplitMix64 finalizer, no RNG, rerun-stable.
    * Standard error ≈ 1.04/√(2^p); the default p=11 is 2 KiB per active
    * slot at ~2.3 %. Accuracy caveat: this is original HyperLogLog (raw
    * estimator + linear counting below 2.5·m), not HLL++ — estimates in the
    * window just above the linear-counting crossover (≈ 2.5·m … 5·m, i.e.
    * ~5 120–10 240 distinct at p=11) carry the well-known positive bias of
    * the raw estimator, somewhat above the nominal stderr; outside that
    * window the stderr bound applies. Not invertible (register max has no
    * inverse), so no prefix path — ranges decompose across the sparse
    * levels like min/max.
    *
    * Combine never mutates its arguments (level partials are shared
    * structures); each merge allocates a fresh register array. */
  final class HllDistinct(val p: Int = 11) extends WheelAggregator[Long, Array[Byte], Long] {
    require(p >= 4 && p <= 16, s"p must be in [4, 16], got $p")
    // partials are already canonical byte arrays — the compact-serialization
    // serde is the identity
    override val partialSerde: Option[(Array[Byte] => Array[Byte], Array[Byte] => Array[Byte])] =
      Some((p => p, b => b))
    private val m = 1 << p
    private val alpha = m match {
      case 16 => 0.673
      case 32 => 0.697
      case 64 => 0.709
      case _  => 0.7213 / (1 + 1.079 / m)
    }

    // ---- partial representation --------------------------------------
    // A partial is CANONICALLY either sparse or dense, decided by content:
    //   sparse  ⟺ nonzero-register count n ≤ SparseMax
    //   layout:   [n_lo, n_hi] ++ n × [idx_lo, idx_hi, rank], entries
    //             sorted ascending by idx; length = 2 + 3n ≠ m always
    //   dense   ⟺ n > SparseMax; layout: the raw m-byte register array
    // Register-max merging only grows n, so canonical form is stable:
    // dense never needs to re-sparsify, and equal register CONTENT always
    // has equal canonical BYTES — the bit-for-bit equality the SQL-vs-wheel
    // specs assert survives the encoding. Why it exists: a per-second
    // build slot sees ~rows-per-second distinct values, so at any realistic
    // event rate the 2^p-byte dense blob is >99 % zeros — at sf0.1 the two
    // events sketch wheels shipped ~400 MB of near-zero registers through
    // the shuffle + tree merge and took 8 s of the 10.6 s build (round-6
    // weak); sparse partials make the shuffled bytes ∝ values seen, ~10 B
    // per row, and the same representation serves the in-heap wheel slots
    // and the registry, so index memory drops with it.
    private val SparseMax = m / 8 // 3·(m/8)+2 < m, so lengths never collide

    @inline private def isSparse(a: Array[Byte]): Boolean = a.length != m
    @inline private def sparseN(a: Array[Byte]): Int =
      (a(0) & 0xff) | ((a(1) & 0xff) << 8)
    @inline private def sIdx(a: Array[Byte], k: Int): Int =
      (a(2 + 3 * k) & 0xff) | ((a(3 + 3 * k) & 0xff) << 8)
    @inline private def sRank(a: Array[Byte], k: Int): Byte = a(4 + 3 * k)
    private def sparseEmpty: Array[Byte] = Array[Byte](0, 0)
    private def sparse1(idx: Int, rank: Byte): Array[Byte] =
      Array[Byte](1, 0, (idx & 0xff).toByte, ((idx >> 8) & 0xff).toByte, rank)
    /** Entry position of idx in sparse a, or -(ins+1). */
    private def sFind(a: Array[Byte], idx: Int): Int = {
      var lo = 0; var hi = sparseN(a) - 1
      while (lo <= hi) {
        val mid = (lo + hi) >>> 1
        val v = sIdx(a, mid)
        if (v < idx) lo = mid + 1 else if (v > idx) hi = mid - 1 else return mid
      }
      -(lo + 1)
    }
    private def densify(a: Array[Byte]): Array[Byte] = {
      val out = new Array[Byte](m)
      val n = sparseN(a)
      var k = 0
      while (k < n) { out(sIdx(a, k)) = sRank(a, k); k += 1 }
      out
    }
    /** Nonzero-register count of a canonical partial (dense counts). */
    private def nonZeroCount(a: Array[Byte]): Int =
      if (isSparse(a)) sparseN(a)
      else {
        var c = 0; var i = 0
        while (i < m) { if (a(i) != 0) c += 1; i += 1 }
        c
      }
    /** Has any nonzero register? (canonical dense always does, but the
      * check stays content-based for robustness) */
    def nonEmpty(a: Array[Byte]): Boolean =
      if (isSparse(a)) sparseN(a) > 0 else nonZeroCount(a) > 0

    def identity: Array[Byte] = sparseEmpty
    private def mix64(z0: Long): Long = {
      var z = z0 + 0x9e3779b97f4a7c15L
      z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
      z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
      z ^ (z >>> 31)
    }
    def lift(in: Long): Array[Byte] = {
      val h = mix64(in)
      val idx = (h >>> (64 - p)).toInt
      val w = h << p
      val rank = ((if (w == 0L) 64 - p else java.lang.Long.numberOfLeadingZeros(w)) + 1).toByte
      sparse1(idx, rank)
    }
    def combine(a: Array[Byte], b: Array[Byte]): Array[Byte] =
      if (!isSparse(a) && !isSparse(b)) {
        val out = new Array[Byte](m)
        var i = 0
        while (i < m) {
          out(i) = if (a(i) >= b(i)) a(i) else b(i)
          i += 1
        }
        out
      } else if (!isSparse(a) || !isSparse(b)) {
        // dense ⊔ sparse: dense content already exceeds SparseMax, so the
        // result is dense — copy and max the sparse entries in
        val (d, s) = if (isSparse(a)) (b, a) else (a, b)
        val out = java.util.Arrays.copyOf(d, m)
        val n = sparseN(s)
        var k = 0
        while (k < n) {
          val i = sIdx(s, k); val r = sRank(s, k)
          if (out(i) < r) out(i) = r
          k += 1
        }
        out
      } else {
        // sparse ⊔ sparse: sorted-merge union with register max
        val na = sparseN(a); val nb = sparseN(b)
        val buf = new Array[Byte](2 + 3 * (na + nb))
        var ka = 0; var kb = 0; var n = 0
        while (ka < na || kb < nb) {
          val ia = if (ka < na) sIdx(a, ka) else Int.MaxValue
          val ib = if (kb < nb) sIdx(b, kb) else Int.MaxValue
          val (idx, r) =
            if (ia < ib)      { val v = (ia, sRank(a, ka)); ka += 1; v }
            else if (ib < ia) { val v = (ib, sRank(b, kb)); kb += 1; v }
            else {
              val ra = sRank(a, ka); val rb = sRank(b, kb)
              ka += 1; kb += 1
              (ia, if (ra >= rb) ra else rb)
            }
          buf(2 + 3 * n) = (idx & 0xff).toByte
          buf(3 + 3 * n) = ((idx >> 8) & 0xff).toByte
          buf(4 + 3 * n) = r
          n += 1
        }
        if (n > SparseMax) {
          val out = new Array[Byte](m)
          var k = 0
          while (k < n) {
            out((buf(2 + 3 * k) & 0xff) | ((buf(3 + 3 * k) & 0xff) << 8)) = buf(4 + 3 * k)
            k += 1
          }
          out
        } else {
          buf(0) = (n & 0xff).toByte; buf(1) = ((n >> 8) & 0xff).toByte
          if (buf.length == 2 + 3 * n) buf else java.util.Arrays.copyOf(buf, 2 + 3 * n)
        }
      }
    /** Ingest one value: dense path is in-place (one hash + one register
      * compare, zero allocation — the per-row cost the 100 TB fold needs);
      * sparse path reallocates only when a NEW register index appears,
      * which can happen at most SparseMax times before the buffer goes
      * dense and stays in-place forever. Safe under the accumulate
      * ownership contract: the wheel passes its own accumulation array and
      * snapshots on freeze. */
    override def accumulate(regs: Array[Byte], in: Long): Array[Byte] = {
      val h = mix64(in)
      val idx = (h >>> (64 - p)).toInt
      val w = h << p
      val rank = ((if (w == 0L) 64 - p else java.lang.Long.numberOfLeadingZeros(w)) + 1).toByte
      if (!isSparse(regs)) {
        if (regs(idx) < rank) regs(idx) = rank
        regs
      } else {
        val pos = sFind(regs, idx)
        if (pos >= 0) {
          if (sRank(regs, pos) < rank) regs(4 + 3 * pos) = rank
          regs
        } else {
          val n = sparseN(regs)
          if (n + 1 > SparseMax) {
            val out = densify(regs)
            out(idx) = rank
            out
          } else {
            val ins = -(pos + 1)
            val out = new Array[Byte](regs.length + 3)
            System.arraycopy(regs, 0, out, 0, 2 + 3 * ins)
            System.arraycopy(regs, 2 + 3 * ins, out, 5 + 3 * ins, 3 * (n - ins))
            out(0) = ((n + 1) & 0xff).toByte; out(1) = (((n + 1) >> 8) & 0xff).toByte
            out(2 + 3 * ins) = (idx & 0xff).toByte
            out(3 + 3 * ins) = ((idx >> 8) & 0xff).toByte
            out(4 + 3 * ins) = rank
            out
          }
        }
      }
    }
    def lower(regs: Array[Byte]): Long = {
      var invSum = 0.0
      var zeros = 0
      if (isSparse(regs)) {
        val n = sparseN(regs)
        zeros = m - n
        invSum = zeros.toDouble // each zero register contributes 2^-0
        var k = 0
        while (k < n) {
          invSum += java.lang.Double.longBitsToDouble((1023L - sRank(regs, k)) << 52)
          k += 1
        }
      } else {
        var i = 0
        while (i < m) {
          invSum += java.lang.Double.longBitsToDouble((1023L - regs(i)) << 52) // 2^-reg
          if (regs(i) == 0) zeros += 1
          i += 1
        }
      }
      val e = alpha * m * m / invSum
      // small-range (linear counting) correction; with a 64-bit hash the
      // classic 2^32 large-range correction never applies
      val corrected =
        if (e <= 2.5 * m && zeros > 0) m * math.log(m.toDouble / zeros) else e
      math.round(corrected)
    }
  }

  /** HDR-style log-bucketed quantile sketch as a wheel partial — the
    * temporal "p99 latency over any time range" aggregate, the second
    * sketch instance of the custom-aggregator surface (after
    * [[HllDistinct]]). A value buckets by its IEEE-754 bit pattern
    * truncated to `s` mantissa bits (positive doubles order exactly as
    * their bit patterns, so `(bits >>> (52−s))` is a monotone bucketing;
    * negatives mirror to negative bucket indices, −0 normalizes to 0, NaN
    * sits in a topmost sentinel bucket matching Spark's NaN-greatest sort
    * order). Bucket width is ≤ 2^−s RELATIVE to magnitude (s=7 → 0.79 %),
    * constant in value space across all magnitudes — the HdrHistogram
    * trick, with no configuration of the value range.
    *
    * The partial is a canonical sorted array of (bucket, count) pairs —
    * equal content always has equal bytes, so the rewritten-vs-scan
    * bit-equality specs survive the encoding — and `combine` is a sorted
    * merge with ADDITIVE counts: commutative and associative but NOT
    * idempotent, which is sound precisely because every wheel read path
    * ([[TypedHawWheel.combineRange]], the rule's disjoint range-set /
    * bucket clips) combines DISJOINT slot sets, exactly like count/sum.
    * Deterministic: no RNG, no data-order dependence (counts are
    * order-free), so any partitioning, shuffle, or wheel decomposition
    * yields the identical sketch.
    *
    * Quantile rule (deterministic, documented): rank `r = clamp(⌈q·N⌉, 1,
    * N)` over ascending buckets; the answer is the containing BUCKET'S
    * LOWER EDGE in value order — a value ≤ the true q-quantile with
    * relative error < 2^−s. Empty input lowers to null upstream.
    *
    * `lower` is the identity (the partial itself): the q parameter lives
    * in the query, so consumers call [[quantileOf]] with it. */
  final class HdrQuantile(val s: Int = 7) extends WheelAggregator[Double, Array[Byte], Array[Byte]] {
    require(s >= 1 && s <= 20, s"hdr_quantile resolution must be in [1, 20], got $s")
    override val partialSerde: Option[(Array[Byte] => Array[Byte], Array[Byte] => Array[Byte])] =
      Some((p => p, b => b)) // partials are already canonical byte arrays
    private val shift = 52 - s
    /** NaN sentinel: sorts after every real bucket (Spark orders NaN
      * greatest). Int.MaxValue is unreachable as a real bucket for s ≤ 20
      * (max real bucket ≈ 2^(11+s) − 1 < 2^31 − 1). */
    val NanBucket: Int = Int.MaxValue

    def bucketOf(v: Double): Int =
      if (java.lang.Double.isNaN(v)) NanBucket
      else {
        // -0.0 normalizes to 0.0 (SQL equality treats them as one value)
        val vv = if (v == 0.0) 0.0 else v
        val bits = java.lang.Double.doubleToLongBits(vv)
        if (bits >= 0L) (bits >>> shift).toInt
        else -(((bits & Long.MaxValue) >>> shift).toInt) - 1
      }

    /** The bucket's lower edge in VALUE order (the quantile's deterministic
      * representative). */
    def valueOf(idx: Int): Double =
      if (idx == NanBucket) Double.NaN
      else if (idx >= 0) java.lang.Double.longBitsToDouble(idx.toLong << shift)
      else -java.lang.Double.longBitsToDouble(((-idx).toLong) << shift)

    // ---- canonical partial: n × [bucket: Int, count: Long], sorted by
    // bucket ascending, counts > 0, big-endian; the EMPTY array is the
    // (only) encoding of zero content
    val identity: Array[Byte] = Array.emptyByteArray

    @inline private def pairs(a: Array[Byte]): Int = a.length / 12
    @inline private def idxAt(a: Array[Byte], k: Int): Int = {
      val o = k * 12
      ((a(o) & 0xff) << 24) | ((a(o + 1) & 0xff) << 16) |
        ((a(o + 2) & 0xff) << 8) | (a(o + 3) & 0xff)
    }
    @inline private def cntAt(a: Array[Byte], k: Int): Long = {
      val o = k * 12 + 4
      var v = 0L
      var i = 0
      while (i < 8) { v = (v << 8) | (a(o + i) & 0xffL); i += 1 }
      v
    }
    @inline private def write(a: Array[Byte], k: Int, idx: Int, cnt: Long): Unit = {
      val o = k * 12
      a(o) = (idx >>> 24).toByte; a(o + 1) = (idx >>> 16).toByte
      a(o + 2) = (idx >>> 8).toByte; a(o + 3) = idx.toByte
      var i = 0
      while (i < 8) { a(o + 4 + i) = (cnt >>> (56 - 8 * i)).toByte; i += 1 }
    }

    def lift(in: Double): Array[Byte] = {
      val out = new Array[Byte](12)
      write(out, 0, bucketOf(in), 1L)
      out
    }

    /** Canonical encoding of sorted (bucket, count) content — the one
      * byte form equal content always maps to. Shared with the SQL
      * aggregate's map-buffer serialization so the two can never drift. */
    def encodeSorted(idxs: Array[Int], cnts: Array[Long]): Array[Byte] = {
      val out = new Array[Byte](idxs.length * 12)
      var k = 0
      while (k < idxs.length) { write(out, k, idxs(k), cnts(k)); k += 1 }
      out
    }

    /** Decoded (buckets, counts) of a canonical partial, sorted ascending. */
    def decode(p: Array[Byte]): (Array[Int], Array[Long]) = {
      val n = pairs(p)
      val idxs = new Array[Int](n)
      val cnts = new Array[Long](n)
      var k = 0
      while (k < n) { idxs(k) = idxAt(p, k); cnts(k) = cntAt(p, k); k += 1 }
      (idxs, cnts)
    }

    /** Sorted merge with additive counts (addExact: a silently wrapped
      * count would become a wrong plan-time quantile; the optimizer
      * degrades to the scan on the exception). Never mutates arguments. */
    def combine(a: Array[Byte], b: Array[Byte]): Array[Byte] = {
      if (a.length == 0) return b
      if (b.length == 0) return a
      val na = pairs(a); val nb = pairs(b)
      val out = new Array[Byte](a.length + b.length)
      var ia = 0; var ib = 0; var k = 0
      while (ia < na && ib < nb) {
        val xa = idxAt(a, ia); val xb = idxAt(b, ib)
        if (xa < xb) { write(out, k, xa, cntAt(a, ia)); ia += 1 }
        else if (xb < xa) { write(out, k, xb, cntAt(b, ib)); ib += 1 }
        else {
          write(out, k, xa, Math.addExact(cntAt(a, ia), cntAt(b, ib)))
          ia += 1; ib += 1
        }
        k += 1
      }
      while (ia < na) { write(out, k, idxAt(a, ia), cntAt(a, ia)); ia += 1; k += 1 }
      while (ib < nb) { write(out, k, idxAt(b, ib), cntAt(b, ib)); ib += 1; k += 1 }
      if (k * 12 == out.length) out else java.util.Arrays.copyOf(out, k * 12)
    }

    def lower(p: Array[Byte]): Array[Byte] = p

    def totalCount(p: Array[Byte]): Long = {
      var t = 0L
      var k = 0
      val n = pairs(p)
      while (k < n) { t = Math.addExact(t, cntAt(p, k)); k += 1 }
      t
    }

    /** The deterministic q-quantile of a partial; null (None) on empty. */
    def quantileOf(p: Array[Byte], q: Double): Option[Double] = {
      if (p.length == 0) return None
      val (idxs, cnts) = decode(p)
      Some(quantileOfSorted(idxs, cnts, q))
    }

    /** Shared lowering arithmetic — the SQL aggregate's map buffer and the
      * wheel's decoded partial both come through here, so their answers
      * are identical whenever their CONTENT is. Buckets must be sorted
      * ascending with positive counts. */
    def quantileOfSorted(idxs: Array[Int], cnts: Array[Long], q: Double): Double = {
      var total = 0L
      var k = 0
      while (k < idxs.length) { total = Math.addExact(total, cnts(k)); k += 1 }
      val r0 = math.ceil(q * total).toLong
      val r = math.max(1L, math.min(total, r0))
      var cum = 0L
      k = 0
      while (k < idxs.length) {
        cum += cnts(k)
        if (cum >= r) return valueOf(idxs(k))
        k += 1
      }
      valueOf(idxs(idxs.length - 1)) // unreachable (cum == total >= r)
    }
  }

  /** Exact raw moments (n, Σx, Σx²) of a DECIMAL-valued column at a fixed
    * scale — the wheel behind `wheel_var_samp` / `wheel_var_pop` /
    * `wheel_stddev_samp` / `wheel_stddev_pop`
    * ([[graft.functions.MomentStatsAgg]]): temporal variance ("value
    * volatility last week") answered at plan time. The input is the
    * UNSCALED integer of the value at `scale` (6.55 at scale 2 → 655), so
    * Σx and Σx² are exact integers — `BigInt`, because Σx² over 100 TB
    * (10¹² rows × ~10⁹ per-row square at scale 2) exceeds a Long —
    * making the partial order-free: any partitioning, shuffle, tree
    * merge, or wheel decomposition produces the SAME moments, and
    * therefore the same variance, bit for bit. Third sketch-family
    * instance of the custom-aggregator surface (reference trait:
    * `/root/reference/datafusion-uwheel/src/aggregator/mod.rs:8-34`),
    * and the first INVERTIBLE one — component-wise subtraction gives the
    * frozen wheel its O(1) prefix path, like count/sum.
    *
    * Finalization ([[statOf]]) is shared between the SQL aggregate and
    * the rewrite rule: integer numerator `n·Σx² − (Σx)²` and denominator,
    * each correctly-rounded to double ONCE, then two IEEE divisions —
    * deterministic, and expressible verbatim in an oracle SQL
    * (`CAST(num AS DOUBLE) / CAST(den AS DOUBLE) / 10^(2·scale)`). */
  /** Count-Min frequency sketch — the fourth sketch-family instance of the
    * custom-aggregator surface (after [[HllDistinct]], [[HdrQuantile]],
    * [[MomentStats]]): `cms_freq(key, target)` over any time range ("how
    * many times did user 12345 appear last week") answers from one wheel,
    * for ANY target value, where exact per-value keyed wheels would need
    * one wheel per key — the high-cardinality point-frequency complement
    * to the per-value enumeration arms.
    *
    * `d` hash rows × `w = 2^logW` counters; a value increments one counter
    * per row (Kirsch–Mitzenmacher double hashing: slot_i = h1 + i·h2 mod
    * w), and the point estimate is the MINIMUM of its `d` counters — an
    * OVERestimate, never an under-estimate (counters only ever add), with
    * `P[err > 2n/w] < 2^−d` for n ingested rows. Plain additive update
    * (deliberately NOT conservative update, which is not mergeable):
    * counters are sums, so partials merge additively and a wheel's
    * disjoint range decomposition folds to exactly the flat fold's
    * content — the bit-for-bit equality the rewrite relies on.
    *
    * Canonical partial: sorted (slot: Int, count: Long) pairs, 12 bytes
    * each, big-endian — the same sparse layout as [[HdrQuantile]] bins
    * (slot = row·w + offset, strictly row-major so per-value lifts are
    * pre-sorted); the empty array is the only encoding of zero content,
    * so equal content is always equal bytes. */
  final class CmsFreq(val d: Int = 4, val logW: Int = 12)
      extends WheelAggregator[Long, Array[Byte], Array[Byte]] {
    require(d >= 1 && d <= 8, s"cms depth must be in [1, 8], got $d")
    require(logW >= 4 && logW <= 20, s"cms logW must be in [4, 20], got $logW")
    override val partialSerde: Option[(Array[Byte] => Array[Byte], Array[Byte] => Array[Byte])] =
      Some((p => p, b => b)) // partials are already canonical byte arrays
    private val w = 1 << logW
    private val mask = w - 1

    private def mix64(z0: Long): Long = {
      var z = z0 + 0x9e3779b97f4a7c15L
      z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
      z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
      z ^ (z >>> 31)
    }

    /** The value's `d` counter slots, strictly ascending (row-major). */
    def slotsOf(x: Long): Array[Int] = {
      val h1 = mix64(x)
      val h2 = mix64(h1 ^ 0x9e3779b97f4a7c15L) | 1L // odd ⇒ full-period row stride
      val out = new Array[Int](d)
      var i = 0
      while (i < d) {
        out(i) = i * w + ((h1 + i.toLong * h2).toInt & mask)
        i += 1
      }
      out
    }

    val identity: Array[Byte] = Array.emptyByteArray

    @inline private def pairs(a: Array[Byte]): Int = a.length / 12
    @inline private def idxAt(a: Array[Byte], k: Int): Int = {
      val o = k * 12
      ((a(o) & 0xff) << 24) | ((a(o + 1) & 0xff) << 16) |
        ((a(o + 2) & 0xff) << 8) | (a(o + 3) & 0xff)
    }
    @inline private def cntAt(a: Array[Byte], k: Int): Long = {
      val o = k * 12 + 4
      var v = 0L
      var i = 0
      while (i < 8) { v = (v << 8) | (a(o + i) & 0xffL); i += 1 }
      v
    }
    @inline private def write(a: Array[Byte], k: Int, idx: Int, cnt: Long): Unit = {
      val o = k * 12
      a(o) = (idx >>> 24).toByte; a(o + 1) = (idx >>> 16).toByte
      a(o + 2) = (idx >>> 8).toByte; a(o + 3) = idx.toByte
      var i = 0
      while (i < 8) { a(o + 4 + i) = (cnt >>> (56 - 8 * i)).toByte; i += 1 }
    }

    def lift(in: Long): Array[Byte] = {
      val slots = slotsOf(in)
      val out = new Array[Byte](d * 12)
      var i = 0
      while (i < d) { write(out, i, slots(i), 1L); i += 1 }
      out
    }

    /** Canonical encoding of sorted (slot, count) content — shared with the
      * SQL aggregate's map-buffer serialization. */
    def encodeSorted(idxs: Array[Int], cnts: Array[Long]): Array[Byte] = {
      val out = new Array[Byte](idxs.length * 12)
      var k = 0
      while (k < idxs.length) { write(out, k, idxs(k), cnts(k)); k += 1 }
      out
    }

    /** Decoded (slots, counts) of a canonical partial, sorted ascending. */
    def decode(p: Array[Byte]): (Array[Int], Array[Long]) = {
      val n = pairs(p)
      val idxs = new Array[Int](n)
      val cnts = new Array[Long](n)
      var k = 0
      while (k < n) { idxs(k) = idxAt(p, k); cnts(k) = cntAt(p, k); k += 1 }
      (idxs, cnts)
    }

    /** Sorted merge with additive counts (addExact — a wrapped counter
      * would under-report; the optimizer degrades to the scan on the
      * exception). Never mutates arguments. */
    def combine(a: Array[Byte], b: Array[Byte]): Array[Byte] = {
      if (a.length == 0) return b
      if (b.length == 0) return a
      val na = pairs(a); val nb = pairs(b)
      val out = new Array[Byte](a.length + b.length)
      var ia = 0; var ib = 0; var k = 0
      while (ia < na && ib < nb) {
        val xa = idxAt(a, ia); val xb = idxAt(b, ib)
        if (xa < xb) { write(out, k, xa, cntAt(a, ia)); ia += 1 }
        else if (xb < xa) { write(out, k, xb, cntAt(b, ib)); ib += 1 }
        else {
          write(out, k, xa, Math.addExact(cntAt(a, ia), cntAt(b, ib)))
          ia += 1; ib += 1
        }
        k += 1
      }
      while (ia < na) { write(out, k, idxAt(a, ia), cntAt(a, ia)); ia += 1; k += 1 }
      while (ib < nb) { write(out, k, idxAt(b, ib), cntAt(b, ib)); ib += 1; k += 1 }
      if (k * 12 == out.length) out else java.util.Arrays.copyOf(out, k * 12)
    }

    def lower(p: Array[Byte]): Array[Byte] = p

    /** Counter at one slot (0 when absent) by binary search. */
    private def countAt(p: Array[Byte], slot: Int): Long = {
      var lo = 0; var hi = pairs(p) - 1
      while (lo <= hi) {
        val mid = (lo + hi) >>> 1
        val v = idxAt(p, mid)
        if (v < slot) lo = mid + 1 else if (v > slot) hi = mid - 1
        else return cntAt(p, mid)
      }
      0L
    }

    /** Point-frequency estimate of `x`: min over its `d` counters. Always
      * ≥ the true count of x in the ingested rows; 0 ⟺ provably absent. */
    def freqOf(p: Array[Byte], x: Long): Long = {
      val slots = slotsOf(x)
      var m = Long.MaxValue
      var i = 0
      while (i < d) {
        val c = countAt(p, slots(i))
        if (c < m) m = c
        i += 1
      }
      if (m == Long.MaxValue) 0L else m
    }

    /** Rows ingested: row 0's counters each saw every row exactly once. */
    def totalCount(p: Array[Byte]): Long = {
      var t = 0L
      var k = 0
      val n = pairs(p)
      while (k < n && idxAt(p, k) < w) { t = Math.addExact(t, cntAt(p, k)); k += 1 }
      t
    }
  }

  /** Mergeable heavy-hitter summary: candidate keys with LOWER-bound
    * counts, plus one `slack` upper-bound term — any key's true count in
    * the covered rows lies in [lowerOf(key), lowerOf(key) + slack], where
    * lowerOf(absent) = 0. Arrays sorted by key (canonical form; combine
    * is a sorted merge). */
  final case class TopKSummary(keys: Array[Long], lowers: Array[Long], slack: Long) {
    def lowerOf(key: Long): Long = {
      val i = java.util.Arrays.binarySearch(keys, key)
      if (i >= 0) lowers(i) else 0L
    }
    /** Structural equality (case classes compare arrays by reference). */
    override def equals(o: Any): Boolean = o match {
      case t: TopKSummary => slack == t.slack &&
        java.util.Arrays.equals(keys, t.keys) && java.util.Arrays.equals(lowers, t.lowers)
      case _ => false
    }
    override def hashCode: Int =
      (java.util.Arrays.hashCode(keys) * 31 + java.util.Arrays.hashCode(lowers)) * 31 +
        slack.hashCode
  }

  /** Temporal heavy hitters ("top-k users by activity in ANY time range"):
    * per-slot candidate summaries whose ingest combine is an EXACT
    * order-free pointwise sum — the size bound applies only at the
    * deterministic [[WheelAggregator.compact]] points (slot freeze, level
    * rollup), where the summary keeps its top-`cap` keys by count and
    * folds the largest dropped count into `slack` (the classic mergeable-
    * summaries bound, Agarwal et al.: dropping key k with lower L proves
    * every absent key's true count ≤ L + previous slack). A range read
    * sums slot summaries; [[topK]] then CERTIFIES the exact top-k — keys
    * AND counts — whenever the accumulated slack is zero (every slot in
    * range held ≤ cap distinct keys, the common sparse-slot case) and
    * returns bounds otherwise. Memory ∝ min(cap, distinct keys) per
    * active slot. */
  final class TopTalkers(val cap: Int = 64) extends WheelAggregator[Long, TopKSummary, TopKSummary] {
    require(cap >= 1 && cap <= 4096, s"top-k cap must be in [1, 4096], got $cap")

    val identity: TopKSummary = TopKSummary(Array.emptyLongArray, Array.emptyLongArray, 0L)
    def lift(k: Long): TopKSummary = TopKSummary(Array(k), Array(1L), 0L)

    /** Sorted-by-key merge; counts add exactly, slack adds exactly. The
      * identity short-circuits return a COPY, not the argument: the
      * snapshot idiom `combine(identity, p)` ([[TypedRwWheel]] freeze) is
      * documented as yielding a FRESH value that never aliases live state
      * regardless of what `accumulate` does, and returning `b` by
      * reference would silently break that contract for any future
      * mutating `accumulate` (round-10 advice). */
    def combine(a: TopKSummary, b: TopKSummary): TopKSummary = {
      if (a.keys.isEmpty && a.slack == 0L) return TopKSummary(b.keys.clone(), b.lowers.clone(), b.slack)
      if (b.keys.isEmpty && b.slack == 0L) return TopKSummary(a.keys.clone(), a.lowers.clone(), a.slack)
      val ks = new Array[Long](a.keys.length + b.keys.length)
      val ls = new Array[Long](ks.length)
      var i = 0; var j = 0; var n = 0
      while (i < a.keys.length || j < b.keys.length) {
        if (j >= b.keys.length || (i < a.keys.length && a.keys(i) < b.keys(j))) {
          ks(n) = a.keys(i); ls(n) = a.lowers(i); i += 1
        } else if (i >= a.keys.length || b.keys(j) < a.keys(i)) {
          ks(n) = b.keys(j); ls(n) = b.lowers(j); j += 1
        } else {
          ks(n) = a.keys(i); ls(n) = Math.addExact(a.lowers(i), b.lowers(j)); i += 1; j += 1
        }
        n += 1
      }
      TopKSummary(java.util.Arrays.copyOf(ks, n), java.util.Arrays.copyOf(ls, n),
        Math.addExact(a.slack, b.slack))
    }

    /** Keep the top-`cap` keys by (count desc, key asc); the largest
      * dropped count extends the slack. Deterministic — called only at
      * freeze/rollup points. */
    override def compact(p: TopKSummary): TopKSummary = {
      if (p.keys.length <= cap) return p
      val idx = Array.range(0, p.keys.length)
        .sortBy(i => (-p.lowers(i), p.keys(i)))
      val maxDropped = p.lowers(idx(cap)) // largest dropped (sorted desc)
      // indices sorted ascending = original array order = key order
      val kept = idx.take(cap).sorted
      val ks = kept.map(p.keys)
      val ls = kept.map(p.lowers)
      TopKSummary(ks, ls, Math.addExact(p.slack, maxDropped))
    }

    /** Coarse rollup slots stay EXACT — uncompacted, slack unchanged —
      * while they fit this many candidate entries; beyond it they compact
      * to `cap` like a frozen second slot. This is what makes the
      * certified range read SUBLINEAR: [[TypedHawWheel.combineRangeDescend]]
      * reads a week range as a handful of exact day/hour slots instead of
      * folding every active second, descending only where a slot
      * overflowed. Memory stays bounded: level L's total entries never
      * exceed the finest level's (a rollup key appears once where its
      * children appeared ≥ once), so the whole hierarchy costs at most
      * `Spans.length ×` the per-second summaries — and any single slot at
      * most 16 B × coarseBudget ≈ 512 KiB before compaction engages. */
    val coarseBudget: Int = math.max(cap, 1 << 15)
    override def compactAtSpan(span: Long, p: TopKSummary): TopKSummary =
      if (p.keys.length <= coarseBudget) p else compact(p)

    def lower(p: TopKSummary): TopKSummary = p

    /** Exact top-k CERTIFICATION: Some(keys with exact counts, count desc /
      * key asc, up to k entries) iff the summary's slack is zero — then
      * every stored count is exact and absent keys are provably zero.
      * None = not certifiable from this summary (fall back to the scan). */
    def topK(p: TopKSummary, k: Int): Option[Seq[(Long, Long)]] =
      if (p.slack != 0L) None
      else Some(topIndices(p, k).map(i => (p.keys(i), p.lowers(i))).toSeq)

    /** Approximate reading: top candidates with [lower, upper] bounds,
      * upper = lower + slack; always available. */
    def topKBounds(p: TopKSummary, k: Int): Seq[(Long, Long, Long)] =
      topIndices(p, k)
        .map(i => (p.keys(i), p.lowers(i), Math.addExact(p.lowers(i), p.slack)))
        .toSeq

    /** Indices of the k largest entries by (count desc, key asc) — a
      * primitive bounded-insertion selection, O(n·k) with tiny constants.
      * The boxed `indices.sortBy(tuple)` it replaces allocated a tuple per
      * SUMMARY entry to pick a handful of winners: at 1.5k keys / k=5 that
      * full sort was ~2/3 of the whole plan-time topK() latency. Falls back
      * to the full sort once k stops being small relative to n (LIMITs in
      * the hundreds against small summaries), where O(n·k) loses. */
    private def topIndices(p: TopKSummary, k: Int): Array[Int] = {
      val n = p.keys.length
      val kk = math.min(math.max(k, 0), n)
      if (kk == 0) return Array.emptyIntArray
      if (kk.toLong * 16 >= n) // selection degenerates toward O(n²); sort instead
        return p.keys.indices.sortBy(i => (-p.lowers(i), p.keys(i))).take(kk).toArray
      // beats(a, b): entry a ranks strictly above entry b
      @inline def beats(a: Int, b: Int): Boolean =
        p.lowers(a) > p.lowers(b) || (p.lowers(a) == p.lowers(b) && p.keys(a) < p.keys(b))
      val top = new Array[Int](kk) // sorted best-first
      var size = 0
      var i = 0
      while (i < n) {
        if (size < kk || beats(i, top(size - 1))) {
          var j = math.min(size, kk - 1)
          while (j > 0 && beats(i, top(j - 1))) { top(j) = top(j - 1); j -= 1 }
          top(j) = i
          if (size < kk) size += 1
        }
        i += 1
      }
      top
    }

    override val partialSerde: Option[(TopKSummary => Array[Byte], Array[Byte] => TopKSummary)] =
      Some((
        (p: TopKSummary) => {
          val bb = java.nio.ByteBuffer.allocate(4 + 8 + 16 * p.keys.length)
          bb.putInt(p.keys.length).putLong(p.slack)
          var i = 0
          while (i < p.keys.length) { bb.putLong(p.keys(i)).putLong(p.lowers(i)); i += 1 }
          bb.array()
        },
        (b: Array[Byte]) => {
          val bb = java.nio.ByteBuffer.wrap(b)
          val n = bb.getInt
          val slack = bb.getLong
          val ks = new Array[Long](n)
          val ls = new Array[Long](n)
          var i = 0
          while (i < n) { ks(i) = bb.getLong; ls(i) = bb.getLong; i += 1 }
          TopKSummary(ks, ls, slack)
        }))
  }

  /** `v`'s minimal two's-complement bytes (BigInteger.toByteArray), built
    * WITHOUT `v.bigInteger` when `v` fits a Long: in Scala 2.13 that call
    * caches a BigInteger inside a long-backed BigInt, so encoding a live
    * partial would grow it (the cached object then rides along in every
    * Java-serialized copy of the wheel). */
  private def bigIntBytes(v: BigInt): Array[Byte] =
    (if (v.isValidLong) java.math.BigInteger.valueOf(v.toLong) else v.bigInteger).toByteArray

  /** Reads one length-prefixed [[bigIntBytes]] value, long-backed when it
    * fits a Long, as arithmetic on fresh partials produces it. */
  private def readBigInt(in: java.nio.ByteBuffer): BigInt = {
    val b = new Array[Byte](in.getInt()); in.get(b)
    val v = new java.math.BigInteger(b)
    if (v.bitLength <= 63) BigInt(v.longValue) else BigInt(v)
  }

  final case class Moments(n: Long, sx: BigInt, sxx: BigInt)

  final class MomentStats(val scale: Int) extends WheelAggregator[Long, Moments, Moments] {
    require(scale >= 0 && scale <= 9, s"moment scale must be in [0, 9], got $scale")
    override val partialSerde: Option[(Moments => Array[Byte], Array[Byte] => Moments)] =
      Some((encode _, decode _))

    val identity: Moments = Moments(0L, BigInt(0), BigInt(0))
    def lift(u: Long): Moments = { val b = BigInt(u); Moments(1L, b, b * b) }
    def combine(a: Moments, b: Moments): Moments =
      Moments(Math.addExact(a.n, b.n), a.sx + b.sx, a.sxx + b.sxx)
    override def inverse: Option[(Moments, Moments) => Moments] =
      Some((ab, a) => Moments(ab.n - a.n, ab.sx - a.sx, ab.sxx - a.sxx))
    def lower(p: Moments): Moments = p

    /** 10^(2·scale), exact as a double (10^k is exactly representable up
      * to 10^22; 2·scale ≤ 18). */
    private val scaleSq: Double = math.pow(10d, 2 * scale)

    /** The deterministic stat of a partial; None on the SQL-null cases
      * (n = 0 for every stat; n = 1 for the sample forms, matching
      * `var_samp`'s NULL convention). */
    def statOf(p: Moments, stat: String): Option[Double] = {
      if (p.n == 0L) return None
      val num = BigInt(p.n) * p.sxx - p.sx * p.sx
      def of(den: Long): Double =
        num.doubleValue / den.toDouble / scaleSq // two IEEE divisions, fixed order
      stat match {
        case "var_pop"     => Some(of(Math.multiplyExact(p.n, p.n)))
        case "stddev_pop"  => Some(math.sqrt(of(Math.multiplyExact(p.n, p.n))))
        case "var_samp"    =>
          if (p.n < 2L) None else Some(of(Math.multiplyExact(p.n, p.n - 1L)))
        case "stddev_samp" =>
          if (p.n < 2L) None else Some(math.sqrt(of(Math.multiplyExact(p.n, p.n - 1L))))
        case other => throw new IllegalArgumentException(s"unknown moment stat: $other")
      }
    }

    // ---- canonical encoding: [n: 8B BE] [len sx: 4B BE] [sx bytes]
    // [len sxx: 4B BE] [sxx bytes], each BigInt as java.math.BigInteger's
    // minimal two's-complement form (canonical: equal values → equal bytes)
    def encode(p: Moments): Array[Byte] = {
      val a = bigIntBytes(p.sx)
      val b = bigIntBytes(p.sxx)
      val out = java.nio.ByteBuffer.allocate(8 + 4 + a.length + 4 + b.length)
      out.putLong(p.n).putInt(a.length).put(a).putInt(b.length).put(b)
      out.array()
    }

    def decode(bytes: Array[Byte]): Moments = {
      val in = java.nio.ByteBuffer.wrap(bytes)
      Moments(in.getLong(), readBigInt(in), readBigInt(in))
    }
  }

  /** Exact CO-moments of a column PAIR — (n, Σx, Σy, Σx², Σy², Σxy) as
    * exact integers at per-column fixed-point scales — the wheel behind
    * `wheel_covar_samp` / `wheel_covar_pop` / `wheel_corr`
    * ([[graft.functions.CoMomentStatsAgg]]): temporal covariance and
    * correlation ("did quantity and price move together last quarter?")
    * answered at plan time. Row discipline matches SQL binary aggregates:
    * a row contributes only when BOTH values are non-NULL. Additive and
    * invertible like [[MomentStats]], so the frozen wheel is O(1) via its
    * prefix array.
    *
    * `corr` needs no scale factor at all: Σxy carries scale sx+sy and the
    * sqrt-product denominator carries the same, so the fixed-point scales
    * cancel identically — finalization is one correctly-rounded double per
    * integer term and a fixed IEEE expression, expressible verbatim in
    * oracle SQL. */
  final case class CoMoments(n: Long, sx: BigInt, sy: BigInt,
                             sxx: BigInt, syy: BigInt, sxy: BigInt)

  final class CoMomentStats(val scaleX: Int, val scaleY: Int)
    extends WheelAggregator[(Long, Long), CoMoments, CoMoments] {
    require(scaleX >= 0 && scaleX <= 9, s"co-moment scaleX must be in [0, 9], got $scaleX")
    require(scaleY >= 0 && scaleY <= 9, s"co-moment scaleY must be in [0, 9], got $scaleY")
    override val partialSerde: Option[(CoMoments => Array[Byte], Array[Byte] => CoMoments)] =
      Some((encode _, decode _))

    val identity: CoMoments =
      CoMoments(0L, BigInt(0), BigInt(0), BigInt(0), BigInt(0), BigInt(0))
    def lift(in: (Long, Long)): CoMoments = {
      val x = BigInt(in._1); val y = BigInt(in._2)
      CoMoments(1L, x, y, x * x, y * y, x * y)
    }
    def combine(a: CoMoments, b: CoMoments): CoMoments =
      CoMoments(Math.addExact(a.n, b.n), a.sx + b.sx, a.sy + b.sy,
        a.sxx + b.sxx, a.syy + b.syy, a.sxy + b.sxy)
    override def inverse: Option[(CoMoments, CoMoments) => CoMoments] =
      Some((ab, a) => CoMoments(ab.n - a.n, ab.sx - a.sx, ab.sy - a.sy,
        ab.sxx - a.sxx, ab.syy - a.syy, ab.sxy - a.sxy))
    def lower(p: CoMoments): CoMoments = p

    /** 10^(scaleX+scaleY), exact as a double (≤ 10^18). */
    private val scaleXY: Double = math.pow(10d, scaleX + scaleY)

    /** The deterministic stat; None on the SQL-null cases (n = 0; n = 1
      * for the sample form; zero variance in either column for corr). */
    def statOf(p: CoMoments, stat: String): Option[Double] = {
      if (p.n == 0L) return None
      val nB = BigInt(p.n)
      val numXY = nB * p.sxy - p.sx * p.sy
      stat match {
        case "covar_pop" =>
          Some(numXY.doubleValue / Math.multiplyExact(p.n, p.n).toDouble / scaleXY)
        case "covar_samp" =>
          if (p.n < 2L) None
          else Some(numXY.doubleValue / Math.multiplyExact(p.n, p.n - 1L).toDouble / scaleXY)
        case "corr" =>
          val numXX = nB * p.sxx - p.sx * p.sx
          val numYY = nB * p.syy - p.sy * p.sy
          if (p.n < 2L || numXX.signum == 0 || numYY.signum == 0) None
          else Some(numXY.doubleValue /
            math.sqrt(numXX.doubleValue * numYY.doubleValue)) // scales cancel
        case other => throw new IllegalArgumentException(s"unknown co-moment stat: $other")
      }
    }

    // canonical encoding: [n: 8B BE] then 5 length-prefixed BigInts in
    // field order (minimal two's-complement — equal values, equal bytes)
    def encode(p: CoMoments): Array[Byte] = {
      val parts = Seq(p.sx, p.sy, p.sxx, p.syy, p.sxy).map(bigIntBytes)
      val out = java.nio.ByteBuffer.allocate(8 + parts.map(4 + _.length).sum)
      out.putLong(p.n)
      parts.foreach(b => { out.putInt(b.length); out.put(b) })
      out.array()
    }

    def decode(bytes: Array[Byte]): CoMoments = {
      val in = java.nio.ByteBuffer.wrap(bytes)
      CoMoments(in.getLong(), readBigInt(in), readBigInt(in), readBigInt(in),
        readBigInt(in), readBigInt(in))
    }
  }
}

/** Block storage for level partials: raw array, or codec-encoded 128-slot
  * blocks decoded on access (bounded work per read — a range lookup touches
  * a handful of slots). */
private[wheel] final class SlotStore[P: ClassTag](
    raw: Array[P], codec: Option[SlotCodec[P]]) extends Serializable {
  private val BlockSize = 128
  private val blocks: Array[Array[Byte]] = codec match {
    case Some(c) =>
      Array.tabulate((raw.length + BlockSize - 1) / BlockSize) { bi =>
        c.encode(raw.slice(bi * BlockSize, math.min(raw.length, (bi + 1) * BlockSize)))
      }
    case None => null
  }
  private val rawKeep: Array[P] = if (blocks == null) raw else null

  // one-block memo: range decompositions touch runs of consecutive slots,
  // so without it the same block would be re-decoded once per slot. A single
  // volatile (blockIdx, decoded) pair, read once into a local: frozen wheels
  // are read concurrently, and a torn two-field memo could pair one reader's
  // index with another's array (round-3 advice). Racing writers at worst
  // publish either pair — both internally consistent.
  @transient @volatile private var memo: (Int, Array[P]) = _

  def apply(i: Int): P =
    if (rawKeep != null) rawKeep(i)
    else {
      val bi = i / BlockSize
      val m = memo
      val decoded =
        if (m != null && m._1 == bi) m._2
        else {
          val d = codec.get.decode(blocks(bi))
          memo = (bi, d)
          d
        }
      decoded(i % BlockSize)
    }

  /** Stored payload bytes. Raw path assumes primitive 8-byte slots — an
    * ESTIMATE that understates boxed/tuple partials; encoded path is the
    * true byte count. Compare like against like. */
  def storedBytes: Long =
    if (rawKeep != null) rawKeep.length.toLong * 8
    else blocks.iterator.map(_.length.toLong).sum
}

/** Typed ingest wheel for a custom [[WheelAggregator]].
  *
  * Serialization is COMPACT when the aggregator provides a
  * [[WheelAggregator.partialSerde]]: slots are written as raw
  * (long, length-prefixed bytes) runs into the stream — one Java object
  * per WHEEL, not one per slot. The distributed build tree-merges these
  * wheels across executors; at 100k active seconds × a dozen sketch
  * wheels, per-slot ObjectOutputStream handle-table work was the events
  * build's largest executor cost (round-9 task 3). */
final class TypedRwWheel[In, P, Out] private ()
    extends Serializable with com.esotericsoftware.kryo.KryoSerializable {

  // `agg` is a private var behind an accessor (not a constructor val):
  // Kryo instantiates WITHOUT a constructor, so KryoSerializable.read
  // must restore every field — a final field can't be assigned there.
  private var aggF: WheelAggregator[In, P, Out] = null

  def this(agg: WheelAggregator[In, P, Out]) = {
    this()
    aggF = agg
  }

  def agg: WheelAggregator[In, P, Out] = aggF

  @transient private var slots = mutable.LongMap.empty[P]
  private var watermarkMs: Long = Long.MinValue

  private def writeObject(out: java.io.ObjectOutputStream): Unit = {
    out.defaultWriteObject()
    out.writeInt(slots.size)
    agg.partialSerde match {
      case Some((enc, _)) =>
        out.writeBoolean(true)
        slots.foreach { case (s, p) =>
          out.writeLong(s)
          val b = enc(p)
          out.writeInt(b.length)
          out.write(b)
        }
      case None =>
        out.writeBoolean(false)
        slots.foreach { case (s, p) => out.writeLong(s); out.writeObject(p) }
    }
  }

  private def readObject(in: java.io.ObjectInputStream): Unit = {
    in.defaultReadObject()
    slots = mutable.LongMap.empty[P]
    val n = in.readInt()
    val compact = in.readBoolean()
    val dec = agg.partialSerde.map(_._2)
    var i = 0
    while (i < n) {
      val s = in.readLong()
      val p =
        if (compact) {
          val b = new Array[Byte](in.readInt())
          in.readFully(b)
          dec.get(b)
        } else in.readObject().asInstanceOf[P]
      slots.update(s, p)
      i += 1
    }
  }

  // Kryo twin of the Java hooks (Kryo's FieldSerializer would neither call
  // them nor ship @transient fields, silently emptying every wheel under
  // spark.serializer=KryoSerializer — round-10 review finding). The
  // aggregator itself round-trips through writeClassAndObject; partials go
  // through the same compact byte serde when the aggregator provides one.
  override def write(kryo: com.esotericsoftware.kryo.Kryo,
      out: com.esotericsoftware.kryo.io.Output): Unit = {
    kryo.writeClassAndObject(out, aggF)
    out.writeLong(watermarkMs)
    out.writeInt(slots.size)
    agg.partialSerde match {
      case Some((enc, _)) =>
        out.writeBoolean(true)
        slots.foreach { case (s, p) =>
          out.writeLong(s)
          val b = enc(p)
          out.writeInt(b.length)
          out.write(b, 0, b.length)
        }
      case None =>
        out.writeBoolean(false)
        slots.foreach { case (s, p) =>
          out.writeLong(s)
          kryo.writeClassAndObject(out, p)
        }
    }
  }

  override def read(kryo: com.esotericsoftware.kryo.Kryo,
      in: com.esotericsoftware.kryo.io.Input): Unit = {
    aggF = kryo.readClassAndObject(in).asInstanceOf[WheelAggregator[In, P, Out]]
    watermarkMs = in.readLong()
    slots = mutable.LongMap.empty[P]
    val n = in.readInt()
    val compact = in.readBoolean()
    val dec = aggF.partialSerde.map(_._2)
    var i = 0
    while (i < n) {
      val s = in.readLong()
      val p =
        if (compact) {
          val b = in.readBytes(in.readInt())
          dec.get(b)
        } else kryo.readClassAndObject(in).asInstanceOf[P]
      slots.update(s, p)
      i += 1
    }
  }

  def watermark: Long = watermarkMs

  def insert(tsMs: Long, in: In): Unit = {
    require(tsMs >= watermarkMs, s"insert at $tsMs behind watermark $watermarkMs")
    mergeLift(Math.floorDiv(tsMs, 1000L), in)
  }

  /** Order-free bulk ingest (the distributed-build path: executor partitions
    * arrive unsorted and lateness is not a concept at build time, so no
    * watermark check). Goes through [[WheelAggregator.accumulate]] — the
    * slot partial is accumulation state this wheel owns, so mutating
    * aggregators (sketches) ingest allocation-free. */
  def mergeLift(sec: Long, in: In): Unit =
    slots.updateWith(sec) {
      case Some(p) => Some(agg.accumulate(p, in))
      case None    => Some(agg.lift(in))
    }

  def advanceTo(tsMs: Long): Unit = if (tsMs > watermarkMs) watermarkMs = tsMs

  /** Merges one pre-combined partial into a slot (the fused-build fast
    * path: the build's per-slot fold already combined the slot's rows
    * into `p`).
    * Adopts `p` by reference — the caller must not mutate it afterwards. */
  def mergePartial(sec: Long, p: P): Unit =
    slots.updateWith(sec) {
      case Some(q) => Some(agg.combine(q, p))
      case None    => Some(p)
    }

  /** Merges `other` into this wheel, CONSUMING it: absent-slot partials are
    * adopted by reference, so `other` must not be ingested into afterwards
    * (both the tree-merge and the streaming per-batch merge discard it). */
  def merge(other: TypedRwWheel[In, P, Out]): this.type = {
    other.slots.foreach { case (sec, p) =>
      slots.updateWith(sec) {
        case Some(q) => Some(agg.combine(q, p))
        case None    => Some(p)
      }
    }
    if (other.watermarkMs > watermarkMs) watermarkMs = other.watermarkMs
    this
  }

  /** Freeze-time snapshot copies each partial via `combine(identity, _)`
    * (a no-op by the identity law, but a FRESH value), so the frozen wheel
    * never aliases this wheel's live accumulation state — ingest may
    * continue, and mutating `accumulate` implementations stay safe. */
  def freeze()(implicit ct: ClassTag[P]): TypedHawWheel[P, Out] = {
    // LongMap keys are unique: sort them primitively and look partials up
    // in key order — no boxed-tuple sort, no dedupe pass (the generic
    // fromSecondPartials path paid both, ~0.7 s across the bench's 14
    // typed wheels at freeze time)
    val ks = new Array[Long](slots.size)
    var i = 0
    slots.foreachKey { k => ks(i) = k; i += 1 }
    java.util.Arrays.sort(ks)
    val parts = new Array[P](ks.length)
    i = 0
    while (i < ks.length) {
      parts(i) = agg.compact(agg.combine(agg.identity, slots(ks(i))))
      i += 1
    }
    TypedHawWheel.fromSortedUnique(ks, parts, agg)
  }
}

object TypedHawWheel {
  /** Java-serialization stand-in for a [[TypedHawWheel]], swapped in by its
    * `writeReplace` and back out by `readResolve`. The wheel's fields stay
    * final and Kryo-visible; only Java streams (index files, stream
    * snapshots, task closures) take this route. Per-slot objects made
    * saving an index cost ~100k handle-table entries per sketch, moment
    * or top-k wheel; this form writes each wheel as one run. A wheel
    * referenced twice in a stream still loads as one object: the stream
    * maps both references to the one replacement. */
  @SerialVersionUID(1L)
  private final class Compact[P, Out](@transient private var w: TypedHawWheel[P, Out])
      extends Serializable {
    private def writeObject(out: java.io.ObjectOutputStream): Unit = w.writeCompact(out)
    private def readObject(in: java.io.ObjectInputStream): Unit = w = readCompact(in)
    private def readResolve(): AnyRef = w
  }

  private def readCompact[P, Out](in: java.io.ObjectInputStream): TypedHawWheel[P, Out] = {
    val agg = in.readObject().asInstanceOf[WheelAggregator[_, P, Out]]
    implicit val ct: ClassTag[P] = in.readObject().asInstanceOf[ClassTag[P]]
    val startSec = in.readLong()
    val endSec = in.readLong()
    val secs = in.readObject().asInstanceOf[Array[Long]]
    val parts =
      if (in.readBoolean()) {
        val dec = agg.partialSerde.get._2
        val a = new Array[P](secs.length)
        var i = 0
        while (i < a.length) {
          val b = new Array[Byte](in.readInt())
          in.readFully(b)
          a(i) = dec(b)
          i += 1
        }
        a
      } else in.readObject().asInstanceOf[Array[P]]
    new TypedHawWheel[P, Out](agg, startSec, endSec, secs, parts)
  }

  /** Freeze fast path: `secs` sorted ascending with unique keys, `parts`
    * aligned — adopted by reference (callers pass freshly built arrays). */
  private[wheel] def fromSortedUnique[In, P: ClassTag, Out](
      secs: Array[Long], parts: Array[P],
      agg: WheelAggregator[In, P, Out]): TypedHawWheel[P, Out] =
    if (secs.isEmpty)
      new TypedHawWheel[P, Out](agg.asInstanceOf[WheelAggregator[_, P, Out]],
        0L, 0L, Array.emptyLongArray, Array.empty[P])
    else
      new TypedHawWheel[P, Out](agg.asInstanceOf[WheelAggregator[_, P, Out]],
        secs(0), secs(secs.length - 1) + 1, secs, parts)

  def fromSecondPartials[In, P: ClassTag, Out](
      partials: Iterator[(Long, P)],
      agg: WheelAggregator[In, P, Out]): TypedHawWheel[P, Out] = {
    val buf = partials.toArray.sortBy(_._1)
    if (buf.isEmpty)
      return new TypedHawWheel[P, Out](agg.asInstanceOf[WheelAggregator[_, P, Out]],
        0L, 0L, Array.emptyLongArray, Array.empty[P])
    // merge duplicate seconds in place
    var n = 0
    var i = 0
    while (i < buf.length) {
      if (n > 0 && buf(n - 1)._1 == buf(i)._1)
        buf(n - 1) = (buf(n - 1)._1, agg.combine(buf(n - 1)._2, buf(i)._2))
      else { buf(n) = buf(i); n += 1 }
      i += 1
    }
    val secs = new Array[Long](n)
    val parts = new Array[P](n)
    i = 0
    while (i < n) { secs(i) = buf(i)._1; parts(i) = agg.compact(buf(i)._2); i += 1 }
    new TypedHawWheel[P, Out](agg.asInstanceOf[WheelAggregator[_, P, Out]],
      secs(0), secs(n - 1) + 1, secs, parts)
  }
}

/** Immutable typed HAW — SPARSE like [[HawWheel]] (dense per-second arrays
  * over a multi-year span are gigabytes regardless of row count): sorted
  * distinct-second partials with a prefix array when the aggregator is
  * invertible (O(log n) any-range), sparse granularity levels with greedy
  * decomposition otherwise.
  *
  * Java serialization writes the COMPACT form (`TypedHawWheel.Compact`):
  * one object per wheel, not one per active second. UID 2 marks that
  * format; a stream from an earlier build carries this class under its
  * old shape-computed UID and fails with `InvalidClassException`, which
  * [[graft.index.WheelIndexIO.load]] reports as a stale index format.
  * Kryo ignores the Java hooks and ships the fields as they are. */
@SerialVersionUID(2L)
final class TypedHawWheel[P: ClassTag, Out] private[wheel] (
    agg: WheelAggregator[_, P, Out],
    val startSec: Long,
    val endSec: Long, // last data second + 1
    secs: Array[Long],
    parts: Array[P]) extends Serializable {
  import HawWheel.{Spans, alignDown}

  /** Number of DISTINCT seconds with data. */
  val numSecs: Int = secs.length

  private def writeReplace(): AnyRef = new TypedHawWheel.Compact(this)

  /** The `TypedHawWheel.Compact` payload: `secs` as one primitive run,
    * then `parts` as length-prefixed bytes through the aggregator's
    * [[WheelAggregator.partialSerde]], or as the object array without one.
    * Encoding reads the partials only; it must not change them. */
  private[wheel] def writeCompact(out: java.io.ObjectOutputStream): Unit = {
    out.writeObject(agg)
    out.writeObject(implicitly[ClassTag[P]])
    out.writeLong(startSec)
    out.writeLong(endSec)
    out.writeObject(secs)
    agg.partialSerde match {
      case Some((enc, _)) =>
        out.writeBoolean(true)
        var i = 0
        while (i < parts.length) {
          val b = enc(parts(i))
          out.writeInt(b.length)
          out.write(b)
          i += 1
        }
      case None =>
        out.writeBoolean(false)
        out.writeObject(parts)
    }
  }

  private def lowerBound(arr: Array[Long], x: Long): Int = {
    val r = java.util.Arrays.binarySearch(arr, x)
    if (r >= 0) r else -(r + 1)
  }

  // Prefix/levels are LAZY and transient (round-9 task 3): freezing a
  // dozen sketch wheels per table eagerly rolled up 5 granularity levels
  // each — millions of combine() allocations on the driver before any
  // query asked for them. First use pays the one-time rollup instead;
  // persisted/shipped wheels carry only the per-second partials and
  // rebuild on access, exactly like HawWheel's transient prefixes.
  @transient private lazy val prefix: Option[Array[P]] = agg.inverse.map { _ =>
    val p = new Array[P](numSecs + 1)
    p(0) = agg.identity
    var i = 0
    while (i < numSecs) { p(i + 1) = agg.combine(p(i), parts(i)); i += 1 }
    p
  }

  // sparse granularity levels for the non-invertible path: per level, sorted
  // aligned slot starts + combined partials (only slots containing data),
  // partials behind a SlotStore — codec-compressed blocks when the
  // aggregator provides a SlotCodec, raw arrays otherwise
  @transient private lazy val levels: Array[(Long, Array[Long], SlotStore[P])] =
    if (numSecs == 0 || prefix.isDefined) Array.empty
    else {
      val out = Array.newBuilder[(Long, Array[Long], SlotStore[P])]
      def store(a: Array[P]) = new SlotStore[P](a, agg.slotCodec)
      var child: (Long, Array[Long], Array[P]) = (1L, secs, parts)
      out += ((1L, secs, store(parts)))
      var li = 1
      while (li < Spans.length) {
        val span = Spans(li)
        val (_, cStarts, cParts) = child
        val starts = Array.newBuilder[Long]
        val slots = Array.newBuilder[P]
        var ci = 0
        var curStart = Long.MinValue
        var cur = agg.identity
        while (ci < cStarts.length) {
          val slot = alignDown(cStarts(ci), span)
          if (slot != curStart) {
            if (curStart != Long.MinValue) {
              starts += curStart; slots += agg.compactAtSpan(span, cur)
            }
            curStart = slot; cur = cParts(ci)
          } else cur = agg.combine(cur, cParts(ci))
          ci += 1
        }
        if (curStart != Long.MinValue) {
          starts += curStart; slots += agg.compactAtSpan(span, cur)
        }
        child = (span, starts.result(), slots.result())
        out += ((span, child._2, store(child._3)))
        li += 1
      }
      out.result()
    }

  /** Stored partial-payload bytes across levels (prefix path: raw prefix).
    * Raw/prefix figures assume primitive 8-byte slots — an estimate that
    * understates boxed partials like DoubleAvg's (sum, count) pairs; only
    * codec-encoded figures are exact byte counts. */
  def partialStoreBytes: Long =
    prefix.map(_.length.toLong * 8)
      .getOrElse(levels.iterator.map(_._3.storedBytes).sum)

  /** Measured payload bytes: byte-array partials (sketches) count their
    * REAL stored lengths across every level — with the canonical sparse
    * HLL representation this is the honest figure, where a 2^p-per-slot
    * estimate overstates sparse slots by orders of magnitude. Other
    * partial kinds fall back to the 8-byte estimate of
    * [[partialStoreBytes]]. Slot-start longs included. */
  def measuredBytes: Long = {
    def sz(x: Any): Long = x match {
      case a: Array[Byte] => a.length.toLong + 16 // array object header
      case t: WheelAggregators.TopKSummary => 48L + 16L * t.keys.length
      case _              => 8L
    }
    prefix.map(pre => numSecs * 8L + pre.iterator.map(sz).sum)
      .getOrElse(levels.iterator.map { case (_, starts, st) =>
        starts.length * 8L + starts.indices.iterator.map(i => sz(st(i))).sum
      }.sum)
  }

  /** The wheel's per-second partials in slot order — the
    * [[TypedHawWheel.fromSecondPartials]] input shape, so
    * `fromSecondPartials(a.slotPartials ++ b.slotPartials, agg)` is the
    * merge of two frozen typed wheels (incremental index maintenance).
    * Partials are shared BY REFERENCE: sound because frozen wheels are
    * immutable and `combine` never mutates its arguments. */
  private[graft] def slotPartials: Iterator[(Long, P)] =
    secs.iterator.zip(parts.iterator)

  /** `TypedHawWheel.fromSecondPartials(slotPartials ++
    * delta.slotPartials, into)` built by concatenation when `delta` starts
    * at or after this wheel's last second: this wheel's partials are kept
    * by reference (frozen partials are already compact, and `compact` is
    * idempotent), a shared boundary second is combined and compacted, and
    * nothing is sorted. The result holds `into`, as the merge's result
    * does. None for late or overlapping data or an empty wheel, where the
    * merge is needed instead. */
  private[graft] def appended[In](delta: TypedHawWheel[P, Out],
      into: WheelAggregator[In, P, Out]): Option[TypedHawWheel[P, Out]] = {
    if (numSecs == 0) return None
    if (delta.numSecs == 0) return Some(this)
    val dp = delta.slotPartials.toArray
    if (dp(0)._1 < secs(numSecs - 1)) return None
    val shared = if (dp(0)._1 == secs(numSecs - 1)) 1 else 0
    val n = numSecs + dp.length - shared
    val s2 = java.util.Arrays.copyOf(secs, n)
    val p2 = new Array[P](n)
    System.arraycopy(parts, 0, p2, 0, numSecs)
    var k = 0
    var i = numSecs - shared
    while (k < dp.length) {
      val (sec, p) = dp(k)
      s2(i) = sec
      p2(i) = into.compact(if (k == 0 && shared == 1) into.combine(parts(i), p) else p)
      k += 1
      i += 1
    }
    Some(new TypedHawWheel[P, Out](into.asInstanceOf[WheelAggregator[_, P, Out]],
      s2(0), s2(n - 1) + 1, s2, p2))
  }

  /** Combined partial over [s, e) seconds. */
  def combineRange(s: Long, e: Long): P = {
    val lo = math.max(s, startSec)
    val hi = math.min(e, endSec)
    if (numSecs == 0 || lo >= hi) return agg.identity
    prefix match {
      case Some(pre) =>
        agg.inverse.get(pre(lowerBound(secs, hi)), pre(lowerBound(secs, lo)))
      case None =>
        var acc = agg.identity
        var cur = lo
        while (cur < hi) {
          var li = Spans.length - 1
          while (li > 0 && !(alignDown(cur, Spans(li)) == cur && cur + Spans(li) <= hi)) li -= 1
          val (_, starts, store) = levels(li)
          val idx = java.util.Arrays.binarySearch(starts, cur)
          if (idx >= 0) acc = agg.combine(acc, store(idx))
          cur += Spans(li)
        }
        acc
    }
  }

  def range(s: Long, e: Long): Out = agg.lower(combineRange(s, e))
  def landmark: Out = agg.lower(combineRange(startSec, endSec))

  /** Combined partial over [s, e) reading the FINEST level only — a
    * left-to-right fold of the raw per-second slot partials, skipping the
    * rolled-up hierarchy. O(slots in range) instead of O(log), but for
    * error-accumulating aggregators ([[WheelAggregators.TopTalkers]]) the
    * per-second partials carry the TIGHTEST bound: every level rollup
    * compacts again and widens the slack, so a wide range read through
    * coarse levels could fail a certification the fine read passes. */
  def combineRangeSlots(s: Long, e: Long): P = {
    val lo = math.max(s, startSec)
    val hi = math.min(e, endSec)
    if (numSecs == 0 || lo >= hi) return agg.identity
    var i = lowerBound(secs, lo)
    val j = lowerBound(secs, hi)
    var acc = agg.identity
    while (i < j) { acc = agg.combine(acc, parts(i)); i += 1 }
    acc
  }

  /** Combined partial over [s, e) reading COARSE-FIRST with per-slot
    * descent: the greedy span decomposition of [[combineRange]], except a
    * selected coarse slot is accepted only when `usable(partial)` holds —
    * otherwise its SPAN is re-decomposed one level finer, recursively down
    * to the per-second slots (always accepted; there is nothing finer).
    *
    * For error-accumulating aggregators with `usable = (slack == 0)` this
    * returns a partial EQUAL to [[combineRangeSlots]]'s fine fold: a
    * rollup slot with zero slack is the exact pointwise sum of its
    * children (compaction never engaged), and a nonzero-slack slot is
    * replaced by its children's fold. Cost is O(usable coarse slots +
    * seconds under unusable ones) instead of O(active seconds in range) —
    * the sublinear certified read of [[WheelAggregators.TopTalkers]]
    * (round-10 verdict: the fine fold's 0.29 s linear sweep converged with
    * the scan at scale). */
  def combineRangeDescend(s: Long, e: Long)(usable: P => Boolean): P =
    combineRangeDescendBounded(s, e)(usable)(_ => true).get

  /** [[combineRangeDescend]] with a driver-latency guard: returns None the
    * moment the ACCUMULATED partial fails `accOk`. The heavy-hitter
    * optimizer arm bounds its plan-time fold with this — a slack-0 summary
    * over a wide range is the range's FULL key histogram, and at 100 TB
    * cardinalities an unbounded driver-side merge would stall planning for
    * seconds; past the budget the arm declines to the scan instead. */
  def combineRangeDescendBounded(s: Long, e: Long)(usable: P => Boolean)(
      accOk: P => Boolean): Option[P] = {
    var acc = agg.identity
    val ok = visitRangeDescend(s, e)(usable) { p =>
      acc = agg.combine(acc, p)
      accOk(acc)
    }
    if (ok) Some(acc) else None
  }

  /** The slot VISITOR underneath [[combineRangeDescendBounded]]: walks the
    * same coarse-first decomposition but hands each accepted partial to
    * `visit` instead of folding, so a caller with a cheaper bulk
    * accumulator than repeated `agg.combine` (e.g. the heavy-hitter read's
    * hash merge — the left fold re-copies the whole accumulated summary
    * per slot, O(slots × keys), and that copying was the raw-read p99.9
    * tail) can supply it. `visit` returns false to abort (budget overrun);
    * the walk then returns false. An empty/disjoint range visits nothing
    * and returns true. */
  def visitRangeDescend(s: Long, e: Long)(usable: P => Boolean)(
      visit: P => Boolean): Boolean = {
    val lo = math.max(s, startSec)
    val hi = math.min(e, endSec)
    if (numSecs == 0 || lo >= hi) return true
    if (prefix.isDefined) return visit(combineRange(lo, hi)) // invertible: exact O(1)
    def add(lo: Long, hi: Long, maxLi: Int): Boolean = {
      var cur = lo
      while (cur < hi) {
        var li = maxLi
        while (li > 0 && !(alignDown(cur, Spans(li)) == cur && cur + Spans(li) <= hi)) li -= 1
        val (span, starts, store) = levels(li)
        val idx = java.util.Arrays.binarySearch(starts, cur)
        if (idx >= 0) { // a miss proves the whole span holds no data
          val p = store(idx)
          if (li == 0 || usable(p)) {
            if (!visit(p)) return false
          } else if (!add(cur, cur + span, li - 1)) return false
        }
        cur += Spans(li)
      }
      true
    }
    add(lo, hi, Spans.length - 1)
  }
}
