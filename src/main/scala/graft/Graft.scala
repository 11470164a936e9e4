package graft

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

import graft.rules.UWheelRule

/** Session wiring. Two ways to enable the wheel optimizer, mirroring the
  * reference's `SessionStateBuilder::with_optimizer_rules` registration
  * (`/root/reference/examples/nyc_taxi/src/main.rs:70-75`) — except that we
  * *add* our rule to Spark's optimizer instead of replacing the rule set:
  *
  *  1. `spark.sql.extensions=graft.GraftExtensions` at session build, or
  *  2. `Graft.enable(spark)` on a live session (uses
  *     `spark.experimental.extraOptimizations`, which Spark applies as a
  *     post-hoc optimizer batch on every query).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectOptimizerRule(_ => UWheelRule)
    ext.injectOptimizerRule(_ => graft.rules.NanosTimePushdown)
    Graft.functions.foreach(ext.injectFunction)
  }
}

object Graft {
  /** Global kill-switch for the rewrite rule (used by Bench to time the
    * same queries with and without the index). */
  @volatile var rewritesEnabled: Boolean = true

  /** Plan-size budget (rows) shared by EVERY bucket-serving rewrite arm —
    * window(), date_trunc fixed-span/shifted, calendar, keyed grouped and
    * sketch grouped. A grouped rewrite materializes its answer as a
    * LocalRelation ON THE PLANNER THREAD, so the bucket count must be
    * bounded BEFORE any row is built: past this budget the arm declines to
    * the distributed scan, which streams the same answer (e.g. a
    * `GROUP BY date_trunc('second', ts)` over a multi-year dense corpus is
    * ~1e8 buckets — a driver stall/OOM as a LocalRelation, a plain shuffle
    * for the scan). Mutable for tests only; 2M rows ≈ tens of MB of plan,
    * comfortably under driver budgets while covering every realistic
    * dashboard grouping. */
  @volatile var planSizeBudget: Long = 2000000L

  /** Plan-time rewrite observability — the "is my query actually serving
    * from the index?" question, answerable in production without reading
    * `explain` output. Counters increment when an optimizer arm REWRITES
    * (not when it merely matches): `agg` = temporal aggregate / GROUP BY /
    * window shapes (incl. sketch functions), `prune` = zero-proof empty
    * relations, `topk` = certified heavy-hitter limits, `plans` =
    * OPTIMIZER PASSES with at least one rewrite applied — NOT distinct
    * user queries: a single query can be optimized more than once (explain
    * then execute, cached-plan re-optimization, subquery and AQE passes),
    * and each rewriting pass counts. Within one pass a fixed-point
    * optimizer batch cannot double-count: a rewritten node is replaced by
    * its LocalRelation answer, so no arm matches it again — which also
    * gives the cross-arm invariant `agg + prune + topk >= plans` (each
    * counted pass rewrote at least one arm; the bench emits the difference
    * as `rewrites_arms_minus_plans` and flags a negative value, the
    * signature of an arm that rewrote without counting). JVM-global like
    * [[rewritesEnabled]] (the registry the arms consult is too). */
  object rewriteStats {
    import java.util.concurrent.atomic.AtomicLong
    private[graft] val agg = new AtomicLong
    private[graft] val prune = new AtomicLong
    private[graft] val topk = new AtomicLong
    private[graft] val plans = new AtomicLong
    def snapshot: Map[String, Long] = Map(
      "agg" -> agg.get, "prune" -> prune.get, "topk" -> topk.get,
      "plans" -> plans.get)
    def reset(): Unit = { agg.set(0); prune.set(0); topk.set(0); plans.set(0) }
  }

  /** Idempotently installs the wheel rewrite + nanos pushdown rules and the
    * native vector functions on a live session (UWheelRule first: plans it
    * answers never reach the scan-path pushdown). */
  def enable(spark: SparkSession): Unit = {
    val cs = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val cur = cs.experimental.extraOptimizations
    val add = Seq(UWheelRule, graft.rules.NanosTimePushdown).filterNot(cur.contains)
    if (add.nonEmpty) cs.experimental.extraOptimizations = cur ++ add
    registerFunctions(spark)
  }

  def registerFunctions(spark: SparkSession): Unit = {
    val registry = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.functionRegistry
    functions.foreach { case (id, info, builder) => registry.registerFunction(id, info, builder) }
  }

  /** Every SQL function graft adds, as (identifier, info, builder): the one
    * table both [[GraftExtensions]] and [[registerFunctions]] register. */
  private[graft] lazy val functions
      : Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] = {
    import graft.functions._
    def fn(name: String, cls: Class[_], builder: Seq[Expression] => Expression) =
      (FunctionIdentifier(name), new ExpressionInfo(cls.getName, name), builder)
    Seq(
      fn("vec_dot", classOf[VecDot], e => VecDot(e(0), e(1))),
      fn("srp_band_keys", classOf[SrpBandKeys], srpBuilder),
      fn("hll_distinct", classOf[HllDistinctAgg], hllBuilder),
      fn("hdr_quantile", classOf[HdrQuantileAgg], hdrBuilder),
      fn("cms_freq", classOf[CmsFreqAgg], cmsBuilder),
      fn("word_ngrams", classOf[WordNGrams], wordNGramsBuilder),
      fn("poly_fp", classOf[PolyFingerprint], e => PolyFingerprint(e.head)),
      fn("array_pairs", classOf[ArrayPairs], e => ArrayPairs(e.head)),
      fn("collect_capped_long", classOf[CollectCappedLong], collectCappedBuilder),
      fn("topk_pairs", classOf[TopKPairsAgg], topkPairsBuilder),
      fn("bloom_agg", classOf[BloomAgg], bloomAggBuilder),
      fn("bloom_contains", classOf[BloomContains], bloomContainsBuilder)) ++
      MomentStatsAgg.Stats.map(stat =>
        fn(s"wheel_$stat", classOf[MomentStatsAgg], momentBuilder(stat, _))) ++
      CoMomentStatsAgg.Stats.map(stat =>
        fn(s"wheel_$stat", classOf[CoMomentStatsAgg], coMomentBuilder(stat, _)))
  }

  /** `wheel_covar_samp(x, y)` etc. — exact co-moment covariance/correlation
    * aggregates ([[graft.functions.CoMomentStatsAgg]]). */
  private[graft] def coMomentBuilder(stat: String, exprs: Seq[Expression]): Expression = {
    require(exprs.length == 2, s"wheel_$stat takes (x, y), got ${exprs.length} arguments")
    graft.functions.CoMomentStatsAgg(exprs(0), exprs(1), stat)
  }

  /** `word_ngrams(tokens, n)` — distinct word n-grams, one native pass
    * ([[graft.functions.WordNGrams]]). */
  private[graft] def wordNGramsBuilder(exprs: Seq[Expression]): Expression = {
    require(exprs.length == 2, s"word_ngrams takes (tokens, n), got ${exprs.length} arguments")
    graft.functions.WordNGrams(exprs(0), intOf(exprs(1), "word_ngrams n"))
  }

  /** `collect_capped_long(col, cap)` — buffer-bounded sorted collect
    * ([[graft.functions.CollectCappedLong]]); `cap` must be an integer
    * literal (it bounds the aggregation buffer). */
  private[graft] def collectCappedBuilder(exprs: Seq[Expression]): Expression = {
    require(exprs.length == 2,
      s"collect_capped_long takes (col, cap), got ${exprs.length} arguments")
    graft.functions.CollectCappedLong(exprs.head, intOf(exprs(1), "collect_capped_long cap"))
  }

  /** `topk_pairs(score, id, k)` — bounded-heap top-k-per-group aggregate
    * ([[graft.functions.TopKPairsAgg]]), the sort-free replacement for the
    * rank-limit window; `k` must be an integer literal (it bounds the
    * aggregation buffer). */
  private[graft] def topkPairsBuilder(exprs: Seq[Expression]): Expression = {
    require(exprs.length == 3,
      s"topk_pairs takes (score, id, k), got ${exprs.length} arguments")
    graft.functions.TopKPairsAgg(exprs(0), exprs(1), intOf(exprs(2), "topk_pairs k"))
  }

  /** `bloom_agg(hash[, numBits[, k]])` — Bloom-filter build aggregate
    * ([[graft.functions.BloomAgg]]); `numBits`/`k` must be integer literals
    * (they size the aggregation buffer). */
  private[graft] def bloomAggBuilder(exprs: Seq[Expression]): Expression = {
    require(exprs.nonEmpty && exprs.length <= 3,
      s"bloom_agg takes (hash[, numBits[, k]]), got ${exprs.length} arguments")
    // omitted parameters use BloomAgg's own case-class defaults — one
    // source of truth for the default blob shape (review finding)
    val base = graft.functions.BloomAgg(exprs.head)
    val withBits = if (exprs.length >= 2)
      base.copy(numBits = intOf(exprs(1), "bloom_agg numBits")) else base
    if (exprs.length == 3)
      withBits.copy(k = intOf(exprs(2), "bloom_agg k")) else withBits
  }

  /** `bloom_contains(blob, hash)` — Bloom membership probe
    * ([[graft.functions.BloomContains]]). */
  private[graft] def bloomContainsBuilder(exprs: Seq[Expression]): Expression = {
    require(exprs.length == 2,
      s"bloom_contains takes (blob, hash), got ${exprs.length} arguments")
    graft.functions.BloomContains(exprs(0), exprs(1))
  }

  /** `wheel_var_samp(col)` etc. — exact-moment variance/stddev aggregates
    * ([[graft.functions.MomentStatsAgg]]). */
  private[graft] def momentBuilder(stat: String, exprs: Seq[Expression]): Expression = {
    require(exprs.length == 1, s"wheel_$stat takes (col), got ${exprs.length} arguments")
    graft.functions.MomentStatsAgg(exprs.head, stat)
  }

  private def intOf(e: Expression,
                    what: String): Int = {
    require(e.foldable, s"$what parameters must be literals, got $e")
    e.eval(null) match {
      case i: Int => i
      case l: Long =>
        require(l.isValidInt, s"$what parameter out of Int range: $l")
        l.toInt
      case other => throw new IllegalArgumentException(s"not an integer: $other")
    }
  }

  /** `srp_band_keys(vec, bits, rowsPerBand)` — the parameter arguments must
    * be integer literals (they size the generated signature loop). */
  private[graft] def srpBuilder(exprs: Seq[Expression]): Expression =
    graft.functions.SrpBandKeys(exprs(0), intOf(exprs(1), "srp_band_keys"),
      intOf(exprs(2), "srp_band_keys"))

  /** `hll_distinct(col[, p])` — `p` must be an integer literal (it sizes
    * the register buffer); the analyzer wraps the returned
    * AggregateFunction into a Complete AggregateExpression. */
  private[graft] def hllBuilder(exprs: Seq[Expression]): Expression = {
    require(exprs.length == 1 || exprs.length == 2,
      s"hll_distinct takes (col) or (col, p), got ${exprs.length} arguments")
    val p = if (exprs.length == 2) intOf(exprs(1), "hll_distinct") else 11
    graft.functions.HllDistinctAgg(exprs(0), p)
  }

  /** `hdr_quantile(col, q[, s])` — `q` a numeric literal in [0, 1], `s`
    * an integer literal (it fixes the bucketing resolution, which must
    * match a registered sketch wheel's for the rewrite to fire). */
  private[graft] def hdrBuilder(exprs: Seq[Expression]): Expression = {
    require(exprs.length == 2 || exprs.length == 3,
      s"hdr_quantile takes (col, q) or (col, q, s), got ${exprs.length} arguments")
    val qe = exprs(1)
    require(qe.foldable, s"hdr_quantile q must be a literal, got $qe")
    val q = qe.eval(null) match {
      case d: Double => d
      case f: Float => f.toDouble
      case i: Int => i.toDouble
      case l: Long => l.toDouble
      case d: org.apache.spark.sql.types.Decimal => d.toDouble
      case other => throw new IllegalArgumentException(s"not a number: $other")
    }
    val s = if (exprs.length == 3) intOf(exprs(2), "hdr_quantile") else 7
    graft.functions.HdrQuantileAgg(exprs(0), q, s)
  }

  /** `cms_freq(key, target[, logW, d])` — `target` an integer literal (the
    * value whose frequency is estimated), `logW`/`d` integer literals (they
    * size the counter matrix, which must match a registered frequency-sketch
    * wheel's for the rewrite to fire). */
  private[graft] def cmsBuilder(exprs: Seq[Expression]): Expression = {
    require(exprs.length >= 2 && exprs.length <= 4,
      s"cms_freq takes (key, target[, logW[, d]]), got ${exprs.length} arguments")
    val te = exprs(1)
    require(te.foldable, s"cms_freq target must be a literal, got $te")
    val target = te.eval(null) match {
      case l: Long => l
      case i: Int => i.toLong
      case s: Short => s.toLong
      case b: Byte => b.toLong
      case other => throw new IllegalArgumentException(s"not an integer: $other")
    }
    val logW = if (exprs.length >= 3) intOf(exprs(2), "cms_freq") else 12
    val d = if (exprs.length == 4) intOf(exprs(3), "cms_freq") else 4
    graft.functions.CmsFreqAgg(exprs(0), target, logW, d)
  }
}
