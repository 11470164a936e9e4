package graft.index

import java.io.{ByteArrayOutputStream, ObjectOutputStream}
import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.{functions => F}
import org.scalatest.funsuite.AnyFunSuite

import graft.index.UWheelIndex.RefreshOutcome
import graft.wheel.{HawWheel, RwWheel, TypedHawWheel, TypedRwWheel, WheelAggregators}

/** An append-only refresh of a small delta folds the delta's rows on the
  * driver and extends each frozen wheel by concatenation. Both halves must
  * reproduce what the distributed path builds: for every wheel family, the
  * refreshed wheel serializes to the same bytes as
  * `fromSecondPartials(old ++ delta)`, where the delta's wheels come from a
  * distributed build over the delta files alone. */
class WheelAppendSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def bytes(o: AnyRef): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new ObjectOutputStream(bos)
    out.writeObject(o)
    out.close()
    bos.toByteArray
  }

  private def sameBytes(a: AnyRef, b: AnyRef): Boolean =
    java.util.Arrays.equals(bytes(a), bytes(b))

  private def tmpDir(): String =
    java.nio.file.Files.createTempDirectory("graft-append").toString

  private val t0 = Timestamp.valueOf("2024-03-01 00:00:00").getTime

  /** Rows `from until from + n`, three per second (250 ms apart) every
    * 7 s, so a NaN shares its second and minute with other values; each
    * column carries the shapes the cases need. */
  private def rows(from: Int, n: Int, nullTs: Boolean = false, nan: Boolean = false,
      nullKey: Boolean = false): DataFrame = {
    val session = spark
    import session.implicits._
    (from until from + n).map { i =>
      val ts = if (nullTs && i % 5 == 0) None else Some(new Timestamp(t0 + i / 3 * 7000L + (i % 3) * 250L))
      val v: Option[Double] = if (nan && i % 11 == 0) Some(Double.NaN) else Some((i % 97) / 4.0)
      val k = if (nullKey && i % 4 == 0) None else Some(if (i % 3 == 0) "a" else "b")
      (ts, v, BigDecimal(i % 89) / 8, k, (i % 37).toLong, ((i * 7) % 53) / 2.0)
    }.toDF("ts", "value", "amt", "k", "uid", "y")
      .withColumn("amt", F.col("amt").cast("decimal(12,3)"))
  }

  private val allFamilies = UWheelBuilder("ts", Seq("value", "amt"))
    .withKeyedWheel(IndexBuilder("value", Some("k = 'a'")))
    .withDistinctWheel("uid").withKeyedDistinctWheel("uid", "k = 'a'")
    .withQuantileWheel("value")
    .withMomentWheel("value").withMomentWheel("amt")
    .withCoMomentWheel("value", "y")
    .withFreqWheel("uid")
    .withTopKWheel("uid").withKeyedTopKWheel("uid", "k = 'a'")
    .withMillisWheels("value")

  /** Refreshes `roots` after `land` wrote the delta (and the same rows
    * under `deltaRoots`), and checks every wheel of the refreshed index
    * against `fromSecondPartials(old ++ distributed delta)`. */
  private def checkAppend(conf: UWheelBuilder, roots: Seq[String], deltaRoots: Seq[String])(
      land: => Unit): Unit = {
    val old = conf.build(spark, roots)
    land
    assert(UWheelIndex.refresh(spark, roots).isInstanceOf[RefreshOutcome.Appended])
    val got = WheelRegistry.lookup(WheelRegistry.rootSetKey(roots)).get
    val delta = conf.build(spark, deltaRoots)
    import WheelFamily._
    def same(a: AnyRef, b: AnyRef, what: String): Unit = {
      val equal = sameBytes(a, b)
      assert(equal, s"$what differs")
    }
    for (f <- Seq(Numeric, Millis); o <- old.all(f)) {
      val d = delta.wheel(f, o.columns, o.filterKey).get
      val g = got.wheel(f, o.columns, o.filterKey).get
      val span = o.wheel.slotSpan
      same(g.wheel, HawWheel.fromSecondPartials(o.wheel.slotPartials ++ d.wheel.slotPartials,
        o.wheel.scale, o.wheel.hasValues, span, got.packLevels), s"$f ${o.columns} ${o.filterKey}")
      assert((g.facts.valueAllNonNull, g.facts.valuesExactAtScale, g.facts.valuesNaNFree) ===
        ((o.facts.valueAllNonNull && d.facts.valueAllNonNull,
          o.facts.valuesExactAtScale && d.facts.valuesExactAtScale,
          o.facts.valuesNaNFree && d.facts.valuesNaNFree)))
    }
    assert(got.tsAllNonNull === (old.tsAllNonNull && delta.tsAllNonNull))
    def typed[W <: TypedFamilyWheel](f: WheelFamily[W])(merge: (W, W) => AnyRef): Unit =
      old.all(f).foreach { o =>
        val g = got.wheel(f, o.columns, o.filterKey).get
        same(g.wheel, merge(o, delta.wheel(f, o.columns, o.filterKey).get), s"$f ${o.columns} ${o.filterKey}")
      }
    typed(Hll)((o, d) => TypedHawWheel.fromSecondPartials(o.wheel.slotPartials ++ d.wheel.slotPartials, o.agg))
    typed(Hdr)((o, d) => TypedHawWheel.fromSecondPartials(o.wheel.slotPartials ++ d.wheel.slotPartials, o.agg))
    typed(Cms)((o, d) => TypedHawWheel.fromSecondPartials(o.wheel.slotPartials ++ d.wheel.slotPartials, o.agg))
    typed(TopK)((o, d) => TypedHawWheel.fromSecondPartials(o.wheel.slotPartials ++ d.wheel.slotPartials, o.agg))
    typed(Moment)((o, d) => TypedHawWheel.fromSecondPartials(o.wheel.slotPartials ++ d.wheel.slotPartials, o.agg))
    typed(CoMoment)((o, d) => TypedHawWheel.fromSecondPartials(o.wheel.slotPartials ++ d.wheel.slotPartials, o.agg))
    for (o <- old.all(Moment)) {
      val g = got.momentWheel(o.columns.head, o.filterKey).get
      val d = delta.momentWheel(o.columns.head, o.filterKey).get
      // absMax is NaN once a NaN was seen: compare bit patterns
      assert((g.facts.castFail, java.lang.Double.doubleToLongBits(g.facts.absMax.head)) ===
        ((o.facts.castFail + d.facts.castFail,
          java.lang.Double.doubleToLongBits(math.max(o.facts.absMax.head, d.facts.absMax.head)))))
    }
    for (o <- old.all(CoMoment)) {
      val g = got.coMomentWheel(o.columns(0), o.columns(1), o.filterKey).get
      val d = delta.coMomentWheel(o.columns(0), o.columns(1), o.filterKey).get
      assert(g.facts.castFail === o.facts.castFail + d.facts.castFail)
    }
    for (o <- old.allTopKWheels)
      assert(got.topKWheel(o.column, o.filterKey).get.keyNullCount ===
        o.keyNullCount + delta.topKWheel(o.column, o.filterKey).get.keyNullCount)
    assert(old.all(TopK).nonEmpty && old.all(Millis).nonEmpty && old.all(CoMoment).nonEmpty)
  }

  /** Writes `df` into `root` and the same rows into `deltaRoot`. */
  private def landTwice(df: DataFrame, root: String, deltaRoot: String,
      partitionBy: Seq[String] = Nil): Unit = {
    val rows = df.collect()
    val same = spark.createDataFrame(java.util.Arrays.asList(rows: _*), df.schema)
    Seq(root, deltaRoot).foreach(r =>
      same.coalesce(1).write.mode("append").partitionBy(partitionBy: _*).parquet(r))
  }

  test("fold + append is bit-identical to merging the distributed delta, every family") {
    spark.sparkContext.setLogLevel("WARN")
    val root = tmpDir() + "/t"
    val deltaRoot = tmpDir() + "/d"
    rows(0, 1500).write.parquet(root)
    // the delta starts inside the base's last second and minute, and
    // carries NULL times, a NaN value and NULL keys (the keyed filter
    // evaluates to NULL); `amt` is a DECIMAL(12,3) indexed at its scale
    checkAppend(allFamilies, Seq(root), Seq(deltaRoot)) {
      landTwice(rows(1499, 700, nullTs = true, nan = true, nullKey = true), root, deltaRoot)
    }
  }

  test("fold + append over a coarse slot span matches the merge") {
    val root = tmpDir() + "/t"
    val deltaRoot = tmpDir() + "/d"
    rows(0, 900).write.parquet(root)
    checkAppend(allFamilies.withSlotSpan(60), Seq(root), Seq(deltaRoot)) {
      landTwice(rows(890, 400), root, deltaRoot)
    }
  }

  test("late data falls back to the merge and still matches it") {
    val root = tmpDir() + "/t"
    val deltaRoot = tmpDir() + "/d"
    rows(500, 800).write.parquet(root)
    checkAppend(allFamilies, Seq(root), Seq(deltaRoot)) {
      landTwice(rows(0, 600), root, deltaRoot)
    }
  }

  test("Hive-partitioned delta folds with its partition column") {
    val root = tmpDir() + "/t"
    val deltaRoot = tmpDir() + "/d"
    def part(from: Int, n: Int, dt: Int) = rows(from, n).withColumn("dt", F.lit(dt))
    part(0, 800, 1).write.partitionBy("dt").parquet(root)
    val conf = allFamilies.withKeyedWheel(IndexBuilder("value", Some("dt = 2")))
    checkAppend(conf, Seq(root), Seq(deltaRoot)) {
      landTwice(part(800, 500, 2), root, deltaRoot, Seq("dt"))
    }
    assert(WheelRegistry.lookup(root).get.anyForFilter(
      graft.expr.Canon.canonFilterKey(spark.read.parquet(root).filter("dt = 2")))
      .get.wheel.landmark.count === 500)
  }

  test("multi-root delta folds across both roots") {
    val (r1, r2) = (tmpDir() + "/t1", tmpDir() + "/t2")
    val (d1, d2) = (tmpDir() + "/d1", tmpDir() + "/d2")
    rows(0, 600).write.parquet(r1)
    rows(600, 600).write.parquet(r2)
    checkAppend(allFamilies, Seq(r1, r2), Seq(d1, d2)) {
      landTwice(rows(1200, 300), r1, d1)
      landTwice(rows(1500, 300), r2, d2)
    }
  }

  test("HawWheel.appended equals fromSecondPartials(old ++ delta) on random wheels") {
    val rnd = new scala.util.Random(7)
    def wheel(from: Long, n: Int, hasValues: Boolean, span: Long): HawWheel = {
      val rw = new RwWheel(2, hasValues)
      (0 until n).foreach { _ =>
        val v = if (rnd.nextInt(50) == 0) Double.NaN else rnd.nextInt(1000) / 4.0
        rw.mergePartial(from + rnd.nextInt(5000), 1 + rnd.nextInt(3), rnd.nextInt(500), v, v)
      }
      rw.freeze(span)
    }
    for (hasValues <- Seq(true, false); span <- Seq(1L, 60L); trial <- 0 until 20) {
      val old = wheel(0, 300, hasValues, span)
      // deltas starting inside, on, and after the old last slot
      val start = old.endSec - span - 30 + rnd.nextInt(60)
      val delta = wheel(start, 1 + rnd.nextInt(200), hasValues, span)
      val merged = HawWheel.fromSecondPartials(old.slotPartials ++ delta.slotPartials, 2,
        hasValues, span)
      old.appended(delta, span, packLevels = false) match {
        case Some(w) =>
          val equal = sameBytes(w, merged)
          assert(equal, s"trial $trial")
        case None => assert(delta.startSec < old.endSec - span, s"trial $trial declined")
      }
    }
    val packed = wheel(0, 50, hasValues = true, 1L)
    assert(packed.appended(wheel(6000, 5, hasValues = true, 1L), 1L, packLevels = true).isEmpty)
  }

  test("TypedHawWheel.appended equals fromSecondPartials(old ++ delta) on random wheels") {
    val rnd = new scala.util.Random(11)
    val agg = new WheelAggregators.TopTalkers(4)
    def wheel(from: Long, n: Int): TypedHawWheel[WheelAggregators.TopKSummary, WheelAggregators.TopKSummary] = {
      val rw = new TypedRwWheel(agg)
      (0 until n).foreach(_ => rw.mergeLift(from + rnd.nextInt(400), rnd.nextInt(12).toLong))
      rw.freeze()
    }
    for (trial <- 0 until 30) {
      val old = wheel(0, 2000)
      val delta = wheel(old.endSec - 3 + rnd.nextInt(4), 1 + rnd.nextInt(300))
      val merged = TypedHawWheel.fromSecondPartials(old.slotPartials ++ delta.slotPartials, agg)
      old.appended(delta, agg) match {
        case Some(w) =>
          val equal = sameBytes(w, merged)
          assert(equal, s"trial $trial")
        case None => assert(delta.startSec < old.endSec - 1, s"trial $trial declined")
      }
    }
  }

  test("the fused plan names every aggregate column once") {
    val root = tmpDir() + "/t"
    rows(0, 300).write.parquet(root)
    val t = allFamilies.build(spark, root)
    val parts = t.allWheels.map(BuildPart.of(WheelFamily.Numeric, _)) ++
      Seq[WheelFamily[_ <: FamilyWheel]](WheelFamily.Hll, WheelFamily.Hdr, WheelFamily.Cms,
        WheelFamily.Moment, WheelFamily.CoMoment).flatMap(f => t.all(f).map(BuildPart.of(f, _)))
    val names = UWheelIndex.planFused(spark.read.parquet(root), "ts", parts).aggs.map(_.name)
    val dup = names.diff(names.distinct)
    assert(dup.isEmpty, s"duplicate aggregate names ${dup.distinct.mkString(", ")} in ${names.mkString(", ")}")
  }
}
