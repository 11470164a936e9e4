package graft.wheel

import org.scalatest.funsuite.AnyFunSuite

/** The ingest wheels' compact Java serialization (custom
  * writeObject/readObject writing raw primitive slot runs — one object per
  * WHEEL, not one per slot) must round-trip to an equivalent wheel: the
  * distributed build ships these through Spark's closure/treeAggregate
  * serializer, so a lossy round-trip silently corrupts every index built
  * from more than one partition. */
class WheelSerdeSpec extends AnyFunSuite {

  private def roundTrip[T <: AnyRef](t: T): T = {
    val bos = new java.io.ByteArrayOutputStream()
    val oos = new java.io.ObjectOutputStream(bos)
    oos.writeObject(t); oos.close()
    val ois = new java.io.ObjectInputStream(
      new java.io.ByteArrayInputStream(bos.toByteArray))
    ois.readObject().asInstanceOf[T]
  }

  /** Kryo round-trip through Spark's OWN KryoSerializer (the exact path a
    * session with spark.serializer=KryoSerializer ships shuffle records
    * through) — the wheels' @transient slots + Java-only hooks would
    * silently deserialize EMPTY under Kryo's FieldSerializer, so both
    * classes implement KryoSerializable (round-10 review finding). */
  private def kryoTrip[T <: AnyRef: scala.reflect.ClassTag](t: T): T = {
    val conf = new org.apache.spark.SparkConf(false)
    val ser = new org.apache.spark.serializer.KryoSerializer(conf).newInstance()
    ser.deserialize[T](ser.serialize(t))
  }

  private val t0 = 1715299200L

  test("RwWheel round-trips: frozen wheel equal before and after") {
    val rw = new RwWheel(scale = 2, hasValues = true)
    (0 until 5000).map(i => (t0 + (i * 37) % 10000, (i % 997) / 100.0))
      .sortBy(_._1).foreach { case (sec, v) =>
        rw.advanceTo(sec * 1000L); rw.insert(sec * 1000L, v)
      }
    val back = roundTrip(rw)
    val a = rw.freeze()
    val b = back.freeze()
    assert(a.range(t0 - 10, t0 + 20000) == b.range(t0 - 10, t0 + 20000))
    assert(a.groupBy(t0, t0 + 10000, 1) == b.groupBy(t0, t0 + 10000, 1))
    assert(back.watermark == rw.watermark)
  }

  test("RwWheel round-trips with no values (count-only)") {
    val rw = new RwWheel(scale = 0, hasValues = false)
    (0 until 100).foreach { i =>
      rw.advanceTo((t0 + i) * 1000L); rw.insert((t0 + i) * 1000L, 0.0)
    }
    val back = roundTrip(rw)
    assert(back.freeze().range(t0, t0 + 100) == rw.freeze().range(t0, t0 + 100))
  }

  test("deserialized RwWheel accepts further ingest and merges") {
    val rw = new RwWheel(scale = 2, hasValues = true)
    rw.advanceTo(t0 * 1000L); rw.insert(t0 * 1000L, 1.25)
    val back = roundTrip(rw)
    back.insert((t0 + 5) * 1000L, 2.5)
    val ra = back.freeze().range(t0, t0 + 10)
    assert(ra.count == 2L && ra.minOpt.contains(1.25) && ra.maxOpt.contains(2.5))
  }

  test("TypedRwWheel round-trips through the compact byte-serde path (HLL)") {
    val agg = new WheelAggregators.HllDistinct(p = 9)
    assert(agg.partialSerde.isDefined) // the compact path, not the fallback
    val tw = new TypedRwWheel(agg)
    (0 until 20000).foreach { i => tw.mergeLift(t0 + i % 777, (i % 4321).toLong) }
    val back = roundTrip(tw)
    val a = tw.freeze(); val b = back.freeze()
    assert(a.range(t0, t0 + 1000) == b.range(t0, t0 + 1000))
    (0 until 13).foreach { k =>
      assert(a.range(t0 + k * 60, t0 + (k + 1) * 60) ==
        b.range(t0 + k * 60, t0 + (k + 1) * 60))
    }
  }

  test("TypedRwWheel round-trips through the compact serde (Moments, BigInt)") {
    val agg = new WheelAggregators.MomentStats(scale = 2)
    assert(agg.partialSerde.isDefined)
    val tw = new TypedRwWheel(agg)
    (0 until 5000).foreach { i => tw.mergeLift(t0 + i % 300, (i * 13 % 100000).toLong) }
    val back = roundTrip(tw)
    assert(tw.freeze().range(t0, t0 + 300) == back.freeze().range(t0, t0 + 300))
  }

  test("TypedRwWheel falls back to per-object serialization without a serde") {
    val agg = WheelSerdeSpec.BagAgg
    assert(agg.partialSerde.isEmpty)
    val tw = new TypedRwWheel(agg)
    (0 until 50).foreach { i => tw.mergeLift(t0 + i % 7, i.toLong) }
    val back = roundTrip(tw)
    assert(tw.freeze().range(t0, t0 + 7) == back.freeze().range(t0, t0 + 7))
  }

  test("RwWheel round-trips through Spark's KryoSerializer") {
    val rw = new RwWheel(scale = 2, hasValues = true, maxFutureSkewSec = Some(86400L))
    (0 until 2000).map(i => (t0 + (i * 37) % 5000, (i % 997) / 100.0))
      .sortBy(_._1).foreach { case (sec, v) =>
        rw.advanceTo(sec * 1000L); rw.insert(sec * 1000L, v)
      }
    val back = kryoTrip(rw)
    assert(back.scale == 2 && back.hasValues && back.maxFutureSkewSec.contains(86400L))
    assert(back.watermark == rw.watermark)
    assert(back.freeze().range(t0 - 10, t0 + 6000) == rw.freeze().range(t0 - 10, t0 + 6000))
    // and it stays usable: further ingest + merge after deserialization
    back.insert((t0 + 6000) * 1000L, 3.5)
    assert(back.freeze().range(t0, t0 + 7000).count == rw.freeze().range(t0, t0 + 7000).count + 1)
  }

  test("TypedRwWheel round-trips through Spark's KryoSerializer (serde + fallback)") {
    val hll = new WheelAggregators.HllDistinct(p = 9)
    val tw = new TypedRwWheel(hll)
    (0 until 5000).foreach { i => tw.mergeLift(t0 + i % 300, (i % 777).toLong) }
    val back = kryoTrip(tw)
    assert(back.agg.isInstanceOf[WheelAggregators.HllDistinct])
    assert(back.freeze().range(t0, t0 + 300) == tw.freeze().range(t0, t0 + 300))

    val bag = new TypedRwWheel(WheelSerdeSpec.BagAgg)
    (0 until 50).foreach { i => bag.mergeLift(t0 + i % 7, i.toLong) }
    val bagBack = kryoTrip(bag)
    assert(bagBack.freeze().range(t0, t0 + 7) == bag.freeze().range(t0, t0 + 7))
  }

  test("merge of a deserialized TypedRwWheel equals merge of the original") {
    val agg = new WheelAggregators.CmsFreq(d = 2, logW = 8)
    val a = new TypedRwWheel(agg)
    val b = new TypedRwWheel(agg)
    (0 until 3000).foreach { i => a.mergeLift(t0 + i % 50, (i % 31).toLong) }
    (0 until 3000).foreach { i => b.mergeLift(t0 + i % 60, (i % 17).toLong) }
    val viaSer = {
      val a2 = roundTrip(a); val b2 = roundTrip(b)
      a2.merge(b2).freeze().range(t0, t0 + 60)
    }
    val direct = a.merge(b).freeze().range(t0, t0 + 60)
    assert(viaSer.toSeq == direct.toSeq)
  }

  // ---- frozen typed wheels: the compact Java form and the Kryo fields

  private def javaBytes(o: AnyRef): Int = {
    val bos = new java.io.ByteArrayOutputStream()
    val oos = new java.io.ObjectOutputStream(bos)
    oos.writeObject(o); oos.close()
    bos.size()
  }

  /** Partial equality by content (byte arrays and top-k summaries hold
    * arrays, whose `==` is identity). */
  private def samePartial(a: Any, b: Any): Boolean = (a, b) match {
    case (x: Array[Byte], y: Array[Byte]) => java.util.Arrays.equals(x, y)
    case (x: WheelAggregators.TopKSummary, y: WheelAggregators.TopKSummary) =>
      x.keys.sameElements(y.keys) && x.lowers.sameElements(y.lowers) && x.slack == y.slack
    case _ => a == b
  }

  /** `b` holds `a`'s per-second partials and answers every range `a` does,
    * over windows aligned to every granularity level plus unaligned ones. */
  private def assertSameWheel[P, O](a: TypedHawWheel[P, O], b: TypedHawWheel[P, O]): Unit = {
    assert(b.startSec == a.startSec && b.endSec == a.endSec && b.numSecs == a.numSecs)
    val pa = a.slotPartials.toSeq
    val pb = b.slotPartials.toSeq
    assert(pa.map(_._1) == pb.map(_._1))
    pa.zip(pb).foreach { case ((s, x), (_, y)) => assert(samePartial(x, y), s"slot $s") }
    val rnd = new scala.util.Random(7)
    val ranges = HawWheel.Spans.toSeq.flatMap { span =>
      val first = HawWheel.alignDown(a.startSec, span)
      (0 until 6).map(k => (first + k * span, first + (k + 1) * span)) :+
        ((first, first + 6 * span))
    } ++ (0 until 40).map { _ =>
      val lo = a.startSec - 5 + rnd.nextInt((a.endSec - a.startSec + 10).toInt)
      (lo.toLong, lo + 1 + rnd.nextInt(3 * 86400))
    }
    ranges.foreach { case (lo, hi) =>
      assert(samePartial(a.combineRange(lo, hi), b.combineRange(lo, hi)), s"[$lo, $hi)")
    }
  }

  /** One frozen wheel per typed family, over seconds spread across three
    * days so every granularity level holds several slots. */
  private def typedWheels: Seq[(String, TypedHawWheel[_, _])] = {
    def secOf(i: Int): Long = t0 + (i.toLong * 7919L) % (3L * 86400L)
    val hll = new TypedRwWheel(new WheelAggregators.HllDistinct(p = 9))
    (0 until 6000).foreach(i => hll.mergeLift(secOf(i % 2000), (i * 31 % 5000).toLong))
    val hdr = new TypedRwWheel(new WheelAggregators.HdrQuantile(s = 5))
    (0 until 6000).foreach(i => hdr.mergeLift(secOf(i % 2000), (i % 977) * 0.37 - 40.0))
    val mom = new TypedRwWheel(new WheelAggregators.MomentStats(scale = 2))
    (0 until 6000).foreach { i =>
      // Σx² leaves the Long range in every slot; slot 0 pushes Σx out too
      val v = if (i % 2000 == 0) Long.MaxValue / 2 + 1 else 3000000000L + i
      mom.mergeLift(secOf(i % 2000), v)
    }
    val top = new TypedRwWheel(new WheelAggregators.TopTalkers(cap = 8))
    (0 until 6000).foreach(i => top.mergeLift(secOf(i % 2000), (i % 37).toLong))
    val bag = new TypedRwWheel(WheelSerdeSpec.BagAgg)
    (0 until 300).foreach(i => bag.mergeLift(secOf(i % 100), i.toLong))
    Seq("hll" -> hll.freeze(), "hdr" -> hdr.freeze(), "moments" -> mom.freeze(),
      "topk" -> top.freeze(), "no serde" -> bag.freeze())
  }

  test("TypedHawWheel round-trips through Java serialization, every typed family") {
    typedWheels.foreach { case (name, w0) =>
      val w = w0.asInstanceOf[TypedHawWheel[Any, Any]]
      withClue(s"$name: ")(assertSameWheel(w, roundTrip(w)))
    }
  }

  test("TypedHawWheel round-trips through Spark's KryoSerializer, every typed family") {
    typedWheels.foreach { case (name, w0) =>
      val w = w0.asInstanceOf[TypedHawWheel[Any, Any]]
      withClue(s"$name: ")(assertSameWheel(w, kryoTrip(w)))
    }
  }

  test("TypedHawWheel's Java form is one run per wheel: smaller than per-slot objects") {
    val (_, mom) = typedWheels.find(_._1 == "moments").get
    val w = mom.asInstanceOf[TypedHawWheel[WheelAggregators.Moments, WheelAggregators.Moments]]
    val perSlot = javaBytes(w.slotPartials.map(_._2).toArray)
    assert(javaBytes(w) < perSlot, s"compact ${javaBytes(w)} B vs per-slot objects $perSlot B")
  }

  test("a wheel referenced twice in one stream loads as one object") {
    val (_, w) = typedWheels.head
    val (a, b) = roundTrip((w, w))
    assert(a eq b)
    assertSameWheel(w.asInstanceOf[TypedHawWheel[Any, Any]], a.asInstanceOf[TypedHawWheel[Any, Any]])
  }

  test("TypedHawWheel pins serialVersionUID 2: the compact format's marker") {
    val uid = java.io.ObjectStreamClass.lookup(classOf[TypedHawWheel[_, _]]).getSerialVersionUID
    assert(uid == 2L)
  }

  test("encoding a moment partial leaves it unchanged, and decodes to an equal value") {
    val agg = new WheelAggregators.MomentStats(scale = 2)
    val small = Seq(12L, -7L, 40000L).map(agg.lift).reduce(agg.combine)
    val big = Seq(3000000000L, Long.MaxValue / 2 + 1, Long.MaxValue / 2 + 1)
      .map(agg.lift).reduce(agg.combine)
    assert(!big.sxx.isValidLong && !big.sx.isValidLong)
    Seq(small, big, agg.identity).foreach { p =>
      val before = javaBytes(p)
      val bytes = agg.encode(p)
      assert(javaBytes(p) == before, s"encode changed $p's serialized size")
      val back = agg.decode(bytes)
      assert(back == p)
      assert(javaBytes(back) == before, "decoded partial carries extra state")
      assert(agg.encode(back).sameElements(bytes))
    }
    val co = new WheelAggregators.CoMomentStats(scaleX = 1, scaleY = 0)
    val cp = Seq((5L, -3L), (4000000000L, 9L)).map(co.lift).reduce(co.combine)
    val coBefore = javaBytes(cp)
    val coBack = co.decode(co.encode(cp))
    assert(javaBytes(cp) == coBefore)
    assert(coBack == cp && javaBytes(coBack) == coBefore)
  }
}

object WheelSerdeSpec {
  /** Serde-less aggregator, top-level so serializing it does not drag the
    * spec instance into the stream. */
  final case class Bag(xs: List[Long])
  object BagAgg extends WheelAggregator[Long, Bag, Long] {
    val identity: Bag = Bag(Nil)
    def lift(u: Long): Bag = Bag(List(u))
    def combine(a: Bag, b: Bag): Bag = Bag(a.xs ++ b.xs)
    def lower(p: Bag): Long = p.xs.sum
  }
}
