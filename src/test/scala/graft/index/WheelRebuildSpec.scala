package graft.index

import java.io.{ByteArrayOutputStream, ObjectOutputStream}
import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.{functions => F}
import org.scalatest.funsuite.AnyFunSuite

import graft.index.UWheelIndex.RefreshOutcome

/** A refresh after an in-place rewrite rebuilds every registered wheel from
  * the wheel's own metadata. The rebuilt index must equal a cold build of
  * the rewritten table wheel for wheel and field for field, byte for byte —
  * wheel, scale, filter, coverage, expression and every build fact
  * (exactness flags, moment decline gates, NULL-key counts) — for every
  * family, plain, keyed and over a derived expression. */
class WheelRebuildSpec extends AnyFunSuite {

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

  /** Each field of a wheel entry, by name, as serialized bytes. Field by
    * field, because a whole entry's bytes also record which fields share
    * one object (a typed wheel and its entry may hold one aggregator
    * instance or two equal ones). */
  private def fields(w: FamilyWheel): Seq[(String, Array[Byte])] = {
    val p = w.asInstanceOf[Product]
    p.productElementNames.toSeq.zip(p.productIterator.map(x => bytes(x.asInstanceOf[AnyRef])).toSeq)
  }

  private def tmpTable(): String =
    java.nio.file.Files.createTempDirectory("graft-rebuild").toString + "/t.parquet"

  private val t0 = Timestamp.valueOf("2024-03-01 00:00:00").getTime

  /** Rows `from until from + n`, with NULL times, NaN values, NULL keys and
    * NULL key ids mixed in, so every build fact has something to record. */
  private def rows(from: Int, n: Int): DataFrame = {
    val session = spark
    import session.implicits._
    (from until from + n).map { i =>
      val ts = if (i % 17 == 0) None else Some(new Timestamp(t0 + i / 3 * 7000L + (i % 3) * 250L))
      val v: Option[Double] =
        if (i % 11 == 0) Some(Double.NaN) else if (i % 23 == 0) None else Some((i % 97) / 4.0)
      val k = if (i % 4 == 0) None else Some(if (i % 3 == 0) "a" else "b")
      val uid = if (i % 13 == 0) None else Some((i % 37).toLong)
      (ts, v, BigDecimal(i % 89) / 8, k, uid, ((i * 7) % 53) / 2.0)
    }.toDF("ts", "value", "amt", "k", "uid", "y")
      .withColumn("amt", F.col("amt").cast("decimal(12,3)"))
  }

  private val conf = UWheelBuilder("ts", Seq("value", "amt"))
    .withKeyedWheel(IndexBuilder("value", Some("k = 'a'")))
    .withExprWheel("value * 2").withKeyedExprWheel("value * 2", "k = 'b'")
    .withMillisWheels("value")
    .withDistinctWheel("uid").withKeyedDistinctWheel("uid", "k = 'a'").withDistinctWheel("uid % 7")
    .withQuantileWheel("value").withKeyedQuantileWheel("value", "k = 'a'").withQuantileWheel("value + 1")
    .withFreqWheel("uid").withKeyedFreqWheel("uid", "k = 'a'").withFreqWheel("uid % 5")
    .withMomentWheel("value").withMomentWheel("amt").withKeyedMomentWheel("value", "k = 'a'")
    .withMomentWheel("value * 2")
    .withCoMomentWheel("value", "y").withKeyedCoMomentWheel("value", "y", "k = 'a'")
    .withCoMomentWheel("value * 2", "y").withCoMomentWheel("value", "y + 1")
    .withTopKWheel("uid", cap = 4).withKeyedTopKWheel("uid", "k = 'a'", cap = 4)

  /** The cold build, plus a coverage-restricted wheel added afterwards. */
  private def build(path: String): TableIndex = {
    conf.build(spark, path)
    UWheelIndex.buildIndex(spark, path, IndexBuilder("y").withTimeRange(t0 / 1000, t0 / 1000 + 3600))
    WheelRegistry.lookup(path).get
  }

  test("an in-place rewrite rebuilds every wheel as a cold build of the new table builds it") {
    spark.sparkContext.setLogLevel("WARN")
    val path = tmpTable()
    rows(0, 1500).write.parquet(path)
    build(path)
    rows(400, 1800).write.mode("overwrite").parquet(path)
    assert(UWheelIndex.refresh(spark, path) === RefreshOutcome.Rebuilt)
    val got = WheelRegistry.lookup(path).get

    val path2 = tmpTable()
    spark.read.parquet(path).write.parquet(path2)
    val cold = build(path2)

    assert(got.tsAllNonNull === cold.tsAllNonNull)
    assert(!cold.tsAllNonNull)
    for (f <- WheelFamily.all) {
      def keys(t: TableIndex) = t.all(f).map(w => (w.columns, w.filterKey)).toSet
      assert(keys(got) === keys(cold), f)
      for (w <- cold.all(f)) {
        val g = got.wheel(f, w.columns, w.filterKey).get
        for (((name, a), (_, b)) <- fields(g).zip(fields(w)))
          assert(java.util.Arrays.equals(a, b), s"$f ${w.columns} ${w.filterKey}: $name")
      }
    }
    // every family is there plain, keyed and (where it has one) over an
    // expression, and the build facts are not vacuous
    import WheelFamily._
    for (f <- Seq[WheelFamily[_ <: FamilyWheel]](Numeric, Hll, Hdr, Cms, Moment, CoMoment, TopK))
      assert(cold.all(f).exists(_.filterKey.nonEmpty), f)
    assert(cold.allMsWheels.nonEmpty)
    assert(cold.allWheels.exists(_.scope.exprSql.exists(_.isDefined)) &&
      cold.all(Hll).exists(_.scope.exprSql.exists(_.isDefined)) &&
      cold.all(Hdr).exists(_.scope.exprSql.exists(_.isDefined)) &&
      cold.all(Cms).exists(_.scope.exprSql.exists(_.isDefined)) &&
      cold.all(Moment).exists(_.scope.exprSql.exists(_.isDefined)) &&
      cold.all(CoMoment).exists(_.scope.exprSql(0).isDefined) &&
      cold.all(CoMoment).exists(_.scope.exprSql(1).isDefined))
    assert(cold.allWheels.exists(_.scope.coverage.isDefined))
    assert(cold.allWheels.exists(w => !w.facts.valueAllNonNull) && cold.allWheels.exists(w => !w.facts.valuesNaNFree) &&
      cold.allWheels.exists(w => !w.facts.valuesExactAtScale))
    assert(cold.all(Moment).exists(_.facts.castFail > 0) && cold.all(CoMoment).exists(_.facts.castFail > 0))
    assert(cold.allTopKWheels.forall(_.keyNullCount > 0))
  }

  test("a slot holding a NaN freezes the same over one file and over seven") {
    // three rows a second, every 11th value a NaN: NaN seconds also hold
    // ordinary values. One small file folds each second whole (the build
    // spreads it by slot); seven files split a second's rows across
    // partitions, whose extrema then merge.
    val df = rows(0, 1500).filter(F.col("ts").isNotNull).select("ts", "value")
    val one = tmpTable()
    df.coalesce(1).write.parquet(one)
    val seven = tmpTable()
    df.coalesce(1).write.parquet(seven)
    val conf = UWheelBuilder("ts", Seq("value"))
    def partials(t: TableIndex) = t.minMaxWheel("value").get.wheel.slotPartials.map {
      case (s, c, sum, mn, mx) =>
        (s, c, sum, java.lang.Double.doubleToLongBits(mn), java.lang.Double.doubleToLongBits(mx))
    }.toList
    val whole = partials(conf.build(spark, one))
    conf.build(spark, seven)
    spark.read.parquet(one).repartition(7).write.mode("overwrite").parquet(seven)
    assert(spark.read.parquet(seven).rdd.getNumPartitions > 1)
    assert(UWheelIndex.refresh(spark, seven) === RefreshOutcome.Rebuilt)
    assert(partials(WheelRegistry.lookup(seven).get) === whole)
    assert(whole.exists(p => java.lang.Double.isNaN(java.lang.Double.longBitsToDouble(p._5))))
  }
}
