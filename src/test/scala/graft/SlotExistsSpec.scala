package graft

import graft.functions.SlotExists
import graft.model.InfotonModel
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.execution.{ProjectExec, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite
import java.sql.Timestamp

/** Property check for the native [[SlotExists]] expression against the
  * `exists` lambda it replaces in qp value clauses: every op × slot
  * over random value arrays (null arrays and elements, null slots,
  * empty and multi-valued arrays, NaN, −0.0), compared as three-valued
  * results on their own and under the three placements a qp bool puts
  * a clause in — Must (`&&`), MustNot (`!`) and Should (`||`) — in
  * whole-stage codegen and in interpreted evaluation. */
class SlotExistsSpec extends AnyFunSuite {
  private lazy val spark = SparkSuite.session

  private val Ops = Seq("=", "<", "<=", ">", ">=")
  private def ts(s: String) = Timestamp.valueOf(s)
  private val Doubles = Seq(-1.5, -0.0, 0.0, 1.0, 2.5, Double.NaN,
    Double.PositiveInfinity)
  private val Strings = Seq("", "a", "ab", "b", "é")
  private val Times = Seq(ts("2020-01-01 00:00:00"), ts("2021-06-15 12:30:00"),
    ts("2024-02-29 23:59:59"))
  private val Bools = Seq(true, false)
  /** slot → comparands (a typed null included) */
  private val Comparands: Seq[(String, Seq[Column])] = Seq(
    "n" -> (Doubles.map(lit) :+ lit(null).cast(DoubleType)),
    "s" -> (Strings.map(lit) :+ lit(null).cast(StringType)),
    "t" -> (Times.map(lit) :+ lit(null).cast(TimestampType)),
    "b" -> (Bools.map(lit) :+ lit(null).cast(BooleanType)))

  private def maybe[A](g: Gen[A]): Gen[Any] =
    Gen.frequency(1 -> Gen.const(null), 4 -> g)
  private val value: Gen[Row] = for {
    s <- maybe(Gen.oneOf(Strings)); n <- maybe(Gen.oneOf(Doubles))
    t <- maybe(Gen.oneOf(Times)); b <- maybe(Gen.oneOf(Bools))
  } yield Row(s, n, t, b, null, null, null)
  private val array: Gen[Any] = Gen.frequency(
    1 -> Gen.const(null),
    1 -> Gen.const(Seq.empty[Row]),
    6 -> Gen.chooseNum(1, 4).flatMap(Gen.listOfN(_,
      Gen.frequency(1 -> Gen.const(null: Row), 6 -> value))))
  private val row: Gen[(Any, Any)] = for {
    a <- array; o <- maybe(Gen.oneOf(Bools))
  } yield (a, o)

  private lazy val data: DataFrame = {
    val rows = Gen.listOfN(600, row)
      .apply(Gen.Parameters.default, Seed(20261019L)).get
      .zipWithIndex.map { case ((a, o), i) => Row(i.toLong, a, o) }
    val schema = StructType(Seq(StructField("id", LongType),
      StructField("arr", ArrayType(InfotonModel.ValueType)),
      StructField("o", BooleanType)))
    // an RDD source, not a local relation, so the projections below
    // execute instead of being folded on the driver
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 3), schema)
  }

  /** (label, native clause, exists clause) for every comparand, one
    * group per slot × op (one projection each: whole-stage codegen
    * covers at most `spark.sql.codegen.maxFields` = 100 columns) */
  private val groups: Seq[Seq[(String, Column, Column)]] =
    for { (slot, cmps) <- Comparands; op <- Ops } yield
      cmps.zipWithIndex.map { case (cmp, ci) =>
        val arr = col("arr")
        val ref = exists(arr, x => op match {
          case "=" => x.getField(slot) === cmp
          case "<" => x.getField(slot) < cmp
          case "<=" => x.getField(slot) <= cmp
          case ">" => x.getField(slot) > cmp
          case ">=" => x.getField(slot) >= cmp
        })
        (s"$slot $op #$ci", SlotExists.of(arr, slot, op, cmp), ref)
      }

  /** The clause alone and under Must, MustNot and Should. */
  private def placements(c: Column): Seq[Column] =
    Seq(c, c && col("o"), !c, c || col("o"),
      col("arr").isNotNull && c, !(col("arr").isNotNull && c))

  /** Every row's results over all groups, and each group's plan. */
  private def results(pick: ((String, Column, Column)) => Column)
      : (Map[Long, Seq[Any]], Seq[SparkPlan]) = {
    val parts = groups.map { g =>
      val df = data.select(col("id") +: g.flatMap(c => placements(pick(c))): _*)
      (df.collect().map(r => r.getLong(0) -> r.toSeq.tail).toMap,
        df.queryExecution.executedPlan)
    }
    (parts.head._1.keys.map(id => id -> parts.flatMap(_._1(id))).toMap,
      parts.map(_._2))
  }

  private def stripAqe(p: SparkPlan): SparkPlan = p match {
    case a: AdaptiveSparkPlanExec => a.executedPlan
    case o => o
  }

  private def assertSame(got: Map[Long, Seq[Any]], want: Map[Long, Seq[Any]],
                         mode: String): Unit = {
    assert(got.keySet == want.keySet)
    val labels = groups.flatten.flatMap(c => Seq("", " Must", " MustNot", " Should",
      " guarded", " guarded MustNot").map(c._1 + _))
    want.foreach { case (id, w) =>
      val g = got(id)
      labels.indices.find(i => g(i) != w(i)).foreach { i =>
        fail(s"$mode: ${labels(i)}: native ${g(i)} vs exists ${w(i)} on " +
          data.where(col("id") === id).head())
      }
    }
  }

  test("slot_exists equals exists for every op x slot, in every placement") {
    val (want, _) = results(_._3)
    // the generated data covers the edge cases the property is about
    val arrays = data.select("arr").collect().map(_.get(0))
    assert(arrays.contains(null) && arrays.contains(Seq.empty))
    assert(data.where(exists(col("arr"), x => x.isNull)).count() > 0)
    assert(data.where(exists(col("arr"), x => isnan(x.getField("n")))).count() > 0)
    assert(data.where(size(col("arr")) > 1).count() > 0)
    // the three outcomes all occur, so the comparison is not vacuous
    val outcomes = want.values.flatten.toSet
    assert(outcomes == Set(true, false, null))

    val (codegen, plans) = results(_._2)
    plans.foreach { plan =>
      assert(stripAqe(plan).collect { case w: WholeStageCodegenExec =>
        w.collect { case p: ProjectExec => p } }.flatten.nonEmpty,
        s"the native projection must run in whole-stage codegen:\n$plan")
    }
    assertSame(codegen, want, "codegen")

    val conf = spark.conf
    val keys = Seq("spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")
    val saved = keys.map { case (k, _) => k -> conf.getOption(k) }
    keys.foreach { case (k, v) => conf.set(k, v) }
    try assertSame(results(_._2)._1, want, "interpreted")
    finally saved.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None) => conf.unset(k)
    }
  }
}
