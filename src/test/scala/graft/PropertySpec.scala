package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions.lit
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** ScalaCheck-generator properties for the pure algorithmic kernels
  * (SURVEY §5's property-test plan): the top-k Aggregator against the
  * sort-based specification, the merge/reduce algebra partial
  * aggregation relies on, and the [[Exact]] reductions against a
  * BigDecimal reference. Uses seeded sampling (no scalatest-plus
  * bridge in the offline cache), so runs are deterministic.
  */
class PropertySpec extends SparkSpec {

  private val agg = new graft.functions.TopKDoubles(5)
  private val doubles: Gen[List[Double]] = Gen.listOf(Gen.chooseNum(-1e9, 1e9))

  private def samples[A](g: Gen[A], n: Int): Seq[A] =
    (0 until n).flatMap(i =>
      g.apply(Gen.Parameters.default, Seed(42L + i)))

  test("TopKDoubles reduce-fold equals sorted take(k)") {
    samples(doubles, 200).foreach { xs =>
      val got = xs.foldLeft(agg.zero)(agg.reduce)
      assert(got == xs.sortBy(-_).take(5), s"input $xs")
    }
  }

  test("TopKDoubles merge is equivalent to concatenated fold (partial-agg safety)") {
    val pairs = samples(Gen.zip(doubles, doubles), 200)
    pairs.foreach { case (a, b) =>
      val merged = agg.merge(
        a.foldLeft(agg.zero)(agg.reduce),
        b.foldLeft(agg.zero)(agg.reduce))
      assert(merged == (a ++ b).sortBy(-_).take(5), s"inputs $a / $b")
    }
  }

  test("VecDot eval equals reference fold for arbitrary vectors") {
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.types.{ArrayType, DoubleType}
    val vec = Gen.listOfN(16, Gen.chooseNum(-1e3, 1e3))
    samples(Gen.zip(vec, vec), 200).foreach { case (a, b) =>
      val expr = graft.functions.VecDot(
        Literal.create(a.toArray, ArrayType(DoubleType)),
        Literal.create(b.toArray, ArrayType(DoubleType)))
      val got = expr.eval(null).asInstanceOf[Double]
      val want = a.zip(b).foldLeft(0.0) { case (s, (x, y)) => s + x * y }
      assert(got == want, s"inputs $a / $b")
    }
  }

  test("SQ8 codec: round-trip error <= half-step for arbitrary value/range") {
    // the scalar spec of llm_ss_sq8/llm_ss_sq8_search's codec:
    // code = round((x-mn)/(mx-mn)*255), deq = mn + code*(mx-mn)/255
    def deq(x: Double, mn: Double, mx: Double): Double =
      if (mx == mn) mn
      else mn + math.round((x - mn) / (mx - mn) * 255).toDouble * (mx - mn) / 255.0
    val cases = samples(for {
      mn <- Gen.chooseNum(-1e3, 1e3)
      w <- Gen.chooseNum(0.0, 1e3)
      f <- Gen.chooseNum(0.0, 1.0)
    } yield (mn, mn + w, mn + w * f), 500)
    cases.foreach { case (mn, mx, x) =>
      val err = math.abs(x - deq(x, mn, mx))
      val halfStep = (mx - mn) / 255.0 / 2.0
      assert(err <= halfStep + 1e-9 * math.max(1.0, math.abs(mx)),
        s"x=$x in [$mn,$mx]: err $err > half-step $halfStep")
    }
  }

  // Exact.sum cases: groups of nullable doubles mixing ordinary values,
  // negatives, values below half a unit of the scale (round to 0 or to
  // one unit) and values just under the DECIMAL(28,12) bound of 1e16.
  private val exactTerm: Gen[Option[Double]] = Gen.frequency(
    1 -> Gen.const(None),
    4 -> Gen.chooseNum(-1e6, 1e6).map(Some(_)),
    2 -> Gen.chooseNum(-1e-11, 1e-11).map(Some(_)),
    1 -> Gen.chooseNum(9.9e15, 9.999999999999998e15)
      .flatMap(x => Gen.oneOf(x, -x)).map(Some(_)))
  private val exactGroups: Seq[(Int, Option[Double])] =
    samples(Gen.listOf(exactTerm), 120).zipWithIndex
      .flatMap { case (xs, g) => xs.map(x => (g, x)) }

  private def exactRef(xs: Seq[Option[Double]], scale: Int): Option[Double] =
    if (xs.forall(_.isEmpty)) None
    else Some(xs.flatten.map(x =>
      BigDecimal(x).setScale(scale, BigDecimal.RoundingMode.HALF_UP)).sum.toDouble)

  private def groupSums(df: DataFrame): Map[Int, Option[Double]] =
    df.collect().map(r => r.getInt(0) -> Option(r.get(1)).map(_.asInstanceOf[Double]))
      .toMap

  test("Exact.sum equals the BigDecimal reference bit for bit, at 1 and 7 partitions") {
    import spark.implicits._
    val df = exactGroups.toDF("g", "x")
    val want = exactGroups.groupMap(_._1)(_._2)
      .map { case (g, xs) => g -> exactRef(xs, 12) }
    Seq(1, 7).foreach { n =>
      val got = groupSums(df.repartition(n).groupBy($"g").agg(Exact.sum($"x")))
      assert(got.keySet == want.keySet)
      want.foreach { case (g, w) =>
        assert(got(g).map(java.lang.Double.doubleToRawLongBits) ==
          w.map(java.lang.Double.doubleToRawLongBits),
          s"group $g at $n partitions: ${got(g)} != $w")
      }
    }
    // a precision Spark keeps in a long, over values inside its bound
    val small = exactGroups.filter(_._2.forall(x => math.abs(x) < 1e11))
    val wantSmall = small.groupMap(_._1)(_._2).map { case (g, xs) => g -> exactRef(xs, 6) }
    assert(groupSums(small.toDF("g", "x").repartition(7).groupBy($"g")
      .agg(Exact.sum($"x", 6, 18))) == wantSmall)
  }

  test("Exact.sum and Exact.sumSql agree through spark.sql on a temp view") {
    import spark.implicits._
    val df = exactGroups.toDF("g", "x")
    df.createOrReplaceTempView("exact_terms")
    val viaColumn = groupSums(df.groupBy($"g").agg(Exact.sum($"x" * $"x" / lit(1e16))))
    val viaSql = groupSums(spark.sql(
      s"SELECT g, ${Exact.sumSql("x * x / 1e16D")} FROM exact_terms GROUP BY g"))
    assert(viaColumn == viaSql)
    // the running-total pair, over a total order within each group
    val ordered = exactGroups.zipWithIndex
      .map { case ((g, x), i) => (g, i.toLong, x) }.toDF("g", "i", "x")
    ordered.createOrReplaceTempView("exact_running")
    val w = Window.partitionBy($"g").orderBy($"i")
    val colRun = ordered.select($"g", $"i", Exact.sumOver($"x", w))
      .as[(Int, Long, Option[Double])].collect().sortBy(r => (r._1, r._2))
    val sqlRun = spark.sql(
      s"SELECT g, i, ${Exact.sumOverSql("x", "(PARTITION BY g ORDER BY i)")} FROM exact_running")
      .as[(Int, Long, Option[Double])].collect().sortBy(r => (r._1, r._2))
    assert(colRun.toSeq == sqlRun.toSeq)
  }

  test("Exact.sum of an empty group is null") {
    import spark.implicits._
    val empty = exactGroups.toDF("g", "x").filter(lit(false))
    assert(empty.agg(Exact.sum($"x")).head().isNullAt(0))
    empty.createOrReplaceTempView("exact_empty")
    assert(spark.sql(s"SELECT ${Exact.sumSql("x")} FROM exact_empty").head().isNullAt(0))
  }

  test("Exact.sumLocal equals Exact.sum over the same values") {
    import spark.implicits._
    val xs = exactGroups.flatMap(_._2).filter(x => math.abs(x) < 1e6)
    assert(Exact.sumLocal(xs) == xs.toDF("x").agg(Exact.sum($"x")).head().getDouble(0))
  }

  test("Exact.round rounds HALF_UP at ties, away from zero") {
    val ties = samples(Gen.zip(Gen.chooseNum(0L, 10000000L), Gen.chooseNum(0, 6)), 300)
    ties.foreach { case (m, k) =>
      // m + 0.5 units of 10^-k, written as a decimal: the tie itself
      val x = BigDecimal(m * 10 + 5, k + 1).toDouble
      val up = BigDecimal(m + 1, k).toDouble
      assert(Exact.round(x, k) == up, s"round($x, $k)")
      assert(Exact.round(-x, k) == -up, s"round(${-x}, $k)")
    }
    assert(Exact.round(0.125, 2) == 0.13)
    assert(Exact.round(2.5, 0) == 3.0)
    assert(Exact.round(1.0049, 2) == 1.0)
  }
}
