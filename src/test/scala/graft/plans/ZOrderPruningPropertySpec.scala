package graft.plans

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.plans.logical.Filter
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalacheck.rng.Seed

import graft.SparkSpec
import graft.operators.{PointStore, SpatioTemporal}
import graft.zorder.{IntRange, ZCodec, ZOrder, ZOrder3}

/** [[ZOrderPruningRule]] on vs off over small marked 2-D and 3-D
  * relations holding in-domain, negative, edge and out-of-domain
  * points: every random box returns the same ids either way; a box in
  * the codec's domain gains its interval conjunct, and any other box
  * leaves the analyzed plan structurally unchanged. */
class ZOrderPruningPropertySpec extends SparkSpec {

  private def check(cases: Int)(p: Prop): Unit = {
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(cases)
      .withInitialSeed(Seed(2026L)), p)
    assert(res.passed, res.status.toString)
  }

  /** Coordinate values: near zero on both sides, the codec's edge, the
    * Int edges, and anywhere. */
  private def coord(codec: ZCodec): Gen[Int] = Gen.frequency(
    4 -> Gen.choose(-50, 50),
    2 -> Gen.choose(codec.maxCoord - 50, codec.maxCoord),
    1 -> Gen.chooseNum(codec.maxCoord.toLong, Int.MaxValue.toLong).map(_.toInt), // past maxCoord in 3-D
    1 -> Gen.oneOf(0, codec.maxCoord, Int.MaxValue, Int.MinValue, -1),
    2 -> Gen.chooseNum(Int.MinValue, Int.MaxValue))

  private def range(codec: ZCodec): Gen[IntRange] = Gen.frequency(
    4 -> Gen.zip(coord(codec), coord(codec)).map { case (a, b) => IntRange(a min b, a max b) },
    2 -> Gen.zip(Gen.choose(-60, 0), Gen.choose(0, 60)).map { case (a, b) => IntRange(a, b) }, // spans zero
    1 -> Gen.choose(0, 60).map(IntRange(_, Int.MaxValue)),
    1 -> Gen.const(IntRange(0, codec.maxCoord)),
    1 -> Gen.choose(1, 60).map(d => // past maxCoord in 3-D
      IntRange(codec.maxCoord - 60, math.min(codec.maxCoord.toLong + d, Int.MaxValue.toLong).toInt)))

  private def box(codec: ZCodec): Gen[Seq[IntRange]] = Gen.frequency(
    6 -> Gen.listOfN(codec.dims, range(codec)),
    3 -> Gen.listOfN(codec.dims, Gen.zip(Gen.choose(0, 30), Gen.choose(20, 60))
      .map { case (a, b) => IntRange(a min b, a max b) }), // in the domain, near the rows at zero
    1 -> Gen.const(Seq.fill(codec.dims)(IntRange(0, codec.maxCoord))))

  private val Seeds = 600

  /** A marked relation whose rows take every coordinate value the
    * boxes aim at, plus a row with a null coordinate. */
  private def rows(codec: ZCodec): Seq[(Long, Seq[Option[Int]])] = {
    val gen = Gen.listOfN(Seeds, Gen.listOfN(codec.dims, coord(codec)))
    val pts = gen.pureApply(Gen.Parameters.default, Seed(7L))
    pts.zipWithIndex.map { case (p, i) => (i.toLong, p.map(Option(_))) } :+
      ((Seeds.toLong, None +: Seq.fill(codec.dims - 1)(Some(1))))
  }

  private def relation(codec: ZCodec): DataFrame = {
    import spark.implicits._
    val raw = rows(codec).map { case (id, p) => (id, p(0), p(1), p.lift(2).flatten) }
      .toDF("pid", "px", "py", "pt")
    val pts =
      if (codec == ZOrder) PointStore.points(raw, col("pid"), col("px"), col("py"))
      else SpatioTemporal.points3(raw, col("pid"), col("px"), col("py"), col("pt"))
    pts.cache() // not a LocalRelation, so the optimizer keeps the Filter for the rule
  }

  private def ruleOnVsOff(codec: ZCodec, key: String, coords: Seq[String]): Unit = {
    val pts = relation(codec)
    var prunedHits = 0 // in-domain boxes whose answer is not empty
    try {
      check(60)(Prop.forAllNoShrink(box(codec)) { b =>
        val cond: Column = coords.zip(b)
          .map { case (c, r) => col(c) >= r.min && col(c) <= r.max }.reduce(_ && _)
        val query = pts.filter(cond)
        def ids: Set[Long] = query.select("id").collect().map(_.getLong(0)).toSet
        spark.experimental.extraOptimizations = Nil
        val off = ids
        spark.experimental.extraOptimizations = Seq(ZOrderPruningRule)
        try {
          assert(ids === off, s"box $b")
          val inDomain = b.forall(r => r.min >= 0 && r.max <= codec.maxCoord)
          val pruned = query.queryExecution.optimizedPlan.collect {
            case Filter(c, _) if c.references.exists(_.name == key) => c
          }
          assert(pruned.nonEmpty === inDomain, s"box $b")
          if (inDomain && off.nonEmpty) prunedHits += 1
          if (!inDomain) {
            val analyzed = query.queryExecution.analyzed
            assert(ZOrderPruningRule(analyzed) === analyzed, s"box $b")
          }
        } finally spark.experimental.extraOptimizations = Nil
        true
      })
      assert(prunedHits >= 10, s"only $prunedHits pruned boxes kept rows")
    } finally { pts.unpersist(); () }
  }

  test("pruning rule on vs off property: 2-D rectangles over a marked zkey relation") {
    ruleOnVsOff(ZOrder, "zkey", Seq("x", "y"))
  }

  test("pruning rule on vs off property: 3-D boxes over a marked z3 relation") {
    ruleOnVsOff(ZOrder3, "z3", Seq("x", "y", "t"))
  }
}
