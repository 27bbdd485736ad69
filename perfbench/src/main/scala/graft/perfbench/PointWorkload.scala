package graft.perfbench

/**
 * `point_store`: the Z-order point store end to end. Set-up writes the
 * 2-D and 3-D stores and stages the ingest batches; then the serving
 * client ([[PointQuery.Client]]) runs the first slice of its mix, the
 * write phase ([[PointIngest]]: streaming ingest beside a reader,
 * takedowns and maintenance) changes the 2-D store, and the client serves
 * the rest of its mix on the maintained stores. The text and vector
 * stores are never touched.
 */
object PointWorkload {
  val SetupReps = 3

  def build(ctx: Ctx, dir: String): Unit = {
    PointQuery.build(ctx.spark, ctx.seed, dir)
    PointIngest.stage(ctx.spark, ctx.seed, PointQuery.N2.toLong, s"$dir/src")
  }

  def run(ctx: Ctx, out: Outcome): Unit = {
    for (i <- 0 until SetupReps) {
      Run.setup(out)(build(ctx, ctx.path(s"setup$i")))
      if (i > 0) Run.deleteRecursively(new java.io.File(ctx.path(s"setup${i - 1}")))
    }
    val dir = ctx.path(s"setup${SetupReps - 1}")
    val (p2, p3, stats) = (s"$dir/points2", s"$dir/points3", s"$dir/stats")
    out.storeDirs ++= Seq(p2, p3, stats)
    // oracle arrays, regenerated in memory outside any timed window
    val pts2 = PointQuery.oracle2(ctx.seed)
    val pts3 = PointQuery.oracle3(ctx.seed)

    val gc0 = Run.gcMs
    val client = new PointQuery.Client(ctx, out, p2, p3, pts3)
    client.warmUp(pts2)
    client.serve(pts2, PointQuery.FirstSliceOps)
    val after = PointIngest.run(ctx, out, s"$dir/src", p2, stats, s"$dir/checkpoint", pts2)
    client.finish(after)
    out.figures("jvm.gc_ms") = (Run.gcMs - gc0).toDouble
    client.check()

    val userBytes = after.size * 24.0 + pts3.size * 20.0 // (id, x, y, put_seq) and (id, x, y, t)
    val bytes = Seq(p2, p3, stats).map(d => Run.dirUsage(d)._1).sum
    out.figures("store_bytes_per_user_byte") = bytes / userBytes
  }
}
