package graft.perfbench

import org.scalatest.funsuite.AnyFunSuite

class GenSpec extends AnyFunSuite {

  private def bytes(p: Gen.Points): Seq[Long] =
    p.ids.toSeq ++ p.xs.map(_.toLong) ++ p.ys.map(_.toLong) ++ p.ts.map(_.toLong)

  test("same seed gives the same points, another seed other points") {
    val a = Gen.points2Slice(7, 3, 1000, 1 << 22, 64)
    val b = Gen.points2Slice(7, 3, 1000, 1 << 22, 64)
    val c = Gen.points2Slice(8, 3, 1000, 1 << 22, 64)
    assert(bytes(a) === bytes(b))
    assert(a.xs.toSeq !== c.xs.toSeq)
    assert(a.ids.toSeq === c.ids.toSeq) // ids are positional, coordinates are seeded
    val t1 = Gen.points3Slice(7, 0, 500, 1 << 20, 64)
    assert(bytes(t1) === bytes(Gen.points3Slice(7, 0, 500, 1 << 20, 64)))
    assert(t1.ts.toSeq !== Gen.points3Slice(9, 0, 500, 1 << 20, 64).ts.toSeq)
  }

  test("points stay in the domain and slices do not overlap") {
    val d = 1 << 22
    val s0 = Gen.points2Slice(1, 0, 2000, d, 64)
    val s1 = Gen.points2Slice(1, 1, 2000, d, 64)
    assert((s0.xs ++ s0.ys ++ s1.xs ++ s1.ys).forall(v => v >= 0 && v < d))
    assert(s0.ids.toSet.intersect(s1.ids.toSet).isEmpty)
    assert(s0.xs.toSeq !== s1.xs.toSeq)
  }

  test("ingest batches are seeded, and batch b holds ids (b-1)*rows until b*rows") {
    val b2 = Gen.ingestBatch(5, 2, 100, 1 << 22, 64)
    assert(bytes(b2) === bytes(Gen.ingestBatch(5, 2, 100, 1 << 22, 64)))
    assert(b2.ids.toSeq === (100L until 200L))
    assert(b2.xs.toSeq !== Gen.ingestBatch(6, 2, 100, 1 << 22, 64).xs.toSeq)
  }

  test("documents and embeddings are seeded") {
    val z = new Gen.Zipf(20000)
    assert(Gen.docText(3, 42, 80, z) === Gen.docText(3, 42, 80, z))
    assert(Gen.docText(3, 42, 80, z) !== Gen.docText(4, 42, 80, z))
    assert(Gen.docText(3, 42, 80, z).split(' ').length === 80)
    val earlier = (0 until 50).map(i => Gen.docText(3, i, 80, z))
    val inc = (1000L until 1200L).map(id => Gen.incomingText(3, id, 80, z, earlier))
    assert(inc === (1000L until 1200L).map(id => Gen.incomingText(3, id, 80, z, earlier)))
    assert(inc.count(earlier.contains) > 0) // exact copies exist
    assert(Gen.embedding(3, 9, 64, 32).toSeq === Gen.embedding(3, 9, 64, 32).toSeq)
    assert(Gen.embedding(3, 9, 64, 32).toSeq !== Gen.embedding(4, 9, 64, 32).toSeq)
  }

  test("brute-force kNN orders by (dist2, id) and honours the prefix bound") {
    val p = Gen.Points(Array(5L, 3L, 9L, 1L), Array(0, 1, 1, 10), Array(0, 0, 0, 10))
    assert(Brute.knn(p, Array(1, 0), 3) === Seq((0L, 3L), (0L, 9L), (1L, 5L)))
    assert(Brute.knn(p, Array(1, 0), 3, upto = 2) === Seq((0L, 3L), (1L, 5L)))
    assert(Brute.count2(p, 0, 1, 0, 0) === 3L)
    assert(Brute.count2(p, 0, 1, 0, 0, upto = 1) === 1L)
    assert(Brute.get(p, 1, 0) === Set(3L, 9L))
  }
}
