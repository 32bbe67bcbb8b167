package graft.wcc

import graft.graph.SortedIntersect
import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** Pins the gallop/merge intersection kernel behind every RDD-side
  * triangle count and listing: for ANY pair of sorted long arrays —
  * including duplicates and the heavily skewed shapes that select
  * the galloping branch — the visited commons equal the classic
  * two-pointer merge scan's pairings, in ascending order, and the
  * counting and collecting forms agree with them. */
class VisitCommonsSpec extends AnyFunSuite {

  private def samples[T](g: Gen[T], n: Int): Seq[T] =
    (1 to n).flatMap(i => g.apply(Gen.Parameters.default, Seed(42L + i)))

  private def forAll[A, B](ga: Gen[A], gb: Gen[B], n: Int = 60)(
      check: (A, B) => Unit): Unit =
    samples(Gen.zip(ga, gb), n).foreach { case (a, b) => check(a, b) }

  private def mergeReference(a: Array[Long], b: Array[Long]): Seq[Long] = {
    val out = Seq.newBuilder[Long]
    var i = 0; var j = 0
    while (i < a.length && j < b.length) {
      if (a(i) == b(j)) { out += a(i); i += 1; j += 1 }
      else if (a(i) < b(j)) i += 1 else j += 1
    }
    out.result()
  }

  private def collected(a: Array[Long], b: Array[Long]): Seq[Long] = {
    val out = Seq.newBuilder[Long]
    SortedIntersect.visitCommons(a, b)(out += _)
    out.result()
  }

  private val sortedArray: Gen[Array[Long]] =
    Gen.listOf(Gen.chooseNum(0L, 60L)).map(_.sorted.toArray)

  test("visitCommons == merge scan on random arrays (with duplicates)") {
    forAll(sortedArray, sortedArray) { (a, b) =>
      val ref = mergeReference(a, b)
      assert(collected(a, b) === ref)
      assert(SortedIntersect.count(a, b) === ref.size)
      assert(SortedIntersect.commons(a, b).toSeq === ref)
    }
  }

  test("skewed sizes select the gallop branch and still match") {
    // |a| * 16 < |b| forces galloping; values overlap partially
    forAll(Gen.listOfN(5, Gen.chooseNum(0L, 500L)),
      Gen.listOfN(400, Gen.chooseNum(0L, 500L))) { (la, lb) =>
      val a = la.sorted.toArray
      val b = lb.sorted.toArray
      assert(collected(a, b) === mergeReference(a, b))
      assert(collected(b, a) === mergeReference(b, a))
    }
  }

  test("edge shapes: empty, disjoint, identical, a past b's end") {
    val e = Array.empty[Long]
    val x = Array(1L, 3L, 5L)
    assert(collected(e, x).isEmpty)
    assert(collected(x, e).isEmpty)
    assert(collected(x, Array(2L, 4L, 6L)).isEmpty)
    assert(collected(x, x) === Seq(1L, 3L, 5L))
    // smaller array's values all beyond the larger's range (gallop
    // must terminate cleanly at b's end)
    val big = (0L until 200L).toArray
    assert(collected(Array(500L, 600L), big).isEmpty)
    assert(collected(Array(199L, 500L), big) === Seq(199L))
  }
}
