package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.ops.Q

/** Bench's family-group packing: which extended queries share a fresh
  * child JVM. Pure — no Spark session. */
class BenchPackingSpec extends AnyFunSuite {

  private val families = Bench.extendedRegistries
  private val groups = Bench.packGroups(families, Bench.ExtGroupMax)
  private def names(qs: Seq[Q]): Seq[String] = qs.map(_.name)

  /** The families a group holds, from its tag. */
  private def familiesOf(tag: String): Seq[(String, Seq[Q])] =
    tag.split("\\+").toSeq.map(t => families.find(_._1 == t)
      .getOrElse(fail(s"group tag $tag names no extended family $t")))

  test("every extended query lands in exactly one group, in registration order") {
    assert(names(groups.flatMap(_._2)) == names(Bench.extendedSet))
  }

  test("no family is split: each group is whole consecutive families") {
    groups.foreach { case (tag, qs) =>
      assert(names(qs) == names(familiesOf(tag).flatMap(_._2)), tag)
    }
    assert(groups.flatMap(g => familiesOf(g._1).map(_._1)) ==
      families.filter(_._2.nonEmpty).map(_._1))
  }

  test("a group exceeds the cap only when it holds a single family") {
    groups.foreach { case (tag, qs) =>
      assert(qs.size <= Bench.ExtGroupMax || familiesOf(tag).size == 1,
        s"$tag holds ${qs.size} queries across several families")
    }
  }

  test("packing is greedy: a group closes only when the next family would overflow it") {
    groups.zip(groups.drop(1)).foreach { case ((tag, qs), (next, _)) =>
      val head = familiesOf(next).head._2
      assert(qs.size + head.size > Bench.ExtGroupMax, s"$tag could take ${familiesOf(next).head._1}")
    }
  }

  test("synthetic families: an oversized family stands alone, empty ones vanish") {
    def fam(tag: String, n: Int): (String, Seq[Q]) =
      tag -> (1 to n).map(i => Q(s"$tag$i", (_, _) => null, None))
    val packed = Bench.packGroups(
      Seq(fam("a", 2), fam("b", 3), fam("big", 7), fam("none", 0), fam("c", 1), fam("d", 4)), 5)
    assert(packed.map(g => g._1 -> g._2.size) ==
      Seq("a+b" -> 5, "big" -> 7, "c+d" -> 5))
  }
}
