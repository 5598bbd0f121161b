package graft.ext

import graft.SparkSpec
import org.apache.spark.sql.DataFrame

/** [[Components.minLabelPropagation]] on adversarial graph shapes the
  * x75 corpus graph (dense near-dup clusters) never exercises: long
  * paths (worst case for min-label convergence), multiple components,
  * singletons, and the loud non-convergence cap. */
class ComponentsSpec extends SparkSpec {
  import spark.implicits._

  private def run(nodes: Seq[Long], edges: Seq[(Long, Long)],
                  maxIters: Int = 50): Map[Long, Long] =
    Components.minLabelPropagation(
      nodes.toDF("id"), edges.toDF("s", "t"), "s", "t", maxIters)
      .as[(Long, Long)].collect().toMap

  test("path graph: min label reaches the far end (diameter iterations)") {
    // 0-1-2-...-9 one chain: every vertex must end at label 0
    val nodes = (0L to 9L)
    val edges = (0L to 8L).map(i => (i, i + 1))
    val got = run(nodes, edges)
    assert(got == nodes.map(_ -> 0L).toMap)
  }

  test("two components + singletons; direction of edge doesn't matter") {
    // {0,1,2} via reversed edges, {5,6} and isolated 8, 9
    val got = run(Seq(0L, 1L, 2L, 5L, 6L, 8L, 9L),
      Seq((2L, 1L), (1L, 0L), (6L, 5L)))
    assert(got == Map(0L -> 0L, 1L -> 0L, 2L -> 0L,
      5L -> 5L, 6L -> 5L, 8L -> 8L, 9L -> 9L))
  }

  test("clique collapses in one pull; star in two") {
    val clique = for (a <- 0L to 3L; b <- 0L to 3L if a < b) yield (a, b)
    assert(run(0L to 3L, clique) == (0L to 3L).map(_ -> 0L).toMap)
    // star centered at the max id: leaves pull the center's label first
    val star = Seq((9L, 1L), (9L, 2L), (9L, 3L))
    assert(run(Seq(1L, 2L, 3L, 9L), star) ==
      Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 9L -> 1L))
  }

  test("an edge-only vertex added in the round its neighbour's label drops still converges") {
    // round 1 adds vertex 3 (label 5) while vertex 5 drops from 5 to 0:
    // the label sum stays 5, so only the row count shows the change
    assert(run(Seq(0L, 5L), Seq((5L, 3L), (0L, 5L))) ==
      Map(0L -> 0L, 3L -> 0L, 5L -> 0L))
  }

  test("non-convergence within maxIters fails loudly, never silently") {
    val e = intercept[IllegalStateException] {
      run(0L to 9L, (0L to 8L).map(i => (i, i + 1)), maxIters = 2)
    }
    assert(e.getMessage.contains("did not converge"))
  }

  test("random graphs match a local union-find reference (seeded)") {
    val rnd = new scala.util.Random(42)
    for (_ <- 1 to 3) {
      val n = 30 + rnd.nextInt(40)
      val nodes = (0L until n.toLong).toSeq
      val edges = Seq.fill(rnd.nextInt(60))(
        (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter { case (a, b) => a != b }
      // local reference: union-find with min-id representative
      val parent = Array.tabulate(n)(identity)
      def find(x: Int): Int =
        if (parent(x) == x) x else { parent(x) = find(parent(x)); parent(x) }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a.toInt), find(b.toInt))
        if (ra != rb) { val lo = math.min(ra, rb)
          parent(math.max(ra, rb)) = lo }
      }
      val expected = nodes.map(v => v -> find(v.toInt).toLong).toMap
      assert(run(nodes, edges) == expected,
        s"n=$n edges=${edges.size}")
    }
  }

  test("componentSizes: one row per component with its cardinality") {
    val labels: DataFrame = Seq((0L, 0L), (1L, 0L), (2L, 0L), (5L, 5L))
      .toDF("id", "label")
    val sizes = Components.componentSizes(labels)
      .as[(Long, Long)].collect().toMap
    assert(sizes == Map(0L -> 3L, 5L -> 1L))
  }
}
