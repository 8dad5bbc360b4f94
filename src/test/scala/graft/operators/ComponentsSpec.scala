package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTest

/** Every labeling case runs through both size-selected paths: the
  * default, where a broadcast-sized pair list is labeled on the driver,
  * and the distributed propagation/star-contraction path, forced with
  * `spark.sql.autoBroadcastJoinThreshold` at -1. Both must equal a
  * local union-find reference.
  */
class ComponentsSpec extends AnyFunSuite with SparkTest {
  import spark.implicits._

  private val Threshold = "spark.sql.autoBroadcastJoinThreshold"

  private def withThreshold[T](value: String)(body: => T): T = {
    val prev = spark.conf.getOption(Threshold)
    spark.conf.set(Threshold, value)
    try body
    finally prev.fold(spark.conf.unset(Threshold))(spark.conf.set(Threshold, _))
  }

  private def onDriver(labeled: DataFrame): Boolean =
    labeled.queryExecution.analyzed.isInstanceOf[LocalRelation]

  /** (driver, distributed) labelings of `pairs`; each must have taken
    * its path, and both must have one schema at every `maxIter` (the
    * star-contraction fallback included): `id` as nullable as the
    * input ids, `component` nullable.
    */
  private def bothPaths(
      pairs: DataFrame, maxIter: Int): (DataFrame, DataFrame) = {
    val driver = Components.connectedComponents(pairs, maxIter)
    val distributed = withThreshold("-1")(
      Components.connectedComponents(pairs, maxIter))
    assert(onDriver(driver), "a small pair list must be labeled on the driver")
    assert(!onDriver(distributed), "threshold -1 must label distributed")
    assert(driver.schema == distributed.schema, s"maxIter $maxIter")
    assert(driver.schema == StructType(Seq(distributed.schema("id"),
      StructField("component", LongType, nullable = true))))
    (driver, distributed)
  }

  private def labels(labeled: DataFrame): Map[Long, Long] =
    labeled.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  /** Union-find reference: each id present in a pair, labeled with the
    * minimum id of its class.
    */
  private def reference(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val present = edges.flatMap(e => Seq(e._1, e._2)).distinct.sorted
    val at = present.zipWithIndex.toMap
    val parent = Array.tabulate(present.size)(identity)
    def find(x: Int): Int = {
      var r = x; while (parent(r) != r) r = parent(r)
      var c = x
      while (parent(c) != r) { val nx = parent(c); parent(c) = r; c = nx }
      r
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(at(a)), find(at(b)))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    present.map(id => id -> present.filter(p => find(at(p)) == find(at(id))).min)
      .toMap
  }

  /** The labeling of `pairs`, after checking that the driver and the
    * distributed path both give the union-find reference.
    */
  private def components(pairs: Seq[(Long, Long)], maxIter: Int = 25) = {
    val (driver, distributed) = bothPaths(pairs.toDF("id_a", "id_b"), maxIter)
    val want = reference(pairs)
    val got = labels(driver)
    assert(got == want, s"driver path: $pairs")
    assert(labels(distributed) == want, s"distributed path: $pairs")
    got
  }

  test("chain a-b, b-c is one component even though (a,c) never paired") {
    assert(components(Seq((1L, 2L), (2L, 3L))) ==
      Map(1L -> 1L, 2L -> 1L, 3L -> 1L))
  }

  test("ring converges to the minimum id") {
    assert(components(Seq((10L, 11L), (11L, 12L), (12L, 13L), (10L, 13L))) ==
      Map(10L -> 10L, 11L -> 10L, 12L -> 10L, 13L -> 10L))
  }

  test("disjoint clusters keep distinct labels; isolated pair is its own") {
    val got = components(Seq((1L, 2L), (2L, 3L), (100L, 200L)))
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 100L -> 100L, 200L -> 100L))
  }

  test("edge direction does not matter (id_b < id_a accepted)") {
    assert(components(Seq((5L, 4L), (3L, 4L))) ==
      Map(3L -> 3L, 4L -> 3L, 5L -> 3L))
  }

  test("duplicate and self-referential edges are harmless") {
    val got = components(Seq((1L, 2L), (2L, 1L), (1L, 2L), (2L, 2L)))
    assert(got == Map(1L -> 1L, 2L -> 1L))
  }

  test("long chain converges (diameter rounds, early exit at fixpoint)") {
    // path 0-1-2-...-9: worst case for min-label propagation — the
    // label must travel the full diameter
    val chain = (0L until 9L).map(i => (i, i + 1))
    val got = components(chain, maxIter = 25)
    assert(got == (0L to 9L).map(_ -> 0L).toMap)
  }

  test("componentStats reports size and drop count per cluster") {
    val (driver, distributed) = bothPaths(
      Seq((1L, 2L), (2L, 3L), (100L, 200L)).toDF("id_a", "id_b"), 25)
    for (labeled <- Seq(driver, distributed)) {
      val stats = Components.componentStats(labeled)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(stats == Set((1L, 3L, 2L), (100L, 2L, 1L)))
    }
  }

  /** A call's result and the persistent RDDs it leaves behind,
    * compared by id: the ContextCleaner may reclaim an earlier test's
    * RDDs meanwhile, so a count could drop while one leaked.
    */
  private def leakedBy[T](call: => T): (T, Set[Int]) = {
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val out = call
    (out, spark.sparkContext.getPersistentRDDs.keySet.toSet -- before)
  }

  test("no cached plans leak past the call") {
    // the distributed path persists the pairs, edges and per-round
    // labels, all unpersisted before return; the only survivor is the
    // localCheckpointed result (reclaimed by ContextCleaner when the
    // returned DataFrame is released)
    val (_, leaked) = leakedBy(components(Seq((1L, 2L), (3L, 4L))))
    assert(leaked.size <= 1, s"persistent RDDs left by the call: $leaked")
  }

  test("the driver path releases the materialized pairs and keeps no RDD") {
    val (labeled, leaked) = leakedBy(Components.connectedComponents(
      Seq((1L, 2L), (3L, 4L), (2L, 3L)).toDF("id_a", "id_b")))
    assert(onDriver(labeled))
    assert(leaked.isEmpty, s"persistent RDDs left by the call: $leaked")
    assert(labels(labeled) == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L))
  }

  test("a threshold one pair below the list's size labels distributed") {
    // 3 pairs (a duplicate included) are 48 bytes at 16 bytes a pair
    val pairs = Seq((7L, 8L), (8L, 9L), (7L, 8L)).toDF("id_a", "id_b")
    val want = Map(7L -> 7L, 8L -> 7L, 9L -> 7L)
    val below = withThreshold("47")(Components.connectedComponents(pairs))
    assert(!onDriver(below), "47 bytes cannot hold 3 pairs")
    assert(labels(below) == want)
    val fits = withThreshold("48")(Components.connectedComponents(pairs))
    assert(onDriver(fits), "48 bytes hold 3 pairs")
    assert(labels(fits) == want)
    val empty = withThreshold("0")(Components.connectedComponents(
      Seq.empty[(Long, Long)].toDF("id_a", "id_b")))
    assert(onDriver(empty) && empty.isEmpty)
  }

  test("null ids link nothing and give one (null, null) row on both paths") {
    // (2, null) and (null, 5) must not join 2's cluster to 5, and the
    // null id takes no neighbor's label
    val pairs = Seq[(Option[Long], Option[Long])](
      (Some(1L), Some(2L)), (Some(2L), None), (None, Some(5L)),
      (None, None), (Some(7L), Some(8L)))
      .toDF("id_a", "id_b")
    val want = Set[(Option[Long], Option[Long])](
      (Some(1L), Some(1L)), (Some(2L), Some(1L)), (Some(5L), Some(5L)),
      (Some(7L), Some(7L)), (Some(8L), Some(7L)), (None, None))
    def rows(labeled: DataFrame) = labeled.as[(Option[Long], Option[Long])]
      .collect().toSet
    for (maxIter <- Seq(25, 1)) { // 1 forces the star-contraction fallback
      val (driver, distributed) = bothPaths(pairs, maxIter)
      assert(driver.schema("id").nullable)
      assert(rows(driver) == want)
      assert(rows(distributed) == want, s"maxIter $maxIter")
    }
  }

  test("canonicalBy keeps the highest-quality member, id tiebreak") {
    // cluster {1,2,3}: 3 has the best quality and wins despite the
    // largest id; cluster {10,11}: tie on quality → smaller id keeps
    val labeled = Seq((1L, 1L), (2L, 1L), (3L, 1L), (10L, 10L),
      (11L, 10L)).toDF("id", "component")
    val quality = Seq((1L, 0.5), (2L, 0.7), (3L, 0.9), (10L, 0.8),
      (11L, 0.8)).toDF("id", "quality")
    val got = Components.canonicalBy(labeled, quality).collect()
      .map(r => r.getAs[Long]("component") ->
        ((r.getAs[Long]("n_members"), r.getAs[Long]("keep_id"),
          r.getAs[Double]("keep_quality")))).toMap
    assert(got(1L) == ((3L, 3L, 0.9)))
    assert(got(10L) == ((2L, 10L, 0.8)))
  }

  test("maxIter exhaustion falls back to star contraction, still exact") {
    // path 0-1-...-7 has diameter 7 > maxIter=2: propagation cannot
    // finish, so the large-star/small-star fallback must take over and
    // still produce the exact merge (never a silent partial one)
    val chain = (0L until 7L).map(i => (i, i + 1))
    val (got, leaked) = leakedBy(components(chain, maxIter = 2))
    assert(got == (0L to 7L).map(_ -> 0L).toMap)
    // the fallback path must not leak working caches either
    assert(leaked.size <= 1, s"persistent RDDs left by the call: $leaked")
  }

  test("star contraction agrees with union-find on seeded random graphs") {
    // force the fallback on every shape (maxIter=1 defeats propagation
    // for any graph of diameter > 1) and check the exact component
    // labeling against the union-find reference — the property the
    // Kiveris alternation must hold on clumps, chains, rings and
    // disconnected mixtures alike
    val rnd = new scala.util.Random(42)
    for (trial <- 1 to 6) {
      val nNodes = 20 + rnd.nextInt(60)
      val nEdges = 10 + rnd.nextInt(80)
      val edges = Seq.fill(nEdges)(
        (rnd.nextInt(nNodes).toLong, rnd.nextInt(nNodes).toLong))
        .filter { case (a, b) => a != b }
      if (edges.nonEmpty) {
        val got = components(edges, maxIter = 1)
        assert(got == reference(edges), s"trial $trial: $edges")
      }
    }
  }

  test("10k-node adversarial path converges via O(log n) star rounds") {
    // diameter 9999 >> maxIter=25: label propagation would need 10k
    // rounds; the Kiveris et al. alternation contracts it in ~log2(n).
    // Two components (an even/odd split of ids via two long paths)
    // prove the fallback keeps clusters separate while merging chains.
    val pathA = (0L until 9998L by 2).map(i => (i, i + 2))     // evens 0..9998
    val pathB = (1L until 9999L by 2).map(i => (i, i + 2))     // odds 1..9999
    val (driver, distributed) = bothPaths((pathA ++ pathB).toDF("id_a", "id_b"), 25)
    for (got <- Seq(labels(driver), labels(distributed))) {
      assert(got.size == 10000)
      assert((0L until 10000L by 2).forall(got(_) == 0L))
      assert((1L until 10000L by 2).forall(got(_) == 1L))
    }
  }
}
