package graft.wcc

import java.util.concurrent.{CyclicBarrier, Executors}

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._

import graft.SparkSpec
import org.apache.spark.graphx.{Edge, EdgeRDD, VertexRDD}
import org.apache.spark.rdd.RDD

/** Every WCC entry point owns what it caches through one
 * `Fixpoint.CacheScope`: a call leaves exactly the surfaces it returns
 * cached, and a call that fails leaves nothing, without touching the
 * caches of a concurrent call on the same session. Compared as sets of
 * persisted RDD ids: GraphX persists a vertex or edge RDD's partitions
 * RDD, so that is the id a surface is expected under. */
class CacheOwnershipSpec extends SparkSpec {
  import GraphFixtures._

  private def persisted(): Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet

  private def idsOf(rdds: Seq[RDD[_]]): Set[Int] = rdds.map {
    case v: VertexRDD[_] => v.dependencies.head.rdd.id
    case e: EdgeRDD[_] => e.dependencies.head.rdd.id
    case r => r.id
  }.toSet

  private def unpersist(rdds: Seq[RDD[_]]): Unit = rdds.foreach(_.unpersist(blocking = false))

  /** 3,000 random pairs on 400 vertices: the bulk region is the edges
   * below vertex 320, and three id windows of the rest are batches */
  private val pairs = {
    val rnd = new scala.util.Random(7)
    Seq.fill(3000)((rnd.nextInt(400).toLong, rnd.nextInt(400).toLong))
      .filter(p => p._1 != p._2).map(p => if (p._1 < p._2) p else p.swap).distinct
  }
  private val bulkPairs = pairs.filter(_._2 < 320L)
  private def batch(lo: Long, hi: Long): RDD[Edge[Int]] =
    spark.sparkContext.parallelize(
      pairs.filter(p => p._2 >= lo && p._2 < hi).map(p => Edge(p._1, p._2, 1)), 4)
  private val windows = Seq((320L, 347L), (347L, 374L), (374L, 400L))

  private def labels(s: IncrementalWCC.State): Seq[(Long, Long)] =
    s.graph.vertices.map { case (id, vd) => (id, vd.cId) }.collect().sorted.toSeq

  test("an IDWCC prepare and three consuming folds leave exactly the current state cached") {
    val before = persisted()
    var state = IncrementalWCC.prepare(graphOf(spark, bulkPairs))
    assert(persisted() -- before === idsOf(state.cached), "after prepare")
    windows.zipWithIndex.foreach { case ((lo, hi), i) =>
      state = IncrementalWCC.run(state, batch(lo, hi))
      assert(persisted() -- before === idsOf(state.cached), s"after fold ${i + 1}")
    }
    unpersist(state.cached)
  }

  /** the RDDs reachable through `dependencies` from `rdds` */
  private def lineage(rdds: Seq[RDD[_]]): Int = {
    val seen = scala.collection.mutable.Set.empty[Int]
    def walk(r: RDD[_]): Unit = if (seen.add(r.id)) r.dependencies.foreach(d => walk(d.rdd))
    rdds.foreach(walk)
    seen.size
  }

  test("an IDWCC state's lineage does not grow from fold to fold") {
    // the state is a lineage cut at every hand-off: without one, each
    // fold's graph is built on the last one's and its lineage keeps
    // every earlier fold
    var state = IncrementalWCC.prepare(graphOf(spark, bulkPairs))
    val sizes = windows.map { case (lo, hi) =>
      state = IncrementalWCC.run(state, batch(lo, hi))
      lineage(state.cached)
    }
    assert(sizes(2) === sizes(0), s"state lineage after folds 1-3: ${sizes.mkString(", ")}")
    unpersist(state.cached)
  }

  test("the memoized IDWCC bulk prepare leaves only its state and the stream edges cached") {
    // a session of its own: the memo is per session, so no other
    // suite's prepare on the shared session can answer this call
    val session = spark.newSession()
    val dir = "/root/testdata/sf0.001"
    val start = persisted()
    graft.queries.GraphQueries.canonEdges(session, dir)
    val before = persisted()
    val (state, stream) = graft.queries.GraphQueries.idwccShared(session, dir)
    try {
      stream.unpersist(blocking = true)
      assert(persisted() -- before === idsOf(state.cached))
    } finally {
      unpersist(state.cached)
      graft.queries.SessionMemo.clear(session)
      (before -- start).foreach(id => spark.sparkContext.getPersistentRDDs.get(id)
        .foreach(_.unpersist(blocking = false)))
    }
  }

  test("DistributedWCC.run leaves only its Output surfaces cached") {
    val g = graphOf(spark, pairs)
    val before = persisted()
    val out = DistributedWCC.run(g)
    assert(persisted() -- before === idsOf(out.cached))
    unpersist(out.cached)
    unpersist(WccUtil.cached(g))
  }

  /** `call` fails at the armed point `point` and leaves nothing cached */
  private def failsClean(point: String)(call: => Any): Unit = {
    val before = persisted()
    Failpoint.arm(point) {
      val e = intercept[RuntimeException](call)
      assert(e.getMessage === s"injected test failure $point")
    }
    val leaked = persisted() -- before
    assert(leaked.isEmpty, s"a failure $point leaked RDDs " + leaked.mkString(", "))
  }

  test("a failed batch phase leaves nothing cached") {
    val g = graphOf(spark, pairs)
    failsClean("after triangle stats")(TriangleStats.run(g))
    val tri = TriangleStats.run(g)
    failsClean("after seeding")(InitialPartition.run(tri.pruned))
    unpersist(tri.cached)
    failsClean("after preprocess")(DistributedWCC.run(g))
    failsClean("after initial-partition")(DistributedWCC.run(g))
    unpersist(WccUtil.cached(g))
  }

  test("a failed prepare or merge leaves nothing cached") {
    val g = graphOf(spark, bulkPairs)
    failsClean("after preprocess")(IncrementalWCC.prepare(g))
    failsClean("after prepare")(IncrementalWCC.prepare(g))
    val state = IncrementalWCC.prepare(g)
    val (lo, hi) = windows.head
    failsClean("in merge")(IncrementalWCC.run(state, batch(lo, hi), releaseInput = false))
    unpersist(state.cached)
  }

  test("a fold failing on one thread releases its caches and no other fold's") {
    val state = IncrementalWCC.prepare(graphOf(spark, bulkPairs))
    val (lo, hi) = windows.head
    val sequential = {
      val s = IncrementalWCC.run(state, batch(lo, hi), releaseInput = false)
      try labels(s) finally unpersist(WccUtil.cached(s.graph))
    }
    val before = persisted()
    val pool = Executors.newFixedThreadPool(2)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      val start = new CyclicBarrier(2)
      val failing = Future {
        start.await()
        Failpoint.arm("after graft") {
          intercept[RuntimeException](
            IncrementalWCC.run(state, batch(lo, hi), releaseInput = false))
        }
      }
      val passing = Future {
        start.await()
        IncrementalWCC.run(state, batch(lo, hi), releaseInput = false)
      }
      val e = Await.result(failing, 5.minutes)
      val out = Await.result(passing, 5.minutes)
      assert(e.getMessage === "injected test failure after graft")
      assert(labels(out) === sequential)
      assert(persisted() -- before === idsOf(WccUtil.cached(out.graph)),
        "the failed fold must leave nothing and the other fold its state")
      unpersist(WccUtil.cached(out.graph))
    } finally pool.shutdown()
    unpersist(state.cached)
  }
}
