package graft

import graft.core.{FactDb, FactStore, Fixpoint}
import graft.datalog._
import graft.graph.GraphOps
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.graft.Bridge

/** The shared fixpoint driver behind the Datalog rule fixpoints and the
  * GraphOps loops: release is by construction (no harness sweep needed)
  * and round bounds are exact. */
class FixpointSpec extends SparkSpec {
  import spark.implicits._

  private def persisted: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet

  /** Every RDD `call` leaves persisted must back its result or a live
    * fixpoint-cache entry. */
  private def assertReleases(name: String)(call: => DataFrame): Unit = {
    val before = persisted
    val result = call
    val leaked = persisted -- before -- Bridge.checkpointRddIds(result) --
      Compiler.protectedRddIds(spark)
    assert(leaked.isEmpty, s"$name left persistent RDDs behind: $leaked")
    assert(result.collect().nonEmpty, s"$name result no longer evaluates")
  }

  // a 3-cycle with a tail: 1→2→3→1, 3→4→5
  private def graph = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L), (4L, 5L)).toDF("src", "dst")

  test("GraphOps loops leave only what their result reads") {
    val tEdges = Seq((1L, 2L, 1L), (2L, 3L, 2L), (3L, 4L, 3L), (2L, 5L, 0L))
      .toDF("src", "dst", "t")
    assertReleases("bfs")(GraphOps.bfs(graph, Seq(1L), maxHops = 10))
    assertReleases("temporalReach")(GraphOps.temporalReach(tEdges, Seq(1L), maxHops = 10))
    assertReleases("transitiveClosure")(GraphOps.transitiveClosure(graph))
    val closure = GraphOps.transitiveClosure(graph)
    assertReleases("closureDelta")(
      GraphOps.closureDelta(closure, Seq((5L, 6L), (6L, 1L)).toDF("src", "dst")))
    assertReleases("ccDataFrame")(GraphOps.ccDataFrame(graph))
    assertReleases("kCore")(GraphOps.kCore(graph, k = 2))
    assertReleases("scc")(GraphOps.scc(graph))
    // smallGraphEdges = 0 forces the distributed coloring + collection path
    assertReleases("scc (distributed)")(GraphOps.scc(graph, smallGraphEdges = 0))
  }

  test("cold recursive and mutually recursive rules leave only their fixpoint") {
    // attribute names unique to this test: the fixpoint cache is cold
    val facts = (0L until 5L).map(i =>
      Row(300L + i, "fx_next", "r", null, null, null, null, 300L + i + 1, 1L, true))
    val db = Compiler.Db(FactDb(
      spark.createDataFrame(java.util.Arrays.asList(facts: _*), FactStore.factSchema),
      Map("fx_next" -> "vref"), versioned = false))
    val step = Rule("step", Seq(V("x"), V("y")), Pattern(V("x"), C("fx_next"), V("y")))
    def query(name: String, rules: Seq[Rule]) = Compiler.run(db, Query(
      find = Seq(FVar(V("a"), "a"), FVar(V("b"), "b")),
      where = RuleApp(name, V("a"), V("b")), rules = rules))
    assertReleases("recursive rule")(query("reach", Seq(step,
      Rule("reach", Seq(V("x"), V("y")), RuleApp("step", V("x"), V("y"))),
      Rule("reach", Seq(V("x"), V("y")), And(
        RuleApp("step", V("x"), V("m")), RuleApp("reach", V("m"), V("y")))))))
    assertReleases("mutually recursive rule")(query("odd", Seq(step,
      Rule("odd", Seq(V("x"), V("y")), RuleApp("step", V("x"), V("y"))),
      Rule("odd", Seq(V("x"), V("y")), And(
        RuleApp("even", V("x"), V("m")), RuleApp("step", V("m"), V("y")))),
      Rule("even", Seq(V("x"), V("y")), And(
        RuleApp("odd", V("x"), V("m")), RuleApp("step", V("m"), V("y")))))))
  }

  test("a loop may converge on its last permitted round; one round fewer is an error") {
    // chain 1→2→3→4→5: rounds 1-3 derive paths of length 2-4, round 4
    // derives nothing — so 4 rounds converge and 3 do not
    val chain = (1L to 4L).map(i => (i, i + 1)).toDF("src", "dst")
    assert(GraphOps.transitiveClosure(chain, maxIter = 4).count() === 10)
    val err = intercept[Fixpoint.NotConverged](GraphOps.transitiveClosure(chain, maxIter = 3))
    assert(err.loop === "transitiveClosure" && err.bound === 3)
    // the replace-state loops share the guard: trimming the chain peels
    // its two end edges, then the remaining two
    assert(GraphOps.scc(chain, maxIter = 2).count() === 5)
    val trim = intercept[Fixpoint.NotConverged](GraphOps.scc(chain, maxIter = 1))
    assert(trim.loop === "scc trim" && trim.bound === 1)
    // a hop limit is not an error: bfs returns the reach found so far
    assert(GraphOps.bfs(chain, Seq(1L), maxHops = 2).count() === 3)
  }
}
