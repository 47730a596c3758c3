package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.rdd.RDD
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.scalatest.funsuite.AnyFunSuite

import graft.core.{Edge, LinkGraph}
import graft.engine.{CsrCheckpoint, DeltaPrCsr, GatherScatter, ToposortCsr, VectorSuperstep}

/** The shared CSR superstep driver: every kernel releases what it persists,
  * and hub-less fixed-iteration PageRank keeps its lazy job chaining. */
class CsrLoopSpec extends AnyFunSuite {
  lazy val s = SparkTestBase.spark

  // planted hub (vertex 1, hot at hotDegree = 100) + weighted chains: one
  // DAG every kernel can run on
  private lazy val graph: LinkGraph = {
    val hub = (2L to 301L).map(d => Edge(1L, d, 1.0 + d % 3))
    val chains = (0 until 5).flatMap(c =>
      (0 until 10).map(i => Edge(1000L + c * 100 + i, 1000L + c * 100 + i + 1, 2.0)))
    LinkGraph.fromSeq(s, hub ++ chains :+ Edge(301L, 1000L, 1.0), 4)
  }

  private def persisted: Set[Int] = s.sparkContext.getPersistentRDDs.keySet.toSet

  /** `run` may leave persisted exactly the RDD it returns. */
  private def assertReleases(name: String)(run: => RDD[_]): Unit = {
    val before = persisted
    val out = run
    val after = persisted
    assert(after === before + out.id,
      s"$name: leaked ${after -- before - out.id}, result ${out.id}")
    out.unpersist(blocking = false)
  }

  test("every CSR kernel frees everything it persists except its result") {
    val hub = GatherScatter.build(graph, 4, hotDegree = 100, weighted = true)
    val flat = GatherScatter.build(graph, 4, hotDegree = 1000000, weighted = true)
    val dir = java.nio.file.Files.createTempDirectory("graft-loop-cp").toString
    try {
      assert(hub.hotIds.toSeq === Seq(1L))
      assert(flat.hotIds.isEmpty)
      assertReleases("pageRank (hub-less)")(GatherScatter.pageRank(flat, 0.3, 10))
      assertReleases("pageRank (hub)")(GatherScatter.pageRank(hub, 0.3, 10))
      assertReleases("personalizedPageRank")(
        GatherScatter.personalizedPageRank(hub, _ == 1L, 0.3, 10))
      assertReleases("pageRankConverged")(GatherScatter.pageRankConverged(hub)._1)
      assertReleases("pageRankConverged (cp)")(GatherScatter.pageRankConverged(hub,
        cp = Some(CsrCheckpoint(dir, "pr", every = 2)))._1)
      assertReleases("connectedComponents")(GatherScatter.connectedComponents(hub)._1)
      assertReleases("bfs")(GatherScatter.bfs(hub, 1L)._1)
      assertReleases("sssp")(GatherScatter.sssp(hub, 1L)._1)
      assertReleases("labelPropagation")(GatherScatter.labelPropagation(hub, 5)._1)
      assertReleases("DeltaPrCsr.run")(DeltaPrCsr.run(hub)._1)
      assertReleases("ToposortCsr.run")(ToposortCsr.run(hub)._1)
      assertReleases("VectorSuperstep.sgd")(
        VectorSuperstep.sgd(hub, k = 4, iterations = 3, init = (id, d) => (id % 7 + d) * 0.01))
      assertReleases("VectorSuperstep.lda")(
        VectorSuperstep.lda(hub, k = 4, iterations = 3, termMinId = 1000L,
          gammaInit = (w, d) => 1.0 + w + d))
    } finally {
      hub.unpersist(); flat.unpersist()
    }
  }

  test("hub-less pageRank runs one job per 4-superstep segment plus the materialise job") {
    val sc = s.sparkContext
    val g = GatherScatter.build(graph, 4, hotDegree = 1000000)
    assert(g.hotIds.isEmpty)
    val groups = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        groups.add(Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
          .getOrElse(""))
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup("csr-lazy-pr", "pageRank under test")
      val ranks = try GatherScatter.pageRank(g, 0.3, 16) finally sc.clearJobGroup()
      // listener delivery is asynchronous: a later fence job's start event
      // arrives after every event of the run
      sc.setJobGroup("csr-fence", "listener fence")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      val deadline = System.nanoTime() + 30L * 1000000000L
      while (!groups.contains("csr-fence") && System.nanoTime() < deadline) Thread.sleep(20)
      assert(groups.contains("csr-fence"), "listener never saw the fence job")
      val jobs = groups.asScala.count(_ == "csr-lazy-pr")
      assert(jobs >= 1 && jobs <= 16 / 4 + 1, s"$jobs jobs for 16 chained supersteps")
      ranks.unpersist(blocking = false)
    } finally {
      sc.removeSparkListener(listener)
      g.unpersist()
    }
  }
}
