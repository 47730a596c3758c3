package graft.engine

import org.apache.spark.TaskContext
import org.apache.spark.rdd.RDD

import GatherScatter.{PrGraph, RankBlock}

/**
 * Topological sort (Kahn peel) on the CSR gather-scatter structures —
 * `src/TopologicalSort.cpp:39-206` on the throughput path, the frontier
 * program the column engine runs as [[graft.algos.TopologicalSort]]:
 *
 *   phase 1: in-degree (one all-active gather of 1s — the InDegree
 *   program); init: in-degree-0 vertices take order 0 and start active.
 *   Iterate: just-peeled vertices (active ∧ in_degree == 0) announce 1
 *   along OUT edges; receivers subtract the count, take order =
 *   superstep index when their remaining in-degree reaches 0, and stay
 *   active while their in-degree moved. Cycles leave order = −1 (the
 *   reference's MAX_DIST sentinel, `:177-184`).
 *
 * Per-vertex sparse frontier like [[DeltaPrCsr]] (sum ⊕, not idempotent);
 * contributions are 0/1 counts so "received ⇔ fold sum > 0" is exact —
 * the column engine's join-matched ∧ acc>0 test. Hub sources mirror
 * their 0/1 announcement.
 */
object ToposortCsr {

  private final case class TsState(inDeg: Array[Double], order: Array[Double],
                                   act: Array[Boolean])

  /** Returns (order blocks — order −1 ⇒ on/behind a cycle, supersteps). */
  def run(g: PrGraph, maxIterations: Int = 1 << 20): (RDD[RankBlock], Int) = {
    // phase 1: in-degrees = one all-1s gather (the InDegree program)
    val ones = g.csr.mapPartitionsWithIndex { (p, it) =>
      val blk = it.next()
      CsrLoop.sumGather(blk, p, Array.fill(blk.srcs.length)(1.0),
        if (blk.hotEdgeSrcIdx.length == 0) null else Array.fill(blk.hotLocal.length)(1.0),
        nonZeroOnly = true)
    }
    val init = CsrLoop.exchange[Array[Double], Null, TsState](g, ones, null) {
      (vm, inIdx, _, recs) =>
        val d = CsrLoop.sumFold(vm, inIdx, recs)
        val n = vm.ids.length
        val inDeg = new Array[Double](n)
        System.arraycopy(d, 0, inDeg, 0, vm.nRecv) // src-only vertices: 0
        val order = new Array[Double](n)
        val act = new Array[Boolean](n)
        var i = 0
        while (i < n) {
          if (inDeg(i) == 0.0) { order(i) = 0.0; act(i) = true }
          else order(i) = -1.0
          i += 1
        }
        TsState(inDeg, order, act)
    }
    // just-peeled vertices (active ∧ in-degree 0) announce 1, hubs included
    @inline def announces(s: TsState, li: Int): Boolean = s.act(li) && s.inDeg(li) == 0.0
    val hub = CsrLoop.Hub[TsState](1,
      (s, li, out, o) => out(o) = if (announces(s, li)) 1.0 else 0.0)
    CsrLoop.run(g, init, maxIterations, hub = hub, untilQuiet = true) {
      (state, hotBc, it, changed) =>
        val gathered = state.zipPartitions(g.csr, g.verts, preservesPartitioning = false) {
          (sIt, cIt, vIt) =>
            val s = sIt.next(); val blk = cIt.next(); val vm = vIt.next()
            val c = new Array[Double](blk.srcs.length)
            var i = 0
            while (i < c.length) { if (announces(s, vm.srcPrIdx(i))) c(i) = 1.0; i += 1 }
            CsrLoop.sumGather(blk, TaskContext.getPartitionId(), c,
              CsrLoop.hubVals(blk, hotBc, perDegree = false), nonZeroOnly = true)
        }
        CsrLoop.exchange(g, gathered, state) { (vm, inIdx, old, recs) =>
          val a = CsrLoop.sumFold(vm, inIdx, recs)
          val n = vm.ids.length
          val inDeg = new Array[Double](n)
          val order = new Array[Double](n)
          val act = new Array[Boolean](n)
          var moved = 0L
          var i = 0
          while (i < n) {
            val got = if (i < vm.nRecv) a(i) else 0.0
            if (got > 0.0) { // received ∧ acc>0 (counts are 0/1 sums)
              val nd = old.inDeg(i) - got
              inDeg(i) = nd
              order(i) =
                if (old.inDeg(i) > 0.0 && nd == 0.0) (it + 1).toDouble
                else old.order(i)
              act(i) = true // in-degree moved (got > 0 ⇒ nd ≠ old)
              moved += 1
            } else {
              inDeg(i) = old.inDeg(i); order(i) = old.order(i); act(i) = false
            }
            i += 1
          }
          changed.add(moved)
          TsState(inDeg, order, act)
        }
    }((vm, s) => RankBlock(vm.ids, s.order))
  }
}
