package graft.engine

import org.apache.spark.TaskContext
import org.apache.spark.rdd.RDD

import GatherScatter.{PrGraph, RankBlock}

/**
 * Incremental (delta) PageRank on the CSR gather-scatter structures —
 * `src/IncrementalPageRank.cpp:33-185` on the throughput path, the
 * ACTIVE_ONLY frontier program the column engine runs as
 * [[graft.algos.DeltaPageRank]]:
 *
 *   state dPR{pagerank=0.3, delta=0.3, active}; OUT_EDGES; active vertices
 *   send delta/outdeg; ⊕ = sum; apply (receivers only): reset delta when
 *   |delta|>1e-8, delta += (1−α)·Σ, fold into pagerank when |delta|>1e-8;
 *   active' ⇔ |Δpagerank| > 1e-8. Fixpoint when no vertex changes.
 *
 * Unlike the (min,+) kernel's partition-granularity frontier (sound there
 * because min is idempotent — resending can't corrupt), sum ⊕ would
 * double-count a resent delta, so the frontier here is a PER-VERTEX mask:
 * the gather multiplies each source's contribution by its mask and a
 * partition with no active sources (and no active hubs) emits nothing.
 * "Received" detection rides an invariant of the program: deltas are
 * strictly positive (init 0.3; d1 = (1−α)·Σ of positive messages; senders
 * are vertices whose rank moved, so their delta exceeds the 1e-8 gate), so
 * a receiver's fold sum is > 0 iff at least one active in-neighbor sent —
 * exactly the column engine's join-matched test, with no extra mask bytes
 * in the exchange.
 *
 * Hub (degree-split) sources mirror their delta masked by activity.
 *
 * Boundary: warm-starting after a GRAPH CHANGE
 * ([[graft.algos.DeltaPageRank.warmStart]]) lives on the column engine only.
 * Warm-start seeds are fixpoint residuals, which can be NEGATIVE (an edge
 * removal, or a source gaining out-degree, lowers contributions) — that
 * breaks the strictly-positive-delta invariant this kernel's exchange
 * exploits for "received ⇔ sum > 0" (a negative and a positive contribution
 * can cancel to ≤ 0 and mis-read as "nothing received"). Supporting it here
 * would mean shipping an explicit presence mask per emitted block; until a
 * workload needs warm restarts at CSR throughput, the honest answer is the
 * column path, whose join-matched received detection is exact for any sign.
 */
object DeltaPrCsr {

  /** (pagerank, delta, active) per partition, aligned to VertexMeta.ids. */
  private final case class DprState(pr: Array[Double], delta: Array[Double],
                                    act: Array[Boolean])

  def run(g: PrGraph, alpha: Double = 0.3, maxIterations: Int = 1 << 20)
      : (RDD[RankBlock], Int) = {
    val init = g.verts.mapPartitions({ it =>
      val vm = it.next()
      val n = vm.ids.length
      Iterator.single(DprState(Array.fill(n)(0.3), Array.fill(n)(0.3),
        Array.fill(n)(true)))
    }, preservesPartitioning = true)
    // hub mirror: the masked delta (0.0 when inactive — contributes nothing,
    // keeping "received ⇔ sum>0"), times 1/globalDegree at the edge site
    val hub = CsrLoop.Hub[DprState](1,
      (s, li, out, o) => out(o) = if (s.act(li)) s.delta(li) else 0.0)
    CsrLoop.run(g, CsrLoop.Step(init, null), maxIterations, hub = hub,
        untilQuiet = true) { (state, hotBc, _, changed) =>
      val gathered = state.zipPartitions(g.csr, g.verts, preservesPartitioning = false) {
        (sIt, cIt, vIt) =>
          val s = sIt.next(); val blk = cIt.next(); val vm = vIt.next()
          // masked contribution per local src: delta·invDeg, 0 when inactive
          val contrib = new Array[Double](blk.srcs.length)
          var i = 0
          while (i < contrib.length) {
            val li = vm.srcPrIdx(i)
            if (s.act(li)) contrib(i) = s.delta(li) * blk.invDeg(i)
            i += 1
          }
          CsrLoop.sumGather(blk, TaskContext.getPartitionId(), contrib,
            CsrLoop.hubVals(blk, hotBc, perDegree = true), nonZeroOnly = true)
      }
      CsrLoop.exchange(g, gathered, state) { (vm, inIdx, old, recs) =>
        val acc = CsrLoop.sumFold(vm, inIdx, recs)
        val n = vm.ids.length
        val pr = new Array[Double](n)
        val dl = new Array[Double](n)
        val ac = new Array[Boolean](n)
        var moved = 0L
        var i = 0
        while (i < n) {
          if (i < vm.nRecv && acc(i) > 0.0) { // received (deltas positive)
            val d0 = if (math.abs(old.delta(i)) > 1e-8) 0.0 else old.delta(i)
            val d1 = d0 + (1.0 - alpha) * acc(i)
            val np = if (math.abs(d1) > 1e-8) old.pr(i) + d1 else old.pr(i)
            pr(i) = np; dl(i) = d1
            val ch = math.abs(np - old.pr(i)) > 1e-8
            ac(i) = ch
            if (ch) moved += 1
          } else {
            pr(i) = old.pr(i); dl(i) = old.delta(i); ac(i) = false
          }
          i += 1
        }
        changed.add(moved)
        DprState(pr, dl, ac)
      }
    }((vm, s) => RankBlock(vm.ids, s.pr))
  }
}
