package graft.engine

import scala.reflect.ClassTag

import org.apache.spark.TaskContext
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.rdd.RDD
import org.apache.spark.storage.StorageLevel
import org.apache.spark.util.LongAccumulator

import GatherScatter.{CsrBlock, IdPartitioner, PrGraph, VertexMeta}

/**
 * The superstep plumbing every iterative CSR kernel shares: the split
 * exchange, the K-wide hub mirror, the scalar sum gather/fold and the
 * superstep loop (lineage cuts, frees, changed count, durable checkpoints).
 * Kernels supply only their per-block gather and per-partition apply, so
 * each semiring's inner loops stay concrete; dispatch here is per block or
 * per partition, never per edge. See the [[GatherScatter]] header for the
 * per-superstep job count and the split-exchange rationale.
 */
private[engine] object CsrLoop {

  /** Supersteps between lineage cuts (`localCheckpoint`) of the loop state. */
  val LineageEvery = 16
  /** Supersteps chained into one job by the lazy mode. */
  val LazySegment = 4

  /** One superstep: the lazy next state and the persisted gather output it
    * reads (freed once `next` is materialized; may be null). */
  final case class Step[S](next: RDD[S], gathered: RDD[_])

  /** Hub mirror of a loop: K doubles per hot vertex, written by
    * `read(state, localIdx, out, outOffset)` on the vertex's home partition. */
  final case class Hub[S](k: Int, read: (S, Int, Array[Double], Int) => Unit)

  /** Durable checkpointing ([[CsrCheckpoint]]) of a loop whose state carries
    * its vertex values as one Array[Double] per partition. */
  final case class Durable[S](cp: CsrCheckpoint, values: S => Array[Double],
                              resume: Array[Double] => S)

  /** Collect the hot vertices' K-vectors from their home partitions (tiny by
    * construction) into one global array, hot index × K. */
  def hubMirror[S](g: PrGraph, state: RDD[S], hub: Hub[S]): Array[Double] = {
    val k = hub.k
    val read = hub.read
    val parts = state.zipPartitions(g.verts) { (sIt, vIt) =>
      val s = sIt.next(); val vm = vIt.next()
      val vals = new Array[Double](vm.hotHomeGlobal.length * k)
      var i = 0
      while (i < vm.hotHomeGlobal.length) { read(s, vm.hotHomeLocal(i), vals, i * k); i += 1 }
      Iterator.single((vm.hotHomeGlobal, vals))
    }.collect()
    val arr = new Array[Double](g.hotIds.length * k)
    parts.foreach { case (gIdx, vals) =>
      var i = 0
      while (i < gIdx.length) { System.arraycopy(vals, i * k, arr, gIdx(i) * k, k); i += 1 }
    }
    arr
  }

  /** Per hub-shard source of `blk` (aligned to `blk.hotLocal`): its mirrored
    * value, times 1/globalDegree when `perDegree`. null when the block holds
    * no hub-shard edges. */
  def hubVals(blk: CsrBlock, hub: Broadcast[Array[Double]], perDegree: Boolean): Array[Double] = {
    if (blk.hotEdgeSrcIdx.length == 0) return null
    val hp = hub.value
    val hc = new Array[Double](blk.hotLocal.length)
    var i = 0
    while (i < hc.length) {
      hc(i) = if (perDegree) hp(blk.hotLocal(i)) * blk.hotLocalInvDeg(i) else hp(blk.hotLocal(i))
      i += 1
    }
    hc
  }

  @inline private def anyNonZero(a: Array[Double]): Boolean = {
    var i = 0
    while (i < a.length) { if (a(i) != 0.0) return true; i += 1 }
    false
  }

  /** The (+) gather of partition `p`: per target partition, the pre-summed
    * `contrib` (per local src) of its edges into the unique-dst slots, with
    * the hub-shard edges' `hub` values (per hot-local src, may be null)
    * folded into the self bucket. `nonZeroOnly` is the sparse frontier:
    * all-zero inputs skip their edge loop and all-zero blocks are not sent. */
  def sumGather(blk: CsrBlock, p: Int, contrib: Array[Double], hub: Array[Double],
                nonZeroOnly: Boolean): Iterator[(Int, (Int, Array[Double]))] = {
    val out = new Array[Array[Double]](blk.outIds.length)
    if (!nonZeroOnly || anyNonZero(contrib)) {
      var tp = 0
      while (tp < out.length) {
        val ids = blk.outIds(tp)
        if (ids != null) {
          val vals = new Array[Double](ids.length)
          val es = blk.edgeSrcIdx(tp); val eo = blk.edgeOutIdx(tp)
          var e = 0
          while (e < es.length) { vals(eo(e)) += contrib(es(e)); e += 1 }
          out(tp) = vals
        }
        tp += 1
      }
    }
    // hub-shard edges were routed here by dst: their bucket is p itself
    if (hub != null && (!nonZeroOnly || anyNonZero(hub))) {
      if (out(p) == null) out(p) = new Array[Double](
        if (blk.outIds(p) == null) 0 else blk.outIds(p).length)
      val vals = out(p)
      val hs = blk.hotEdgeSrcIdx; val ho = blk.hotEdgeOutIdx
      var e = 0
      while (e < hs.length) { vals(ho(e)) += hub(hs(e)); e += 1 }
    }
    Iterator.range(0, out.length)
      .filter(tp => out(tp) != null && (!nonZeroOnly || anyNonZero(out(tp))))
      .map(tp => (tp, (p, out(tp))))
  }

  /** The (+) fold: sum every received block into a dense receiver array. */
  def sumFold(vm: VertexMeta, inIdx: Array[Array[Int]],
              recs: Iterator[(Int, Array[Double])]): Array[Double] = {
    val acc = new Array[Double](vm.nRecv)
    while (recs.hasNext) {
      val (q, vals) = recs.next()
      val idx = inIdx(q)
      var i = 0
      while (i < vals.length) { acc(idx(i)) += vals(i); i += 1 }
    }
    acc
  }

  /**
   * The split exchange. `gather` emits (target partition, (source
   * partition, payload)); it is persisted, only its tp != p records are
   * shuffled, and each partition's apply receives its (source, payload)
   * records, self first, then remote, with its layout, incoming-index table
   * and (when `old` is non-null) its block of `old`: the previous state, or
   * any side input aligned to the vertex layout.
   */
  def exchange[P, S: ClassTag, T: ClassTag](g: PrGraph, gather: RDD[(Int, (Int, P))], old: RDD[S])
      (apply: (VertexMeta, Array[Array[Int]], S, Iterator[(Int, P)]) => T): Step[T] = {
    val gathered = gather.persist(StorageLevel.MEMORY_AND_DISK)
    val remote = gathered.mapPartitionsWithIndex(
        (p, it) => it.filter(_._1 != p), preservesPartitioning = false)
      .partitionBy(new IdPartitioner(g.numPartitions))
    def records(self: Iterator[(Int, (Int, P))], rest: Iterator[(Int, (Int, P))]) = {
      val p = TaskContext.getPartitionId()
      self.filter(_._1 == p).map(_._2) ++ rest.map(_._2)
    }
    val next =
      if (old == null)
        remote.zipPartitions(gathered, g.meta, preservesPartitioning = true) { (rIt, lIt, mIt) =>
          val (vm, inIdx) = mIt.next()
          Iterator.single(apply(vm, inIdx, null.asInstanceOf[S], records(lIt, rIt)))
        }
      else
        remote.zipPartitions(gathered, g.meta, old, preservesPartitioning = true) {
          (rIt, lIt, mIt, oIt) =>
            val (vm, inIdx) = mIt.next()
            Iterator.single(apply(vm, inIdx, oIt.next(), records(lIt, rIt)))
        }
    Step(next, gathered)
  }

  /**
   * Drive `step` from `init` for at most `maxSteps` supersteps and return
   * (`result` per partition, persisted and counted; supersteps run). Each
   * superstep: broadcast the hub mirror (graphs with hot vertices only),
   * run the step, persist and count its state (a lineage cut every
   * [[LineageEvery]] supersteps), then free the gathered block, the mirror
   * and the previous state. With `untilQuiet` the step adds its changed
   * vertices to the accumulator it is handed, and the loop stops at zero.
   * With `durable` a committed checkpoint is resumed and the state is
   * committed every `cp.every` supersteps and at the stop.
   *
   * `chained` (hub-less, stop-free, non-durable loops whose step reads its
   * input once) instead chains [[LazySegment]] supersteps into one job: a
   * segment barrier is a bare count() (completed shuffle-map stages are
   * skipped by later jobs), so it serializes nothing and only bounds how
   * many gathered blocks are live. All but the newest gathered block are
   * freed at a barrier: superstep k+1 may re-run apply_k, but older
   * consumers sit behind existing shuffle files. Lineage is cut at the same
   * [[LineageEvery]] cadence.
   *
   * The changed accumulator is updated inside a transformation, so a task
   * retry can double-count. That error is one-sided: it can only inflate a
   * nonzero count (one extra superstep), never fabricate zero, so the
   * `changed == 0` stop rule is unaffected.
   */
  def run[S: ClassTag, T: ClassTag](g: PrGraph, init: Step[S], maxSteps: Int,
      hub: Hub[S] = null, untilQuiet: Boolean = false,
      durable: Option[Durable[S]] = None, chained: Boolean = false)
      (step: (RDD[S], Broadcast[Array[Double]], Int, LongAccumulator) => Step[S])
      (result: (VertexMeta, S) => T): (RDD[T], Int) = {
    require(!chained || (g.hotIds.isEmpty && !untilQuiet && durable.isEmpty),
      "chained supersteps need a hub-less, stop-free, non-durable loop")
    val sc = g.csr.sparkContext
    var it = 0
    var converged = false
    var metrics = Vector.empty[IterationMetrics]
    var lineage = true // only the first commit of a run that did not resume
    var state = durable.flatMap(d => GatherScatter.readCheckpoint(g, d.cp).map((d, _))) match {
      case Some((d, (values, i, conv, m))) =>
        it = i; converged = conv; metrics = m; lineage = false
        values.mapPartitions(_.map(d.resume), preservesPartitioning = true)
      case None => init.next
    }
    if (!chained) {
      state.persist(StorageLevel.MEMORY_AND_DISK)
      state.count()
    }
    if (init.gathered != null) init.gathered.unpersist(blocking = false)

    var pending = List.empty[RDD[_]] // chained: gathered blocks not yet freed
    var cut: RDD[S] = null           // chained: the last lineage cut
    while (!converged && it < maxSteps) {
      if (chained) {
        val st = step(state, null, it, null)
        state = st.next
        pending ::= st.gathered
        it += 1
        if (it % LazySegment == 0 && it < maxSteps) {
          if (it % LineageEvery == 0) {
            state.persist(StorageLevel.MEMORY_AND_DISK)
            state.localCheckpoint()
            state.count()
            // lineage now starts at `state`: free every older block and cut
            pending.foreach(_.unpersist(blocking = false))
            pending = Nil
            if (cut != null) cut.unpersist(blocking = false)
            cut = state
          } else {
            state.count()
            pending.drop(1).foreach(_.unpersist(blocking = false))
            pending = pending.take(1)
          }
        }
      } else {
        val t0 = System.nanoTime()
        val changed = if (untilQuiet) sc.longAccumulator(s"csr-changed-$it") else null
        val mirror = if (hub == null || g.hotIds.isEmpty) null
                     else sc.broadcast(hubMirror(g, state, hub))
        val st = step(state, mirror, it, changed)
        val next = st.next.persist(StorageLevel.MEMORY_AND_DISK)
        if ((it + 1) % LineageEvery == 0) next.localCheckpoint()
        next.count()
        // unpersist, not destroy: a lineage recompute re-ships the mirror
        if (st.gathered != null) st.gathered.unpersist(blocking = false)
        if (mirror != null) mirror.unpersist(blocking = false)
        state.unpersist(blocking = false)
        state = next
        it += 1
        if (untilQuiet) converged = changed.value == 0L
        durable.foreach { d =>
          metrics :+= IterationMetrics(it, if (changed == null) 0L else changed.value,
            (System.nanoTime() - t0) / 1000000)
          if (it % d.cp.every == 0 || converged || it >= maxSteps) {
            GatherScatter.writeCheckpoint(g, d.cp, it, converged,
              state.mapPartitions(_.map(d.values), preservesPartitioning = true), metrics,
              lineage)
            lineage = false
          }
        }
      }
    }

    val out = state.zipPartitions(g.verts, preservesPartitioning = true) { (sIt, vIt) =>
      Iterator.single(result(vIt.next(), sIt.next()))
    }.persist(StorageLevel.MEMORY_AND_DISK)
    out.count()
    if (!chained) state.unpersist(blocking = false)
    pending.foreach(_.unpersist(blocking = false))
    if (cut != null) cut.unpersist(blocking = false)
    (out, it)
  }
}
