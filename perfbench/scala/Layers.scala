package perfbench

import scala.collection.mutable

/** The per-layer metrics of a traced run: each is the median over the traced
  * passes of a per-pass value, unless its comment says otherwise. A layer a
  * workload bypasses reads 0. */
object Layers {
  private val MB = 1048576.0

  def metrics(w: Workload, tracer: Tracer, traced: Seq[PassRecord], plain: Seq[PassRecord],
              cores: Int, calibStart: Double, calibEnd: Double)
      : mutable.LinkedHashMap[String, (Double, String)] = {
    val m = mutable.LinkedHashMap.empty[String, (Double, String)]
    def med(f: PassRecord => Double): Double = Stats.median(traced.map(f))
    def wall(name: String)(r: PassRecord): Double = r.walls.getOrElse(name, 0.0)
    def cnt(name: String)(r: PassRecord): Double = r.counts.getOrElse(name, 0.0)
    def self(layer: String)(r: PassRecord): Double =
      Tracer.selfByLayer(r.spans).getOrElse(layer, 0.0)
    /** Listener totals of the pass's spans that match `p` (own stages each). */
    def ctr(r: PassRecord, p: Span => Boolean): Counters = {
      val c = new Counters
      r.spans.filter(p).foreach(s => c.add(tracer.countersOf(s.id)))
      c
    }
    def perStep(r: PassRecord, v: Double): Double = {
      val steps = cnt("gatherscatter.pr_supersteps")(r)
      if (steps == 0) 0.0 else v / steps
    }
    def busy(r: PassRecord, p: Span => Boolean): Double = {
      val secs = r.spans.filter(p).map(_.seconds).sum
      if (secs == 0) 0.0 else ctr(r, p).runMs / 1e3 / (secs * cores)
    }
    val kernel: Span => Boolean = _.name == "gatherscatter.pr"
    val query: Span => Boolean = _.layer == "queries"

    m("core.derive_s") = med(wall("core.derive")) -> "s"
    m("core.edges") = med(cnt("core.edges")) -> "count"
    m("core.self_s") = med(self("core")) -> "s"

    m("gatherscatter.build_s") = med(wall("gatherscatter.build")) -> "s"
    m("gatherscatter.build_shuffle_mb") =
      med(r => ctr(r, _.name == "gatherscatter.build").shuffleWrite / MB) -> "MB"
    m("gatherscatter.partitions") = med(cnt("gatherscatter.partitions")) -> "count"
    m("gatherscatter.hot_vertices") = med(cnt("gatherscatter.hot_vertices")) -> "count"
    m("gatherscatter.cached_mb") = med(cnt("gatherscatter.cached_mb")) -> "MB"
    m("gatherscatter.pr_s") = med(wall("gatherscatter.pr")) -> "s"
    m("gatherscatter.pr_supersteps") = med(cnt("gatherscatter.pr_supersteps")) -> "count"
    m("gatherscatter.superstep_shuffle_mb") =
      med(r => perStep(r, ctr(r, kernel).shuffleWrite / MB)) -> "MB"
    m("gatherscatter.jobs_per_superstep") = med(r => perStep(r, ctr(r, kernel).jobs)) -> "count"
    m("gatherscatter.task_busy_frac") = med(busy(_, kernel)) -> "frac"
    m("gatherscatter.materialise_s") = med(wall("gatherscatter.materialise")) -> "s"
    m("gatherscatter.self_s") = med(self("gatherscatter")) -> "s"

    m("snapshotstore.commits") = med(cnt("snapshotstore.commits")) -> "count"
    m("snapshotstore.bytes_written") = med(cnt("snapshotstore.bytes_written")) -> "bytes"
    m("snapshotstore.write_s") = med(wall("snapshotstore.write")) -> "s"
    m("snapshotstore.self_s") = med(self("snapshotstore")) -> "s"

    for (g <- ColumnCatalog.Gates) m(s"queries.${g}_s") = med(wall(s"queries.$g")) -> "s"
    m("queries.leaked_rdds") = med(cnt("queries.leaked_rdds")) -> "count"
    m("queries.leaked_datasets") = med(cnt("queries.leaked_datasets")) -> "count"
    m("queries.self_s") = med(self("queries")) -> "s"

    m("superstep.jobs") = med(r => ctr(r, query).jobs.toDouble) -> "count"
    m("superstep.shuffle_mb") = med(r => ctr(r, query).shuffleWrite / MB) -> "MB"
    m("superstep.task_busy_frac") = med(busy(_, query)) -> "frac"

    m("spark.gc_frac") = med { r =>
      val c = ctr(r, _ => true)
      if (c.runMs == 0) 0.0 else c.gcMs.toDouble / c.runMs
    } -> "frac"
    m("spark.spill_mb") = med(r => ctr(r, _ => true).spill / MB) -> "MB"
    // whole run, set-up included
    m("spark.failed_tasks") = tracer.runTotals.failedTasks.toDouble -> "count"

    m("host.calib_s") = calibStart -> "s"
    m("host.calib_end_s") = calibEnd -> "s"
    m("check.reference_s") = w.referenceS -> "s"

    val tracedS = Stats.median(traced.map(_.wallS))
    val plainS = Stats.median(plain.map(_.wallS))
    m("trace.overhead_frac") = (tracedS / plainS - 1) -> "frac"
    m("trace.layer_sum_frac") = med(r =>
      Tracer.selfByLayer(r.spans).values.sum / r.wallS) -> "frac"
    m("result.passes") = (traced.size + plain.size).toDouble -> "count"
    val q = Stats.quartiles(plain.map(_.wallS))
    m("result.p25_s") = q(0) -> "s"
    m("result.p75_s") = q(1) -> "s"
    m
  }
}
