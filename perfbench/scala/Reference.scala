package perfbench

/**
 * Plain single-threaded reference for `ingest_pr`, over arrays collected into
 * local memory. It restates the documented semantics of the transcript edge
 * derivation (Transcripts scaladoc) and of the CSR PageRank (GatherScatter
 * scaladoc: applied to message receivers only) with none of their code.
 */
object Reference {

  /** A graph over dense vertex indices; `ids` is sorted. */
  final class Graph(val ids: Array[Long], val src: Array[Int], val dst: Array[Int]) {
    def n: Int = ids.length
    def m: Int = src.length
  }

  def graph(srcIds: Array[Long], dstIds: Array[Long]): Graph = {
    val ids = (srcIds ++ dstIds).distinct.sorted
    def at(v: Long): Int = java.util.Arrays.binarySearch(ids, v)
    new Graph(ids, srcIds.map(at), dstIds.map(at))
  }

  /** PageRank until no receiver moves more than `tol` (at most `maxSteps`):
    * pr' = alpha + (1 - alpha) * sum(pr(src) / outdeg(src)) on vertices with
    * in-edges; in-degree-0 vertices keep their initial 0.3. Returns
    * (ranks aligned to `g.ids`, supersteps run). */
  def pageRank(g: Graph, alpha: Double, tol: Double, maxSteps: Int): (Array[Double], Int) = {
    val outDeg = new Array[Int](g.n)
    val recv = new Array[Boolean](g.n)
    var e = 0
    while (e < g.m) { outDeg(g.src(e)) += 1; recv(g.dst(e)) = true; e += 1 }
    val inv = outDeg.map(d => if (d == 0) 0.0 else 1.0 / d)
    var pr = Array.fill(g.n)(0.3)
    var steps = 0
    var changed = 1L
    while (changed > 0 && steps < maxSteps) {
      val acc = new Array[Double](g.n)
      e = 0
      while (e < g.m) { acc(g.dst(e)) += pr(g.src(e)) * inv(g.src(e)); e += 1 }
      val next = new Array[Double](g.n)
      changed = 0L
      var v = 0
      while (v < g.n) {
        if (recv(v)) {
          next(v) = alpha + (1.0 - alpha) * acc(v)
          if (math.abs(next(v) - pr(v)) > tol) changed += 1
        } else next(v) = pr(v)
        v += 1
      }
      pr = next
      steps += 1
    }
    (pr, steps)
  }

  /**
   * The transcript link graph, derived from the raw turns without Spark:
   * vertex id = (rank of conv_id) * 2^20 + turn_idx; a reply edge joins each
   * turn to the next one of its conversation; a tool edge joins an assistant
   * turn that names a tool to the first later `tool` turn of the same
   * conversation with the same tool. Duplicate pairs collapse.
   */
  def transcriptEdges(convId: Array[String], turn: Array[Int], role: Array[String],
                      tool: Array[String]): (Array[Long], Array[Long]) = {
    val convs = convId.distinct.sorted
    val ord = convs.zipWithIndex.toMap
    val out = scala.collection.mutable.LinkedHashSet.empty[(Long, Long)]
    convId.indices.groupBy(convId(_)).foreach { case (c, rowsUnsorted) =>
      val rows = rowsUnsorted.sortBy(turn(_))
      val base = ord(c).toLong << 20
      rows.sliding(2).foreach {
        case Seq(a, b) => out += ((base + turn(a), base + turn(b)))
        case _ =>
      }
      rows.foreach { a =>
        if (role(a) == "assistant" && tool(a) != null) {
          rows.find(b => role(b) == "tool" && tool(b) == tool(a) && turn(b) > turn(a))
            .foreach(b => out += ((base + turn(a), base + turn(b))))
        }
      }
    }
    (out.iterator.map(_._1).toArray, out.iterator.map(_._2).toArray)
  }
}
