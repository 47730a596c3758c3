package perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.engine.GatherScatter

/**
 * Benchmark harness: one Spark process at local[cores] runs one workload.
 *
 *   Harness --workload W --seed N --seconds S --trace 0|1 --work DIR --tiny 0|1
 *
 * Set-up (inputs and the builds a workload keeps) runs `SetupReps` times;
 * the check reference is prepared, untimed; one untimed warm-up pass
 * follows (the first pass of a fresh JVM runs 2-3x slower than later ones);
 * then passes run until `seconds` have elapsed, at least `MinPasses`.
 * setup_s is the session start plus the median set-up plus the warm-up.
 * With --trace 1 the passes alternate untraced and traced, so the run also
 * measures the tracing overhead. Writes DIR/result.json, read by run.py.
 */
object Harness {
  val SetupReps = 3
  val MinPasses = 3
  val MaxPasses = 400

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val trace = opts("trace") == "1"
    val work = new java.io.File(opts("work")).getAbsolutePath
    val tiny = opts.get("tiny").contains("1")
    val cores = Runtime.getRuntime.availableProcessors()

    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    def log(msg: String): Unit =
      System.err.println(f"[perfbench ${(System.currentTimeMillis() - jvmStartMs) / 1e3}%7.2fs] $msg")
    val calibStart = Calib.run()
    val spark = session(cores, work)
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1e3 - calibStart
    val sc = spark.sparkContext
    val tracer = new Tracer(sc, s"$workload-$seed")
    val checks = new Checks
    val dir = s"$work/data"

    val w: Workload = workload match {
      case "ingest_pr" => new IngestPr(spark, dir, seed, if (tiny) 300 else 5000)
      case "column_catalog" =>
        new ColumnCatalog(spark, dir, seed, if (tiny) 1000 else 5000, if (tiny) 15 else 75)
      case other => sys.error(s"unknown workload $other")
    }
    val sampler = new StorageSampler(sc)

    var checkS = 0.0
    def runPass(index: Int, traced: Boolean): PassRecord = {
      tracer.beginPass(index, traced)
      sampler.reset()
      val threw = try { w.pass(tracer); None } catch { case e: Exception => Some(e) }
      val rec = tracer.endPass(w.topCalls.map(tracer.wallOf).sum, sampler.peakMb)
      threw.foreach { e =>
        checks.call("pass", ok = false, s"threw ${e.getClass.getSimpleName}: ${e.getMessage}")
      }
      val t0 = System.nanoTime()
      w.check(rec, checks)
      checkS += (System.nanoTime() - t0) / 1e9
      rec
    }

    def timeS(body: => Unit): Double = {
      val t0 = System.nanoTime()
      body
      (System.nanoTime() - t0) / 1e9
    }
    log(f"session ready; $workload seed $seed; calibration $calibStart%.3fs")
    val setupS = (1 to SetupReps).map(_ => timeS(w.setup(tracer)))
    log("set-up done")
    w.reference()
    log("reference done")
    val warmS = timeS(runPass(-1, traced = false))
    log("warm-up pass done")

    val records = mutable.ArrayBuffer.empty[PassRecord]
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    while ((records.size < MinPasses || System.nanoTime() < deadline) && records.size < MaxPasses)
      records += runPass(records.size, traced = trace && records.size % 2 == 1)
    log(f"${records.size} timed passes done (checks took $checkS%.1fs in all): " +
      records.map(r => f"${r.wallS}%.2f${if (r.traced) "t" else ""}").mkString(" "))
    tracer.drain()
    sampler.stop()
    val calibEnd = Calib.run()
    log(f"calibration $calibEnd%.3fs")

    val plain = records.filter(!_.traced).toSeq
    val endToEnd = mutable.LinkedHashMap[String, (Double, String)](
      "setup_s" -> (sessionS + Stats.median(setupS) + warmS -> "s"),
      "result_s" -> (Stats.median(plain.map(_.wallS)) -> "s"),
      "superstep_eps" -> (Stats.median(plain.map(eps(w, _))) -> "1/s"),
      "peak_storage_mb" -> (plain.map(_.peakStorageMb).max -> "MB"))
    val perLayer =
      if (!trace) mutable.LinkedHashMap.empty[String, (Double, String)]
      else Layers.metrics(w, tracer, records.filter(_.traced).toSeq, plain, cores,
        calibStart, calibEnd)
    if (trace) tracer.writeJsonl(s"$work/trace/$workload-$seed.jsonl")

    val gateInfo = w match {
      case c: ColumnCatalog =>
        val counts = c.callCounts.map { case (g, ns) => s"${Stats.str(g)}:${ns.mkString("[", ",", "]")}" }
        val sql = c.gates.map(g => s"${Stats.str(g)}:${Stats.str(graft.SparkEntry.oracleSql(g))}")
        s""","gates":${c.gates.map(Stats.str).mkString("[", ",", "]")},""" +
          s""""out_dir":${Stats.str(c.outDir)},"events":${Stats.str(s"$dir/events.parquet")},""" +
          s""""call_counts":${counts.mkString("{", ",", "}")},""" +
          s""""oracle_sql":${sql.mkString("{", ",", "}")}"""
      case _ => ""
    }
    def metricsJson(m: mutable.LinkedHashMap[String, (Double, String)]): String =
      m.map { case (k, (v, u)) => s""""$k":{"value":${Stats.num(v)},"unit":"$u"}""" }
        .mkString("{", ",", "}")
    val failures = checks.failures.map(Stats.str)
    val json =
      s"""{"workload":"$workload","seed":$seed,"passes":${records.size},""" +
      s""""attempted":${checks.attempted},"failed":${checks.failed},""" +
      s""""failures":${failures.mkString("[", ",", "]")},""" +
      s""""checks_run":${checks.ran.map { case (k, n) => s"${Stats.str(k)}:$n" }.mkString("{", ",", "}")},""" +
      s""""setup_reps_s":${setupS.map(Stats.num).mkString("[", ",", "]")},""" +
      s""""session_s":${Stats.num(sessionS)},"warmup_s":${Stats.num(warmS)},""" +
      s""""result_quartiles_s":${Stats.quartiles(plain.map(_.wallS)).map(Stats.num).mkString("[", ",", "]")},""" +
      s""""end_to_end":${metricsJson(endToEnd)},"per_layer":${metricsJson(perLayer)}$gateInfo}"""
    val out = new java.io.PrintWriter(s"$work/result.json", "UTF-8")
    try out.println(json) finally out.close()
    spark.stop()
    log("done")
  }

  /** Edges x supersteps / wall of the PageRank call, for one pass. */
  def eps(w: Workload, r: PassRecord): Double =
    r.counts.getOrElse("superstep.edge_steps", 0.0) / r.walls.getOrElse(w.prCall, Double.NaN)

  def session(cores: Int, work: String): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toLong)
      .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.shuffle.compress", "false")
      .config("spark.shuffle.spill.compress", "false")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
    GatherScatter.engineConfs.foreach { case (k, v) => b.config(k, v) }
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

/** Fixed single-thread xorshift loop: its wall time tells a slow host window
  * apart from a slow engine. */
object Calib {
  @volatile private var sink = 0L

  def run(): Double = {
    val t0 = System.nanoTime()
    var x = 0x9E3779B97F4A7C15L
    var s = 0L
    var i = 0
    while (i < 50000000) {
      x ^= x << 13; x ^= x >>> 7; x ^= x << 17; s += x
      i += 1
    }
    sink = s
    (System.nanoTime() - t0) / 1e9
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    val v = xs.filter(x => !x.isNaN).sorted
    if (v.isEmpty) Double.NaN
    else if (v.size % 2 == 1) v(v.size / 2)
    else (v(v.size / 2 - 1) + v(v.size / 2)) / 2
  }

  /** First and third quartile, by the same rule as Python's
    * statistics.quantiles(n=4) (exclusive method). */
  def quartiles(xs: Seq[Double]): Seq[Double] = {
    val v = xs.sorted
    val n = v.size
    if (n < 2) return Seq(v.headOption.getOrElse(Double.NaN), v.headOption.getOrElse(Double.NaN))
    Seq(1, 3).map { k =>
      val j = k * (n + 1) / 4.0
      val lo = math.min(math.max(j.toInt, 1), n - 1)
      val d = j - lo
      v(lo - 1) + (v(lo) - v(lo - 1)) * d
    }
  }

  /** A JSON string literal. */
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else BigDecimal(v).bigDecimal.toPlainString
}
