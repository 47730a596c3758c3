package perfbench

import scala.reflect.ClassTag

import org.apache.spark.SparkContext
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._
import org.apache.spark.storage.StorageLevel

import graft.SparkEntry
import graft.core.{LinkGraph, Transcripts}
import graft.engine.{CsrCheckpoint, GatherScatter, HadoopSnapshotStore, SnapshotStore}
import graft.engine.GatherScatter.{PrGraph, RankBlock}
import graft.queries.EventGraph

/** Calls attempted and calls that threw or failed their check. */
final class Checks {
  var attempted = 0L
  var failed = 0L
  val failures = scala.collection.mutable.ArrayBuffer.empty[String]
  /** How often each check ran. */
  val ran = scala.collection.mutable.LinkedHashMap.empty[String, Long]

  def call(name: String, ok: Boolean, detail: => String = ""): Unit = {
    attempted += 1
    ran(name) = ran.getOrElse(name, 0L) + 1
    if (!ok) {
      failed += 1
      if (failures.size < 20) failures += s"$name: $detail"
    }
  }
}

/** The engine's snapshot store with every write timed as a
  * `snapshotstore.write` span and counted (commits = `latest.json` pointer
  * writes; bytes = text written plus the size of each block directory). */
final class MeteredStore(@transient private val t: Tracer) extends SnapshotStore {
  private val inner = HadoopSnapshotStore

  override def writeText(sc: SparkContext, path: String, text: String): Unit = {
    t.call("snapshotstore.write")(inner.writeText(sc, path, text))
    t.count("snapshotstore.bytes_written", text.getBytes("UTF-8").length.toDouble)
    if (path.endsWith("/latest.json")) t.count("snapshotstore.commits", 1)
  }

  override def writeBlocks[T: ClassTag](blocks: RDD[(Int, T)], path: String): Unit = {
    t.call("snapshotstore.write")(inner.writeBlocks(blocks, path))
    if (t.on) {
      val hp = new org.apache.hadoop.fs.Path(path)
      val fs = hp.getFileSystem(blocks.sparkContext.hadoopConfiguration)
      t.count("snapshotstore.bytes_written", fs.getContentSummary(hp).getLength.toDouble)
    }
  }

  override def readText(sc: SparkContext, path: String): Option[String] = inner.readText(sc, path)
  override def exists(sc: SparkContext, path: String): Boolean = inner.exists(sc, path)
  override def deleteIfExists(sc: SparkContext, path: String): Unit = inner.deleteIfExists(sc, path)
  override def writeState(state: DataFrame, path: String): Unit = inner.writeState(state, path)
  override def readState(spark: SparkSession, path: String): DataFrame = inner.readState(spark, path)
  override def readBlocks[T: ClassTag](sc: SparkContext, path: String): RDD[(Int, T)] =
    inner.readBlocks[T](sc, path)
}

/**
 * One benchmark workload. `setup` makes the inputs from the seed and builds
 * whatever the workload keeps across passes; `reference` prepares the
 * checks (untimed); `pass` is the timed unit of work and goes through
 * `Tracer.call` for every call into the program; `check` runs outside the
 * timed window, checks what the pass returned and releases it.
 */
abstract class Workload(val spark: SparkSession, val dir: String) {
  /** The top-level calls of a pass; their walls sum to the pass time. */
  def topCalls: Seq[String]
  /** The PageRank call whose wall divides edges x supersteps. */
  def prCall: String
  def setup(t: Tracer): Unit
  def reference(): Unit
  def pass(t: Tracer): Unit
  def check(rec: PassRecord, checks: Checks): Unit
  /** Wall time of the workload's single-threaded reference, in seconds. */
  var referenceS = 0.0

  protected def sc: SparkContext = spark.sparkContext

  protected def deleteDir(path: String): Unit = HadoopSnapshotStore.deleteIfExists(sc, path)

  /** Drop every cached Dataset and persisted RDD of the session. */
  protected def clearAll(): Unit = {
    spark.sharedState.cacheManager.clearCache()
    sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }
}

/**
 * `ingest_pr`: transcripts in parquet -> edge derivation -> CSR build ->
 * PageRank to 1e-5 with a durable checkpoint every superstep -> ranks
 * written as parquet. Each pass gets a fresh checkpoint run id, so it
 * starts from superstep 0 instead of resuming a committed run.
 */
final class IngestPr(spark: SparkSession, dir: String, seed: Long, convs: Int)
    extends Workload(spark, dir) {
  private val PrAlpha = 0.3
  private val PrTol = 1e-5
  private val PrMaxSteps = 200

  val topCalls = Seq("core.derive", "gatherscatter.build", "gatherscatter.pr",
                     "gatherscatter.materialise")
  val prCall = "gatherscatter.pr"
  private val input = s"$dir/transcripts.parquet"
  private val output = s"$dir/ranks.parquet"
  private val ckptDir = s"$dir/ckpt"
  private var ref: Reference.Graph = _
  private var refRanks: Array[Double] = _
  private var refSteps = 0
  private var passNo = 0
  private var firstSteps = -1
  private var checkedEdgeSet = false
  // what the current pass holds until `check` releases it
  private var edges: DataFrame = _
  private var built: PrGraph = _
  private var ranks: RDD[RankBlock] = _
  private var steps = -1
  private var store: MeteredStore = _

  def setup(t: Tracer): Unit = {
    clearAll()
    deleteDir(dir)
    store = new MeteredStore(t)
    Transcripts.synthesize(spark, convs, seed = seed).write.parquet(input)
  }

  def reference(): Unit = {
    val turns = spark.read.parquet(input).select("conv_id", "turn_idx", "role", "tool").collect()
    val t0 = System.nanoTime()
    val (srcs, dsts) = Reference.transcriptEdges(turns.map(_.getString(0)),
      turns.map(_.getInt(1)), turns.map(_.getString(2)), turns.map(_.getString(3)))
    ref = Reference.graph(srcs, dsts)
    val (pr, n) = Reference.pageRank(ref, PrAlpha, PrTol, PrMaxSteps)
    refRanks = pr; refSteps = n
    referenceS = (System.nanoTime() - t0) / 1e9
  }

  def pass(t: Tracer): Unit = {
    passNo += 1
    val runId = s"pass-$passNo"
    edges = t.call("core.derive") {
      val e = Transcripts.edges(Transcripts.vertices(spark.read.parquet(input)))
        .persist(StorageLevel.MEMORY_AND_DISK)
      t.count("core.edges", e.count().toDouble)
      e
    }
    val before = t.storageBytes()
    built = t.call("gatherscatter.build")(GatherScatter.build(LinkGraph(edges)))
    t.count("gatherscatter.cached_mb", (t.storageBytes() - before) / 1048576.0)
    t.count("gatherscatter.partitions", built.numPartitions)
    t.count("gatherscatter.hot_vertices", built.hotIds.length)
    val (r, n) = t.call("gatherscatter.pr") {
      GatherScatter.pageRankConverged(built, PrAlpha, PrTol, PrMaxSteps,
        cp = Some(CsrCheckpoint(ckptDir, runId, every = 1, store = store)))
    }
    ranks = r; steps = n
    t.count("gatherscatter.pr_supersteps", n)
    t.count("superstep.edge_steps", built.numEdges.toDouble * n)
    t.call("gatherscatter.materialise") {
      GatherScatter.toDF(spark, r).write.mode("overwrite").parquet(output)
    }
  }

  def check(rec: PassRecord, checks: Checks): Unit = {
    try {
      val nEdges = rec.counts.getOrElse("core.edges", -1.0).toLong
      val edgesOk = nEdges == ref.m && (checkedEdgeSet || {
        val (s, d) = edgeArrays(edges)
        val got = Reference.graph(s, d)
        checkedEdgeSet = true
        sameIds(got.ids, ref) && s.length == ref.m &&
          s.indices.map(i => (s(i), d(i))).toSet ==
            ref.src.indices.map(i => (ref.ids(ref.src(i)), ref.ids(ref.dst(i)))).toSet
      })
      checks.call("core.derive", edgesOk, s"$nEdges edges, reference has ${ref.m}")
      checks.call("gatherscatter.build",
        built.numEdges == ref.m && built.numVertices == ref.n,
        s"built ${built.numEdges} edges / ${built.numVertices} vertices, reference ${ref.m} / ${ref.n}")
      if (firstSteps < 0) firstSteps = steps
      val stepsOk = steps > 0 && steps == refSteps && steps == firstSteps
      checks.call("gatherscatter.pr supersteps", stepsOk,
        s"$steps supersteps, reference $refSteps, first pass $firstSteps")
      val (ids, vals) = collectSorted(ranks)
      checkRanks(checks, "gatherscatter.pr ranks", ids, vals, ref, refRanks)
      val back = spark.read.parquet(output).collect().map(r => (r.getLong(0), r.getDouble(1))).sortBy(_._1)
      checkRanks(checks, "gatherscatter.materialise", back.map(_._1), back.map(_._2), ref, refRanks)
    } finally {
      if (ranks != null) ranks.unpersist(blocking = true)
      if (built != null) built.unpersist()
      clearAll()
      deleteDir(ckptDir)
      deleteDir(output)
      edges = null; built = null; ranks = null; steps = -1
    }
  }

  /** (id, value) pairs of a result, sorted by id. */
  private def collectSorted(r: RDD[RankBlock]): (Array[Long], Array[Double]) = {
    val pairs = r.flatMap(b => b.ids.indices.iterator.map(i => (b.ids(i), b.pr(i))))
      .collect().sortBy(_._1)
    (pairs.map(_._1), pairs.map(_._2))
  }

  private def sameIds(ids: Array[Long], ref: Reference.Graph): Boolean =
    java.util.Arrays.equals(ids, ref.ids)

  private def checkRanks(checks: Checks, name: String, ids: Array[Long], vals: Array[Double],
                         ref: Reference.Graph, want: Array[Double]): Unit = {
    val idsOk = sameIds(ids, ref)
    val diff = if (idsOk) vals.indices.map(i => math.abs(vals(i) - want(i))).max else Double.NaN
    checks.call(name, idsOk && diff <= 1e-9,
      if (!idsOk) s"${ids.length} vertices, reference has ${ref.n}" else s"max |diff| $diff > 1e-9")
  }

  private def edgeArrays(edges: DataFrame): (Array[Long], Array[Long]) = {
    val rows = edges.select("src", "dst").collect()
    (rows.map(_.getLong(0)), rows.map(_.getLong(1)))
  }
}

/**
 * `column_catalog`: the `SparkEntry.queries` gates in `ColumnCatalog.Gates`
 * over a seeded `events` table, each forced with `.count()`. The seed fixes
 * the table. The warm-up pass writes each gate's rows to parquet instead,
 * for the DuckDB oracle check that follows the run.
 */
final class ColumnCatalog(spark: SparkSession, dir: String, seed: Long, events: Int, users: Int)
    extends Workload(spark, dir) {

  val gates: Seq[String] = ColumnCatalog.Gates
  val topCalls: Seq[String] = gates.map(g => s"queries.$g")
  val prCall = "queries.g_pagerank"
  val outDir = s"$dir/out"
  private var richEdges = 0L
  private var writeOutputs = false
  private var counts = Map.empty[String, Long]
  /** Row count of every timed call, per gate, for the oracle check. */
  val callCounts = scala.collection.mutable.LinkedHashMap.empty[String, Vector[Long]]

  def setup(t: Tracer): Unit = {
    clearAll()
    deleteDir(dir)
    ColumnCatalog.events(spark, events, users, seed).write.parquet(s"$dir/events.parquet")
    richEdges = EventGraph.richEdges(EventGraph.events(spark, dir)).count()
  }

  /** The oracle check runs in run.py; here the warm-up pass is told to
    * write every gate's rows for it. */
  def reference(): Unit = writeOutputs = true

  def pass(t: Tracer): Unit = {
    counts = Map.empty
    gates.foreach { g =>
      val n = t.call(s"queries.$g") {
        val df = SparkEntry.queries(g)(spark, dir)
        if (writeOutputs) { df.write.mode("overwrite").parquet(s"$outDir/$g"); -1L }
        else df.count()
      }
      counts += g -> n
      // what the call left behind, before the sweep every caller of the
      // catalog performs between queries
      t.count("queries.leaked_rdds", sc.getPersistentRDDs.size)
      t.count("queries.leaked_datasets", ColumnCatalog.cachedDatasets(spark))
      clearAll()
    }
    t.count("superstep.edge_steps", richEdges * 10.0) // g_pagerank runs 10 supersteps
    writeOutputs = false
  }

  def check(rec: PassRecord, checks: Checks): Unit =
    counts.foreach { case (g, n) =>
      if (n >= 0) callCounts(g) = callCounts.getOrElse(g, Vector.empty) :+ n
    }
}

object ColumnCatalog {
  /** g_pagerank alone: each further column-engine gate costs 1.5-6 s a pass,
    * more than the benchmark's time budget per run leaves. */
  val Gates = Seq("g_pagerank")

  val schema = StructType(Seq(
    StructField("event_id", LongType), StructField("ts", TimestampType),
    StructField("user_id", LongType), StructField("event_type", StringType),
    StructField("value", DoubleType), StructField("props", StringType)))

  private val types = Array("click", "view", "purchase", "error", "login")

  /** Cached Datasets of the session. The count is Spark-internal API
    * (private[spark] in Scala, public in bytecode), hence reflection. */
  def cachedDatasets(spark: SparkSession): Int = {
    val cm = spark.sharedState.cacheManager
    cm.getClass.getMethod("numCachedEntries").invoke(cm).asInstanceOf[Int]
  }

  /** `n` events of `users` users over 30 days, all drawn from `seed`. */
  def events(spark: SparkSession, n: Int, users: Int, seed: Long): DataFrame = {
    val rnd = new scala.util.Random(seed)
    val start = 1704067200000000L // 2024-01-01T00:00:00Z in microseconds
    val micros = Array.fill(n)(start + (rnd.nextDouble() * 30 * 86400e6).toLong).sorted
    val rows = micros.indices.map { i =>
      val ts = new java.sql.Timestamp(micros(i) / 1000)
      ts.setNanos(((micros(i) % 1000000) * 1000).toInt)
      Row(i.toLong, ts, rnd.nextInt(users).toLong, types(rnd.nextInt(types.length)),
        rnd.nextInt(5000) / 100.0, s"""{"k": ${rnd.nextInt(100)}}""")
    }
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 4), schema)
  }
}
