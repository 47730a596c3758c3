package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{Path, RawLocalFileSystem}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.core.{Edge, LinkGraph}
import graft.engine.{CheckpointConfig, CsrCheckpoint, GatherScatter, HadoopSnapshotStore,
  SnapshotStore, Superstep}

/** A FileSystem-only scheme: Hadoop has a `FileSystem` for it but no
  * `AbstractFileSystem`, so `FileContext` refuses it. */
class FsOnlyFileSystem extends RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("fsonly:///")
  override def getScheme: String = "fsonly"
}

/**
 * The durable-IO seam ([[SnapshotStore]]): the Hadoop/parquet rendering's
 * own contract, and that a CUSTOM store really is a drop-in — every durable
 * byte of a checkpointed run must flow through the trait, none through a
 * hard-coded filesystem call.
 */
class SnapshotStoreSpec extends AnyFunSuite {
  import SnapshotStoreSpec.CountingStore

  private lazy val spark = SparkTestBase.spark
  private def sc = spark.sparkContext

  private def names(dir: String): Set[String] =
    Files.list(Paths.get(dir)).iterator().asScala.map(_.getFileName.toString).toSet

  /** A read through Hadoop's checksummed local FileSystem: throws a
    * ChecksumException when a `.crc` sidecar does not match the bytes. */
  private def verifiedRead(path: String): String = {
    val fs = new Path(path).getFileSystem(sc.hadoopConfiguration)
    val in = fs.open(new Path(path))
    try new String(in.readAllBytes(), UTF_8) finally in.close()
  }

  test("HadoopSnapshotStore: text round-trip, overwrite, exists, delete") {
    val dir = Files.createTempDirectory("graft-snapstore").toString
    val p = s"$dir/nested/latest.json"
    assert(HadoopSnapshotStore.readText(sc, p).isEmpty)
    assert(!HadoopSnapshotStore.exists(sc, p))
    HadoopSnapshotStore.writeText(sc, p, """{"iteration":3}""")
    assert(HadoopSnapshotStore.readText(sc, p).contains("""{"iteration":3}"""))
    HadoopSnapshotStore.writeText(sc, p, """{"iteration":7}""") // overwrite
    assert(HadoopSnapshotStore.readText(sc, p).contains("""{"iteration":7}"""))
    // the swap leaves the name and a matching .crc, no temp files
    assert(names(s"$dir/nested") === Set("latest.json", ".latest.json.crc"))
    assert(verifiedRead(p) === """{"iteration":7}""")
    HadoopSnapshotStore.deleteIfExists(sc, p)
    assert(!HadoopSnapshotStore.exists(sc, p))
    HadoopSnapshotStore.deleteIfExists(sc, p) // idempotent on absent paths
  }

  test("HadoopSnapshotStore: partition-aligned block round-trip") {
    val dir = Files.createTempDirectory("graft-snapstore").toString
    val blocks = sc.parallelize(0 until 4, 4)
      .map(p => (p, Array.tabulate(3)(i => p * 10L + i)))
    HadoopSnapshotStore.writeBlocks(blocks, s"$dir/blocks")
    // second write to the same path must replace, not fail (crash recovery)
    HadoopSnapshotStore.writeBlocks(blocks, s"$dir/blocks")
    // one part file per partition, no committer leftovers (_temporary,
    // _SUCCESS) and no temp files
    assert(names(s"$dir/blocks").filterNot(_.startsWith(".")) ===
      Set("part-00000", "part-00001", "part-00002", "part-00003"))
    assert(!names(s"$dir/blocks").exists(_.contains(".tmp-")))
    // a crashed attempt's temp file is skipped by readers
    Files.write(Paths.get(dir, "blocks", ".part-00001.tmp-99"), "garbage".getBytes(UTF_8))
    val back = HadoopSnapshotStore.readBlocks[Array[Long]](sc, s"$dir/blocks")
      .collect().sortBy(_._1)
    assert(back.map(_._1).toSeq == Seq(0, 1, 2, 3))
    assert(back.map(_._2.toSeq).toSeq ==
      Seq(Seq(0L, 1L, 2L), Seq(10L, 11L, 12L), Seq(20L, 21L, 22L), Seq(30L, 31L, 32L)))
  }

  test("HadoopSnapshotStore: every intermediate state of the text swap reads complete") {
    val dir = Files.createTempDirectory("graft-snapstore").toString
    val p = s"$dir/latest.json"
    HadoopSnapshotStore.writeText(sc, p, """{"iteration":3}""")
    // after the old .crc is deleted: old bytes, no sidecar
    Files.delete(Paths.get(dir, ".latest.json.crc"))
    assert(HadoopSnapshotStore.readText(sc, p).contains("""{"iteration":3}"""))
    assert(verifiedRead(p) === """{"iteration":3}""")
    // a crashed writer's temp file beside the name
    val fs = new Path(p).getFileSystem(sc.hadoopConfiguration)
    val stray = fs.create(new Path(s"$dir/.latest.json.tmp-1"), true)
    try stray.write("""{"iter""".getBytes(UTF_8)) finally stray.close()
    assert(HadoopSnapshotStore.readText(sc, p).contains("""{"iteration":3}"""))
    // the next swap completes over both leftovers
    HadoopSnapshotStore.writeText(sc, p, """{"iteration":4}""")
    assert(verifiedRead(p) === """{"iteration":4}""")
    assert(names(dir).filterNot(_.contains(".latest.json.tmp-1")) ===
      Set("latest.json", ".latest.json.crc"))
  }

  test("HadoopSnapshotStore: a FileSystem-only scheme falls back to delete-then-rename") {
    val conf = sc.hadoopConfiguration
    conf.set("fs.fsonly.impl", classOf[FsOnlyFileSystem].getName)
    conf.setBoolean("fs.fsonly.impl.disable.cache", true)
    try {
      val dir = Files.createTempDirectory("graft-snapstore").toString
      val p = s"fsonly://$dir/latest.json"
      HadoopSnapshotStore.writeText(sc, p, """{"iteration":1}""")
      HadoopSnapshotStore.writeText(sc, p, """{"iteration":2}""") // overwrite
      assert(HadoopSnapshotStore.readText(sc, p).contains("""{"iteration":2}"""))
      assert(names(dir) === Set("latest.json"))
    } finally {
      conf.unset("fs.fsonly.impl")
      conf.unset("fs.fsonly.impl.disable.cache")
    }
  }

  test("HadoopSnapshotStore: reads block directories written by saveAsObjectFile") {
    val dir = Files.createTempDirectory("graft-snapstore").toString
    sc.parallelize(0 until 25, 2).map(i => (i % 2, i.toLong)).saveAsObjectFile(s"$dir/old")
    assert(HadoopSnapshotStore.readBlocks[Long](sc, s"$dir/old").collect().sorted.toSeq ===
      (0 until 25).map(i => (i % 2, i.toLong)).sorted)
  }

  test("a custom store is a drop-in: checkpointed run + resume flow through it") {
    import graft.core.LinkGraph
    val edges = spark.createDataFrame(
        SparkTestBase.testGraphEdges.map { case (s, d) => (s, d, 1.0) })
      .toDF("src", "dst", "weight")
    val g = LinkGraph(edges, 2)
    val dir = Files.createTempDirectory("graft-snapstore").toString
    val store = new CountingStore
    val cp = CheckpointConfig(dir, "runA", every = 2, store = store)
    val res = graft.algos.PageRank.run(g, tol = -1.0, maxIterations = 4, cp = Some(cp))
    res.state.count()
    assert(store.states >= 2, s"snapshots must go through the store (${store.states})")
    assert(store.texts >= 3, "metrics/lineage/pointer must go through the store")
    // the store-written pointer is the one resume reads
    val latest = HadoopSnapshotStore.readText(sc, s"$dir/runA/latest.json")
    assert(latest.exists(_.contains(""""iteration":4""")), s"latest=$latest")
    g.unpersistAll()
    res.state.unpersist()
  }

  test("a CSR commit's store budget: one writeBlocks, then text with latest.json last") {
    val lg = LinkGraph.fromSeq(spark, SparkTestBase.testGraphEdges.map { case (a, b) =>
      Edge(a, b, 1.0) }, 2)
    val g = GatherScatter.build(lg, 2)
    val dir = Files.createTempDirectory("graft-snapstore").toString
    def ops(ls: collection.Seq[(String, String)], op: String) = ls.count(_._1 == op)
    /** Commits of a log: each starts at a writeBlocks and must end with the
      * pointer. */
    def commits(ls: collection.Seq[(String, String)]): Seq[collection.Seq[(String, String)]] = {
      val starts = ls.indices.filter(ls(_)._1 == "writeBlocks")
      starts.zip(starts.drop(1) :+ ls.size).map { case (a, b) => ls.slice(a, b) }
    }
    try {
      val fresh = new CountingStore
      val (r, n) = GatherScatter.pageRankConverged(g, 0.3, 1e-5,
        cp = Some(CsrCheckpoint(dir, "fresh", every = 1, store = fresh)))
      r.unpersist(false)
      assert(n >= 3, s"fixture must take several supersteps, got $n")
      assert(ops(fresh.log, "writeBlocks") === n)
      assert(ops(fresh.log, "writeText") === 2 * n + 1) // + partitions.json once
      val first = fresh.log.indexWhere(_._1 == "writeBlocks")
      assert(ops(fresh.log.drop(first + 1), "exists") === 0, fresh.log)
      for (c <- commits(fresh.log)) assert(c.last._2.endsWith("/latest.json"), c)

      // a resumed run writes no partitions.json: its pointer proves one exists
      val store = new CountingStore
      val cp = Some(CsrCheckpoint(dir, "resumed", every = 1, store = store))
      GatherScatter.pageRankConverged(g, 0.3, 1e-5, maxIterations = 2, cp = cp)._1
        .unpersist(false)
      store.log.clear()
      val (r2, n2) = GatherScatter.pageRankConverged(g, 0.3, 1e-5, cp = cp)
      r2.unpersist(false)
      assert(n2 === n)
      assert(ops(store.log, "writeBlocks") === n - 2)
      assert(ops(store.log, "writeText") === 2 * (n - 2))
      assert(ops(store.log, "exists") === 0)
      for (c <- commits(store.log)) assert(c.last._2.endsWith("/latest.json"), c)
      assert(Files.exists(Paths.get(dir, "resumed", "partitions.json")))
    } finally {
      g.unpersist()
      lg.unpersistAll()
    }
  }
}

object SnapshotStoreSpec {
  /** Counting decorator: delegates to the Hadoop store, tallies calls and
    * logs every write and probe in order as (operation, path). Top-level:
    * CSR checkpoint closures carry their store into tasks. */
  class CountingStore extends SnapshotStore {
    var texts = 0; var states = 0; var reads = 0
    val log = ArrayBuffer.empty[(String, String)]
    def writeText(sc: org.apache.spark.SparkContext, path: String, text: String): Unit = {
      texts += 1; log += (("writeText", path)); HadoopSnapshotStore.writeText(sc, path, text)
    }
    def readText(sc: org.apache.spark.SparkContext, path: String): Option[String] = {
      reads += 1; HadoopSnapshotStore.readText(sc, path)
    }
    def exists(sc: org.apache.spark.SparkContext, path: String): Boolean = {
      log += (("exists", path)); HadoopSnapshotStore.exists(sc, path)
    }
    def deleteIfExists(sc: org.apache.spark.SparkContext, path: String): Unit =
      HadoopSnapshotStore.deleteIfExists(sc, path)
    def writeState(state: org.apache.spark.sql.DataFrame, path: String): Unit = {
      states += 1; HadoopSnapshotStore.writeState(state, path)
    }
    def readState(spark: org.apache.spark.sql.SparkSession, path: String) =
      HadoopSnapshotStore.readState(spark, path)
    def writeBlocks[T: scala.reflect.ClassTag](
        blocks: org.apache.spark.rdd.RDD[(Int, T)], path: String): Unit = {
      log += (("writeBlocks", path)); HadoopSnapshotStore.writeBlocks(blocks, path)
    }
    def readBlocks[T: scala.reflect.ClassTag](
        sc: org.apache.spark.SparkContext, path: String) =
      HadoopSnapshotStore.readBlocks[T](sc, path)
  }
}
