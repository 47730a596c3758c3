package graft.engine

import java.io.{ByteArrayOutputStream, IOException, ObjectOutputStream}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.reflect.ClassTag

import org.apache.hadoop.fs.{FileContext, Options, Path, UnsupportedFileSystemException}
import org.apache.hadoop.io.{BytesWritable, NullWritable, SequenceFile}
import org.apache.spark.{SparkContext, TaskContext}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.util.SerializableConfiguration

/**
 * Storage seam for every durable artifact the engine commits mid-run:
 * checkpoint manifests / latest-pointers / metrics (small driver-side
 * text), columnar state tables (the Column engine's per-iteration
 * snapshots), and partition-aligned binary state blocks (the CSR engine's
 * snapshots and mid-algorithm checkpoints).
 *
 * The north rule names Iceberg as the production substrate ("each superstep
 * checkpoints per-partition frontier state plus lineage and iteration
 * metrics to Iceberg"). This build ships no Iceberg jars, so
 * [[HadoopSnapshotStore]] renders the same commit discipline over Hadoop
 * `FileSystem` paths (local, hdfs://, s3a://) with parquet/object-file
 * payloads. An Iceberg implementation is a drop-in: `writeState`/`readState`
 * become table appends/snapshot reads, `writeBlocks` a table of
 * (partition, blob) rows, and the text manifests snapshot properties/tags;
 * callers ([[Superstep]], [[GatherScatter]]) see only this trait via the
 * `store` field on [[CheckpointConfig]] / [[CsrCheckpoint]].
 *
 * '''Commit protocol.''' One commit of run `dir/runId` at superstep N is,
 * in order:
 *  1. the state: `iter=N/state` (`writeBlocks` on the CSR path,
 *     `writeState` on the Column engine);
 *  1. lineage and metrics text (`writeText`): the CSR path writes
 *     `partitions.json` on the first commit of a run that did not resume,
 *     then `metrics.jsonl`; the Column engine writes `metrics.jsonl` and
 *     `iter=N/partitions.jsonl`;
 *  1. `latest.json` (`writeText`), the pointer. Writing it commits N.
 *
 * Crash states, with the Hadoop store below:
 *  - during 1: `iter=N/state` is partial or holds hidden temp files, and
 *    `latest.json` still names the previous commit (or is absent, and the
 *    run restarts at superstep 0). The next write of `iter=N/state`
 *    replaces the whole directory.
 *  - during 2: each text file holds complete old or new bytes. New metrics
 *    beside an old pointer are harmless: resume keeps only the lines up to
 *    the pointer's superstep.
 *  - during 3: `latest.json` holds complete old or new bytes; on `file:`
 *    its `.crc` is absent or matches them.
 * A crash can leave `.`-prefixed temp files; every reader skips them.
 */
trait SnapshotStore extends Serializable {

  /** Small driver-side text artifact (manifest, metrics, latest pointer),
    * overwriting any existing content so that readers see complete old or
    * new bytes, never half-written ones. */
  def writeText(sc: SparkContext, path: String, text: String): Unit

  /** None when the artifact does not exist. */
  def readText(sc: SparkContext, path: String): Option[String]

  def exists(sc: SparkContext, path: String): Boolean

  def deleteIfExists(sc: SparkContext, path: String): Unit

  /** Columnar state table, full overwrite (one committed version per path). */
  def writeState(state: DataFrame, path: String): Unit

  def readState(spark: SparkSession, path: String): DataFrame

  /** Partition-aligned binary blocks: element i of `blocks` carries its own
    * partition id so a reader can restore alignment via `partitionBy`. */
  def writeBlocks[T: ClassTag](blocks: RDD[(Int, T)], path: String): Unit

  def readBlocks[T: ClassTag](sc: SparkContext, path: String): RDD[(Int, T)]
}

/** The parquet/object-file rendering over Hadoop's checksummed FileSystem.
  * Block directories keep `saveAsObjectFile`'s layout, so `readBlocks`
  * reads directories written either way. */
object HadoopSnapshotStore extends SnapshotStore {

  private def fsOf(sc: SparkContext, path: String) = {
    val hp = new Path(path)
    (hp, hp.getFileSystem(sc.hadoopConfiguration))
  }

  /** Write to a hidden temp file, then swap it onto `path`.
    *  - `file:`: Hadoop `rename(OVERWRITE)` resolves to delete-then-rename
    *    there, and the `.crc` sidecar moves separately, so a crash could
    *    leave no file or new bytes beside an old `.crc`. Instead: delete the
    *    old `.name.crc`, atomically move the temp file onto the name, then
    *    move the temp `.crc` onto `.name.crc`. At every step the name holds
    *    complete bytes and its `.crc` is absent (reads skip verification)
    *    or matching.
    *  - other schemes: FileContext `rename(OVERWRITE)`, atomic on HDFS.
    *    Schemes without an `AbstractFileSystem` binding or an overwriting
    *    rename fall back to delete-then-rename. */
  override def writeText(sc: SparkContext, path: String, text: String): Unit = {
    val (hp, fs) = fsOf(sc, path)
    val tmp = new Path(hp.getParent, s".${hp.getName}.tmp-${System.nanoTime()}")
    val out = fs.create(tmp, true)
    try out.write(text.getBytes(UTF_8))
    finally out.close()
    if (fs.getScheme == "file") {
      val t = Paths.get(fs.makeQualified(tmp).toUri)
      val d = Paths.get(fs.makeQualified(hp).toUri)
      def crc(p: java.nio.file.Path) = p.resolveSibling(s".${p.getFileName}.crc")
      Files.deleteIfExists(crc(d))
      Files.move(t, d, StandardCopyOption.ATOMIC_MOVE)
      if (Files.exists(crc(t))) Files.move(crc(t), crc(d), StandardCopyOption.ATOMIC_MOVE)
    } else {
      try {
        FileContext.getFileContext(hp.toUri, sc.hadoopConfiguration)
          .rename(tmp, hp, Options.Rename.OVERWRITE)
      } catch {
        case _: UnsupportedFileSystemException | _: UnsupportedOperationException =>
          fs.delete(hp, false)
          if (!fs.rename(tmp, hp)) throw new IOException(s"rename $tmp -> $hp failed")
      }
    }
  }

  override def readText(sc: SparkContext, path: String): Option[String] = {
    val (hp, fs) = fsOf(sc, path)
    if (!fs.exists(hp)) None
    else {
      val in = fs.open(hp)
      try Some(new String(in.readAllBytes(), UTF_8))
      finally in.close()
    }
  }

  override def exists(sc: SparkContext, path: String): Boolean = {
    val (hp, fs) = fsOf(sc, path)
    fs.exists(hp)
  }

  override def deleteIfExists(sc: SparkContext, path: String): Unit = {
    val (hp, fs) = fsOf(sc, path)
    if (fs.exists(hp)) { fs.delete(hp, true); () }
  }

  override def writeState(state: DataFrame, path: String): Unit =
    state.write.mode("overwrite").parquet(path)

  override def readState(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path)

  /** One job into a fresh directory: each task writes its partition as the
    * SequenceFile `part-NNNNN` that `saveAsObjectFile` would, under a hidden
    * per-attempt temp name, and renames it into place. This skips the
    * output committer's `_temporary` tree, its task and job commit renames
    * and `_SUCCESS`. */
  override def writeBlocks[T: ClassTag](blocks: RDD[(Int, T)], path: String): Unit = {
    val sc = blocks.sparkContext
    val (hp, fs) = fsOf(sc, path)
    fs.delete(hp, true) // half-written blocks from a crash
    if (!fs.mkdirs(hp)) throw new IOException(s"mkdirs $hp failed")
    val dir = fs.makeQualified(hp).toString
    val conf = sc.broadcast(new SerializableConfiguration(sc.hadoopConfiguration))
    try sc.runJob(blocks, (ctx: TaskContext, it: Iterator[(Int, T)]) =>
      writePart(conf.value.value, new Path(dir), ctx, it))
    finally conf.destroy()
  }

  private def writePart[T: ClassTag](conf: org.apache.hadoop.conf.Configuration,
      dir: Path, ctx: TaskContext, it: Iterator[T]): Unit = {
    val name = f"part-${ctx.partitionId()}%05d"
    val dst = new Path(dir, name)
    val tmp = new Path(dir, s".$name.tmp-${ctx.taskAttemptId()}")
    val w = SequenceFile.createWriter(conf, SequenceFile.Writer.file(tmp),
      SequenceFile.Writer.keyClass(classOf[NullWritable]),
      SequenceFile.Writer.valueClass(classOf[BytesWritable]),
      SequenceFile.Writer.compression(SequenceFile.CompressionType.NONE))
    try it.grouped(10).foreach { group => // saveAsObjectFile's record shape
      val bytes = new ByteArrayOutputStream()
      val oos = new ObjectOutputStream(bytes)
      oos.writeObject(group.toArray)
      oos.close()
      w.append(NullWritable.get(), new BytesWritable(bytes.toByteArray))
    } finally w.close()
    val fs = dir.getFileSystem(conf)
    // rename never overwrites (local and HDFS): a retried attempt that finds
    // the file in place keeps the first complete copy
    if (!fs.rename(tmp, dst)) {
      fs.delete(tmp, false)
      if (!fs.exists(dst)) throw new IOException(s"rename $tmp -> $dst failed")
    }
  }

  override def readBlocks[T: ClassTag](sc: SparkContext, path: String): RDD[(Int, T)] =
    sc.objectFile[(Int, T)](path)
}
