package graft.core

import graft.fs.{FileEntry, Listing}
import graft.hash.{Algos, Digest}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.util.SerializableConfiguration

/** One planned fixed-length block read: chunk `idx` of file `relPath`,
  * bytes `[offset, offset+len)` of the underlying file.
  */
final case class ChunkSpec(relPath: String, absPath: String, idx: Long, offset: Long, len: Long)

/** Chunks `[fromIdx, untilIdx)` of the `size`-byte file `relPath`: the
  * part of one file that falls in one slice of the plan.
  */
private[core] final case class ChunkRun(relPath: String, size: Long, fromIdx: Long, untilIdx: Long)

/** Fixed-length chunking as driver-planned contiguous slices.
  *
  * The reference uses a custom Hadoop InputFormat whose splits are aligned
  * to record multiples (/root/reference/FixedLengthBinaryInputFormat.scala:
  * 41-85) and one RDD per file union-folded together
  * (/root/reference/dirhash.py:399-406) — a lineage chain that collapses at
  * 10⁵+ files — and then sorts the digests by (path, idx)
  * (dirhash.py:413). Here the driver sorts the files by the UTF-8 bytes of
  * their relative paths, which is the digest order the hash folds in, and
  * cuts that chunk sequence into at most `4 × defaultParallelism`
  * contiguous slices of about equal bytes. A slice is a few [[ChunkRun]]s,
  * so the plan is O(#files + #slices) on the driver at any block size, and
  * a large file spreads over several slices. One task digests one slice in
  * order, so the collected digests arrive in (relPath, idx) order: the
  * hash is one Spark job with no sort and no shuffle. Alignment is by
  * construction; the short-final-chunk and empty-file→zero-chunks
  * semantics match the reference's record reader
  * (/root/reference/FixedLengthBinaryRecordReader.scala:105-142).
  */
object Chunker {

  private val Zero = Array(0.toByte)

  /** A fresh `algo` digest already fed the header of the chunk-digest
    * layout (reference /root/reference/dirhash.py:288-303):
    * `H( utf8(relPath) || 0x00 || ascii_decimal(idx) || 0x00 || content )`.
    * The caller feeds `content` and finalizes.
    */
  def chunkDigest(algo: String, relPathUtf8: Array[Byte], idx: Long): Digest = {
    val d = Algos.get(algo)
    d.update(relPathUtf8)
    d.update(Zero)
    d.update(java.lang.Long.toString(idx))
    d.update(Zero)
    d
  }

  private def chunksOf(size: Long, blockSize: Long): Long =
    if (size == 0) 0 else (size - 1) / blockSize + 1

  /** Total planned chunks for a listing — O(#files) driver arithmetic,
    * no spec materialization.
    */
  def countChunks(entries: Seq[FileEntry], blockSize: Long): Long =
    entries.iterator.filterNot(_.isDir).map(fe => chunksOf(fe.size, blockSize)).sum

  /** Cuts the chunks of every regular file, in (utf8(relPath), idx) order,
    * into at most `maxSlices` contiguous slices of about equal bytes. Each
    * run ends a file or a slice, so there are at most #files + #slices.
    */
  private[core] def slices(entries: Seq[FileEntry], blockSize: Long,
      maxSlices: Int): Vector[Vector[ChunkRun]] = {
    require(blockSize > 0, s"block size must be positive: $blockSize")
    val files = entries.filter(fe => !fe.isDir && fe.size > 0)
      .sortBy(_.relPath)(Listing.utf8Ordering)
    val totalBytes = files.iterator.map(_.size).sum
    val nSlices = math.max(1L, math.min(maxSlices.toLong, countChunks(files, blockSize)))
    val target = (totalBytes + nSlices - 1) / nSlices // bytes per slice
    val out = Vector.newBuilder[Vector[ChunkRun]]
    val slice = Vector.newBuilder[ChunkRun]
    var sliceBytes = 0L
    files.foreach { fe =>
      val nChunks = chunksOf(fe.size, blockSize)
      var i = 0L
      while (i < nChunks) {
        // the fewest chunks that fill the slice, or the rest of the file
        val j = math.min(nChunks, i + (target - sliceBytes - 1) / blockSize + 1)
        slice += ChunkRun(fe.relPath, fe.size, i, j)
        sliceBytes += math.min(j * blockSize, fe.size) - i * blockSize
        i = j
        if (sliceBytes >= target) {
          out += slice.result()
          slice.clear()
          sliceBytes = 0
        }
      }
    }
    if (sliceBytes > 0) out += slice.result()
    out.result()
  }

  private def maxSlices(spark: SparkSession): Int =
    4 * spark.sparkContext.defaultParallelism

  /** The chunks of one run, streamed: offsets and lengths are computed
    * here and nowhere else.
    */
  private def specs(root: String, run: ChunkRun, blockSize: Long): Iterator[ChunkSpec] = {
    val absPath = s"$root/${run.relPath}"
    Iterator.iterate(run.fromIdx)(_ + 1).takeWhile(_ < run.untilIdx).map { i =>
      val offset = i * blockSize
      ChunkSpec(run.relPath, absPath, i, offset, math.min(blockSize, run.size - offset))
    }
  }

  /** Plans chunk ranges for every regular file, in (utf8(relPath), idx)
    * order. Empty files yield no chunks (they still appear in the listing
    * — SURVEY.md §1.3).
    */
  def planChunks(rootDir: String, entries: Seq[FileEntry], blockSize: Long): Seq[ChunkSpec] = {
    val root = Listing.stripTrailingSlashes(rootDir)
    slices(entries, blockSize, 1).flatten.flatMap(specs(root, _, blockSize))
  }

  /** The chunk plan as a lazy Dataset: the driver ships the slices and
    * executors expand them, so building it runs no job and the driver
    * never holds one object per chunk. `knownChunkCount` is ignored (the
    * slice planner counts as it cuts); it stays so callers that pass it
    * keep compiling.
    */
  def planChunksDataset(spark: SparkSession, rootDir: String,
      entries: Seq[FileEntry], blockSize: Long,
      knownChunkCount: Long = -1L): Dataset[ChunkSpec] = {
    import spark.implicits._
    val root = Listing.stripTrailingSlashes(rootDir)
    val plan = slices(entries, blockSize, maxSlices(spark))
    spark.createDataset(spark.sparkContext.parallelize(plan, math.max(1, plan.size))
      .flatMap(_.iterator.flatMap(specs(root, _, blockSize))))
  }

  /** The digest of every chunk under `rootDir`, in (utf8(relPath), idx)
    * order: one Spark job of one task per slice, none for a tree without
    * bytes. A task opens each file of its slice once and streams it
    * through the digests in 64 KiB reads, never materializing a whole
    * chunk (the default block size is 128 MiB).
    */
  def digestChunks(spark: SparkSession, rootDir: String,
      entries: Seq[FileEntry], blockSize: Long, algo: String): Array[Array[Byte]] = {
    Algos.get(algo) // fail fast on the driver for unknown algorithms
    val plan = slices(entries, blockSize, maxSlices(spark))
    val root = Listing.stripTrailingSlashes(rootDir)
    val serConf = new SerializableConfiguration(spark.sparkContext.hadoopConfiguration)
    if (plan.isEmpty) Array.empty
    else spark.sparkContext.parallelize(plan, plan.size).mapPartitions { it =>
      val buf = new Array[Byte](64 * 1024)
      it.flatten.flatMap { run =>
        val pathUtf8 = run.relPath.getBytes("UTF-8")
        val p = new Path(s"$root/${run.relPath}")
        val in = Listing.fileSystem(p, serConf.value).open(p)
        try {
          in.seek(run.fromIdx * blockSize)
          specs(root, run, blockSize).map { spec =>
            val d = chunkDigest(algo, pathUtf8, spec.idx)
            var remaining = spec.len
            while (remaining > 0) {
              val n = in.read(buf, 0, math.min(buf.length.toLong, remaining).toInt)
              if (n < 0)
                throw new java.io.IOException(
                  s"unexpected EOF in ${spec.absPath} at chunk ${spec.idx}")
              d.update(buf, 0, n)
              remaining -= n
            }
            d.digest()
          }.toVector
        } finally in.close()
      }
    }.collect()
  }

  /** Raw chunk bytes of a single file — test/debug surface mirroring the
    * reference's `_file_chunks` (/root/reference/dirhash.py:277-286).
    */
  def fileChunks(spark: SparkSession, path: String, blockSize: Long): Dataset[(Long, Array[Byte])] = {
    import spark.implicits._
    val conf = spark.sparkContext.hadoopConfiguration
    val p = new Path(path)
    val size = Listing.fileSystem(p, conf).getFileStatus(p).getLen
    val specs = planChunks(
      p.getParent.toUri.getPath,
      Seq(FileEntry(p.getName, isDir = false, size)),
      blockSize)
    val serConf = new SerializableConfiguration(conf)
    spark.createDataset(specs).map { spec =>
      val fp = new Path(spec.absPath)
      val in = Listing.fileSystem(fp, serConf.value).open(fp)
      try {
        val out = new Array[Byte](spec.len.toInt)
        in.seek(spec.offset)
        var done = 0
        while (done < out.length) {
          val n = in.read(out, done, out.length - done)
          if (n < 0) throw new java.io.IOException(s"unexpected EOF in ${spec.absPath}")
          done += n
        }
        (spec.idx, out)
      } finally in.close()
    }
  }
}
