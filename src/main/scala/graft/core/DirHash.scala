package graft.core

import graft.fs.Listing
import graft.hash.{Algos, HashSpec}
import org.apache.spark.sql.SparkSession

/** Outcome of verifying a directory against an expected hash. Truthy iff
  * the hashes match (reference /root/reference/dirhash.py:462-517).
  */
final case class HashComparisonResult(matches: Boolean, actualHash: String)

/** The directory-hash pipeline — the reference's flagship capability
  * (/root/reference/dirhash.py:307-459), Spark-first:
  *
  *   1. driver: recursive listing (files + dirs, empty dirs included)
  *   2. driver: the chunk plan, cut into contiguous slices of the files in
  *      (utf8(relPath), idx) order ([[Chunker]])
  *   3. executors: one job digests every block, a task per slice; the
  *      collected digests are already in (relPath, idx) order, so the
  *      reference's `sortBy` (dirhash.py:413) has no counterpart and the
  *      hash runs no shuffle
  *   4. driver: sequential, order-dependent digest fold (deliberately NOT a
  *      Spark aggregation — it is non-associative and non-commutative,
  *      SURVEY.md §2.4). Collected rows are 28-64 B digests, so driver
  *      memory is bounded by chunk count exactly as in the reference.
  */
object DirHash {

  /** Runs `body` with the caller's session if one is active, otherwise
    * with a private local session created here and stopped afterwards —
    * the reference's SparkContext create-if-absent management
    * (/root/reference/dirhash.py:325-335): a library caller gets the
    * same no-arguments contract the CLI user gets.
    */
  private[graft] def withSession[A](body: SparkSession => A): A =
    SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession) match {
      case Some(s) => body(s)
      case None =>
        // a bare SparkContext without any SparkSession (legacy RDD
        // caller): getOrCreate() would wrap it — we must not stop a
        // context we did not create (the reference only ever stops its
        // own, dirhash.py:327-332)
        val borrowedContext = org.apache.spark.SparkEnv.get != null
        val builder = SparkSession.builder().appName("DirHash")
        // under spark-submit the master comes from the launcher config;
        // run directly, fall back to all local cores
        if (!new org.apache.spark.SparkConf().contains("spark.master"))
          builder.master("local[*]")
        val spark = builder.getOrCreate()
        try body(spark)
        finally {
          if (!borrowedContext) spark.stop()
          SparkSession.clearActiveSession()
          SparkSession.clearDefaultSession()
        }
    }

  /** No-session overloads (reference parity: every entry point accepts a
    * missing context, dirhash.py E1-E4). */
  def hashDirectoryRaw(dir: String, algo: String, blockSize: Long): String =
    withSession(hashDirectoryRaw(_, dir, algo, blockSize))
  def hashDirectory(dir: String, algo: String, blockSizeStr: String): String =
    withSession(hashDirectory(_, dir, algo, blockSizeStr))
  def verifyRawDirectoryHash(dir: String, algo: String, blockSize: Long,
      expectedHex: String): HashComparisonResult =
    withSession(verifyRawDirectoryHash(_, dir, algo, blockSize, expectedHex))
  def verifyDirectoryHash(dir: String, hashString: String): HashComparisonResult =
    withSession(verifyDirectoryHash(_, dir, hashString))

  /** Hex digest of `dir` under `algo` at `blockSize` bytes.
    * (reference `hash_directory_raw`, /root/reference/dirhash.py:307-444)
    */
  def hashDirectoryRaw(spark: SparkSession, dir: String, algo: String, blockSize: Long): String = {
    val entries = Listing.list(dir, spark.sparkContext.hadoopConfiguration)
    val digests = Chunker.digestChunks(spark, dir, entries, blockSize, algo)
    val allEntries = entries.map(_.relPath).sorted(Listing.utf8Ordering)

    // Final fold (reference /root/reference/dirhash.py:422-441):
    //   ascii(count) 0x00  join(entries, 0x00)  0x00  digests…
    // The trailing 0x00 after the joined listing is unconditional, so an
    // empty directory hashes "0\0\0" exactly like the reference.
    val zero = Array(0.toByte)
    val h = Algos.get(algo)
    h.update(allEntries.size.toString)
    h.update(zero)
    var firstEntry = true
    allEntries.foreach { e =>
      if (!firstEntry) h.update(zero)
      h.update(e)
      firstEntry = false
    }
    h.update(zero)
    digests.foreach(d => h.update(d))
    Algos.hex(h.digest())
  }

  /** Versioned hash string `v1-<algo>-<blocksize>-<hex>` of `dir`.
    * (reference `hash_directory`, /root/reference/dirhash.py:446-459)
    */
  def hashDirectory(spark: SparkSession, dir: String, algo: String, blockSizeStr: String): String = {
    val blockSize = HashSpec.parseBlockSize(blockSizeStr)
    val hex = hashDirectoryRaw(spark, dir, algo, blockSize)
    HashSpec.buildHashString(algo, blockSizeStr, hex)
  }

  /** Re-hash and compare against a raw hex digest.
    * (reference `verify_raw_directory_hash`, /root/reference/dirhash.py:521-535)
    */
  def verifyRawDirectoryHash(
      spark: SparkSession, dir: String, algo: String, blockSize: Long,
      expectedHex: String): HashComparisonResult = {
    val actual = hashDirectoryRaw(spark, dir, algo, blockSize)
    HashComparisonResult(actual == expectedHex, actual)
  }

  /** Parse a `v1-…` hash string, re-hash, compare.
    * (reference `verify_directory_hash`, /root/reference/dirhash.py:538-555)
    */
  def verifyDirectoryHash(spark: SparkSession, dir: String, hashString: String): HashComparisonResult = {
    val hs = HashSpec.parseHashString(hashString)
    verifyRawDirectoryHash(spark, dir, hs.algo, hs.blockSize, hs.hexDigest)
  }
}
