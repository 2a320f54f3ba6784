package hashbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import graft.core.{Archive, Chunker, DirHash}
import graft.fs.Listing
import graft.hash.{Algos, HashSpec}
import org.apache.spark.HashbenchBus
import org.apache.spark.sql.SparkSession

/** JVM side of the directory-hash benchmark; `run.py` drives it.
  *
  * Usage: BenchMain <setup|run|check> <plan.tsv> <seconds> <trace 0|1>
  *        <archive repo dir> <trace output file>
  *
  * The plan holds one tree per line: role (warm, settle, op, probe), operation
  * (hash, ingest), path, algorithm, block size, expected hash string.
  * Results go to stdout as `TAG {json}` lines; run.py checks every hash
  * against its own oracle and aggregates.
  *
  *  - setup: start a session and run the warm-up operations, then stop.
  *  - run:   setup, an untimed hash of each `settle` line, then a
  *           closed loop of `op` lines that ends before `seconds` would
  *           be overrun (at least one op), then the `probe` lines once,
  *           untimed. Traced, the loop lasts 2 x `seconds` and traces
  *           every other op.
  *  - check: set-up, then hash every `op` line once and print each result.
  */
object BenchMain {

  final case class Item(role: String, op: String, path: String, algo: String,
      blockSize: String, expected: String)

  def emit(tag: String, fields: (String, Any)*): Unit = {
    println(s"$tag ${Trace.json(fields.toMap)}")
    Console.flush()
  }

  def main(args: Array[String]): Unit = {
    val mainMs = System.currentTimeMillis()
    val Array(mode, planFile, secondsStr, traceStr, archiveDir, traceOut) = args
    val plan = Files.readAllLines(Paths.get(planFile), UTF_8).asScala
      .filter(_.nonEmpty).map(_.split("\t", -1)).map {
        case Array(r, o, p, a, b, e) => Item(r, o, p, a, b, e)
      }.toSeq
    val traced = traceStr == "1"
    val tracer = new Tracer

    val (spark, sessionSpan) = tracer.span("setup.session") { _ =>
      graft.LocalSession.build("hashbench")
    }
    val sc = spark.sparkContext
    // traced, the listener sees the set-up (for the time of the first job)
    // and after it only the traced ops
    val listener = new SpanListener(tracer)
    if (traced) sc.addSparkListener(listener)
    val bench = new Workloads(spark, tracer, archiveDir)
    try {
      val warm = plan.filter(_.role == "warm")
      val (_, warmSpan) = tracer.span("setup.warmup") { _ =>
        warm.foreach(bench.runOp(_, -1, traced = false))
      }
      emit("SETUP",
        "jvm_start_epoch_ms" -> java.lang.management.ManagementFactory
          .getRuntimeMXBean.getStartTime,
        "main_epoch_ms" -> mainMs,
        "session_ms" -> sessionSpan.durMs,
        "warmup_ms" -> warmSpan.durMs,
        "ready_epoch_ms" -> System.currentTimeMillis(),
        "sun_jnu_encoding" -> System.getProperty("sun.jnu.encoding"),
        "file_encoding" -> System.getProperty("file.encoding"),
        "java_version" -> System.getProperty("java.runtime.version"),
        "spark_master" -> sc.master)
      if (traced) {
        HashbenchBus.drain(sc)
        sc.removeSparkListener(listener)
      }

      mode match {
        case "setup" => ()
        case "check" =>
          plan.filter(_.role == "op").foreach { it =>
            val hs = DirHash.hashDirectory(spark, it.path, it.algo, it.blockSize)
            emit("CHECK", "path" -> it.path, "algo" -> it.algo,
              "block_size" -> it.blockSize, "hash" -> hs)
          }
        case "run" =>
          // untimed hashes of workload-sized trees, so that the timed ops
          // find the JIT settled
          val (_, settleSpan) = tracer.span("setup.settle") { _ =>
            plan.filter(_.role == "settle").foreach(bench.runOp(_, -1, traced = false))
          }
          emit("SETTLE", "ms" -> settleSpan.durMs)
          // a traced run alternates traced ops (listener registered) with
          // untraced ones (no listener), each kind for `seconds`, so that
          // the tracing overhead is traced minus untraced time under the
          // same drift
          val seconds = secondsStr.toDouble * (if (traced) 2 else 1)
          val ops = plan.filter(_.role == "op")
          val t0 = System.nanoTime()
          def elapsed = (System.nanoTime() - t0) / 1e9
          var i = 0
          var last = 0.0
          // hash ops re-hash their tree; an ingest op consumes its dataset.
          // A new op starts only if one more like the last still fits.
          while ((i == 0 || elapsed + last <= seconds) &&
              (ops.head.op == "hash" || i < ops.size)) {
            val s0 = elapsed
            val traceOp = traced && i % 2 == 0
            if (traceOp) sc.addSparkListener(listener)
            try bench.runOp(ops(i % ops.size), i, traceOp)
            finally if (traceOp) sc.removeSparkListener(listener)
            last = elapsed - s0
            i += 1
          }
          emit("LOOP", "ops" -> i, "seconds" -> elapsed,
            "pool_exhausted" -> (ops.head.op != "hash" && i >= ops.size))
          plan.filter(_.role == "probe").zipWithIndex
            .foreach { case (it, k) => bench.runOp(it, k, traced = false) }
          if (traced) emit("KERNEL", Workloads.kernelMbps.toSeq: _*)
        case other => throw new IllegalArgumentException(s"unknown mode $other")
      }
      emit("END", "peak_rss_mb" -> Workloads.peakRssMb,
        "first_job_epoch_ms" -> listener.firstJobMs)
      if (traced) tracer.writeJsonLines(Paths.get(traceOut))
    } finally spark.stop()
  }
}

/** The two operation kinds, each timed as a user would see it. */
final class Workloads(spark: SparkSession, tracer: Tracer, archiveDir: String) {
  import BenchMain.{Item, emit}

  private def timed[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = body
    (a, (System.nanoTime() - t0) / 1e9)
  }

  def runOp(it: Item, index: Int, traced: Boolean): Unit = {
    val base = Seq("role" -> it.role, "index" -> index, "path" -> it.path,
      "expected" -> it.expected, "traced" -> traced)
    try {
      val fields = it.op match {
        case "hash" => hashOp(it, traced)
        case "ingest" => ingestOp(it, traced)
      }
      emit("OP", (base ++ Seq("ok" -> true) ++ fields): _*)
    } catch {
      case NonFatal(e) =>
        val msg = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
          .map(t => s"${t.getClass.getName}: ${t.getMessage}").mkString(" <- ")
        emit("OP", (base ++ Seq("ok" -> false, "error" -> msg.take(600))): _*)
    }
  }

  private def hashOp(it: Item, traced: Boolean): Seq[(String, Any)] = {
    val (hs, secs, layers) = hash(it, traced)
    Seq("hash" -> hs, "hash_s" -> secs,
      "layers" -> (if (traced) layers ++ decompose(it) else layers))
  }

  /** Hash → archive under the hash → symlink at the old place → verify
    * the archived copy by its own name (the reference's archive flow). */
  private def ingestOp(it: Item, traced: Boolean): Seq[(String, Any)] = {
    val (hs, hashS, layers) = hash(it, traced)
    val (archived, moveS) = timed(Archive.moveFolderToHashedArchive(archiveDir, it.path, hs))
    val (_, linkS) = timed(Archive.createSoftlink(archiveDir, hs, it.path))
    val name = archived.getFileName.toString
    val (res, verifyS) = timed(DirHash.verifyDirectoryHash(spark, archived.toString, name))
    val link = Paths.get(it.path, hs)
    val linkOk = Files.isSymbolicLink(link) && Files.isSameFile(link, archived)
    val extra =
      if (!traced) Map.empty[String, Double]
      else decompose(it.copy(path = archived.toString)) ++ Map(
        "archive.move_ms" -> moveS * 1e3, "archive.link_ms" -> linkS * 1e3)
    Seq("hash" -> hs, "hash_s" -> hashS, "archive_s" -> (moveS + linkS),
      "move_s" -> moveS, "link_s" -> linkS, "verify_s" -> verifyS,
      "verify_match" -> res.matches, "verify_hash" -> res.actualHash,
      "archived_path" -> archived.toString, "link_ok" -> linkOk,
      "layers" -> (layers ++ extra))
  }

  /** One `DirHash.hashDirectory` call and its seconds; traced, it runs in
    * a span the listener attaches its Spark jobs to, and returns the
    * per-layer readout of that work. */
  private def hash(it: Item, traced: Boolean): (String, Double, Map[String, Double]) = {
    def call() = DirHash.hashDirectory(spark, it.path, it.algo, it.blockSize)
    if (!traced) {
      val (hs, secs) = timed(call())
      (hs, secs, Map.empty)
    } else {
      val sc = spark.sparkContext
      val bytes0 = Workloads.fileBytesRead()
      val sysc0 = Workloads.readSyscalls()
      val (hs, span) = tracer.span("dirhash.hash") { id =>
        sc.setLocalProperty(SpanListener.Key, id.toString)
        try call() finally sc.setLocalProperty(SpanListener.Key, null)
      }
      val sysc1 = Workloads.readSyscalls()
      val bytes1 = Workloads.fileBytesRead()
      HashbenchBus.drain(sc)
      (hs, span.durMs / 1e3, Workloads.layers(tracer, span) ++ Map(
        "fs.bytes_read" -> (bytes1 - bytes0).toDouble,
        "fs.read_ops" -> (sysc1 - sysc0).toDouble))
    }
  }

  /** Listing and chunk planning re-run beside the hash, with the calls
    * `DirHash` makes (spans inside the hash would need program changes). */
  private def decompose(it: Item): Map[String, Double] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val (entries, listSpan) = tracer.span("fs.list")(_ => Listing.list(it.path, conf))
    val bs = HashSpec.parseBlockSize(it.blockSize)
    val (chunks, planSpan) = tracer.span("chunker.plan") { _ =>
      val n = Chunker.countChunks(entries, bs)
      Chunker.planChunksDataset(spark, it.path, entries, bs, knownChunkCount = n)
      n
    }
    Map("fs.list_ms" -> listSpan.durMs, "fs.entries" -> entries.size.toDouble,
      "chunker.plan_ms" -> planSpan.durMs, "chunker.chunks" -> chunks.toDouble,
      "tree_bytes" -> entries.map(_.size).sum.toDouble)
  }
}

object Workloads {

  /** Bytes read through Hadoop's `file` scheme, all threads. */
  def fileBytesRead(): Long =
    org.apache.hadoop.fs.FileSystem.getAllStatistics.asScala
      .filter(_.getScheme == "file").map(_.getBytesRead).sum

  /** read(2)-family calls of this process so far (`syscr`); the local
    * file system counts no read ops of its own, and in local mode the
    * executors are threads of this process. */
  def readSyscalls(): Long =
    Files.readAllLines(Paths.get("/proc/self/io")).asScala
      .find(_.startsWith("syscr:")).map(_.split("\\s+")(1).toLong).getOrElse(-1L)

  /** Jobs, stages, tasks, shuffle bytes, task time and skew of the Spark
    * work a hash span caused, and how much of its wall time no job
    * covered (driver-side listing, planning and the final fold). */
  def layers(tracer: Tracer, hash: Span): Map[String, Double] = {
    val jobs = tracer.children(hash.id).filter(_.name == "spark.job")
    val stages = jobs.flatMap(j => tracer.children(j.id)).filter(_.name == "spark.stage")
    val tasksByStage = stages.map(s => tracer.children(s.id).filter(_.name == "spark.task"))
    val tasks = tasksByStage.flatten
    val covered = union(jobs.map(j => (j.startMs, j.endMs)))
    val heaviest = if (tasksByStage.isEmpty) Seq.empty
      else tasksByStage.maxBy(_.map(_.durMs).sum).map(_.durMs).sorted
    val skew = if (heaviest.isEmpty) 0.0
      else heaviest.last / math.max(1.0, heaviest(heaviest.size / 2))
    Map(
      "dirhash.jobs_per_hash" -> jobs.size.toDouble,
      "dirhash.stages_per_hash" -> stages.size.toDouble,
      "dirhash.tasks_per_hash" -> tasks.size.toDouble,
      "dirhash.shuffle_bytes_per_hash" ->
        tasks.map(_.attrs.getOrElse("shuffle_write_bytes", 0.0)).sum,
      "dirhash.task_s_per_hash" -> tasks.map(_.durMs).sum / 1e3,
      "dirhash.task_skew" -> skew,
      "dirhash.first_job_delay_ms" ->
        (if (jobs.isEmpty) hash.durMs else jobs.map(_.startMs).min - hash.startMs),
      "dirhash.driver_ms" -> (hash.durMs - covered),
      "chunker.digest_sort_collect_ms" -> covered)
  }

  /** Total length covered by a set of intervals. */
  def union(iv: Seq[(Double, Double)]): Double =
    iv.sortBy(_._1).foldLeft((0.0, Double.NegativeInfinity)) {
      case ((acc, end), (s, e)) =>
        if (e <= end) (acc, end)
        else (acc + e - math.max(s, end), e)
    }._1

  /** Single-thread in-memory digest speed of `Algos.get(..).update`. */
  def kernelMbps: Map[String, Double] = {
    val buf = new Array[Byte](32 << 20)
    new java.util.Random(1).nextBytes(buf)
    Seq("blake2b", "sha256").map { algo =>
      val rates = (0 until 4).map { _ =>
        val t0 = System.nanoTime()
        val d = Algos.get(algo)
        d.update(buf)
        d.digest()
        buf.length / 1e6 / ((System.nanoTime() - t0) / 1e9)
      }.drop(1).sorted
      s"hash.kernel_mbps.$algo" -> rates(rates.size / 2)
    }.toMap
  }

  /** Driver peak resident set (VmHWM), MiB. */
  def peakRssMb: Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(-1.0)
}
