package graft.core

import java.nio.file.{Files, Path}
import graft.fs.FileEntry
import org.scalacheck.{Arbitrary, Gen}
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

/** ScalaCheck-generator properties from the SURVEY.md §5 port plan:
  * chunk plans reassemble to the file, the directory hash is
  * deterministic, and sensitive to content/structure changes. Raw Gen
  * sampling with fixed seeds (scalatestplus bridge isn't available in the
  * offline dependency set) — deterministic across runs.
  */
class ChunkerPropSpec extends AnyFunSuite {

  private val spark = graft.SparkTestSession.spark

  private def samples[T](g: Gen[T], n: Int): Seq[T] =
    (0 until n).flatMap(i => g.apply(Gen.Parameters.default, Seed(i.toLong)))

  private val sizes: Gen[Long] = Gen.oneOf(
    Gen.choose(0L, 4L), Gen.choose(0L, 4096L), Gen.oneOf(0L, 1L, 1023L, 1024L, 1025L))
  private val blocks: Gen[Long] = Gen.oneOf(1L, 2L, 3L, 7L, 64L, 1024L, 4096L)

  test("property: chunk plan covers the file exactly once, in order") {
    for {
      size <- samples(sizes, 60)
      block <- samples(blocks, 7)
    } {
      val specs = Chunker.planChunks("/r", Seq(FileEntry("f", isDir = false, size)), block)
      assert(specs.map(_.idx) == specs.indices.map(_.toLong)) // dense 0..n-1
      assert(specs.map(_.len).sum == size) // tiles [0, size): no gap/overlap
      specs.foreach(s => assert(s.offset == s.idx * block))
      specs.dropRight(1).foreach(s => assert(s.len == block))
      specs.lastOption.foreach(s => assert(s.len == size - s.offset && s.len > 0))
      if (size == 0) assert(specs.isEmpty) // empty file => zero chunks (§1.3)
    }
  }

  private val fileGen: Gen[(String, Array[Byte])] = for {
    dir <- Gen.oneOf("a", "b", "deep/nested")
    name <- Gen.identifier.map(_.take(8)).suchThat(_.nonEmpty)
    bytes <- Gen.choose(0, 600).flatMap(n => Gen.listOfN(n, Arbitrary.arbByte.arbitrary))
  } yield (s"$dir/$name", bytes.toArray)

  private def writeTree(files: Map[String, Array[Byte]]): Path = {
    val root = Files.createTempDirectory("graft-prop")
    files.foreach { case (rel, bytes) =>
      val p = root.resolve(rel)
      Files.createDirectories(p.getParent)
      Files.write(p, bytes)
    }
    root
  }

  private def rmTree(root: Path): Unit = {
    import scala.jdk.CollectionConverters._
    Files.walk(root).iterator().asScala.toSeq.reverse.foreach(Files.delete)
  }

  test("property: directory hash deterministic, content- and name-sensitive") {
    for ((files, block) <- samples(Gen.mapOfN(3, fileGen), 4).zip(samples(blocks, 4))
         if files.nonEmpty) {
      val root = writeTree(files)
      try {
        val h1 = DirHash.hashDirectoryRaw(spark, root.toString, "sha256", block)
        val h2 = DirHash.hashDirectoryRaw(spark, root.toString, "sha256", block)
        assert(h1 == h2) // deterministic across runs (incl. shuffle order)

        val (rel, bytes) = files.head
        if (bytes.nonEmpty) { // flipping one byte changes the hash
          val mutated = bytes.clone(); mutated(0) = (mutated(0) ^ 1).toByte
          Files.write(root.resolve(rel), mutated)
          assert(DirHash.hashDirectoryRaw(spark, root.toString, "sha256", block) != h1)
          Files.write(root.resolve(rel), bytes)
        }

        // renaming a file changes the hash (listing + digest domain)
        Files.move(root.resolve(rel), root.resolve(rel + ".renamed"))
        assert(DirHash.hashDirectoryRaw(spark, root.toString, "sha256", block) != h1)
      } finally rmTree(root)
    }
  }

  test("property: hash invariant to block size when every file fits one chunk") {
    for (files <- samples(Gen.mapOfN(2, fileGen), 3) if files.nonEmpty) {
      val root = writeTree(files)
      try {
        val big1 = DirHash.hashDirectoryRaw(spark, root.toString, "sha256", 1 << 20)
        val big2 = DirHash.hashDirectoryRaw(spark, root.toString, "sha256", 1 << 21)
        assert(big1 == big2)
      } finally rmTree(root)
    }
  }

  // Names whose UTF-8 byte order differs from Java's UTF-16 order (the
  // astral U+1F600 sorts after U+FF21 in bytes, before it in UTF-16) and
  // from path-segment order ("a.txt" < "a/x" because '.' < '/'). Synthetic
  // entries: no file is written, so the JVM's file-name encoding is moot.
  private val names = Seq("a.txt", "a/x", "a/", "a-b", "b c", "\uFF21",
    "\uD83D\uDE00", "\uFFFD.bin", "z/", "z/\uD83D\uDE00", "z/\uFF21")
  private val entryLists: Gen[Seq[FileEntry]] = for {
    picked <- Gen.someOf(names)
    lens <- Gen.listOfN(picked.size, sizes)
    seed <- Gen.long
  } yield new scala.util.Random(seed).shuffle(picked.toSeq.zip(lens).map {
    case (n, len) => FileEntry(n, isDir = n.endsWith("/"), if (n.endsWith("/")) 0L else len)
  })

  test("property: planChunksDataset == planChunks in (utf8(relPath), idx) order") {
    import scala.math.Ordering.Implicits.seqOrdering
    for {
      entries <- samples(entryLists, 40)
      block <- samples(blocks, 3)
    } {
      val driver = Chunker.planChunks("/r", entries, block)
      val expected = driver.sortBy(s =>
        (s.relPath.getBytes("UTF-8").toSeq.map(_ & 0xff), s.idx))
      assert(driver == expected, s"planChunks out of order: $entries")
      val nChunks = Chunker.countChunks(entries, block)
      assert(driver.size == nChunks)
      assert(Chunker.planChunksDataset(spark, "/r", entries, block).collect().toSeq
        == expected, s"Dataset plan mismatch: $entries at block=$block")
      for (maxSlices <- Seq(1, 4, nChunks.toInt + 3)) {
        val slices = Chunker.slices(entries, block, maxSlices)
        assert(slices.size <= maxSlices && slices.forall(_.nonEmpty))
        assert(slices.map(_.size).sum <= entries.count(!_.isDir) + slices.size)
        val runs = slices.flatten.flatMap(r => (r.fromIdx until r.untilIdx).map((r.relPath, _)))
        assert(runs == expected.map(s => (s.relPath, s.idx)),
          s"slices at maxSlices=$maxSlices: $slices")
      }
    }
  }

  test("a 10-million-chunk listing plans without driver materialization") {
    import graft.fs.FileEntry
    // 10 files × 1e6 chunks each: the old driver Seq would be 1e7
    // ChunkSpec objects (~1.5 GB with object headers + two boxed paths
    // each); the Dataset plan ships slices of chunk runs and expands them
    // lazily on the executors, spot-checked at the far end.
    // (Planning needs sizes only; no bytes are read.)
    val entries = (0 until 10).map(i =>
      FileEntry(f"big$i%02d", isDir = false, 1000000L * 512))
    val ds = Chunker.planChunksDataset(spark, "/r", entries, 512L)
    assert(ds.count() == 10000000L)
    import spark.implicits._
    val last = ds.filter($"relPath" === "big09" && $"idx" === 999999L)
      .collect()
    assert(last.length == 1 && last(0).offset == 999999L * 512 &&
      last(0).len == 512L)
  }
}
