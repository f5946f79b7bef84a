package graft

import graft.engine.Scratch
import graft.sources.{BinaryIngest, ZipIngest}
import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.functions.col

/** The staged-fixture layout of [[BinaryIngest]]: per-document names, the
  * doc_id < 200 cap, the NULL-text rule, the shard rule and the atomic,
  * build-once publish. Every case stages under a throwaway `kind` and a
  * throwaway sf dir, and removes what it staged. */
class FixtureSpec extends SparkSpec {
  import spark.implicits._

  private val texts: Seq[(Long, String)] =
    ((0L to 11L).map(id => id -> s"text $id") ++
      Seq(5L -> null, 199L -> "last capped", 200L -> "over the cap", 257L -> "far over"))
      .toMap.toSeq.sortBy(_._1)

  private lazy val sfDir: String = {
    val dir = tempDir("graft_fixture_sf")
    texts.toDF("doc_id", "text").write.parquet(s"$dir/documents.parquet")
    dir
  }

  private var kinds = 0
  /** A fresh fixture kind, unique to this run. */
  private def freshKind(): String = {
    kinds += 1
    s"fixturespec${System.nanoTime()}_$kinds"
  }

  /** Every temp dir a publish of `root` may leave beside it. */
  private def leftovers(root: String): Seq[String] = {
    val f = new File(root)
    Option(f.getParentFile.list()).toSeq.flatten.filter(_.startsWith(f.getName + ".tmp."))
  }

  private def withRoot[A](root: String)(body: => A): A =
    try body finally {
      Scratch.rmTree(new File(root))
      leftovers(root).foreach(n => Scratch.rmTree(new File(new File(root).getParentFile, n)))
    }

  test("stagePerDoc names one file per doc_id < 200, NULL text as \"\"; readPerDoc reads it back, built once") {
    val kind = freshKind()
    val root = BinaryIngest.stagePerDoc(spark, sfDir, kind, "f", "bin")(
      (id, text) => s"$id:$text".getBytes(UTF_8))
    withRoot(root) {
      val expected = texts.filter(_._1 < 200).map { case (id, t) =>
        id -> s"$id:${if (t == null) "" else t}" }
      val files = new File(root).list().filter(_ != "_SUCCESS").sorted.toSeq
      assert(files === expected.map { case (id, _) => f"f$id%05d.bin" })
      expected.foreach { case (id, body) =>
        assert(new String(Files.readAllBytes(Paths.get(root, f"f$id%05d.bin")), UTF_8) === body)
      }
      assert(new File(root, "_SUCCESS").exists())
      // a published fixture is never rebuilt: this build would throw
      val read = BinaryIngest.readPerDoc(spark, sfDir, kind, "f", "bin")(
          (_, _) => throw new IllegalStateException("rebuilt a published fixture"))
        .collect().map { case (id, bytes) => id -> new String(bytes, UTF_8) }
        .sortBy(_._1).toSeq
      assert(read === expected)
      assert(leftovers(root).isEmpty, leftovers(root))
    }
  }

  test("stageShards: doc_id % 8 shards, no residue split across files, each named by its head row") {
    val kind = freshKind()
    val root = BinaryIngest.stageShards(spark, sfDir, kind,
        spark.read.parquet(s"$sfDir/documents.parquet")
          .select(col("doc_id"), col("text")).as[(Long, String)],
        shard => f"part-$shard%02d.txt",
        dir => Files.write(Paths.get(dir, "index.txt"),
          new File(dir).list().filter(_.startsWith("part-")).sorted.mkString("\n").getBytes(UTF_8)))(
        _._1) { (_, docs, out) =>
      out.write(docs.map(_._1).mkString("\n").getBytes(UTF_8))
    }
    withRoot(root) {
      val files = new File(root).list().filter(_.startsWith("part-")).sorted.toSeq
      val ids = files.map { n =>
        n -> new String(Files.readAllBytes(Paths.get(root, n)), UTF_8).split("\n").map(_.toLong).toSeq
      }
      // every row exactly once, ascending within its file
      assert(ids.flatMap(_._2).sorted === texts.map(_._1))
      ids.foreach { case (n, xs) =>
        assert(xs === xs.sorted, n)
        assert(n === f"part-${xs.head % 8}%02d.txt")
      }
      // a residue class never spans two files, and no file is empty
      val residues = ids.map(_._2.map(_ % 8).toSet)
      assert(residues.forall(_.nonEmpty))
      assert(residues.flatten.size === residues.map(_.size).sum, residues)
      assert(residues.flatten.toSet === texts.map(_._1 % 8).toSet)
      // `finish` saw the written shards before the publish
      assert(new String(Files.readAllBytes(Paths.get(root, "index.txt")), UTF_8) ===
        files.mkString("\n"))
      assert(new File(root, "_SUCCESS").exists())
    }
  }

  test("stageZipFixture: two stagings of one documents table are byte-identical") {
    def staged(): (String, Map[String, Array[Byte]]) = {
      val d = tempDir("graft_zip_sf")
      texts.toDF("doc_id", "text").write.parquet(s"$d/documents.parquet")
      val root = ZipIngest.stageZipFixture(spark, d)
      root -> new File(root).list().filter(_.endsWith(".zip"))
        .map(n => n -> Files.readAllBytes(Paths.get(root, n))).toMap
    }
    val (rootA, a) = staged()
    withRoot(rootA) {
      // zip entry times have a 2 s resolution: a wall-clock stamp moves
      Thread.sleep(2100)
      val (rootB, b) = staged()
      withRoot(rootB) {
        assert(rootA !== rootB)
        assert(a.nonEmpty && a.keySet === b.keySet)
        val differ = a.keys.filterNot(n => java.util.Arrays.equals(a(n), b(n)))
        assert(differ.isEmpty, differ)
      }
    }
  }

  test("publishFixture: two racing publishers leave one complete root and no temp dir") {
    val kind = freshKind()
    val bothIn = new java.util.concurrent.CountDownLatch(2)
    val builds = new java.util.concurrent.atomic.AtomicInteger()
    val roots = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val building = new java.util.concurrent.atomic.AtomicReference[String]()
    def publish(): Unit = roots.add(BinaryIngest.publishFixture(kind, sfDir) { tmp =>
      building.set(tmp.substring(0, tmp.indexOf(".tmp.")))
      builds.incrementAndGet()
      bothIn.countDown()
      bothIn.await(30, java.util.concurrent.TimeUnit.SECONDS)
      (0 until 20).foreach(i => Files.write(Paths.get(tmp, s"part$i"), s"row $i".getBytes(UTF_8)))
    })
    val threads = Seq.fill(2)(new Thread(() => publish()))
    threads.foreach(_.start())
    threads.foreach(_.join())
    val root = building.get
    withRoot(root) {
      assert(roots.toArray.toSeq === Seq(root, root))
      assert(builds.get === 2, "both publishers must have been building at once")
      assert(new File(root).list().sorted.toSeq === ("_SUCCESS" +: (0 until 20).map(i => s"part$i")).sorted)
      (0 until 20).foreach { i =>
        assert(new String(Files.readAllBytes(Paths.get(root, s"part$i")), UTF_8) === s"row $i")
      }
      assert(leftovers(root).isEmpty, leftovers(root))
    }
  }

  test("publishFixture: a failing build leaves no root and no temp dir, and the next call rebuilds") {
    val kind = freshKind()
    var root = ""
    val err = intercept[IllegalStateException] {
      BinaryIngest.publishFixture(kind, sfDir) { tmp =>
        root = tmp.substring(0, tmp.indexOf(".tmp."))
        Files.write(Paths.get(tmp, "half"), Array[Byte](1, 2, 3))
        throw new IllegalStateException("build failed")
      }
    }
    assert(err.getMessage === "build failed")
    withRoot(root) {
      assert(!new File(root).exists(), s"$root published by a failed build")
      assert(leftovers(root).isEmpty, leftovers(root))
      var rebuilt = false
      assert(BinaryIngest.publishFixture(kind, sfDir) { tmp =>
        rebuilt = true
        Files.write(Paths.get(tmp, "whole"), Array[Byte](4))
      } === root)
      assert(rebuilt)
      assert(new File(root).list().sorted.toSeq === Seq("_SUCCESS", "whole"))
    }
  }
}
