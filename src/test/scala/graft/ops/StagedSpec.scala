package graft.ops

import java.nio.file.{Files, Paths}
import graft.{FsUtil, SparkSpec}

/** The staged-layout cache rule: a layout serves only while its sources
  * AND its build-code version are unchanged, only once every part is
  * marked complete, and only through an atomic publish.
  */
class StagedSpec extends SparkSpec {

  /** A fresh source file per test (so keys never collide with another
    * run), and removal of every root the test staged from it.
    */
  private def withSource(body: (String, collection.mutable.Buffer[String]) => Unit): Unit = {
    val dir = Files.createTempDirectory("staged-spec-")
    val src = dir.resolve("src.bin")
    Files.write(src, "source".getBytes("UTF-8"))
    val roots = collection.mutable.Buffer.empty[String]
    try body(src.toString, roots)
    finally (roots.map(Paths.get(_)) :+ dir).foreach(FsUtil.deleteRecursively)
  }

  private def mark(dir: String): Unit = {
    Files.createDirectories(Paths.get(dir))
    Files.write(Paths.get(dir, "_SUCCESS"), Array.emptyByteArray)
  }

  private def buildLitter(root: String): Seq[String] =
    Paths.get(root).getParent.toFile.list().toSeq
      .filter(_.startsWith(Paths.get(root).getFileName.toString + ".build-"))

  test("a version bump rebuilds the layout under a new root and never reads the old one") {
    withSource { (src, roots) =>
      var builds = 0
      def stage(v: Int): String = {
        val r = Staged(spark, "spec_version", v, Seq(src)) { tmp =>
          builds += 1
          spark.range(10L * v).write.parquet(tmp)
        }
        roots += r
        r
      }
      val v1 = stage(1)
      assert(stage(1) == v1 && builds == 1, "a complete layout at the same version must be served, not rebuilt")
      // poison the old root: anything still reading it would now see 1 row
      FsUtil.deleteRecursively(Paths.get(v1))
      spark.range(1).write.parquet(v1)
      val v2 = stage(2)
      assert(v2 != v1 && builds == 2, "a version bump must rebuild")
      assert(spark.read.parquet(v2).count() == 20, "the v2 root serves the v2 build")
      assert(stage(2) == v2 && builds == 2)
    }
  }

  test("a root with a part missing its _SUCCESS is rebuilt, not served") {
    withSource { (src, roots) =>
      val root = Staged.root("spec_parts", 1, Seq(src))
      roots += root
      // a layout left half-written by a non-atomic writer: part a is
      // marked, part b holds data but no marker
      mark(s"$root/a")
      spark.range(1).write.parquet(s"$root/b")
      Files.delete(Paths.get(root, "b", "_SUCCESS"))
      var builds = 0
      val got = Staged(spark, "spec_parts", 1, Seq(src), parts = Seq("a", "b")) { tmp =>
        builds += 1
        spark.range(3).write.parquet(s"$tmp/a")
        spark.range(4).write.parquet(s"$tmp/b")
      }
      assert(got == root && builds == 1)
      assert(spark.read.parquet(s"$root/a").count() == 3 && spark.read.parquet(s"$root/b").count() == 4)
      assert(buildLitter(root).isEmpty)
    }
  }

  test("a root without _SUCCESS is rebuilt, not served") {
    withSource { (src, roots) =>
      val root = Staged.root("spec_marker", 1, Seq(src))
      roots += root
      spark.range(1).write.parquet(root)
      Files.delete(Paths.get(root, "_SUCCESS"))
      val got = Staged(spark, "spec_marker", 1, Seq(src))(spark.range(7).write.parquet(_))
      assert(got == root && spark.read.parquet(root).count() == 7)
    }
  }

  test("a build that dies between a marked first write and its append publishes nothing") {
    withSource { (src, roots) =>
      // the eventsEvolved shape: write (drops _SUCCESS), then append
      def build(crash: Boolean)(tmp: String): Unit = {
        spark.range(5).write.parquet(tmp)
        if (crash) throw new IllegalStateException("crash before the append")
        spark.range(5, 8).write.mode("append").parquet(tmp)
      }
      val root = Staged.root("spec_evolved", 1, Seq(src))
      roots += root
      intercept[IllegalStateException](Staged(spark, "spec_evolved", 1, Seq(src))(build(crash = true)))
      assert(!Files.exists(Paths.get(root)), "a half-built layout was published")
      assert(buildLitter(root).isEmpty, "the failed build's temp dir was left behind")
      Staged(spark, "spec_evolved", 1, Seq(src))(build(crash = false))
      assert(spark.read.parquet(root).count() == 8)
    }
  }

  test("bumping an upstream layout's version rebuilds the layout built from it") {
    withSource { (src, roots) =>
      var downBuilds = 0
      def stage(upVersion: Int): String = {
        val up = Staged(spark, "spec_up", upVersion, Seq(src))(spark.range(upVersion).write.parquet(_))
        val down = Staged(spark, "spec_down", 1, Seq(up)) { tmp =>
          downBuilds += 1
          spark.read.parquet(up).write.parquet(tmp)
        }
        roots ++= Seq(up, down)
        down
      }
      val d1 = stage(1)
      assert(stage(1) == d1 && downBuilds == 1)
      val d2 = stage(2)
      assert(d2 != d1 && downBuilds == 2, "the downstream layout outlived its upstream's version")
      assert(spark.read.parquet(d2).count() == 2)
    }
  }

  test("buildAtomically: a lost race discards the loser's build and never touches the winner") {
    val root = java.nio.file.Files.createTempDirectory("graft_atomic_spec_")
    val out = root.resolve("layout").toString
    // winner publishes first
    Staged.buildAtomically(spark, out) { tmp =>
      spark.range(3).toDF("winner").write.parquet(tmp)
    }
    val winnerFiles = new java.io.File(out).listFiles().map(_.getName).toSet
    // loser builds a DIFFERENT layout against the same target
    Staged.buildAtomically(spark, out) { tmp =>
      spark.range(100).toDF("loser").write.parquet(tmp)
    }
    // winner untouched byte-for-byte (same file set, same schema), no
    // .build- temp dirs left, nothing nested inside the layout
    assert(new java.io.File(out).listFiles().map(_.getName).toSet == winnerFiles)
    assert(spark.read.parquet(out).columns.toSeq == Seq("winner"))
    assert(!root.toFile.listFiles().exists(_.getName.contains(".build-")),
      "loser's temp build dir not cleaned up")
    FsUtil.deleteRecursively(root)
  }

  test("buildAtomically: a winner appearing between the completeness check and the rename is not corrupted") {
    // Hadoop rename(tmp, existing-dir) moves tmp INSIDE the target and
    // returns true — the loser must detect and delete the nested copy.
    // Simulate the race window with a side-effecting completeness
    // predicate: it publishes the winner DURING the loser's pre-rename
    // check, so the loser's rename lands on an occupied target.
    val root = java.nio.file.Files.createTempDirectory("graft_atomic_race_")
    val out = root.resolve("layout").toString
    var checks = 0
    val complete = () => {
      checks += 1
      val exists = Staged.successExists(spark, out)
      if (!exists && checks == 1) {
        // the racing winner publishes now (post-build, pre-rename)
        spark.range(5).toDF("winner").write.parquet(out)
        false // loser still believes the target is free
      } else exists
    }
    Staged.buildAtomically(spark, out, complete) { tmp =>
      spark.range(200).toDF("loser").write.parquet(tmp)
    }
    // winner's layout intact and readable; the loser's nested duplicate
    // (out/<tmp-basename>) was detected and removed
    assert(spark.read.parquet(out).columns.toSeq == Seq("winner"))
    assert(spark.read.parquet(out).count() == 5)
    assert(!new java.io.File(out).listFiles().exists(_.getName.contains(".build-")),
      "loser's build nested inside the published layout")
    FsUtil.deleteRecursively(root)
  }

  /** Names a `src/main` file other than Staged.scala may still mention,
    * with how often and why. Everything else must go through [[Staged]].
    */
  private val ratchetExempt: Map[(String, String), (Int, String)] = Map(
    ("src/main/scala/graft/ingest/Ingest.scala", "buildAtomically") ->
      (1, "quarantineIngest publishes into an outDir its CALLER names, so it has no staged " +
        "root; it keeps the atomic publish and keys completeness on its input"))

  test("ratchet: only Staged names java.io.tmpdir, sourceKey or buildAtomically in src/main") {
    val tokens = Seq("java.io.tmpdir", "sourceKey", "buildAtomically")
    val files = {
      val st = Files.walk(Paths.get("src/main"))
      try {
        import scala.jdk.CollectionConverters._
        st.iterator().asScala.filter(_.toString.endsWith(".scala")).toSeq
      } finally st.close()
    }
    assert(files.exists(_.endsWith("graft/ops/Staged.scala")), "run from the repository root")
    val found = for {
      f <- files if !f.endsWith("graft/ops/Staged.scala")
      text = new String(Files.readAllBytes(f), "UTF-8")
      t <- tokens
      n = java.util.regex.Pattern.quote(t).r.findAllMatchIn(text).size if n > 0
    } yield (f.toString, t) -> n
    val over = found.filter { case (k, n) => n > ratchetExempt.get(k).fold(0)(_._1) }
    assert(over.isEmpty,
      s"cached layouts must go through graft.ops.Staged; found ${over.mkString(", ")}")
    ratchetExempt.foreach { case (k, (n, reason)) =>
      assert(reason.length > 40, s"exemption $k needs its reason")
      assert(found.toMap.getOrElse(k, 0) == n, s"exemption $k is stale: shrink or delete it")
    }
  }
}
