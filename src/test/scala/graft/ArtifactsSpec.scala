package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

import graft.operators.Artifacts

/** The durable-artifact contract behind SharedIvfIndex and
  * SharedBucketedTables: build once, reuse while the source fingerprint
  * matches, rebuild atomically when the source changes. Also the
  * snapshot contract of the streaming sinks: [[Artifacts.readSnapshot]]
  * and [[Artifacts.publish]].
  */
class ArtifactsSpec extends SparkSpec {

  private def tempRoot() = {
    val parent = Files.createTempDirectory("artifacts_spec")
    parent.resolve("artifact")
  }

  test("second ensureBuilt with the same fingerprint skips the build") {
    val root = tempRoot()
    var builds = 0
    Artifacts.ensureBuilt(root, "fp1") { tmp =>
      builds += 1
      Files.write(tmp.resolve("data"), "v1".getBytes(UTF_8))
    }
    Artifacts.ensureBuilt(root, "fp1") { _ => builds += 1 }
    assert(builds === 1, "unchanged fingerprint must reuse the build")
    assert(new String(Files.readAllBytes(root.resolve("data")), UTF_8) === "v1")
    Artifacts.deleteRecursively(root.getParent)
  }

  test("changed fingerprint rebuilds; stale artifact is replaced whole") {
    val root = tempRoot()
    Artifacts.ensureBuilt(root, "fp1") { tmp =>
      Files.write(tmp.resolve("data"), "v1".getBytes(UTF_8))
      Files.write(tmp.resolve("only_in_v1"), Array.emptyByteArray)
    }
    Artifacts.ensureBuilt(root, "fp2") { tmp =>
      Files.write(tmp.resolve("data"), "v2".getBytes(UTF_8))
    }
    assert(new String(Files.readAllBytes(root.resolve("data")), UTF_8) === "v2")
    // atomic replace: no leftovers of the previous build inside the root
    assert(!Files.exists(root.resolve("only_in_v1")),
      "stale build must be replaced wholesale, not merged into")
    Artifacts.deleteRecursively(root.getParent)
  }

  test("a failed build leaves the previous complete artifact in place") {
    val root = tempRoot()
    Artifacts.ensureBuilt(root, "fp1") { tmp =>
      Files.write(tmp.resolve("data"), "v1".getBytes(UTF_8))
    }
    intercept[RuntimeException] {
      Artifacts.ensureBuilt(root, "fp2") { tmp =>
        Files.write(tmp.resolve("data"), "half".getBytes(UTF_8))
        sys.error("crash mid-build")
      }
    }
    // the reader contract: root still holds the COMPLETE previous build
    assert(new String(Files.readAllBytes(root.resolve("data")), UTF_8) === "v1")
    // and the crashed temp sibling was swept
    val leftovers = {
      val s = Files.list(root.getParent)
      try {
        import scala.jdk.CollectionConverters._
        s.iterator().asScala.count(_.getFileName.toString.contains(".build"))
      } finally s.close()
    }
    assert(leftovers === 0, "crashed build temp dir must not accumulate")
    Artifacts.deleteRecursively(root.getParent)
  }

  test("ensureBuilt sweeps temp siblings a hard-killed builder left behind") {
    val root = tempRoot()
    // simulate a SIGKILLed builder: a full orphaned temp sibling (the
    // finally-block sweep never ran)
    val orphan = root.getParent.resolve("artifact.build12345")
    Files.createDirectories(orphan)
    Files.write(orphan.resolve("data"), "half".getBytes(UTF_8))
    Artifacts.ensureBuilt(root, "fp1") { tmp =>
      Files.write(tmp.resolve("data"), "v1".getBytes(UTF_8))
    }
    assert(!Files.exists(orphan), "stale .build* sibling must be swept")
    assert(new String(Files.readAllBytes(root.resolve("data")), UTF_8) === "v1")
    Artifacts.deleteRecursively(root.getParent)
  }

  test("withDirLock serializes concurrent mutators of one directory") {
    val dir = Files.createTempDirectory("dirlock_spec").resolve("table")
    @volatile var inside = 0
    @volatile var maxInside = 0
    val threads = (1 to 4).map { _ =>
      new Thread(() => Artifacts.withDirLock(dir) {
        inside += 1
        maxInside = math.max(maxInside, inside)
        Thread.sleep(30)
        inside -= 1
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    assert(maxInside === 1, s"lock admitted $maxInside mutators at once")
    Artifacts.deleteRecursively(dir.getParent)
  }

  test("fixture fingerprint distinguishes same-named part files of different tables") {
    val dir = Files.createTempDirectory("artifacts_twotbl")
    for (t <- Seq("x", "y")) {
      val d = dir.resolve(s"$t.parquet"); Files.createDirectories(d)
      Files.write(d.resolve("part-0"), "same".getBytes(UTF_8))
    }
    // identical basenames, sizes, and (coarse) mtimes — only the relative
    // path distinguishes them; swapped table order must change nothing,
    // but fingerprinting DIFFERENT tables must differ
    val both = Artifacts.tableFingerprint(dir.toString, "x", "y")
    assert(Artifacts.tableFingerprint(dir.toString, "y", "x") === both)
    assert(Artifacts.tableFingerprint(dir.toString, "x") !==
      Artifacts.tableFingerprint(dir.toString, "y"))
    Artifacts.deleteRecursively(dir)
  }

  test("fixture fingerprint changes when a source file is touched") {
    val dir = Files.createTempDirectory("artifacts_fixture")
    val tbl = dir.resolve("t.parquet")
    Files.write(tbl, "abc".getBytes(UTF_8))
    val fp1 = Artifacts.tableFingerprint(dir.toString, "t")
    // same content, same mtime → same fingerprint
    assert(Artifacts.tableFingerprint(dir.toString, "t") === fp1)
    // regenerated file (newer mtime) → different fingerprint
    Files.setLastModifiedTime(tbl,
      java.nio.file.attribute.FileTime.fromMillis(
        Files.getLastModifiedTime(tbl).toMillis + 5000))
    assert(Artifacts.tableFingerprint(dir.toString, "t") !== fp1)
    Artifacts.deleteRecursively(dir)
  }

  test("a publish whose write throws leaves the previous snapshot and no .next") {
    val dir = tempRoot()
    Artifacts.publish(dir)(next => spark.range(3).write.parquet(next.toString))
    intercept[IllegalStateException] {
      Artifacts.publish(dir) { next =>
        spark.range(5).write.parquet(next.toString)
        throw new IllegalStateException("rewrite rejected")
      }
    }
    assert(!Files.exists(dir.resolveSibling("artifact.next")),
      "a failed publish must not leave its .next behind")
    assert(spark.read.parquet(dir.toString).count() === 3,
      "a failed publish must leave the previous snapshot in place")
    Artifacts.deleteRecursively(dir.getParent)
  }

  test("readSnapshot restores the .old a crashed swap left behind") {
    val dir = tempRoot()
    // a crash between swapInto's two renames: only the aside-copy exists
    val old = dir.resolveSibling("artifact.old")
    spark.range(4).write.parquet(old.toString)
    val snap = Artifacts.readSnapshot(spark, dir, StructType(Nil))
    assert(Files.exists(dir) && !Files.exists(old))
    assert(snap.count() === 4)
    Artifacts.deleteRecursively(dir.getParent)
  }

  test("readSnapshot is an empty frame of the schema before any publish") {
    val dir = tempRoot()
    val schema = StructType(Seq(
      StructField("k", StringType), StructField("v", LongType)))
    val snap = Artifacts.readSnapshot(spark, dir, schema)
    assert(snap.schema === schema)
    assert(snap.count() === 0)
    assert(!Files.exists(dir), "reading must not create the snapshot")
    Artifacts.deleteRecursively(dir.getParent)
  }
}
