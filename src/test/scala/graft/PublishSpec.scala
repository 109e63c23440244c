package graft

import java.nio.file.{FileAlreadyExistsException, Files, Paths}

import org.apache.hadoop.fs.{FileSystem, Path}

/** The one publish protocol: a create-once marker that exactly one racer
  * wins, a scratch directory that never outlives its body, and a derived
  * layout written once per anchor identity.
  */
class PublishSpec extends SparkSpec {

  test("eight racers on one marker: one wins, the rest throw, no staging file is left") {
    Publish.scratch("graft_marker_race") { d =>
      val fs = FileSystem.getLocal(new org.apache.hadoop.conf.Configuration())
      val m = new Path(d, "_compacted_3")
      val start = new java.util.concurrent.CountDownLatch(1)
      val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
      val outcomes = (0 until 8).map(_ => pool.submit(new java.util.concurrent.Callable[String] {
        def call(): String = {
          start.await()
          try { Publish.marker(fs, m, ""); "won" }
          catch { case _: FileAlreadyExistsException => "lost" }
        }
      }))
      start.countDown()
      val got = outcomes.map(_.get(30, java.util.concurrent.TimeUnit.SECONDS))
      pool.shutdown()
      assert(got.count(_ == "won") === 1, got)
      assert(got.count(_ == "lost") === 7, got)
      assert(new java.io.File(d).list().toSeq === Seq("_compacted_3"))
      // an empty marker reads as no content; a missing one too
      assert(Publish.read(fs, m) === None)
      assert(Publish.read(fs, new Path(d, "absent")) === None)
      Publish.marker(fs, new Path(d, "_committed_0"), "v0-ab12\n")
      assert(Publish.read(fs, new Path(d, "_committed_0")) === Some("v0-ab12"))
    }
  }

  test("scratch removes its directory when the body throws") {
    var seen = ""
    val e = intercept[IllegalStateException] {
      Publish.scratch("graft_scratch_spec") { d =>
        seen = d
        Files.write(Paths.get(d, "part-0"), Array[Byte](1, 2, 3))
        Files.createDirectories(Paths.get(d, "sub", "deeper"))
        throw new IllegalStateException("boom")
      }
    }
    assert(e.getMessage === "boom")
    assert(seen.nonEmpty && !Files.exists(Paths.get(seen)))
  }

  test("a derived layout is written once per anchor identity and again after the anchor changes") {
    Publish.scratch("graft_derived_src") { src =>
      Publish.scratch("graft_derived_root") { root =>
        val anchor = new java.io.File(src, "anchor.parquet")
        Files.write(anchor.toPath, "v1".getBytes)
        var writes = 0
        def layout() = withConfs("spark.graft.events.normRoot" -> root) {
          Publish.derived(spark, src, "anchor.parquet", "spec") { out =>
            writes += 1
            Files.createDirectories(Paths.get(out))
          }
        }
        val first = layout()
        assert(layout() === first)
        assert(writes === 1)
        val names = new java.io.File(root).list().toSet
        assert(names.exists(n => n.startsWith("graft_spec_") && n.endsWith(".ready")), names)
        assert(Files.isDirectory(Paths.get(first)))
        assert(anchor.setLastModified(anchor.lastModified() + 60000))
        val second = layout()
        assert(writes === 2)
        assert(second != first && Files.isDirectory(Paths.get(second)))
      }
    }
  }
}
