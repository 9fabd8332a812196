package graft.cache

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import graft.SparkSpec
import graft.io.Writers

class DownloaderSpec extends SparkSpec {

  test("localPath rejects paths that escape the mirror root") {
    Writers.withScratchDir(spark, "graft-mirror") { dir =>
      val root = Paths.get(dir)
      val dl = new Downloader(root)
      assertThrows[IllegalArgumentException](
        dl.localPath("http://h/a/../../../etc/passwd"))
      assertThrows[IllegalArgumentException](
        dl.localPath("http://h/%2e%2e/%2e%2e/escape")) // decoded by URI.getPath
      // a benign nested path stays inside
      assert(dl.localPath("http://h/x/y/z.gz").startsWith(root))
    }
  }

  test("cache mirrors file urls atomically, leaving no .part temp files") {
    Writers.withScratchDir(spark, "graft-mirror") { dir =>
      val root = Files.createDirectory(Paths.get(dir, "mirror"))
      val src = Files.writeString(Paths.get(dir, "src.txt"), "payload")
      val dl = new Downloader(root, parallelism = 2)
      val out = dl.cache(Seq(src.toUri.toString))
      assert(out.length == 1 && Files.readString(out.head) == "payload")
      // second call hits the cache (same path, content untouched)
      val out2 = dl.cache(Seq(src.toUri.toString))
      assert(out2 == out)
      val leftovers = Files.walk(root).iterator().asScala
        .filter(p => p.getFileName.toString.endsWith(".part")).toList
      assert(leftovers.isEmpty)
    }
  }
}
