package graft.lake

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.Files

import org.apache.commons.io.FileUtils
import org.scalatest.funsuite.AnyFunSuite

class ArtifactsSpec extends AnyFunSuite {

  test("ensure builds once per fingerprint and a failed build leaves no manifest") {
    // a unique fake sfDir keys a private workRoot for this test
    val root = new File(Artifacts.workRoot(s"/artifacts-spec-${System.nanoTime()}"))
    val path = s"$root/tok"
    var builds = 0
    def build(): Unit = {
      builds += 1
      Files.write(new File(path, "data.bin").toPath,
        s"build $builds".getBytes(StandardCharsets.UTF_8))
      ()
    }

    // first call builds
    assert(Artifacts.ensure(path, "fp-1")(build()))
    assert(builds == 1 && Artifacts.isFresh(path, "fp-1"))
    // same fingerprint: a fresh hit, the build is not run
    assert(!Artifacts.ensure(path, "fp-1")(build()))
    assert(builds == 1)
    // a new fingerprint wipes the dir and rebuilds
    val stale = new File(path, "stale.bin")
    Files.write(stale.toPath, Array[Byte](1))
    assert(Artifacts.ensure(path, "fp-2")(build()))
    assert(builds == 2 && !stale.exists && Artifacts.isFresh(path, "fp-2"))

    // a build that throws commits no manifest ...
    intercept[IllegalStateException] {
      Artifacts.ensure(path, "fp-3") { build(); throw new IllegalStateException("crash") }
    }
    assert(builds == 3)
    assert(!Artifacts.isFresh(path, "fp-3") && !Artifacts.isFresh(path, "fp-2"))
    // ... so the next call with that fingerprint builds again
    assert(Artifacts.ensure(path, "fp-3")(build()))
    assert(builds == 4 && Artifacts.isFresh(path, "fp-3"))
    assert(new String(Files.readAllBytes(new File(path, "data.bin").toPath),
      StandardCharsets.UTF_8) == "build 4")
    FileUtils.deleteDirectory(root)
  }
}
