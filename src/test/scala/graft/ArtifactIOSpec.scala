package graft

import java.net.URI
import java.util.concurrent.atomic.AtomicInteger

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.RawLocalFileSystem

import graft.index.ArtifactIO

/** Test-only FileSystem registered under the `graftest:` scheme purely via
  * session conf — proves the conf a test sets mid-session is the conf
  * ArtifactIO resolves with. Delegates to the local filesystem. */
class GraftTestFs extends RawLocalFileSystem {
  override def getUri: URI = URI.create("graftest:///")
  override def initialize(uri: URI, conf: Configuration): Unit = {
    GraftTestFs.inits.incrementAndGet()
    super.initialize(uri, conf)
  }
}

object GraftTestFs {
  val inits = new AtomicInteger(0)
}

/** Pins the credential-runbook behavior the README documents: a
  * mid-session `spark.conf.set` of a Hadoop property for a scheme that has
  * NOT been resolved yet reaches the artifact IO that follows — ArtifactIO
  * re-reads the session conf per operation instead of snapshotting at
  * startup. (The complementary caveat — an ALREADY-resolved scheme needs
  * `fs.<scheme>.impl.disable.cache` because `FileSystem.get` ignores the
  * Configuration on instance-cache hit — is Hadoop behavior this layer
  * deliberately does not paper over; see README "Artifact storage
  * credentials".) */
class ArtifactIOSpec extends GraftSparkSpec {

  test("mid-session conf.set for an unresolved scheme reaches artifact IO") {
    // the scheme is unknown to Hadoop until this session-conf entry —
    // resolution failing here would throw "No FileSystem for scheme".
    // NOTE the key: at runtime Hadoop properties are set BARE
    // (`fs.…`) — `sessionState.newHadoopConf()` copies session-conf
    // entries verbatim; the `spark.hadoop.` prefix is stripped only from
    // launch-time SparkConf entries.
    spark.conf.set("fs.graftest.impl", classOf[GraftTestFs].getName)
    try {
      val before = GraftTestFs.inits.get()
      val dir = java.nio.file.Files.createTempDirectory("graftest-io")
      val file = s"graftest://${dir.resolve("probe.bin")}"

      val out = ArtifactIO.create(file)
      out.write(Array[Byte](1, 2, 3)); out.close()
      assert(ArtifactIO.exists(file), "write through graftest: must land")
      val in = ArtifactIO.open(file)
      try assert(in.read() == 1) finally in.close()

      assert(GraftTestFs.inits.get() > before,
        "the session-conf-registered FileSystem must be the one serving " +
          "artifact IO — zero initializations means a stale startup conf " +
          "answered instead")
    } finally spark.conf.unset("fs.graftest.impl")
  }

  test("publish / readPublished: the four states of a published file") {
    val dir = java.nio.file.Files.createTempDirectory("graft-publish").toString
    val path = s"$dir/m.manifest"
    def write(p: String, bytes: Array[Byte]): Unit =
      java.nio.file.Files.write(java.nio.file.Paths.get(p), bytes)
    def bytes(p: String) = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(p))

    // nothing published
    assert(ArtifactIO.readPublished(path).isEmpty)
    // a torn .tmp (a crash mid-write of a first publish) counts as absent
    write(path + ".tmp", "torn".getBytes)
    assert(ArtifactIO.readPublished(path).isEmpty)
    // published: the file wins over any .tmp
    ArtifactIO.publish(path, Seq("a"))
    assert(!ArtifactIO.exists(path + ".tmp"))
    write(path + ".tmp", "torn".getBytes)
    assert(ArtifactIO.readPublished(path).contains(Seq("a")))
    // a complete .tmp left between delete and rename is read and republished
    ArtifactIO.publish(path, Seq("b"))
    java.nio.file.Files.move(java.nio.file.Paths.get(path),
      java.nio.file.Paths.get(path + ".tmp"))
    assert(ArtifactIO.readPublished(path).contains(Seq("b")))
    assert(ArtifactIO.exists(path) && !ArtifactIO.exists(path + ".tmp"))
    // the published file is rename-complete: its parse errors surface
    write(path, "corrupt".getBytes)
    intercept[java.io.IOException](ArtifactIO.readPublished(path))
    assert(bytes(path).sameElements("corrupt".getBytes))
  }
}
