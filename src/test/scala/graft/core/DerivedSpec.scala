package graft.core

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.scalatest.funsuite.AnyFunSuite

/** The one staleness rule: a marker-gated build on disk (`Derived.ensure`)
  * and one live value per slot in memory (`Derived.Memo`).
  */
class DerivedSpec extends AnyFunSuite {

  private def marker(): Path = Files.createTempDirectory("derived").resolve("_STAGED")
  private def read(p: Path): String = new String(Files.readAllBytes(p), StandardCharsets.UTF_8)

  test("ensure builds once per signature, then no-ops") {
    val m = marker()
    val builds = new AtomicInteger
    Derived.ensure(m, "sig-a")(builds.incrementAndGet())
    assert(builds.get == 1 && read(m) == "sig-a")
    val t1 = Files.getLastModifiedTime(m)
    Derived.ensure(m, "sig-a")(builds.incrementAndGet())
    assert(builds.get == 1, "a fresh marker must not rebuild")
    assert(Files.getLastModifiedTime(m) == t1, "a fresh marker must not be rewritten")
    Derived.ensure(m, "sig-b")(builds.incrementAndGet())
    assert(builds.get == 2 && read(m) == "sig-b")
    assert(!Files.exists(m.resolveSibling("_STAGED.tmp")), "no tmp file is left behind")
  }

  test("a build that throws leaves no marker, so the old signature rebuilds") {
    val m = marker()
    val builds = new AtomicInteger
    Derived.ensure(m, "old")(builds.incrementAndGet())
    intercept[IllegalStateException] {
      Derived.ensure(m, "new") {
        builds.incrementAndGet()
        throw new IllegalStateException("build failed partway")
      }
    }
    assert(!Files.exists(m), "a failed build must not leave a marker behind")
    Derived.ensure(m, "old")(builds.incrementAndGet())
    assert(builds.get == 3, "the old signature no longer describes what is on disk")
    assert(read(m) == "old")
  }

  test("two threads on one marker produce one build") {
    val m = marker()
    val builds = new AtomicInteger
    val start = new CountDownLatch(1)
    val threads = Seq.fill(2)(new Thread(() => {
      start.await(10, TimeUnit.SECONDS)
      Derived.ensure(m, "sig") {
        builds.incrementAndGet()
        Thread.sleep(200)
      }
    }))
    threads.foreach(_.start())
    start.countDown()
    threads.foreach(_.join(30000))
    assert(builds.get == 1)
    assert(read(m) == "sig")
  }

  test("contentSig is MD5 over the version, then each 8-byte id and UTF-8 text") {
    val docs = Seq(1L -> "alpha", 2L -> "béta")
    val d = java.security.MessageDigest.getInstance("MD5")
    d.update("v1".getBytes(StandardCharsets.UTF_8))
    docs.foreach { case (id, text) =>
      d.update(java.nio.ByteBuffer.allocate(8).putLong(id).array())
      d.update(text.getBytes(StandardCharsets.UTF_8))
    }
    val want = d.digest().map(b => f"${b & 0xff}%02x").mkString
    assert(Derived.contentSig("v1", docs) == want)
    assert(Derived.contentSig("v2", docs) != want, "the version is part of the signature")
  }

  test("Memo keeps one value per slot and releases each superseded value once") {
    val released = scala.collection.mutable.ArrayBuffer.empty[String]
    val memo = new Derived.Memo[String](v => released.synchronized(released += v))
    var builds = 0
    def get(slot: String, sig: String): String =
      memo.get(slot, sig) { builds += 1; s"$slot/$sig#$builds" }

    val a1 = get("a", "s1")
    assert(get("a", "s1") eq a1, "same (slot, sig) must not rebuild")
    val a2 = get("a", "s2")
    val a3 = get("a", "s3")
    assert(get("a", "s3") eq a3)
    assert(builds == 3)
    assert(released.toSeq == Seq(a1, a2), "each superseded value is released exactly once")
    assert(memo.size == 1)

    // other slots are independent: same sig, own value, no release of "a"
    val b1 = get("b", "s1")
    assert(b1 != a1 && builds == 4)
    assert(get("a", "s3") eq a3)
    assert(released.toSeq == Seq(a1, a2))
    assert(memo.size == 2)
  }
}
