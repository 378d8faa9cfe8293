package graft

import java.io.File
import java.nio.channels.{FileChannel, OverlappingFileLockException}
import java.nio.file.{Files, StandardOpenOption}
import org.scalatest.funsuite.AnyFunSuite
import graft.ops.{Fingerprint, IndexStore, VectorOps}

/** Seed stores (`VectorOps.ensureIndex`) are named
  * `graft_<tag>_<slug>_<fp8>`: two params strings build two
  * directories, so code versions with different seed params stop
  * rebuilding each other's stores; a build keeps the newest
  * `SEED_RETENTION` fingerprints of its (tag, source); every build
  * of a (tag, source) runs under one OS lock on `graft_<tag>_<slug>.lock`;
  * and the store layout ([[IndexStore.LAYOUT]]) is part of every
  * params string. */
class SeedStoreSpec extends AnyFunSuite {

  private val tmpRoot = new File(sys.props("java.io.tmpdir"))

  /** A source dir with one fake data file, and a tag no other spec uses. */
  private def source(): (String, String) = {
    val d = Files.createTempDirectory("seedspec-src").toFile
    Files.write(new File(d, "embeddings.parquet").toPath, Array[Byte](1, 2, 3))
    (d.getAbsolutePath, s"seedspec${System.nanoTime()}")
  }

  private def siblings(tag: String): Seq[String] =
    Option(tmpRoot.listFiles()).toSeq.flatten
      .map(_.getName).filter(n => n.startsWith(s"graft_${tag}_") &&
        !n.endsWith(".lock")).sorted

  /** Delete a tag's stores and lockfile. */
  private def cleanup(tag: String): Unit = {
    def rm(f: File): Unit = {
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.foreach(rm)
      f.delete(); ()
    }
    Option(tmpRoot.listFiles()).toSeq.flatten
      .filter(_.getName.startsWith(s"graft_${tag}_")).foreach(rm)
  }

  /** ensureIndex with a build that writes `params` and counts itself. */
  private def ensure(d: String, tag: String, params: String,
                     builds: java.util.concurrent.atomic.AtomicInteger,
                     during: File => Unit = _ => ()): String =
    VectorOps.ensureIndex(d, tag, params) { staging =>
      builds.incrementAndGet()
      during(staging)
      Files.write(new File(staging, "params").toPath, params.getBytes("UTF-8"))
      ()
    }

  test("two params strings build two directories, each reused as is") {
    val (d, tag) = source()
    val builds = new java.util.concurrent.atomic.AtomicInteger(0)
    val a = ensure(d, tag, "v1", builds)
    val b = ensure(d, tag, "v2", builds)
    assert(a != b && builds.get == 2)
    assert(new File(a).getName.matches(s"graft_${tag}_[0-9a-f]{16}_[0-9a-f]{8}"))
    // alternating versions hit their own stores: no rebuild
    assert(ensure(d, tag, "v1", builds) == a && ensure(d, tag, "v2", builds) == b)
    assert(builds.get == 2, "alternating params rebuilt a seed store")
    assert(new String(Files.readAllBytes(new File(a, "params").toPath)) == "v1")
    assert(new String(Files.readAllBytes(new File(b, "params").toPath)) == "v2")
    // a changed source still rebuilds in place
    Files.write(new File(d, "embeddings.parquet").toPath, Array[Byte](4, 5, 6, 7))
    assert(ensure(d, tag, "v1", builds) == a && builds.get == 3)
    cleanup(tag)
  }

  test("a build keeps the newest SEED_RETENTION fingerprints") {
    val (d, tag) = source()
    val builds = new java.util.concurrent.atomic.AtomicInteger(0)
    val dirs = (1 to 4).map { i =>
      val dir = ensure(d, tag, s"p$i", builds)
      Thread.sleep(30) // distinct marker mtimes
      dir
    }
    assert(VectorOps.SEED_RETENTION == 2)
    assert(siblings(tag) == dirs.takeRight(2).map(new File(_).getName).sorted,
      s"retention kept ${siblings(tag)}")
    // a reused store is not a build: nothing more is deleted
    assert(ensure(d, tag, "p4", builds) == dirs(3) && siblings(tag).size == 2)
    // rebuilding the oldest kept fingerprint's sibling evicts p3
    val again = ensure(d, tag, "p1", builds)
    assert(siblings(tag) ==
      Seq(new File(again).getName, new File(dirs(3)).getName).sorted)
    cleanup(tag)
  }

  test("every build holds the shared lockfile; concurrent callers build once") {
    val (d, tag) = source()
    val builds = new java.util.concurrent.atomic.AtomicInteger(0)
    // while a build runs, the (tag, source) lockfile is locked by this
    // JVM: another channel's tryLock overlaps — for any params string
    def lockedDuringBuild(params: String): Boolean = {
      var held = false
      ensure(d, tag, params, builds, during = { _ =>
        val lf = tmpRoot.listFiles().filter(f =>
          f.getName.startsWith(s"graft_${tag}_") && f.getName.endsWith(".lock"))
        assert(lf.length == 1, s"one lockfile per (tag, source): ${lf.toSeq}")
        val ch = FileChannel.open(lf.head.toPath, StandardOpenOption.WRITE)
        try { ch.tryLock(); held = false }
        catch { case _: OverlappingFileLockException => held = true }
        finally ch.close()
      })
      held
    }
    assert(lockedDuringBuild("x1") && lockedDuringBuild("x2"))
    // two threads racing for the same missing store: one builds
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    try {
      val n0 = builds.get
      val fs = (1 to 2).map(_ => pool.submit(new java.util.concurrent.Callable[String] {
        def call(): String = ensure(d, tag, "x3", builds, during = _ => Thread.sleep(200))
      }))
      assert(fs.map(_.get).distinct.size == 1)
      assert(builds.get == n0 + 1, "a concurrent caller rebuilt the store")
    } finally pool.shutdown()
    cleanup(tag)
  }

  test("a seed an older store layout built is rebuilt beside it, never read") {
    val (d, tag) = source()
    val builds = new java.util.concurrent.atomic.AtomicInteger(0)
    def md5(x: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(x.getBytes("UTF-8")).map("%02x".format(_)).mkString
    // what a build without the layout in its params leaves: a complete
    // store whose name and marker fingerprint cover the params alone
    val slug = md5(new File(d).getAbsolutePath).take(16)
    val old = new File(tmpRoot, s"graft_${tag}_${slug}_${md5("v1").take(8)}")
    old.mkdirs()
    Files.write(new File(old, "_INDEX_FINGERPRINT").toPath,
      md5(s"v1|${Fingerprint.of(d, "embeddings.parquet")}").getBytes("UTF-8"))
    val dir = ensure(d, tag, "v1", builds)
    assert(builds.get == 1 && dir != old.getPath,
      "a seed without the layout in its params was read as current")
    assert(new File(dir).getName.endsWith(
      md5(s"v1|layout=${IndexStore.LAYOUT}").take(8)))
    // under SEED_RETENTION = 2 both layouts' seeds stay side by side
    assert(siblings(tag) == Seq(old.getName, new File(dir).getName).sorted)
    assert(ensure(d, tag, "v1", builds) == dir && builds.get == 1)
    cleanup(tag)
  }
}
