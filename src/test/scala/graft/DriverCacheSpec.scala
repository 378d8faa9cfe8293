package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}
import org.scalatest.funsuite.AnyFunSuite
import graft.ops.{BpeOps, DedupLedger, DriverCache, IndexStore, VectorOps}

/** The driver-side resource bounds: every driver memo is a
  * [[DriverCache]] that holds its LRU bound under a 1,000-store churn
  * with value fidelity and never serves a value under a stale stamp,
  * and the lock interner never hands two threads different monitors
  * for one store while staying bounded. */
class DriverCacheSpec extends AnyFunSuite {

  test("a 1,000-store churn holds the cache at its bound, evicts LRU, " +
       "and never serves a wrong value") {
    val c = new DriverCache[String, Int](64)
    for (i <- 1 to 1000) {
      c.getOrCompute(s"store-$i")(i)
      // the hot key is touched every round and must survive all
      // eviction pressure (access-order, not insertion-order)
      if (i == 1) c.getOrCompute("hot")(-1)
      assert(c.get("hot").contains(-1), s"hot key evicted at churn $i")
    }
    assert(c.size <= 64, s"bound violated: ${c.size}")
    assert(c.get("store-1000").contains(1000))
    assert(c.get("store-1").isEmpty, "LRU must have evicted the oldest")
    // a miss is a recompute signal, never a wrong value
    for (i <- 900 to 1000; v <- c.get(s"store-$i")) assert(v == i)
  }

  test("all 10 driver memos are DriverCaches at their fixed bounds") {
    // a gate-zone or per-tick store churn cannot grow any of them
    // without limit
    val bounds = Seq[(String, DriverCache[_, _], Int)](
      ("centsCache", VectorOps.centsCache, 64),
      ("storeMetaCache", VectorOps.storeMetaCache, 256),
      ("storeFramesCache", VectorOps.storeFramesCache, 256),
      ("queryRowsCache", VectorOps.queryRowsCache, 64),
      ("fileStatuses", IndexStore.fileStatuses, 1 << 16),
      ("declaredFrameCache", IndexStore.declaredFrameCache, 512),
      ("ioCache", IndexStore.ioCache, 1 << 16),
      ("sentinelCache", DedupLedger.sentinelCache, 4096),
      ("histCache", DedupLedger.histCache, 4096),
      ("mergesCache", BpeOps.mergesCache, 64))
    for ((name, c, max) <- bounds) assert(c.max == max, name)
  }

  test("stamped: a matching stamp never recomputes, a stale one replaces " +
       "the entry in place, and compute runs outside the monitor") {
    val c = new DriverCache[String, Int](8)
    var calls = 0
    def load(v: Int): Int = { calls += 1; v }
    assert(c.stamped("a", "fp1")(load(1)) == 1)
    assert(c.stamped("b", 7L)(load(2)) == 2)
    assert(c.stamped("a", "fp1")(fail("a matching stamp recomputed")) == 1)
    assert(c.stamped("b", 7L)(fail("a matching stamp recomputed")) == 2)
    assert(calls == 2 && c.size == 2)
    assert(c.at("a", "fp1").contains(1) && c.at("a", "fp2").isEmpty &&
      c.at("z", "fp1").isEmpty, "at must read only under the stored stamp")
    assert(c.stamped("a", "fp2")(load(3)) == 3, "a stale stamp served")
    assert(c.size == 2 && c.get("a").contains(3),
      "a stale stamp must replace its entry, not add one")
    assert(c.stamped("a", "fp2")(fail("the new stamp recomputed")) == 3)
    assert(calls == 3)

    // a compute blocked on a latch holds no lock: lookups of other keys
    // (hits and misses) finish while it waits
    val entered = new CountDownLatch(1)
    val release = new CountDownLatch(1)
    val slow = new Thread(() => {
      c.stamped("slow", 1) { entered.countDown(); release.await(); 9 }
      ()
    })
    slow.start()
    try {
      assert(entered.await(30, TimeUnit.SECONDS), "compute never started")
      @volatile var seen = Seq.empty[Option[Int]]
      val reader = new Thread(() => {
        seen = Seq(c.get("a"), Some(c.stamped("b", 7L)(-1)),
          Some(c.stamped("c", 1)(4)))
      })
      reader.start()
      reader.join(30000)
      assert(!reader.isAlive, "a lookup waited on another key's compute")
      assert(seen == Seq(Some(3), Some(2), Some(4)))
    } finally { release.countDown(); slow.join() }
    assert(c.get("slow").contains(9))
  }

  test("update is one atomic read-modify-write: concurrent increments " +
       "lose no count") {
    val c = new DriverCache[String, Int](4)
    val workers = (1 to 8).map(_ => new Thread(() =>
      for (_ <- 1 to 1000) c.update("k")(n => Some(n.getOrElse(0) + 1))))
    workers.foreach(_.start()); workers.foreach(_.join())
    assert(c.get("k").contains(8000))
    assert(c.update("k")(_ => None).isEmpty && c.get("k").isEmpty)
  }

  test("no raw ConcurrentHashMap memo under graft/ops: only the named " +
       "put-if-absent registers") {
    // memos belong on DriverCache (bounded, stamped); the registers are
    // commit safety state and must never be evicted
    val registers = Set("register", "putRegister")
    val decl = raw"\bval\s+(\w+)\s*=\s*(?:new\s+)?java\.util\.concurrent\.ConcurrentHashMap\b".r
    val root = new java.io.File("src/main/scala/graft/ops")
    assert(root.isDirectory, s"no sources under ${root.getAbsolutePath}")
    val offenders = root.listFiles().toSeq
      .filter(_.getName.endsWith(".scala")).sortBy(_.getName).flatMap { f =>
        val code = new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
          .replaceAll(raw"(?m)^\s*(?://|/\*|\*).*$$", "") // comment lines
        val named = decl.findAllMatchIn(code).map(_.group(1)).toSeq
        val uses = raw"\bConcurrentHashMap\b".r.findAllMatchIn(code).size
        named.filterNot(registers).map(n => s"${f.getName}: $n") ++
          (if (uses > named.size)
             Seq(s"${f.getName}: ${uses - named.size} undeclared use(s)")
           else Nil)
      }
    assert(offenders.isEmpty, offenders.mkString("; "))
  }

  test("lock interner: held locks survive eviction pressure; churn " +
       "stays bounded; an acquired lock is always the interned one " +
       "(two-monitor hazard, VERDICT r18 #4)") {
    val key = s"/spec/lockboundary/${System.nanoTime()}"
    val held = IndexStore.lockJvm(key)
    try {
      // churn far past the interner bound: the held lock must never be
      // evicted (eviction skips locked/queued entries)
      for (i <- 1 to 6000) IndexStore.intern(s"/spec/churn/$i")
      assert(IndexStore.interned(key, held),
        "a HELD lock was evicted — two-monitor hazard reopened")
      assert(IndexStore.lockMapSize <= 4096 + 1,
        s"interner unbounded: ${IndexStore.lockMapSize}")
    } finally held.unlock()

    // post-release, the key is evictable; a later acquisition must get
    // whatever is CURRENTLY interned even while a churn thread keeps
    // evicting — across many rounds this crosses eviction boundaries
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val churner = new Thread(() => {
      var i = 0
      while (!stop.get()) { IndexStore.intern(s"/spec/churn2/$i"); i += 1 }
    })
    churner.start()
    try {
      for (_ <- 1 to 2000) {
        val l = IndexStore.lockJvm(key)
        try assert(IndexStore.interned(key, l),
          "lockJvm returned a stale (evicted) monitor")
        finally l.unlock()
      }
    } finally { stop.set(true); churner.join() }
  }

  test("mutual exclusion through the interner under eviction churn: " +
       "no two workers inside the same store's critical section") {
    val key = s"/spec/mutex/${System.nanoTime()}"
    val active = new java.util.concurrent.atomic.AtomicInteger(0)
    val overlaps = new java.util.concurrent.atomic.AtomicInteger(0)
    var counter = 0L // deliberately unsynchronized: the lock is the fence
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val churner = new Thread(() => {
      var i = 0
      while (!stop.get()) { IndexStore.intern(s"/spec/churn3/$i"); i += 1 }
    })
    churner.start()
    val workers = (1 to 8).map(_ => new Thread(() => {
      for (_ <- 1 to 500) {
        val l = IndexStore.lockJvm(key)
        try {
          if (active.incrementAndGet() != 1) overlaps.incrementAndGet()
          counter += 1
          active.decrementAndGet()
        } finally l.unlock()
      }
    }))
    try {
      workers.foreach(_.start()); workers.foreach(_.join())
    } finally { stop.set(true); churner.join() }
    assert(overlaps.get() == 0, s"${overlaps.get()} overlapping entries")
    assert(counter == 8L * 500,
      s"lost increments under churn: $counter — the monitor was not unique")
  }
}
