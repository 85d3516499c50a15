package graft.plans

import graft.tools.LruCache
import org.scalatest.funsuite.AnyFunSuite

/** The planner caches' eviction contract (r16 verdict #5): a cap hit
  * evicts ONLY the least-recently-used entry — never the wholesale
  * clear() that made a long interactive session cycling > cap distinct
  * plans re-pay stats/detection jobs for its hot entries. */
class LruCacheSpec extends AnyFunSuite {

  test("cap hit evicts exactly the least-recently-used entry") {
    val c = new LruCache[Int, String](64)
    (1 to 64).foreach(i => c.putIfAbsent(i, s"v$i"))
    assert(c.size == 64)
    // touch entry 1 so entry 2 becomes the eldest
    assert(c.get(1).contains("v1"))
    c.putIfAbsent(65, "v65")
    assert(c.size == 64)
    assert(!c.contains(2), "the least-recently-used entry survived the cap")
    assert(c.contains(1), "a freshly-USED entry was evicted")
    (3 to 65).foreach(i => assert(c.contains(i), s"hot entry $i was evicted"))
  }

  test("putIfAbsent keeps the first value (the recursion-safe compute-outside pattern)") {
    val c = new LruCache[String, String](4)
    c.putIfAbsent("k", "first")
    c.putIfAbsent("k", "second")
    assert(c.get("k").contains("first"))
  }

  test("gets refresh recency: a steady working set survives unbounded churn") {
    val c = new LruCache[Int, Int](8)
    (1 to 8).foreach(i => c.putIfAbsent(i, i))
    (100 to 400).foreach { i =>
      // the working set {1, 2, 3} is touched between every insertion
      (1 to 3).foreach(k => assert(c.get(k).contains(k), s"lost hot $k at churn $i"))
      c.putIfAbsent(i, i)
    }
    assert(c.size == 8)
  }
}
