package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.util.BoundedCache

/** The one LRU memo every JVM-wide warehouse cache runs on: recency,
  * cost budgets, the newest-put-stays rule, re-costing on replace, and
  * prefix release. Pure — no Spark session.
  */
class BoundedCacheSpec extends AnyFunSuite {

  test("a get refreshes recency: the untouched entry is evicted first") {
    val c = new BoundedCache[String](2L)
    c.put("a", "1"); c.put("b", "2")
    assert(c.get("a") === Some("1"))
    c.put("c", "3")
    assert(c.get("b").isEmpty, "b was least recently used")
    assert(c.get("a") === Some("1"))
    assert(c.get("c") === Some("3"))
    assert(c.held === 2L)
  }

  test("eviction runs LRU-first until the held cost fits the budget") {
    val c = new BoundedCache[Array[Long]](100L, _.length.toLong)
    c.put("a", new Array[Long](40))
    c.put("b", new Array[Long](40))
    assert(c.held === 80L)
    c.put("c", new Array[Long](70)) // 150 → drop a (110) → drop b (70)
    assert(c.get("a").isEmpty && c.get("b").isEmpty)
    assert(c.get("c").isDefined)
    assert(c.held === 70L)
    c.put("d", new Array[Long](30)) // 100 fits exactly
    assert(c.get("c").isDefined && c.get("d").isDefined)
    assert(c.held === 100L)
  }

  test("the newest put survives a budget smaller than its own cost") {
    val c = new BoundedCache[String](1L, _.length.toLong)
    c.put("a", "xxxx")
    assert(c.get("a") === Some("xxxx"))
    assert(c.held === 4L)
    c.put("b", "yyyyyy")
    assert(c.get("a").isEmpty)
    assert(c.get("b") === Some("yyyyyy"))
    assert(c.held === 6L)
  }

  test("put replaces a value and re-costs it") {
    val c = new BoundedCache[String](100L, _.length.toLong)
    c.put("a", "xx"); c.put("b", "yyy")
    c.put("a", "zzzzzzz")
    assert(c.get("a") === Some("zzzzzzz"))
    assert(c.held === 10L)
    c.put("a", "z")
    assert(c.held === 4L)
  }

  test("invalidate(prefix) frees exactly that prefix's cost") {
    val c = new BoundedCache[String](1000L, _.length.toLong)
    c.put("d#t#1", "aaa"); c.put("d#t#2", "bb"); c.put("d#u#1", "c")
    assert(c.invalidate("d#t#") === 5L)
    assert(c.invalidate("d#t#") === 0L, "nothing left under the prefix")
    assert(c.held === 1L)
    assert(c.get("d#u#1") === Some("c"))
    c.clear()
    assert(c.held === 0L && c.get("d#u#1").isEmpty)
  }

  test("hits count only served gets") {
    val c = new BoundedCache[String](10L)
    val h0 = c.hits
    c.get("a"); c.put("a", "1"); c.get("a"); c.get("a")
    assert(c.hits - h0 === 2L)
  }

  test("concurrent puts and gets keep the held cost consistent") {
    val c = new BoundedCache[String](64L, _.length.toLong)
    val threads = (0 until 4).map { t =>
      new Thread(() =>
        (0 until 5000).foreach { i =>
          val k = s"k${(i * 7 + t) % 200}"
          if (i % 3 == 0) c.get(k) else c.put(k, "x" * (1 + i % 5))
        })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    val held = c.held
    assert(held > 0L && held <= 64L)
    assert(c.invalidate("") === held, "held must equal the entries' sum")
    assert(c.held === 0L)
  }
}
