package graft.operators

import graft.SparkSpec

import java.util.concurrent.atomic.AtomicInteger
import java.util.concurrent.{ConcurrentHashMap, CountDownLatch, Executors, TimeUnit}

/** The artifact registry's contract: one build per (key, application),
  * concurrent first touches share it, nested builds are legal, a
  * failed build stores nothing, and another application's entry is
  * rebuilt rather than served. Keys are spec-private, so the real
  * artifacts other suites share are never touched, and the shared
  * session is never stopped (the foreign application is an explicit
  * id through the core). */
class ArtifactsSpec extends SparkSpec {

  test("a repeat get returns the same value and builds once") {
    val builds = new AtomicInteger
    def read() = Artifacts.get(spark, "spec.repeat|d") {
      builds.incrementAndGet(); new Object
    }
    val first = read()
    assert(read() eq first)
    assert(builds.get == 1)
  }

  test("4 concurrent first touches of one key build once") {
    val builds = new AtomicInteger
    val start = new CountDownLatch(1)
    val pool = Executors.newFixedThreadPool(4)
    try {
      val futures = (1 to 4).map(_ => pool.submit(() => {
        start.await()
        Artifacts.getFor("app-concurrent", "spec.concurrent|d") {
          builds.incrementAndGet()
          Thread.sleep(200)
          new Object
        }
      }))
      start.countDown()
      val values = futures.map(_.get(30, TimeUnit.SECONDS))
      assert(builds.get == 1)
      assert(values.forall(_ eq values.head))
    } finally pool.shutdownNow()
  }

  test("a nested build (pair index over its hash table) builds each key once") {
    val outer = "/tmp/graft-x7#dhp"
    val inner = "/tmp/graft-x7#dh"
    // the same nesting inside one fresh map's computeIfAbsent is
    // rejected on this pair — the shape the registry replaces
    val chm = new ConcurrentHashMap[String, AnyRef]()
    intercept[IllegalStateException](
      chm.computeIfAbsent(outer, _ => chm.computeIfAbsent(inner, _ => "dh")))
    val builds = new AtomicInteger
    def dh() = Artifacts.getFor("app-nested", inner) {
      builds.incrementAndGet(); Seq("dh")
    }
    def dhp() = Artifacts.getFor("app-nested", outer) {
      builds.incrementAndGet(); dh() :+ "dhp"
    }
    assert(dhp() == Seq("dh", "dhp"))
    assert(dhp() eq dhp())
    assert(dh() == Seq("dh"))
    assert(builds.get == 2)
  }

  test("a build that throws stores nothing; the next get rebuilds") {
    val key = "spec.throws|d"
    intercept[RuntimeException](
      Artifacts.getFor[AnyRef]("app-throws", key)(
        throw new RuntimeException("build failed")))
    val builds = new AtomicInteger
    val v = Artifacts.getFor("app-throws", key) {
      builds.incrementAndGet(); new Object
    }
    assert(Artifacts.getFor("app-throws", key)(new Object) eq v)
    assert(builds.get == 1)
  }

  test("an entry stamped with another application id is rebuilt, not served") {
    val key = "spec.app|d"
    val stale = Artifacts.getFor("app-stopped", key)(new Object)
    val live = Artifacts.get(spark, key)(new Object)
    assert(!(live eq stale))
    assert(Artifacts.get(spark, key)(new Object) eq live)
  }
}
