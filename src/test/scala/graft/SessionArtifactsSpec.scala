package graft

import java.util.concurrent.{CyclicBarrier, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._

/** The session-artifact registry's mechanics on synthetic builds (no
  * corpus): one value per (application, key), race-loser release,
  * nothing stored by a failed build, and the cold bypass that releases
  * only the previous cold build. */
class SessionArtifactsSpec extends SparkSpec {

  /** A release handle that counts its closes. */
  final class Counting extends AutoCloseable {
    val closes = new AtomicInteger()
    override def close(): Unit = closes.incrementAndGet()
  }

  // keys unique to this run, so no other suite's artifact can answer
  private val run = java.util.UUID.randomUUID().toString
  private def key(name: String, sfDir: String = "sf") = s"$name:$run:$sfDir"

  private def withCold[A](body: => A): A = {
    sys.props("graft.cold") = "1"
    try body finally sys.props.remove("graft.cold")
  }

  test("two threads racing on one key get the same value; only the loser is released") {
    val barrier = new CyclicBarrier(2)
    val built = new java.util.concurrent.ConcurrentLinkedQueue[(AnyRef, Counting)]()
    def call(): AnyRef = SessionArtifacts.getOrBuild(spark, key("race")) { cold =>
      assert(!cold)
      val v = (new AnyRef, new Counting)
      built.add(v)
      // both builds are in flight before either offers its value
      barrier.await(30, TimeUnit.SECONDS)
      v
    }
    val pool = Executors.newFixedThreadPool(2)
    try {
      implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
      val Seq(a, b) = Await.result(
        Future.sequence(Seq(Future(call()), Future(call()))), 60.seconds)
      assert(a eq b, "both racers must return the winner's value")
      assert(built.size == 2)
      val (winner, loser) = built.toArray(Array.empty[(AnyRef, Counting)])
        .partition(_._1 eq a)
      assert(winner.length == 1 && loser.length == 1)
      assert(winner.head._2.closes.get == 0, "the winner's release must never run")
      assert(loser.head._2.closes.get == 1, "the loser's release must run exactly once")
      // and the winner is the memo from now on
      assert(SessionArtifacts.getOrBuild[AnyRef](spark, key("race"))(_ =>
        fail("a memoized key must not build again")) eq a)
    } finally pool.shutdown()
  }

  test("different names or sfDirs are distinct entries; the same key is memoized") {
    val builds = new AtomicInteger()
    def get(k: String): AnyRef = SessionArtifacts.getOrBuild(spark, k) { _ =>
      builds.incrementAndGet()
      (new AnyRef, SessionArtifacts.nothingToRelease)
    }
    val a = get(key("alpha", "sf1"))
    val b = get(key("beta", "sf1"))
    val c = get(key("alpha", "sf2"))
    assert(builds.get == 3)
    assert(!(a eq b) && !(a eq c) && !(b eq c))
    assert(get(key("alpha", "sf1")) eq a)
    assert(get(key("beta", "sf1")) eq b)
    assert(get(key("alpha", "sf2")) eq c)
    assert(builds.get == 3, "a memoized key must not build again")
  }

  test("a build that throws stores nothing, and the next call builds again") {
    val builds = new AtomicInteger()
    val e = intercept[IllegalStateException] {
      SessionArtifacts.getOrBuild[AnyRef](spark, key("flaky")) { _ =>
        builds.incrementAndGet()
        throw new IllegalStateException("build failed")
      }
    }
    assert(e.getMessage == "build failed")
    val v = SessionArtifacts.getOrBuild(spark, key("flaky")) { _ =>
      builds.incrementAndGet()
      (new AnyRef, SessionArtifacts.nothingToRelease)
    }
    assert(builds.get == 2, "the failed build must not have stored an entry")
    assert(SessionArtifacts.getOrBuild[AnyRef](spark, key("flaky"))(_ =>
      fail("a memoized key must not build again")) eq v)
  }

  test("cold mode builds every call and releases only the previous cold build") {
    val k = key("cold")
    val warmRelease = new Counting
    val warm = SessionArtifacts.getOrBuild(spark, k) { cold =>
      assert(!cold)
      (new AnyRef, warmRelease)
    }
    val colds = withCold {
      (1 to 3).map { i =>
        val release = new Counting
        val v = SessionArtifacts.getOrBuild(spark, k) { cold =>
          assert(cold, "the build must be told it is cold")
          (new AnyRef, release)
        }
        assert(!(v eq warm), s"cold call $i must bypass the memo")
        (v, release)
      }
    }
    assert(colds.map(_._1).distinct.size == 3, "each cold call must build fresh")
    // builds 1 and 2 were each superseded once; build 3 is still current
    assert(colds.map(_._2.closes.get) == Seq(1, 1, 0))
    assert(warmRelease.closes.get == 0, "cold calls must never release the warm entry")
    assert(SessionArtifacts.getOrBuild[AnyRef](spark, k)(_ =>
      fail("the warm entry must survive cold mode")) eq warm)
  }
}
