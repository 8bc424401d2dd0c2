package graft

import java.util.concurrent.{Callable, CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** The query catalog's build-once fixture memo ([[Fixture.memo]]): one build
  * per (session, name, sf dir), nested builds, nothing cached from a build
  * that throws, and a fresh empty directory for every build.
  */
class FixtureSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val sf = "fixture-spec"

  test("8 threads calling one key run its build once and share its value") {
    val builds = new AtomicInteger
    val start = new CountDownLatch(1)
    val pool = Executors.newFixedThreadPool(8)
    try {
      val results = (1 to 8).map { _ =>
        pool.submit(new Callable[String] {
          def call(): String = {
            start.await()
            Fixture.memo("concurrent", spark, sf) { d =>
              builds.incrementAndGet()
              Thread.sleep(200)
              d
            }
          }
        })
      }
      start.countDown()
      val dirs = results.map(_.get(1, TimeUnit.MINUTES))
      assert(builds.get == 1)
      assert(dirs.distinct.size == 1)
    } finally pool.shutdown()
  }

  test("a build may call another fixture; both values come back") {
    val (outer, inner) = Fixture.memo("outer", spark, sf) { d =>
      (d, Fixture.memo("inner", spark, sf)(identity))
    }
    assert(outer != inner)
    assert(Fixture.memo[String]("inner", spark, sf)(_ => sys.error("rebuilt")) == inner)
    assert(Fixture.memo[(String, String)]("outer", spark, sf)(_ => sys.error("rebuilt")) ==
      ((outer, inner)))
  }

  test("a build that throws caches nothing; the retry starts in an empty dir") {
    var failedDir = ""
    val e = intercept[IllegalStateException] {
      Fixture.memo("flaky", spark, sf) { d =>
        failedDir = d
        java.nio.file.Files.writeString(java.nio.file.Paths.get(d, "half-built"), "x")
        throw new IllegalStateException("build failed")
      }
    }
    assert(e.getMessage == "build failed")
    val (dir, seen) = Fixture.memo("flaky", spark, sf) { d =>
      (d, Option(new java.io.File(d).list()).map(_.toSeq))
    }
    assert(dir != failedDir)
    assert(seen == Some(Seq.empty))
    assert(Fixture.memo[(String, Option[Seq[String]])]("flaky", spark, sf)(
      _ => sys.error("rebuilt"))._1 == dir)
  }

  test("two sessions get two entries") {
    val other = spark.newSession()
    val builds = new AtomicInteger
    def build(d: String): String = { builds.incrementAndGet(); d }
    val a = Fixture.memo("per-session", spark, sf)(build)
    val b = Fixture.memo("per-session", other, sf)(build)
    assert(builds.get == 2)
    assert(a != b)
    assert(Fixture.memo("per-session", spark, sf)(build) == a)
    assert(Fixture.memo("per-session", other, sf)(build) == b)
    assert(builds.get == 2)
  }
}
