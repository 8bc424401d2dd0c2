package graft

import graft.operators.Regime
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** [[Regime]]: every driver-versus-distributed bound's key and default, and
  * the one way to force a path.
  */
class RegimeSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[2]")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  /** A session of its own: no runtime conf set by another spec. */
  private def fresh(): SparkSession = {
    val s = spark.newSession()
    assert(!s.conf.getAll.keys.exists(_.startsWith("spark.graft.")))
    s
  }

  test("each bound reads its key's default on a session with no spark.graft key set") {
    val s = fresh()
    val want = Seq(
      Regime.MaxBroadcastBytes -> ("spark.graft.vecscan.maxBroadcastBytes", 256L << 20),
      Regime.SmallGraphEdgeLimit -> ("spark.graft.cc.smallGraphEdgeLimit", 5000000L),
      Regime.DriverResidentRows -> ("spark.graft.serving.driverResidentRows", 1L << 17),
      Regime.DriverResidentBytes -> ("spark.graft.serving.driverResidentBytes", Long.MaxValue),
      Regime.MaxDriverAllowIds -> ("spark.graft.serving.maxDriverAllowIds", 1L << 17),
      Regime.MaxDerivedViews -> ("spark.graft.serving.maxDerivedViews", 16L),
      Regime.MaxQueryTermRows -> ("spark.graft.bm25.maxQueryTermRows", 1L << 20),
      Regime.MaxProbeRows -> ("spark.graft.ann.maxProbeRows", 1L << 20),
      Regime.MaxDriverDeleteIds -> ("spark.graft.index.maxDriverDeleteIds", 1L << 16),
      Regime.FittedMaxCollectBytes -> ("spark.graft.fitted.maxCollectBytes", 256L << 20),
      Regime.KruskalEdgeBound -> ("spark.graft.hdbscan.kruskalEdgeBound", 5000000L))
    for ((bound, (key, default)) <- want) {
      assert(bound.key == key)
      assert(bound(s) == default, key)
    }
    assert(want.map(_._2._1).distinct.size == want.size)
    // the Kruskal bound, unset, is the call's own MST edge bound
    assert(Regime.KruskalEdgeBound.orElse(s, 7L) == 7L)
    Regime.forcing(s, Regime.KruskalEdgeBound, 3L)(
      assert(Regime.KruskalEdgeBound.orElse(s, 7L) == 3L))
  }

  test("forcing restores the previous value: nested, after a throw, and a value set before") {
    val s = fresh()
    val b = Regime.MaxProbeRows
    Regime.forcing(s, b, 5L) {
      assert(b(s) == 5L)
      Regime.forcing(s, b, 7L)(assert(b(s) == 7L))
      assert(b(s) == 5L)
      intercept[IllegalStateException](Regime.forcing(s, b, 9L)(throw new IllegalStateException))
      assert(b(s) == 5L)
    }
    assert(s.conf.getOption(b.key).isEmpty && b(s) == b.default)
    s.conf.set(b.key, "3")
    Regime.forcing(s, b, 0L)(assert(b(s) == 0L))
    assert(s.conf.get(b.key) == "3")
  }

  test("rows clamps a bound so that limit(rows + 1) is a valid limit") {
    val s = fresh()
    val b = Regime.MaxDriverAllowIds
    val cases = Seq(0L -> 0, 5L -> 5, Int.MaxValue.toLong -> (Int.MaxValue - 1),
      Long.MaxValue -> (Int.MaxValue - 1), -1L -> -1, Long.MinValue -> -1)
    for ((value, want) <- cases)
      Regime.forcing(s, b, value)(assert(b.rows(s) == want, s"value $value"))
    Regime.forcing(s, b, 100L)(assert(b.rows(s, per = 8) == 12))
  }
}
