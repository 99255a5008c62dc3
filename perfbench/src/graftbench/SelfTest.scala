package graftbench

/** Checks of the benchmark itself, run before a result is trusted: the
  * same seed gives the same inputs and request lists, another seed
  * gives other ones, and the percentile helper refuses a percentile
  * the sample cannot support. */
object SelfTest {

  private def check(ok: Boolean, what: String): Unit =
    if (!ok) throw new IllegalStateException(s"self-test failed: $what")

  def run(): Unit = {
    check(Dashboard.samples(7) == Dashboard.samples(7), "series are a function of the seed")
    check(Dashboard.samples(7) != Dashboard.samples(8), "another seed gives other series")
    check(Dashboard.pool(7) == Dashboard.pool(7), "request pool is a function of the seed")
    check(Dashboard.pool(7) != Dashboard.pool(8), "another seed gives another request pool")
    check(Dashboard.pool(7).map(_.kind) == Dashboard.Kinds, "every pool has the same shapes")
    check(Gen.analyticsTables(Analytics.FixtureSeed) ==
      Gen.analyticsTables(Analytics.FixtureSeed), "analytics fixture is deterministic")
    check(new scala.util.Random(7).shuffle(Analytics.Queries) ==
      new scala.util.Random(7).shuffle(Analytics.Queries), "query order is a function of the seed")
    val xs = (1 to 40).map(_.toDouble)
    check(Stats.percentile(xs, 0.75) == 30.0, "p75 of 1..40 by nearest rank")
    check(scala.util.Try(Stats.percentile(xs.drop(1), 0.75)).isFailure,
      "p75 of 39 samples leaves 9 beyond it and is refused")
    check(scala.util.Try(Stats.percentile(xs, 0.9)).isFailure, "p90 of 40 samples is refused")
    println("self-test passed")
  }
}
