package graft

import scala.util.{Failure, Success}

/** `Telemetry.timed` is the measurement mains' one timing primitive: it
  * returns the body's outcome, and its record's elapsed seconds are
  * negative exactly when the body failed. */
class TelemetrySpec extends SparkSpec {

  test("a returning body gives Success and a non-negative elapsed") {
    val (r, t) = Telemetry.timed(spark)(spark.range(10).count())
    assert(r === Success(10L))
    assert(t.elapsedSec >= 0.0)
  }

  test("a throwing body gives Failure carrying the exception and a negative elapsed") {
    val boom = new IllegalStateException("boom")
    val (r, t) = Telemetry.timed(spark) {
      Thread.sleep(5)
      throw boom
    }
    assert(r === Failure(boom))
    assert(t.elapsedSec < 0.0)
  }
}
