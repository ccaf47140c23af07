package graft

import org.scalatest.funsuite.AnyFunSuite

/** S1 live-fetch shell: a recorded payload replayed through the REAL
  * fetch code path (file: URL → same adapter, same handoff) must land in
  * the identical typed bars the fixture-frame ingest produces — proving
  * a live-shaped payload feeds the green `ingest_av_json` parse
  * unchanged (VERDICT r6 item 6).
  */
class LiveFetchSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import graft.ingest.{AvJson, LiveFetch}

  test("fetched payload parses identically to the fixture-frame path") {
    val f = graft.io.WorkDir.create("graft-av").resolve("av.json")
    java.nio.file.Files.write(f,
      AvJson.equityFixture.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val body = LiveFetch.fetchJson(f.toUri.toString)
    assert(body == AvJson.equityFixture) // byte-faithful transport
    val viaFetch = AvJson.parseDailyBars(
        LiveFetch.payloadsDf(spark, Seq(body)),
        "payload", "Time Series (Daily)", withVolume = true)
      .orderBy("date").collect().map(_.toSeq)
    val viaFixture = AvJson.parseDailyBars(
        AvJson.equityFixtureDf(spark),
        "payload", "Time Series (Daily)", withVolume = true)
      .orderBy("date").collect().map(_.toSeq)
    assert(viaFetch.nonEmpty && viaFetch.toSeq == viaFixture.toSeq)
  }

  test("bounded retry: exhausts tries then propagates the last failure") {
    val t0 = System.nanoTime()
    val e = intercept[java.io.IOException] {
      LiveFetch.fetchJson("file:///graft-definitely-missing.json",
        tries = 3, backoffMs = 20L)
    }
    assert(e.getMessage.contains("after 3 tries"))
    assert(e.getCause != null) // the underlying failure rides along
    // two backoff gaps actually elapsed
    assert((System.nanoTime() - t0) / 1e6 >= 40.0)
  }

  test("query string is URL-encoded and deterministic") {
    val qs = LiveFetch.queryString(Map(
      "function" -> "TIME_SERIES_DAILY", "symbol" -> "SPY",
      "apikey" -> "k&y =1"))
    assert(qs == "apikey=k%26y+%3D1&function=TIME_SERIES_DAILY&symbol=SPY")
  }
}
