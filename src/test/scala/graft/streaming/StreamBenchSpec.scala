package graft.streaming

import org.scalatest.funsuite.AnyFunSuite

/** `SPARK_GRAFT_STREAM_CHANNELS` resolves against the channel list
  * before any session starts; no Spark job runs here. */
class StreamBenchSpec extends AnyFunSuite {

  test("an unset channel list selects every channel in run order") {
    assert(StreamBench.selectedChannels(None) == StreamBench.channels)
    assert(StreamBench.selectedChannels(Some("trending, order_book")) ==
      Seq("order_book", "trending"))
  }

  test("an unknown channel name fails and is named") {
    val e = intercept[IllegalArgumentException](
      StreamBench.selectedChannels(Some("order_bok,raw_ticks")))
    assert(e.getMessage.contains("order_bok") && !e.getMessage.contains("raw_ticks"))
  }

  test("an empty channel list fails") {
    val e = intercept[IllegalArgumentException](StreamBench.selectedChannels(Some(" , ")))
    assert(e.getMessage.contains("names nothing"))
  }
}
