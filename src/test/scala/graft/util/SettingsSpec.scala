package graft.util

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkEntry
import graft.dedup.Dedup
import graft.embed.{BertWeightsGate, OnnxRuntimeGate}

/** A malformed numeric setting fails naming its key and value; unset
  * keys keep their defaults and valid values parse as before. */
class SettingsSpec extends AnyFunSuite {

  private def withProp[T](key: String, value: String)(body: => T): T = {
    System.setProperty(key, value)
    try body
    finally System.clearProperty(key)
  }

  private def rejects(key: String, value: String)(read: => Any): Unit = {
    val e = intercept[IllegalArgumentException](read)
    assert(e.getMessage.contains(key) && e.getMessage.contains(s"'$value'"), e.getMessage)
  }

  test("graft.stream.stateParts: malformed value fails, default 4, valid value parses") {
    val key = "graft.stream.stateParts"
    rejects(key, "four")(withProp(key, "four")(SparkEntry.StreamStateParts))
    assert(SparkEntry.StreamStateParts == 4)
    assert(withProp(key, "8")(SparkEntry.StreamStateParts) == 8)
  }

  test("graft.bert.heads and GRAFT_BERT_HEADS: malformed value fails, default 12") {
    rejects(BertWeightsGate.HeadsProp, "12x")(BertWeightsGate.headsFrom(Some("12x"), None))
    rejects(BertWeightsGate.HeadsEnv, "")(BertWeightsGate.headsFrom(None, Some("")))
    assert(BertWeightsGate.headsFrom(None, None) == 12)
    assert(BertWeightsGate.headsFrom(Some("4"), Some("8")) == 4)
    assert(BertWeightsGate.headsFrom(None, Some("8")) == 8)
  }

  test("GRAFT_ONNX_DIM: malformed value fails, default 384") {
    rejects(OnnxRuntimeGate.DimEnv, "3.5")(OnnxRuntimeGate.dimFrom(Some("3.5")))
    assert(OnnxRuntimeGate.dimFrom(None) == OnnxRuntimeGate.DefaultDim)
    assert(OnnxRuntimeGate.dimFrom(Some("768")) == 768)
  }

  test("graft.cc.driverMaxEdges: malformed value fails, default 2M, 0 disables") {
    val key = "graft.cc.driverMaxEdges"
    rejects(key, "2M")(withProp(key, "2M")(Dedup.driverCcMaxEdges))
    assert(Dedup.driverCcMaxEdges == Dedup.DriverCcMaxEdgesDefault)
    assert(withProp(key, "0")(Dedup.driverCcMaxEdges) == 0L)
  }
}
