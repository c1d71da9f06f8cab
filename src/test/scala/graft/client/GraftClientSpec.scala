package graft.client

import graft.SparkSpec
import graft.backend.ParquetBackend
import graft.model._

/** The client's argument guard (reference specs.clj:161-168): args are
  * encoded once, that encoding must survive a decode and re-encode, and
  * the job carries exactly that encoding. */
class GraftClientSpec extends SparkSpec {

  /** Encodes as tagged JSON; decode upper-cases strings that start with
    * "drift", so only those args fail the round trip. */
  private object DriftingSerializer extends ArgsSerializer {
    def contentType = "application/x-drifting+json"
    def encode(args: Seq[Any]): String = "v1:" + ArgsCodec.encode(args)
    def decode(payload: String): Seq[Any] =
      ArgsCodec.decode(payload.stripPrefix("v1:")).map {
        case s: String if s.startsWith("drift") => s.toUpperCase
        case other => other
      }
  }

  test("performAsync rejects args whose decode drifts and stores the serializer's own encoding") {
    val backend = new ParquetBackend(spark, tmpDir("graft-client"))
    val client = new GraftClient(backend, spark, "test")
    try {
      ArgsSerializers.install(DriftingSerializer)
      intercept[IllegalArgumentException] {
        client.performAsync("ok", "drift-me", 1L)
      }
      val args = Seq("steady", 2L)
      val id = client.performAsync("ok", args: _*)
      val stored = backend.readyJobs.collect().filter(_.id == id).map(_.argsJson).toSeq
      assert(stored == Seq(DriftingSerializer.encode(args)))
      assert(backend.readyJobs.count() == 1, "the rejected call must enqueue nothing")
    } finally ArgsSerializers.reset()
  }
}
