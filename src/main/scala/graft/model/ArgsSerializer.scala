package graft.model

/** Pluggable payload codec — the engine's analog of goose's nippy
  * extension point (reference utils.clj:13-17: `extend-freeze/thaw`, with
  * the content-type recorded at defaults.clj:8). The active serializer is
  * process-wide, like goose's; both the client (encode at enqueue) and
  * every executor (decode at execution) resolve [[ArgsSerializers.active]]
  * in their own JVM, so custom codecs must be installed on workers the
  * same way job functions are (see [[JobRegistry]]).
  */
trait ArgsSerializer extends Serializable {
  def contentType: String
  def encode(args: Seq[Any]): String
  def decode(payload: String): Seq[Any]

  /** The round-trip-consistency guard (reference specs.clj:161-168):
    * the encoding of `args` if it survives a decode and re-encode
    * unchanged, else None. */
  def consistentEncoding(args: Seq[Any]): Option[String] = {
    val once = encode(args)
    if (once == encode(decode(once))) Some(once) else None
  }

  def roundTripConsistent(args: Seq[Any]): Boolean = consistentEncoding(args).isDefined
}

/** Default codec: the hand-rolled JSON in [[ArgsCodec]]. */
object JsonArgsSerializer extends ArgsSerializer {
  def contentType: String = "application/json"
  def encode(args: Seq[Any]): String = ArgsCodec.encode(args)
  def decode(payload: String): Seq[Any] = ArgsCodec.decode(payload)
}

object ArgsSerializers {
  @volatile private var current: ArgsSerializer = JsonArgsSerializer
  def active: ArgsSerializer = current
  def install(s: ArgsSerializer): Unit = current = s
  def reset(): Unit = current = JsonArgsSerializer
}
