package graft.delivery

/** Flat JSON-object codec for webhook header maps (the reference stores
  * headers as JSONB and walks key/value pairs at send time,
  * `src/cdc_webhook.c:59-94`). Hand-rolled to keep executor closures free of
  * JSON library deps; headers are flat string→string by contract. */
object HeadersCodec {
  /** Compiled once: [[parse]] runs per delivered row on the SYNC sink and
    * the ASYNC dispatcher. */
  private val Pair = """"((?:[^"\\]|\\.)+)"\s*:\s*"((?:[^"\\]|\\.)*)"""".r

  def toJson(m: Map[String, String]): String =
    m.map { case (k, v) => s""""${esc(k)}":"${esc(v)}"""" }.mkString("{", ",", "}")

  def parse(json: String): Map[String, String] =
    Pair.findAllMatchIn(json).map(g => unesc(g.group(1)) -> unesc(g.group(2))).toMap

  private def esc(s: String): String =
    s.replace("\\", "\\\\").replace("\"", "\\\"")
  private def unesc(s: String): String =
    s.replace("\\\"", "\"").replace("\\\\", "\\")
}
