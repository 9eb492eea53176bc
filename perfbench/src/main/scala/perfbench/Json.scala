package perfbench

/** Minimal JSON writer for the benchmark's records. */
object Json {
  def str(s: String): String = graft.finance.serving.ApiJson.str(s)

  def value(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => value(x)
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double =>
      require(!d.isNaN && !d.isInfinite, s"non-finite number $d")
      d.toString
    case f: Float => value(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case Raw(text) => text
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => str(k.toString) + ":" + value(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(value).mkString("[", ",", "]")
    case o => str(o.toString)
  }

  def obj(fields: (String, Any)*): String =
    fields.map { case (k, v) => str(k) + ":" + value(v) }.mkString("{", ",", "}")

  /** Already-rendered JSON text. */
  final case class Raw(text: String)
}
