package perfbench

/** Minimal JSON values for the harness's output files (insertion-ordered
  * objects, numbers as doubles, NaN and infinities written as null). */
object Json {
  sealed trait Value { def render: String }
  case object Null extends Value { def render = "null" }
  final case class Bool(b: Boolean) extends Value { def render = b.toString }
  final case class Num(d: Double) extends Value {
    def render: String =
      if (d.isNaN || d.isInfinite) "null"
      else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
      else d.toString
  }
  final case class Str(s: String) extends Value {
    def render: String = s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    }.mkString("\"", "", "\"")
  }
  final class Arr extends Value {
    private val items = scala.collection.mutable.ArrayBuffer.empty[Value]
    def add(v: Value): Unit = items += v
    def add(d: Double): Unit = items += Num(d)
    def render: String = items.map(_.render).mkString("[", ",", "]")
  }
  object Arr {
    def apply(vs: Value*): Arr = { val a = new Arr; vs.foreach(a.add); a }
  }
  final class Obj extends Value {
    private val fields = scala.collection.mutable.LinkedHashMap.empty[String, Value]
    def put(k: String, v: Value): Unit = fields(k) = v
    def put(k: String, d: Double): Unit = fields(k) = Num(d)
    def render: String =
      fields.map { case (k, v) => Str(k).render + ":" + v.render }.mkString("{", ",", "}")
  }
  object Obj {
    def apply(kvs: (String, Value)*): Obj = { val o = new Obj; kvs.foreach(kv => o.put(kv._1, kv._2)); o }
  }
}
