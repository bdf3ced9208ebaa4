package perfbench

/** Host CPU counters from /proc/stat: the deltas over a run say how
  * busy the machine was and how much CPU the hypervisor stole. */
final case class HostStat(total: Long, idle: Long, steal: Long) {
  def minus(o: HostStat): HostStat = HostStat(total - o.total, idle - o.idle, steal - o.steal)
  def stealPct: Double = if (total <= 0) 0.0 else 100.0 * steal / total
  def busyPct: Double = if (total <= 0) 0.0 else 100.0 * (total - idle - steal) / total
}

object HostStat {
  def read(): HostStat = try {
    val src = scala.io.Source.fromFile("/proc/stat")
    val line = try src.getLines().next() finally src.close()
    // cpu user nice system idle iowait irq softirq steal guest guest_nice
    val f = line.trim.split("\\s+").drop(1).map(_.toLong)
    val stealT = if (f.length > 7) f(7) else 0L
    // guest time is already inside user/nice
    HostStat(f.take(8).sum, f(3) + (if (f.length > 4) f(4) else 0L), stealT)
  } catch { case _: Exception => HostStat(0, 0, 0) }
}

/** Minimal JSON rendering for the result lines and the span file. */
object Json {
  def value(v: Any): String = v match {
    case null => "null"
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => value(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] => m.map { case (k, x) => quote(k.toString) + ": " + value(x) }
      .mkString("{", ", ", "}")
    case s: Iterable[_] => s.map(value).mkString("[", ", ", "]")
    case other => quote(other.toString)
  }
  def obj(kv: (String, Any)*): String = value(scala.collection.immutable.ListMap(kv: _*))
  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }
}
