package perfbench

import org.apache.spark.sql.Row

/** Independent last-writer-wins model of a changelog over the key
  * space `[0, keySpace)`. It parses each envelope with its own small
  * JSON reader and applies the reference's envelope rules in log
  * order (CdcMsgParser.java:45-83):
  *   - no key array: dropped;
  *   - `update` is an object: `{}` keeps only the key (payload columns
  *     null), otherwise the payload is the new row;
  *   - `update` present but not an object, and `newImage` a non-empty
  *     object: newImage is the new row;
  *   - else `erase` present: the key is deleted;
  *   - anything else (newImage alone included): dropped.
  * Applying envelopes one at a time in log order is what per-batch
  * LWW followed by an upsert must produce.
  */
final class Model(keySpace: Int) {
  private val live = new Array[Boolean](keySpace)
  private val eventType = new Array[String](keySpace)
  private val valueMilli = new Array[java.lang.Long](keySpace)
  private var nLive = 0

  def liveRows: Int = nLive

  def put(key: Long, et: String, vm: java.lang.Long): Unit = {
    val k = key.toInt
    if (!live(k)) { live(k) = true; nLive += 1 }
    eventType(k) = et
    valueMilli(k) = vm
  }

  def erase(key: Long): Unit = {
    val k = key.toInt
    if (live(k)) { live(k) = false; nLive -= 1 }
    eventType(k) = null
    valueMilli(k) = null
  }

  def apply(envelope: String): Unit = {
    val env = Json.parse(envelope).asInstanceOf[Map[String, Any]]
    def present(f: String) = env.get(f).exists(_ != null)
    def isObj(f: String) = env.get(f).exists(_.isInstanceOf[Map[_, _]])
    def obj(f: String) = env(f).asInstanceOf[Map[String, Any]]
    val key = env.get("key") match {
      case Some(k: Vector[_]) if k.nonEmpty => asLong(k.head)
      case _ => None
    }
    key.foreach { k =>
      if (isObj("update") && obj("update").isEmpty) put(k, null, null)
      else if (isObj("update")) row(k, obj("update"))
      else if (present("update") && isObj("newImage") &&
        obj("newImage").nonEmpty) row(k, obj("newImage"))
      else if (present("erase")) erase(k)
    }
  }

  private def row(k: Long, payload: Map[String, Any]): Unit =
    put(k, payload.get("event_type").collect {
      case s: String => s
      case n: BigDecimal => n.toString
    }.orNull, payload.get("value_milli").flatMap(asLong)
      .map(Long.box).orNull)

  private def asLong(v: Any): Option[Long] = v match {
    case n: BigDecimal if n.isWhole && n.isValidLong => Some(n.toLong)
    case s: String => s.trim.toLongOption
    case _ => None
  }

  /** Compare sink rows `(user_id, event_type, value_milli)` exactly
    * with the model. Returns the first few differences (empty = equal).
    */
  def diff(rows: Iterator[Row]): Seq[String] = {
    val seen = new Array[Boolean](keySpace)
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    def bad(s: String): Unit = if (out.length < 5) out += s
    var n = 0
    rows.foreach { r =>
      n += 1
      val k = r.getLong(0)
      if (k < 0 || k >= keySpace || !live(k.toInt))
        bad(s"key $k is in the sink but not live in the model")
      else if (seen(k.toInt)) bad(s"key $k appears twice in the sink")
      else {
        seen(k.toInt) = true
        val et = if (r.isNullAt(1)) null else r.getString(1)
        val vm = if (r.isNullAt(2)) null else Long.box(r.getLong(2))
        if (et != eventType(k.toInt) || vm != valueMilli(k.toInt))
          bad(s"key $k: sink ($et, $vm) != model " +
            s"(${eventType(k.toInt)}, ${valueMilli(k.toInt)})")
      }
    }
    if (n != nLive) bad(s"sink has $n rows, model has $nLive live keys")
    out.toSeq
  }
}

/** Minimal JSON reader: objects -> Map, arrays -> Vector, numbers ->
  * BigDecimal, strings, booleans and null.
  */
object Json {
  def parse(s: String): Any = {
    val p = new Parser(s)
    val v = p.value()
    p.ws()
    require(p.i == s.length, s"trailing text at ${p.i}: $s")
    v
  }

  private final class Parser(s: String) {
    var i = 0
    def ws(): Unit = while (i < s.length && s(i).isWhitespace) i += 1
    def expect(c: Char): Unit = {
      ws()
      require(i < s.length && s(i) == c, s"expected '$c' at $i: $s")
      i += 1
    }
    def value(): Any = {
      ws()
      s(i) match {
        case '{' =>
          i += 1; ws()
          val m = scala.collection.mutable.LinkedHashMap.empty[String, Any]
          if (s(i) == '}') i += 1
          else {
            var more = true
            while (more) {
              ws()
              val k = str()
              expect(':')
              m(k) = value()
              ws()
              if (s(i) == ',') i += 1 else { expect('}'); more = false }
            }
          }
          m.toMap
        case '[' =>
          i += 1; ws()
          val b = Vector.newBuilder[Any]
          if (s(i) == ']') i += 1
          else {
            var more = true
            while (more) {
              b += value()
              ws()
              if (s(i) == ',') i += 1 else { expect(']'); more = false }
            }
          }
          b.result()
        case '"' => str()
        case 't' => i += 4; true
        case 'f' => i += 5; false
        case 'n' => i += 4; null
        case _ =>
          val st = i
          while (i < s.length && "+-0123456789.eE".indexOf(s(i)) >= 0) i += 1
          BigDecimal(s.substring(st, i))
      }
    }
    def str(): String = {
      require(s(i) == '"', s"expected string at $i: $s")
      i += 1
      val b = new StringBuilder
      while (s(i) != '"') {
        if (s(i) == '\\') {
          i += 1
          s(i) match {
            case 'n' => b += '\n'
            case 't' => b += '\t'
            case 'r' => b += '\r'
            case 'b' => b += '\b'
            case 'f' => b += '\f'
            case 'u' =>
              b += Integer.parseInt(s.substring(i + 1, i + 5), 16).toChar
              i += 4
            case c => b += c
          }
        } else b += s(i)
        i += 1
      }
      i += 1
      b.toString
    }
  }
}
