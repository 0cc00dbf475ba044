package graft.config

import scala.collection.mutable
import scala.concurrent.duration._

/** Minimal HOCON-subset parser — just the surface the reference's configs
  * use (reference config/config.aws.{minimal,reference}.hocon and
  * modules/core/src/main/resources/reference.conf):
  *
  *  - objects `{ ... }`, with `"key": v`, `key = v`, and `"key" { ... }`
  *  - `#` and `//` comments; optional commas (newline-separated fields)
  *  - duplicate keys: objects deep-merge, later scalars win
  *  - `${NAME}` / `${?NAME}` environment substitution (unresolvable
  *    optional substitutions keep the previous value; unresolvable
  *    required ones resolve to null)
  *  - arrays, quoted/unquoted scalars, numbers, booleans, null
  *
  * Written from scratch against the HOCON spec subset those files
  * exercise; not a general HOCON implementation (no includes, no path
  * references into other files, no concatenation).
  */
object Hocon {

  sealed trait Value
  final case class Obj(fields: Map[String, Value]) extends Value {
    def get(path: String*): Option[Value] = path.toList match {
      case Nil => Some(this)
      case k :: Nil => fields.get(k)
      case k :: rest => fields.get(k) match {
        case Some(o: Obj) => o.get(rest: _*)
        case _ => None
      }
    }
    def str(path: String*): Option[String] = get(path: _*).collect {
      case Str(s) => s
      case Num(n) => if (n == n.toLong) n.toLong.toString else n.toString
      case Bool(b) => b.toString
    }
    def num(path: String*): Option[Double] = get(path: _*).collect {
      case Num(n) => n
      case Str(s) if s.matches("-?\\d+(\\.\\d+)?") => s.toDouble
    }
    def bool(path: String*): Option[Boolean] = get(path: _*).collect {
      case Bool(b) => b
      case Str("true") => true
      case Str("false") => false
    }
    /** The duration at `path`, if set; throws, naming the key, if it does
      * not parse.
      */
    def duration(path: String*): Option[FiniteDuration] =
      str(path: _*).map { s =>
        try parseDuration(s)
        catch { case e: IllegalArgumentException =>
          throw new IllegalArgumentException(s"${path.mkString(".")}: ${e.getMessage}", e) }
      }
  }
  final case class Arr(items: List[Value]) extends Value
  final case class Str(s: String) extends Value
  final case class Num(n: Double) extends Value
  final case class Bool(b: Boolean) extends Value
  case object Null extends Value

  /** "1500 millis", "10 seconds", "2 minutes", "1 hour" → FiniteDuration;
    * a bare number is milliseconds, as in HOCON.
    */
  def parseDuration(s: String): FiniteDuration = {
    val m = "^\\s*(\\d+)\\s*([a-zA-Z]*)\\s*$".r
    s match {
      case m(n, unit) =>
        val v = n.toLong
        unit.toLowerCase match {
          case "" | "ms" | "milli" | "millis" | "millisecond" | "milliseconds" => v.millis
          case "s" | "second" | "seconds" => v.seconds
          case "m" | "minute" | "minutes" => v.minutes
          case "h" | "hour" | "hours" => v.hours
          case "d" | "day" | "days" => v.days
          case u => throw new IllegalArgumentException(s"Unknown duration unit: $u")
        }
      case _ => throw new IllegalArgumentException(s"Cannot parse duration: $s")
    }
  }

  def parse(text: String, env: String => Option[String] = sys.env.get): Obj = {
    val p = new Parser(text, env)
    p.skipWs()
    val v = if (p.peek == '{') p.parseObj() else p.parseObjBody(mutable.LinkedHashMap.empty)
    p.skipWs()
    v
  }

  private final class Parser(text: String, env: String => Option[String]) {
    private var i = 0

    def peek: Char = if (i < text.length) text.charAt(i) else '\u0000'
    private def next(): Char = { val c = peek; i += 1; c }
    private def eof: Boolean = i >= text.length

    def skipWs(): Unit = {
      while (!eof) {
        val c = peek
        if (c.isWhitespace || c == ',') i += 1
        else if (c == '#') skipLine()
        else if (c == '/' && i + 1 < text.length && text.charAt(i + 1) == '/') skipLine()
        else return
      }
    }
    private def skipLine(): Unit = while (!eof && peek != '\n') i += 1

    def parseObj(): Obj = {
      require(next() == '{', s"expected '{' at $i")
      val fields = mutable.LinkedHashMap.empty[String, Value]
      skipWs()
      while (!eof && peek != '}') {
        parseField(fields)
        skipWs()
      }
      if (!eof) next() // consume '}'
      Obj(fields.toMap)
    }

    /** Top-level body without braces (reference.conf style is braced, but
      * bare roots are legal HOCON).
      */
    def parseObjBody(fields: mutable.LinkedHashMap[String, Value]): Obj = {
      skipWs()
      while (!eof) {
        parseField(fields)
        skipWs()
      }
      Obj(fields.toMap)
    }

    private def parseField(fields: mutable.LinkedHashMap[String, Value]): Unit = {
      val key = parseKey()
      skipWs()
      val value = peek match {
        case '{' => parseObj()
        case ':' | '=' => next(); skipWs(); parseValue()
        case _ => throw new IllegalArgumentException(
          s"expected ':', '=' or '{' after key '$key' at offset $i")
      }
      merge(fields, key, value)
    }

    /** Duplicate keys: deep-merge objects, later scalar wins; optional
      * substitutions that did not resolve keep the earlier value.
      */
    private def merge(fields: mutable.LinkedHashMap[String, Value],
        key: String, value: Value): Unit = value match {
      case SkippedSubstitution => // ${?MISSING} — keep previous binding
      case o: Obj => fields.get(key) match {
        case Some(prev: Obj) => fields(key) = deepMerge(prev, o)
        case _ => fields(key) = o
      }
      case v => fields(key) = v
    }

    private def deepMerge(a: Obj, b: Obj): Obj =
      Obj(a.fields ++ b.fields.map { case (k, v) =>
        k -> ((a.fields.get(k), v) match {
          case (Some(ao: Obj), bo: Obj) => deepMerge(ao, bo)
          case _ => v
        })
      })

    private def parseKey(): String = {
      skipWs()
      if (peek == '"') parseQuoted()
      else {
        val sb = new StringBuilder
        while (!eof && !":={,}\n#".contains(peek) && !peek.isWhitespace)
          sb.append(next())
        sb.toString
      }
    }

    private object SkippedSubstitution extends Value

    def parseValue(): Value = peek match {
      case '{' => parseObj()
      case '[' =>
        next(); skipWs()
        val items = mutable.ListBuffer.empty[Value]
        while (!eof && peek != ']') { items += parseValue(); skipWs() }
        if (!eof) next()
        Arr(items.toList)
      case '"' => Str(parseQuoted())
      case '$' => parseSubstitution()
      case _ =>
        val sb = new StringBuilder
        while (!eof && !",}\n#]".contains(peek)) sb.append(next())
        val s = sb.toString.trim
        s match {
          case "true" => Bool(true)
          case "false" => Bool(false)
          case "null" => Null
          case _ if s.matches("-?\\d+(\\.\\d+)?([eE]-?\\d+)?") => Num(s.toDouble)
          case _ => Str(s)
        }
    }

    private def parseSubstitution(): Value = {
      next() // '$'
      require(next() == '{', s"expected '{' after '$$' at $i")
      val optional = peek == '?'
      if (optional) next()
      val sb = new StringBuilder
      while (!eof && peek != '}') sb.append(next())
      if (!eof) next()
      env(sb.toString) match {
        case Some(v) => Str(v)
        case None if optional => SkippedSubstitution
        case None => Null
      }
    }

    private def parseQuoted(): String = {
      require(next() == '"')
      val sb = new StringBuilder
      while (!eof && peek != '"') {
        val c = next()
        if (c == '\\' && !eof) sb.append(next() match {
          case 'n' => '\n'; case 't' => '\t'; case 'r' => '\r'
          case other => other
        })
        else sb.append(c)
      }
      if (!eof) next()
      sb.toString
    }
  }
}
