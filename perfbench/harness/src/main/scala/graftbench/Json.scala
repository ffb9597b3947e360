package graftbench

import java.nio.file.{Files, Path}

import com.fasterxml.jackson.databind.ObjectMapper

/** Minimal JSON tree over Java collections, written with the Jackson
  * that ships with Spark. */
object Json {
  final class Obj {
    val fields = new java.util.LinkedHashMap[String, AnyRef]()
    def put(k: String, v: Any): Unit = fields.put(k, box(v))
  }

  def arr(xs: Iterable[Any]): java.util.ArrayList[AnyRef] = {
    val a = new java.util.ArrayList[AnyRef]()
    xs.foreach(x => a.add(box(x)))
    a
  }

  private def box(v: Any): AnyRef = v match {
    case null => null
    case o: Obj => o.fields
    case d: Double => if (d.isNaN || d.isInfinite) null else java.lang.Double.valueOf(d)
    case x: Long => java.lang.Long.valueOf(x)
    case x: Int => java.lang.Integer.valueOf(x)
    case x: Boolean => java.lang.Boolean.valueOf(x)
    case m: scala.collection.Map[_, _] =>
      val o = new Obj
      m.foreach { case (k, x) => o.put(k.toString, x) }
      o.fields
    case s: Iterable[_] => arr(s)
    case x: AnyRef => x
  }

  def write(path: Path, v: Obj): Unit =
    Files.writeString(path, new ObjectMapper().writeValueAsString(v.fields))
}
