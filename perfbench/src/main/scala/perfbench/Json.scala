package perfbench

import com.fasterxml.jackson.databind.ObjectMapper

/** Minimal JSON building on the Jackson that ships with Spark: objects are
  * insertion-ordered Java maps, lists are Java lists. */
object Json {
  private val mapper = new ObjectMapper()

  def obj(kvs: (String, Any)*): java.util.LinkedHashMap[String, AnyRef] = {
    val m = new java.util.LinkedHashMap[String, AnyRef]()
    kvs.foreach { case (k, v) => m.put(k, box(v)) }
    m
  }

  def list(xs: Iterable[Any]): java.util.ArrayList[AnyRef] = {
    val l = new java.util.ArrayList[AnyRef]()
    xs.foreach(x => l.add(box(x)))
    l
  }

  private def box(v: Any): AnyRef = v match {
    case null => null
    case m: scala.collection.Map[_, _] => obj(m.toSeq.map { case (k, x) => k.toString -> x }: _*)
    case xs: Iterable[_] => list(xs)
    case a: AnyRef => a
    case x => x.asInstanceOf[AnyRef] // boxes Int/Long/Double/Boolean
  }

  def write(path: String, value: AnyRef): Unit =
    mapper.writerWithDefaultPrettyPrinter().writeValue(new java.io.File(path), value)

  /** (key, module) pairs from a JSON list of {"key", "module", ...} objects. */
  def readKeys(path: String): Seq[(String, String)] = {
    val node = mapper.readTree(new java.io.File(path))
    (0 until node.size()).map(i => node.get(i).get("key").asText() -> node.get(i).get("module").asText())
  }
}
