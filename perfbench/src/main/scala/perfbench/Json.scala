package perfbench

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper

/** JSON in and out of the benchmark JVM, through the Jackson that Spark ships. */
object Json {
  private val mapper = new ObjectMapper()

  final case class Obj(m: java.util.Map[String, AnyRef]) {
    private def num(k: String) = m.get(k).asInstanceOf[Number]
    def long(k: String): Long = num(k).longValue
    def double(k: String): Double = num(k).doubleValue
    def str(k: String): String = m.get(k).toString
    def bool(k: String): Boolean = m.get(k).asInstanceOf[java.lang.Boolean]
    def doubles(k: String): Seq[Double] =
      m.get(k).asInstanceOf[java.util.List[Number]].asScala.map(_.doubleValue).toSeq
    def objs(k: String): Seq[Obj] =
      m.get(k).asInstanceOf[java.util.List[java.util.Map[String, AnyRef]]].asScala.map(Obj).toSeq
    def obj(k: String): Obj = Obj(m.get(k).asInstanceOf[java.util.Map[String, AnyRef]])
  }

  def read(path: String): Obj =
    Obj(mapper.readValue(Paths.get(path).toFile, classOf[java.util.Map[String, AnyRef]]))

  /** Scala maps, sequences and scalars, written as JSON. */
  def write(path: String, value: Any): Unit =
    Files.writeString(Paths.get(path), mapper.writeValueAsString(toJava(value)))

  private def toJava(v: Any): Any = v match {
    case m: Map[_, _] =>
      val out = new java.util.LinkedHashMap[String, Any]()
      m.toSeq.sortBy(_._1.toString).foreach { case (k, x) => out.put(k.toString, toJava(x)) }
      out
    case s: Iterable[_] => s.map(toJava).toSeq.asJava
    case d: Double if d.isNaN || d.isInfinite => null
    case x => x
  }
}
