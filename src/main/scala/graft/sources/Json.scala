package graft.sources

import scala.jdk.CollectionConverters._
import com.fasterxml.jackson.databind.{DeserializationFeature, JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.{BooleanNode, LongNode, ObjectNode, TextNode}
import org.apache.hadoop.fs.{FileSystem, Path => HPath}

/** The one JSON codec of the engine's on-disk metadata: commit-log commits
  * and checkpoints, catalog descriptors, index meta files and stream
  * offsets. Output is compact and deterministic: object fields keep the
  * order they were given in, and Scala maps render with sorted keys. A
  * read accepts exactly one JSON object — empty, truncated or
  * trailing-garbage text reads as None — and ignores unknown fields. */
private[graft] object Json {
  private val mapper = new ObjectMapper()
    .enable(DeserializationFeature.FAIL_ON_TRAILING_TOKENS)

  /** `v` as a JSON tree: strings, longs, ints, booleans, pairs (as
    * two-element arrays), maps (keys sorted), other iterables (in order),
    * ready-made nodes and `Some` of any of these. */
  def tree(v: Any): JsonNode = v match {
    case n: JsonNode => n
    case Some(x) => tree(x)
    case s: String => TextNode.valueOf(s)
    case l: Long => LongNode.valueOf(l)
    case i: Int => LongNode.valueOf(i.toLong)
    case b: Boolean => BooleanNode.valueOf(b)
    case (a, b) => tree(Seq(a, b))
    case m: Map[_, _] =>
      obj(m.toSeq.map { case (k, x) => k.toString -> x }.sortBy(_._1): _*)
    case xs: Iterable[_] =>
      val a = mapper.createArrayNode()
      xs.foreach(x => a.add(tree(x)))
      a
  }

  /** An object with `fields` in the given order; a field whose value is
    * None is left out. */
  def obj(fields: (String, Any)*): ObjectNode = {
    val o = mapper.createObjectNode()
    fields.foreach {
      case (_, None) => ()
      case (k, v) => o.set[JsonNode](k, tree(v))
    }
    o
  }

  def write(fields: (String, Any)*): String =
    mapper.writeValueAsString(obj(fields: _*))

  /** `s` as one JSON object; None for anything else. */
  def parse(s: String): Option[ObjectNode] =
    try mapper.readTree(s) match {
      case o: ObjectNode => Some(o)
      case _ => None
    } catch { case _: java.io.IOException => None }

  /** The whole content of a small metadata file, read to EOF (a single
    * read may return short on remote stores); None when it does not
    * exist. */
  def readFile(fs: FileSystem, p: HPath): Option[String] = {
    val in = try fs.open(p) catch {
      case _: java.io.FileNotFoundException => return None
    }
    try Some(new String(in.readAllBytes(), java.nio.charset.StandardCharsets.UTF_8))
    finally in.close()
  }

  // Typed views of one node: None when it is missing or of another type.
  def str(n: JsonNode): Option[String] =
    if (n.isTextual) Some(n.textValue) else None
  def long(n: JsonNode): Option[Long] =
    if (n.isIntegralNumber && n.canConvertToLong) Some(n.longValue) else None
  def bool(n: JsonNode): Option[Boolean] =
    if (n.isBoolean) Some(n.booleanValue) else None
  def pair(n: JsonNode): Option[(Long, Long)] =
    seq(n)(long).collect { case Seq(lo, hi) => (lo, hi) }
  /** An array whose every element decodes. */
  def seq[T](n: JsonNode)(f: JsonNode => Option[T]): Option[Seq[T]] =
    if (!n.isArray) None
    else {
      val xs = n.elements().asScala.map(f).toVector
      if (xs.forall(_.isDefined)) Some(xs.flatten) else None
    }
  /** An object whose every value decodes. */
  def map[T](n: JsonNode)(f: JsonNode => Option[T]): Option[Map[String, T]] =
    if (!n.isObject) None
    else {
      val kvs = n.properties().asScala.toVector
        .map(e => f(e.getValue).map(e.getKey -> _))
      if (kvs.forall(_.isDefined)) Some(kvs.flatten.toMap) else None
    }

  /** An optional field whose damage must not be read around: absent reads
    * as `empty`, present must decode (None = damaged). */
  def strict[T](n: JsonNode, empty: T)(f: JsonNode => Option[T]): Option[T] =
    if (n.isMissingNode) Some(empty) else f(n)
  /** [[strict]] for a field that is itself optional. */
  def optional[T](n: JsonNode)(f: JsonNode => Option[T]): Option[Option[T]] =
    strict(n, Option.empty[T])(f(_).map(Some(_)))
}
