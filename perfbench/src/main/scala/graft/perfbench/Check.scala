package graft.perfbench

import java.nio.charset.StandardCharsets.UTF_8
import org.apache.spark.sql.Row

/** Order-insensitive digests of query results and warehouse tables.
  *
  * A result is a multiset of rows; its digest is the row count plus the
  * sum (mod 2^64) of the first 8 bytes of each row's MD5. Values are
  * rendered explicitly (bytes as hex, maps sorted by key) so the digest
  * never depends on object identity or map iteration order. */
object Check {

  final case class Digest(rows: Long, hash: String) {
    def json: String = s"""{"rows":$rows,"hash":"$hash"}"""
  }

  def render(v: Any): String = v match {
    case null => "null"
    case b: Array[Byte] => b.map(x => f"${x & 0xff}%02x").mkString("0x", "", "")
    case r: Row => r.toSeq.map(render).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => render(k) -> render(x) }.sorted
        .map { case (k, x) => s"$k->$x" }.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(render).mkString("[", ",", "]")
    case a: Array[_] => a.map(render).mkString("[", ",", "]")
    case d: java.lang.Double => java.lang.Double.toString(d)
    case f: java.lang.Float => java.lang.Float.toString(f)
    case x => x.toString
  }

  def digest(rows: Iterator[Row]): Digest = {
    val md = java.security.MessageDigest.getInstance("MD5")
    var n = 0L
    var acc = 0L
    rows.foreach { r =>
      val d = md.digest(render(r).getBytes(UTF_8))
      acc += java.nio.ByteBuffer.wrap(d).getLong
      n += 1
    }
    Digest(n, java.lang.Long.toHexString(acc))
  }

  def digest(rows: Array[Row]): Digest = digest(rows.iterator)

  /** `None` when `got` equals `want`, else the reason for the failure. */
  def compare(what: String, want: Any, got: Any): Option[String] =
    if (want == got) None else Some(s"$what: expected $want, got $got")
}
