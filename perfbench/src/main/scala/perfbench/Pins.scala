package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.Row

/** Pinned expected outputs (`perfbench/pins.json`, a flat string map) and
  * the order-independent result checksum they are compared by. In `--pin`
  * mode the run records the values it saw instead, for run.py to merge. */
object Pins {
  private val file = Paths.get("perfbench", "pins.json")
  private lazy val pinned: Map[String, String] =
    if (!Files.exists(file)) Map.empty
    else Json.read(file).properties.asScala
      .map(e => e.getKey -> e.getValue.asText).toMap
  private val seen = mutable.LinkedHashMap.empty[String, String]

  def get(key: String): Option[String] = pinned.get(key)
  def put(key: String, value: String): Unit = synchronized(seen(key) = value)
  def write(to: Path): Unit = synchronized {
    Files.write(to, Json.obj(seen.toSeq.map { case (k, v) => k -> Json.str(v) })
      .getBytes("UTF-8"))
  }

  /** "<rows>:<checksum>": the row count and the wrapping sum of a hash of
    * each row's canonical text, so row order does not matter. Doubles are
    * written to 9 significant digits: the last bits of a floating sum
    * depend on how rows met, which no result contract pins. */
  def checksum(rows: Array[Row]): String = {
    def canon(v: Any): String = v match {
      case null => "∅"
      case d: Double => f"$d%.9g"
      case f: Float => f"${f.toDouble}%.6g"
      case r: Row => r.toSeq.map(canon).mkString("(", ",", ")")
      case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
      case other => other.toString
    }
    val sum = rows.iterator.map(r =>
      scala.util.hashing.MurmurHash3.stringHash(canon(r)).toLong & 0xffffffffL)
      .sum
    s"${rows.length}:$sum"
  }
}
