package graft.perfbench

import java.math.{BigDecimal => JBig, RoundingMode}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}

/** Metrics one pool document must carry; `None` where the reference
  * writes null (no lookup match, so no bet).
  */
final case class PoolExpect(size: Long, rtp: Option[Double],
    hitFrequency: Option[Double], volatility: Option[Double])

/** The correctness side of the benchmark, in plain Scala.
  *
  * Pool metrics are recomputed from the generator's per-file win
  * histogram and lookup bet with the formulas the reference's golden
  * output pins (SURVEY.md): half-even rounding through the decimal
  * form of the double, as Spark's `bround` does, volatility from the
  * already-rounded rtp, each variance term rounded to 4 places before
  * the exact sum.
  */
object Expected {
  private val mapper = new ObjectMapper()

  def readJson(p: Path): JsonNode = mapper.readTree(p.toFile)

  private def bround(x: Double, scale: Int): Double =
    JBig.valueOf(x).setScale(scale, RoundingMode.HALF_EVEN).doubleValue

  /** `entry` is one generator record: {"bet": n|null, "hist": [[win, count], ...]}. */
  def pool(entry: JsonNode): PoolExpect = {
    val hist = entry.get("hist").elements().asScala.map(p => (p.get(0).asLong, p.get(1).asLong)).toSeq
    val n = hist.map(_._2).sum
    val bet = Option(entry.get("bet")).filterNot(_.isNull).map(_.asDouble)
      .filter(b => b > 0 && n > 0)
    bet match {
      case None => PoolExpect(n, None, None, None)
      case Some(b) =>
        val total = hist.map { case (w, c) => w * c }.sum
        val hits = hist.collect { case (w, c) if w > 0 => c }.sum
        val rtp = bround(total.toDouble / (n.toDouble * b) * 100, 2)
        val hit = bround(hits.toDouble / n.toDouble * 100, 2)
        val variance = hist.map { case (w, c) =>
          JBig.valueOf(bround((c.toDouble / n.toDouble) *
            StrictMath.pow(w.toDouble / b - rtp / 100, 2), 4))
            .setScale(4, RoundingMode.HALF_EVEN)
        }.foldLeft(JBig.ZERO)(_ add _)
        val vol = bround(1.645 * math.sqrt(variance.doubleValue), 2)
        PoolExpect(n, Some(rtp), Some(hit), Some(vol))
    }
  }

  /** Lines of the generated file: parsed lines plus dropped ones. */
  def lines(entry: JsonNode): Long =
    entry.get("hist").elements().asScala.map(_.get(1).asLong).sum + entry.get("dropped").asLong

  private def optD(n: JsonNode): Option[Double] =
    if (n == null || n.isNull) None else Some(n.asDouble)

  /** The documents of the consolidated JSON, keyed by source file. */
  def readDocs(file: Path): Map[String, JsonNode] = {
    val text = new String(Files.readAllBytes(file), StandardCharsets.UTF_8)
    graft.pol.PoolJsonSink.splitTopLevel(text)
      .map { case (k, raw) => k -> mapper.readTree(raw) }.toMap
  }

  /** Mismatches between one written document and its expectation. */
  def diff(path: String, doc: JsonNode, e: PoolExpect): Seq[String] = {
    val got = Seq(
      "size" -> Some(doc.get("size").asDouble),
      "rtp" -> optD(doc.get("rtp")),
      "hit_frequency" -> optD(doc.get("metadata").get("hit_frequency")),
      "volatility" -> optD(doc.get("volatility")))
    val want = Seq(Some(e.size.toDouble), e.rtp, e.hitFrequency, e.volatility)
    got.zip(want).collect { case ((field, g), w) if g != w =>
      s"$path: $field ${g.getOrElse("null")}, expected ${w.getOrElse("null")}"
    }
  }
}
