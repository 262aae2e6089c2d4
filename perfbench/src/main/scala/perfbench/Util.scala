package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}

import scala.collection.mutable.ArrayBuffer

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

/** Writes the harness's output files (Scala maps and sequences) as JSON. */
object Json {
  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)

  def writeFile(path: Path, v: Any): Unit = {
    Files.createDirectories(path.getParent)
    Files.write(path, (mapper.writeValueAsString(v) + "\n").getBytes(UTF_8))
  }
}

object Stats {
  /** Linear-interpolated quantile (q in [0,1]) of a non-empty sample. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
  /** Geometric mean of positive values. */
  def gmean(xs: Seq[Double]): Double = math.exp(mean(xs.map(math.log)))
}

/** One timed region. `parent` is -1 for a root span; spans of one
  * operation share the root's `op` identifier.
  */
final case class Span(id: Int, parent: Int, op: String, name: String,
                      startNs: Long, endNs: Long, attrs: Map[String, Any]) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** In-memory span recorder; written out once when the run ends. */
final class Tracer {
  val spans = ArrayBuffer.empty[Span]
  private val t0 = System.nanoTime()

  def add(parent: Int, op: String, name: String, startNs: Long, endNs: Long,
          attrs: Map[String, Any] = Map.empty): Int = synchronized {
    spans += Span(spans.size, parent, op, name, startNs, endNs, attrs)
    spans.size - 1
  }

  def toJson: Seq[Map[String, Any]] = spans.toSeq.map { s =>
    scala.collection.immutable.ListMap[String, Any](
      "id" -> s.id, "parent" -> s.parent, "op" -> s.op, "name" -> s.name,
      "start_ms" -> (s.startNs - t0) / 1e6, "dur_ms" -> s.ms) ++ s.attrs
  }
}
