package perfbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}

/** Traffic parameters of one workload, read from `perfbench/params.json`
  * (each entry is `{"value": ..., "why": ...}`), so the sizes a run uses
  * and the reasons recorded for them cannot drift apart.
  */
final class Params(node: JsonNode, section: String) {
  private def get(key: String): JsonNode = {
    val v = node.get(key)
    require(v != null, s"params.json: $section.$key is missing")
    v.get("value")
  }
  def int(key: String): Int = get(key).asInt()
  def long(key: String): Long = get(key).asLong()
  def double(key: String): Double = get(key).asDouble()
}

object Params {
  private val mapper = new ObjectMapper()

  def load(file: Path, workload: String): Params = {
    val root = mapper.readTree(file.toFile)
    val sec = root.get(workload)
    require(sec != null, s"params.json has no section '$workload'")
    new Params(sec, workload)
  }
}

/** Order statistics over a sample (linear interpolation between ranks). */
object Stats {
  def quantile(xs: Iterable[Double], q: Double): Double = {
    val s = xs.toArray.sorted
    require(s.nonEmpty, "quantile of an empty sample")
    val pos = q * (s.length - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def median(xs: Iterable[Double]): Double = quantile(xs, 0.5)
  def medianOr0(xs: Iterable[Double]): Double = if (xs.isEmpty) 0.0 else median(xs)
}

/** Closed-loop operation accounting. An operation that throws counts as
  * attempted and failed and contributes NO latency sample: a failure is
  * never timed, so an operation that fails fast cannot look fast.
  */
final class OpLog {
  private val samples = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  var attempted: Long = 0L
  var failed: Long = 0L
  val errors: mutable.ArrayBuffer[String] = mutable.ArrayBuffer.empty

  /** Run `body` as one operation of class `cls`; `Some(result)` on success. */
  def run[T](cls: String)(body: => T): Option[T] = {
    attempted += 1
    val t0 = System.nanoTime()
    try {
      val r = body
      record(cls, (System.nanoTime() - t0) / 1e9)
      Some(r)
    } catch {
      case NonFatal(e) =>
        failed += 1
        errors += s"$cls: ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}"
        None
    }
  }

  def record(cls: String, seconds: Double): Unit =
    samples.getOrElseUpdate(cls, mutable.ArrayBuffer.empty) += seconds

  def latencies(cls: String): Seq[Double] = samples.get(cls).map(_.toSeq).getOrElse(Seq.empty)
}

/** Result of one measured pass of a workload: end-to-end values plus the
  * per-layer values the traced pass adds, and the output-check verdict.
  */
final case class PassResult(
    e2e: Map[String, Double],
    layers: Map[String, Double],
    attempted: Long,
    failed: Long,
    checks: Seq[String]) // failed output checks, empty when correct

object Work {
  def fresh(dir: Path): Path = {
    deleteRecursively(dir.toFile)
    Files.createDirectories(dir)
  }

  def deleteRecursively(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteRecursively))
    f.delete()
  }

  def writeLines(file: Path, lines: Iterable[String]): Unit = {
    val sb = new StringBuilder
    lines.foreach { l => sb.append(l).append('\n') }
    Files.createDirectories(file.getParent)
    Files.write(file, sb.toString.getBytes(UTF_8))
  }

  /** Bytes of every regular file under `dir` (0 when absent). */
  def bytesUnder(dir: File): Long =
    if (!dir.exists()) 0L
    else if (dir.isFile) dir.length()
    else Option(dir.listFiles()).map(_.map(bytesUnder).sum).getOrElse(0L)

  /** Seconds since `t0Nanos`. */
  def since(t0Nanos: Long): Double = (System.nanoTime() - t0Nanos) / 1e9
}
