package graft.kgbench

import java.nio.file.{Files, Path, Paths}

/** One workload: the inputs it generates from the seed and the operation
  * it repeats in a closed loop (one client; the next operation starts when
  * the previous one has committed). */
sealed trait Workload { def name: String }

/** Each operation is a full `Pipeline.triples` → `TripleSink.writeTriples`
  * build over `docs` synthesized documents. */
final case class BuildWorkload(name: String, docs: Long, skewPct: Int,
    hotRepeats: Int) extends Workload

/** Each operation is one `DocStream.run` micro-batch: a drain streams a
  * backlog of `batches` pre-written files of `docsPerBatch` documents. */
final case class StreamWorkload(name: String, batches: Int,
    docsPerBatch: Long) extends Workload

object Workload {
  val all: Seq[Workload] = Seq(
    // InterleavedDocs.synthesize's default shape: 2% of docs carry 32
    // head-entity tokens, about 13.5 triples per doc
    BuildWorkload("kg_bulk", docs = 10000, skewPct = 2, hotRepeats = 32),
    // the same build on a mention-dense, head-heavy shape: half the docs
    // carry 256 head-entity tokens, at a similar triple count
    BuildWorkload("kg_headskew", docs = 10000, skewPct = 50, hotRepeats = 256),
    StreamWorkload("kg_stream", batches = 3, docsPerBatch = 400))

  def byName(n: String): Workload = all.find(_.name == n).getOrElse(
    throw new IllegalArgumentException(s"unknown workload $n"))
}

/** Command-line options of one harness run. */
final case class Opts(workload: Workload, seed: Long, seconds: Double,
    trace: Boolean, cores: Int, work: Path, traces: Path,
    fingerprints: Path) {
  /** A path under the run's work dir, its parent directory created. */
  def dir(name: String): String = {
    val d = work.resolve(name)
    Files.createDirectories(d.getParent)
    d.toString
  }
}

object Opts {
  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    def need(k: String) = m.getOrElse(k,
      throw new IllegalArgumentException(s"missing --$k"))
    Opts(Workload.byName(need("workload")), need("seed").toLong,
      need("seconds").toDouble, need("trace") == "1", need("cores").toInt,
      Paths.get(need("work")), Paths.get(need("traces")),
      Paths.get(need("fingerprints")))
  }
}

/** Runs one workload and prints its result as the last stdout line:
  * `{"correct", "attempted", "failed", "metrics"}`. */
object Main {
  def main(args: Array[String]): Unit = {
    val o = Opts.parse(args)
    val r = if (o.trace) Traced.run(o) else EndToEnd.run(o)
    println(Json.obj("detail" -> r.detail))
    println(r.line)
    System.out.flush()
  }
}

/** A run's outcome: the result line plus a detail object. */
final case class RunResult(correct: Boolean, attempted: Int, failed: Int,
    metrics: Seq[(String, Double, String)], detail: String) {
  def line: String = Json.obj(
    "correct" -> correct.toString,
    "attempted" -> attempted.toString,
    "failed" -> failed.toString,
    "metrics" -> Json.obj(metrics.map { case (n, v, u) =>
      n -> Json.obj("value" -> Json.num(v), "unit" -> Json.str(u))
    }: _*))
}

/** Minimal JSON writing: values are passed pre-rendered. */
object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else d.toString
  def obj(kv: (String, String)*): String =
    kv.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")
  def arr(xs: Iterable[String]): String = xs.mkString("[", ", ", "]")
  def nums(xs: Iterable[Double]): String = arr(xs.map(num))
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** The highest percentile with at least ten samples beyond it: the
    * 11th-largest sample. Below 21 samples no percentile above the median
    * qualifies, and the median is returned. (value, percentile). */
  def tail(xs: Seq[Double]): (Double, Double) = {
    val s = xs.sorted
    val n = s.length
    if (n < 21) (median(xs), 50.0)
    else (s(n - 11), 100.0 * (n - 10) / n)
  }
}

/** Host context recorded beside every sample. */
object Host {
  def loadavg: String = scala.util.Try(
    scala.io.Source.fromFile("/proc/loadavg").mkString.trim.split(" ")
      .take(3).mkString("[", ", ", "]")).getOrElse("[]")

  /** Aggregate (steal, busy) CPU ticks from /proc/stat. */
  def cpuTicks: (Long, Long) = scala.util.Try {
    val v = scala.io.Source.fromFile("/proc/stat").getLines().next()
      .trim.split("\\s+").drop(1).map(_.toLong)
    (if (v.length > 7) v(7) else 0L, v(0) + v(1) + v(2) + v(5) + v(6))
  }.getOrElse((0L, 0L))

  def stealPct(t0: (Long, Long), t1: (Long, Long)): Double = {
    val steal = t1._1 - t0._1
    val busy = t1._2 - t0._2
    100.0 * steal / math.max(1L, steal + busy)
  }

  /** Peak resident set of this process (VmHWM), in MB. */
  def peakRssMb: Double = scala.util.Try {
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).get.split("\\s+")(1).toDouble / 1024.0
  }.getOrElse(Double.NaN)
}
