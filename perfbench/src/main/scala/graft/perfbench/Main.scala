package graft.perfbench

import java.io.File
import java.nio.charset.StandardCharsets
import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Benchmark entry point: one workload, one seed, one process.
  *
  * {{{
  * Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *      --work <dir> --out <dir> --cpus <n>
  * }}}
  * All inputs are generated under `--work` from the seed; `--out` gets
  * `detail.json` (every metric and sample) and, when tracing, the span
  * file and the per-span table. */
object Main {
  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
                        work: File, out: File, cpus: Int)

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    a.work.mkdirs(); a.out.mkdirs()
    val steal0 = stealMs()
    val t0 = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[${a.cpus}]")
      .appName(s"perfbench-${a.workload}")
      .config("spark.sql.shuffle.partitions", a.cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", new File(a.work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(a.work, "warehouse").getPath)
      .getOrCreate()
    graft.sources.LocalFsInstall.install(spark)
    spark.sparkContext.setLogLevel("WARN")
    val builtS = (System.nanoTime() - t0) / 1e9
    // the first Spark job pays class loading and codegen set-up once
    spark.range(100000L).selectExpr("sum(id % 7)").collect()
    val sessionS = (System.nanoTime() - t0) / 1e9

    val runId = s"${a.workload}-${a.seed}-${if (a.trace) "trace" else "plain"}"
    val run = new Run(spark, a, new Tracer(spark, a.trace, runId), sessionS)
    run.facts ++= Seq("session_build_s" -> builtS, "session_s" -> sessionS)
    try a.workload match {
      case "pipeline_full" => Workloads.pipelineFull(run)
      case "silver_incremental" => Workloads.silverIncremental(run)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    } catch {
      case e: Throwable =>
        run.op("workload")(throw e)
        e.printStackTrace()
    }
    run.metric("host.steal_ms", stealMs() - steal0, "ms")
    run.metric("peak_rss_mb", peakRssMb(), "MB")
    val spans = run.tracer.report()
    run.finish(spans)
    spark.stop()
  }

  private def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toDouble, need("trace") == "1",
      new File(need("work")), new File(need("out")), need("cpus").toInt)
  }

  /** Steal time of the whole host so far, from /proc/stat. */
  private def stealMs(): Double = try {
    val cpu = scala.io.Source.fromFile("/proc/stat").getLines().next().trim.split("\\s+")
    cpu(8).toDouble * 10.0 // USER_HZ ticks of 10 ms
  } catch { case _: Exception => 0.0 }

  /** Peak resident set size of this JVM (VmHWM). */
  private def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
}

/** The state of one benchmark run: operations, failures, samples and
  * metrics, written to `detail.json` at the end. */
final class Run(val spark: SparkSession, val args: Main.Args, val tracer: Tracer,
                val sessionS: Double) {
  var attempted = 0L
  var failed = 0L
  val failures = mutable.ArrayBuffer.empty[String]
  val opMs = mutable.ArrayBuffer.empty[Double]
  val readMs = mutable.ArrayBuffer.empty[Double]
  val facts = mutable.LinkedHashMap.empty[String, Any]
  private val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
  private var currentOk = true

  def deadline: Long = measureStart + (args.seconds * 1e9).toLong
  private var measureStart = Long.MaxValue

  def work(name: String): File = new File(args.work, name)

  def metric(name: String, value: Double, unit: String): Unit = metrics(name) = (value, unit)

  def fail(msg: String): Unit = {
    if (failures.size < 20) failures += msg
    System.err.println(s"[perfbench] FAILED: $msg")
    currentOk = false
  }

  /** A check of an output; a false one fails the operation it belongs to. */
  def expect(ok: Boolean, msg: => String): Unit = if (!ok) fail(msg)

  /** One operation: counted as attempted, and as failed when it throws or
    * a check inside it fails. */
  def op[A](name: String)(body: => A): Option[A] = {
    attempted += 1
    currentOk = true
    val r = try Some(body) catch {
      case e: Throwable =>
        fail(s"$name: ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}")
        None
    }
    if (!currentOk) failed += 1
    r
  }

  /** Marks the end of set-up: `setup_s` is the session start plus `rest`,
    * and the measured window starts now. */
  def startMeasuring(rest: Double): Unit = {
    metric("setup_s", sessionS + rest, "s")
    tracer.startMeasuring()
    measureStart = System.nanoTime()
  }

  def inWindow: Boolean = System.nanoTime() < deadline

  def finish(spans: Seq[(Span, Map[String, Double])]): Unit = {
    metric("op_p50_ms", Stats.quantile(opMs.toSeq, 0.5), "ms")
    metric("read_p50_ms", Stats.quantile(readMs.toSeq, 0.5), "ms")
    metric("error_rate", if (attempted == 0) 1.0 else failed.toDouble / attempted, "ratio")
    // per-layer: the median over the measured calls of each span name
    val measured = spans.filter(s => tracer.isMeasured(s._1)).groupBy(_._1.name)
    for ((name, calls) <- measured.toSeq.sortBy(_._1); counter <- calls.head._2.keys.toSeq.sorted)
      metric(s"$name.$counter", Stats.quantile(calls.map(_._2(counter)), 0.5),
        Stats.unitOf(counter))
    val out = args.out
    Json.write(new File(out, "detail.json"), Map(
      "workload" -> args.workload, "seed" -> args.seed, "trace" -> args.trace,
      "seconds" -> args.seconds, "cpus" -> args.cpus,
      "correct" -> (failed == 0 && attempted > 0), "attempted" -> attempted, "failed" -> failed,
      "failures" -> failures.toSeq,
      "metrics" -> metrics.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) },
      "samples" -> Map("op_ms" -> opMs.toSeq, "read_ms" -> readMs.toSeq),
      "facts" -> facts))
    if (tracer.enabled) SpanFiles.write(out, spans, tracer)
  }
}

object Stats {
  /** Linear-interpolation quantile (the "inclusive" method); NaN if empty. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted.toIndexedSeq
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  def unitOf(counter: String): String = counter match {
    case c if c.endsWith("_s") || c == "s" => "s"
    case c if c.endsWith("_bytes") || c == "bytes_written" => "bytes"
    case c if c.endsWith("_ratio") => "ratio"
    case _ => "count"
  }
}

/** Order-independent digest of a table's contents: row count, and the
  * sum and xor of a 64-bit hash of each row. Columns whose names start
  * with `_` (load and compute timestamps) are skipped; floating-point
  * values are rounded to 6 decimals so that summation order cannot
  * change the digest. */
object Digest {
  def of(df: DataFrame): String = {
    val cols = df.schema.fields.filterNot(_.name.startsWith("_")).map { f =>
      val c = col(s"`${f.name}`")
      f.dataType match {
        case FloatType | DoubleType => round(c.cast(DoubleType), 6)
        case ArrayType(FloatType | DoubleType, _) => transform(c, x => round(x.cast(DoubleType), 6))
        case _ => c
      }
    }
    val h = xxhash64(cols.toIndexedSeq: _*)
    val r = df.agg(count(lit(1)), sum(h.cast(DecimalType(38, 0))), bit_xor(h)).head()
    // sum and xor are NULL over an empty table
    s"${r.getLong(0)}:${Option(r.getDecimal(1)).getOrElse(0)}:${if (r.isNullAt(2)) 0L else r.getLong(2)}"
  }

  /** The digests one seed gave in an earlier run in this checkout, which
    * this run must repeat; the first run records them. */
  def agreeWithEarlierRuns(run: Run, key: String, digests: Map[String, String]): Unit = {
    val f = new File(new File(run.args.work.getParentFile, "digests"), s"$key.json")
    if (f.isFile) {
      val earlier = Json.readFlat(f)
      for ((t, d) <- digests)
        run.expect(earlier.get(t).forall(_ == d),
          s"$t digest $d differs from an earlier run of this seed (${earlier(t)})")
    } else {
      f.getParentFile.mkdirs()
      Json.write(f, digests)
    }
  }
}

/** A minimal JSON writer and a flat string-map reader; the benchmark has
  * no JSON library of its own. */
object Json {
  def write(f: File, v: Any): Unit =
    java.nio.file.Files.write(f.toPath, (render(v) + "\n").getBytes(StandardCharsets.UTF_8))

  def render(v: Any): String = v match {
    case null => "null"
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => s"${quote(k.toString)}:${render(x)}" }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(render).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }

  /** Reads a JSON object of string values, as [[write]] writes one. */
  def readFlat(f: File): Map[String, String] = {
    val txt = new String(java.nio.file.Files.readAllBytes(f.toPath), StandardCharsets.UTF_8)
    "\"((?:[^\"\\\\]|\\\\.)*)\":\"((?:[^\"\\\\]|\\\\.)*)\"".r.findAllMatchIn(txt)
      .map(m => m.group(1) -> m.group(2)).toMap
  }
}
