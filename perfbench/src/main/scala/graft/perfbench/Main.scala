package graft.perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}

import org.apache.spark.sql.SparkSession

/** Listeners a measured pass reads: streaming progress (per-trigger wall
  * times) and job/task counters.
  */
final case class Probes(progress: ProgressLog, tasks: TaskLog)

/** One benchmark workload: `setup` generates and stages its seeded inputs
  * and warms the engine up; `measure` runs one timed pass and its
  * correctness checks.
  */
trait Workload {
  type Prepared
  def setup(spark: SparkSession, a: Args, dir: Path): Prepared
  def measure(spark: SparkSession, a: Args, p: Prepared, probes: Probes): PassResult
}

/** Entry point: `Main --workload <name> --seed <n> --seconds <s> --trace
  * <0|1> --work <dir> --traces <dir> --cpus <n> [--param
  * k=v ...]`. Writes `result.json` into the work directory, and a traced
  * run's spans into the traces directory; run.py turns the result into the
  * benchmark's one-line output.
  */
object Main {
  private val workloads: Map[String, Workload] = Map(
    "spoke_serve" -> SpokeServe,
    "train_stream" -> TrainStream,
    "curate_batch" -> CurateBatch)

  private def json(ms: Seq[Metric]): String = ms.map { m =>
    require(!m.value.isNaN && !m.value.isInfinite, s"metric ${m.name} is ${m.value}")
    s""""${m.name}":{"value":${m.value},"unit":"${m.unit}"}"""
  }.mkString("{", ",", "}")

  private def esc(s: String): String =
    s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case c if c < ' ' => " "
      case c => c.toString
    }

  private def passJson(r: PassResult): String = {
    val checks = r.checks.map(c =>
      s"""{"name":"${c.name}","attempted":${c.attempted},"failed":${c.failed},"detail":"${esc(c.detail)}"}""")
    val oracle = r.oracle.map { case (op, out, sql) =>
      s"""{"op":"$op","out":"${esc(out)}","sql":"${esc(sql)}"}"""
    }
    s"""{"e2e":${json(r.e2e)},"layers":${json(r.layers)},""" +
      s""""checks":${checks.mkString("[", ",", "]")},"oracle":${oracle.mkString("[", ",", "]")},""" +
      s""""tables":"${esc(r.tables)}"}"""
  }

  def main(argv: Array[String]): Unit = {
    val a = Args.parse(argv)
    val w = workloads(a.workload)
    // every scratch file the engine makes goes under the work directory
    System.setProperty("java.io.tmpdir", Fs.mkdirs(a.work.resolve("tmp")).toString)

    // set-up, timed once from JVM start: session start, input generation
    // and staging, warm-up
    val t0 = System.nanoTime() - Session.sinceJvmStartMs * 1000000L
    val spark = Session.build(a)
    System.err.println(f"[perfbench] setup: session ready at ${(System.nanoTime() - t0) / 1e9}%.2f s")
    val prepared = w.setup(spark, a, Fs.mkdirs(a.work.resolve("setup")))
    val setupS = (System.nanoTime() - t0) / 1e9
    System.err.println(f"[perfbench] setup: ${setupS}%.2f s")

    val probes = Probes(new ProgressLog, new TaskLog)
    spark.streams.addListener(probes.progress)
    spark.sparkContext.addSparkListener(probes.tasks)
    // one measured pass: untraced for the end-to-end metrics, traced for
    // the per-layer ones (comparing the two kinds of run gives the
    // tracing overhead, so a traced run also reports its own end-to-end
    // figures, under "traced.")
    val result = if (!a.trace) w.measure(spark, a, prepared, probes)
    else {
      val jvm = new JvmLog
      val gc0 = jvm.gcMs
      jvm.start()
      Trace.on = true
      Trace.run = s"${a.workload}-seed${a.seed}"
      val r = w.measure(spark, a, prepared, probes)
      Trace.on = false
      jvm.stop()
      Trace.write(Fs.mkdirs(a.traces).resolve(s"${Trace.run}.spans.jsonl"), Trace.all)
      r.copy(layers = r.layers ++ r.e2e.map(m => m.copy(name = s"traced.${m.name}")) ++ Seq(
        Metric("jvm.gc_ms", (jvm.gcMs - gc0).toDouble, "ms"),
        Metric("jvm.heap_after_gc_mb.max", jvm.maxHeapAfterGc / 1048576.0, "MB")))
    }
    spark.stop()

    Files.write(a.work.resolve("result.json"),
      s"""{"workload":"${a.workload}","seed":${a.seed},"setup_s":$setupS,"pass":${passJson(result)}}"""
        .getBytes(StandardCharsets.UTF_8))
  }
}
