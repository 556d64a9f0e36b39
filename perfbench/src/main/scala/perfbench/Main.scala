package perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** One benchmark workload: how the session is set up, warmed and measured.
  * All inputs come from the generated files under `inputs`; everything the
  * program writes goes under `work`. */
trait Workload {
  /** The part of set-up done on every freshly built session: load or check
    * the inputs and make one small call. */
  def prepare(spark: SparkSession, rep: Int): Unit
  def warmup(h: Harness): Unit
  /** Closed loop: the next call is issued only after the previous returned.
    * `seconds` is a floor: the loop always runs whole rounds of its cycles. */
  def measure(h: Harness, seconds: Double, trace: Boolean): Unit
  /** After the measured window: final checks and facts for the record. */
  def finish(h: Harness, trace: Boolean): collection.Map[String, Any]
}

/** `Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *   --inputs <dir> --work <dir> --out <dir> --cpus <n>`
  *
  * Builds the session several times (the first build is the cold one a
  * user pays; the warm rebuilds go to the record), warms it, runs the
  * workload's closed loop and writes `calls.jsonl`, `meta.json` and, when
  * traced, `spans.jsonl` under `--out`. Metrics are computed from those files
  * by `perfbench/run.py`. */
object Main {
  val SetupReps = 3

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val trace = a("trace") == "1"
    val inputs = a("inputs")
    val work = a("work")
    val out = a("out")
    val cpus = a("cpus").toInt

    val w: Workload = workload match {
      case "llm-curation" => new Curation(inputs, work)
      case "crystal-store" => new CrystalStore(inputs, work, seed)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val mainMs = System.currentTimeMillis()
    val la0 = graft.Bench.loadAvg()
    val jif0 = graft.Bench.cpuJiffies()
    val buildS = mutable.ArrayBuffer.empty[Double]
    val setupS = (0 until SetupReps).map { rep =>
      val t0 = System.nanoTime()
      val spark = graft.GraftSession.build(s"local[$cpus]", cpus)
      buildS += (System.nanoTime() - t0) / 1e9
      w.prepare(spark, rep)
      val d = (System.nanoTime() - t0) / 1e9
      if (rep < SetupReps - 1) spark.stop()
      d
    }
    val spark = SparkSession.active
    val h = new Harness(spark, out, s"$workload-$seed-${if (trace) "t" else "u"}")
    val w0 = System.nanoTime()
    w.warmup(h)
    val warmupS = (System.nanoTime() - w0) / 1e9
    val m0 = System.nanoTime()
    w.measure(h, seconds, trace)
    val measureS = (System.nanoTime() - m0) / 1e9
    val facts = w.finish(h, trace)
    val la1 = graft.Bench.loadAvg()
    val (steal, busy) = graft.Bench.cpuDelta(jif0, graft.Bench.cpuJiffies())
    h.finish(trace)
    val meta = mutable.LinkedHashMap[String, Any](
      "workload" -> workload, "seed" -> seed, "seconds" -> seconds, "trace" -> trace,
      "cpus" -> cpus, "nproc" -> Runtime.getRuntime.availableProcessors(),
      "jvm_to_main_s" -> (mainMs - jvmStartMs) / 1000.0,
      "setup_reps_s" -> setupS, "session_build_reps_s" -> buildS.toSeq,
      "warmup_s" -> warmupS, "measure_s" -> measureS,
      "peak_rss_gib" -> Host.peakRssGib(),
      "load1_start" -> la0._1, "load1_end" -> la1._1,
      "steal_pct" -> steal, "busy_pct" -> busy,
      "failures" -> h.failures.toSeq,
      "facts" -> facts)
    Json.write(s"$out/meta.json", meta)
    spark.stop()
  }
}
