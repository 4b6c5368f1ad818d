package graft.perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** The benchmark's JVM side: starts one session, sets a workload up, runs
  * its ops in a closed loop (one client thread) for the requested seconds,
  * checks the results, and writes `result.json` under `--out`.
  *
  *   Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *        --data <input dir> --work <scratch dir> --out <dir> --cores <n>
  */
object Main {

  /** One closed-loop operation. */
  final case class Op(name: String, body: () => Unit)

  trait Workload {
    /** Everything before the first timed op: base build and warm-up. */
    def setup(): Unit
    /** The ops of round `r`; every run attempts whole rounds. */
    def round(r: Int): Seq[Op]
    /** Correctness checks and checker self-tests, after the timed phase. */
    def check(c: Checks): Unit
    /** This workload's per-layer counts and ratios over the timed phase
      * [t0, t1] (span times are measured in Main for every workload). */
    def layerMetrics(t0: Long, t1: Long): Map[String, Double] = Map.empty
  }

  final class Checks {
    val results = mutable.ArrayBuffer.empty[(String, Boolean, String)]
    def apply(name: String, ok: Boolean, detail: => String = ""): Unit =
      results += ((name, ok, if (ok) "" else detail))
    /** A checker's self-test: fed a deliberately wrong input it must fail. */
    def mustFail(name: String, verdict: Option[String]): Unit =
      apply(s"selftest:$name", verdict.isDefined, "checker accepted a wrong input")
  }

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val traced = a("trace") == "1"
    val cores = a("cores").toInt
    val out = a("out")
    Files.createDirectories(Paths.get(out))
    val tr = new Tracer(traced)
    val startNs = System.nanoTime()
    val spark = tr.span("GraftSession.start") {
      val s = graft.GraftSession.builder(master = s"local[$cores]",
        shufflePartitions = cores).getOrCreate()
      s.sparkContext.setLogLevel("WARN")
      s
    }
    tr.install(spark)
    val res = new Json
    try {
      val w: Workload = workload match {
        case "query_mix" => new QueryMix(spark, tr, a("data"), out, seed)
        case "lake_trickle" => new LakeTrickle(spark, tr, a("data"), a("work"), out, seed)
        case other => throw new IllegalArgumentException(s"unknown workload $other")
      }
      w.setup()
      // ---- timed phase: whole rounds until the time is up
      val lat = mutable.ArrayBuffer.empty[Double]
      var failed = 0
      tr.drain()
      val c0 = tr.snapshot()
      val firstOpMs = System.currentTimeMillis()
      val t0 = System.nanoTime()
      val cpu0 = Jvm.cpuNs; val gc0 = Jvm.gcMs; val jit0 = Jvm.jitMs
      val deadline = t0 + (seconds * 1e9).toLong
      var r = 0
      while (System.nanoTime() < deadline) {
        w.round(r).foreach { op =>
          val s0 = System.nanoTime()
          try tr.span("op") { op.body() }
          catch { case e: Throwable =>
            failed += 1
            System.err.println(s"[perfbench] op ${op.name} failed: $e")
            e.printStackTrace()
          }
          lat += (System.nanoTime() - s0) / 1e9
        }
        r += 1
      }
      val t1 = System.nanoTime()
      val cpu1 = Jvm.cpuNs; val gc1 = Jvm.gcMs; val jit1 = Jvm.jitMs
      tr.drain()
      val c1 = tr.snapshot()
      val d = c1.map { case (k, v) => k -> (v - c0(k)).toDouble }.withDefaultValue(0.0)
      val wall = (t1 - t0) / 1e9
      val n = lat.size
      res("first_op_epoch_ms", firstOpMs)
      res("startup_s", (t0 - startNs) / 1e9)
      res("attempted", n); res("failed", failed); res("rounds", r)
      res("wall_s", wall)
      res("cpu_s", (cpu1 - cpu0) / 1e9)
      res("latencies_s", lat.toSeq)
      if (traced) {
        val m = mutable.LinkedHashMap.empty[String, Double]
        // one-off set-up calls: their single duration
        m("GraftSession.start_s") = tr.mean("GraftSession.start", startNs, t0)
        m("operators.Pipeline.base_build_s") =
          tr.mean("operators.Pipeline.base_build", startNs, t0)
        m("operators.Pipeline.tick_s") = tr.mean("operators.Pipeline.tick", startNs, t0)
        // calls into the program's layers: mean seconds per call in the
        // timed phase, 0 on a workload that makes no such call
        Seq("operators.build",
            "sources.GraftTable.merge", "sources.GraftTable.read_warm",
            "sources.GraftTable.read_cold", "sources.GraftTable.manifest",
            "sources.GraftTable.changes", "sources.GraftTable.compact",
            "sources.GraftTable.history")
          .foreach(k => m(s"${k}_s") = tr.mean(k, t0, t1))
        // Spark under the program, per op: jobs that start in the timed
        // phase, each taken whole
        val jobUnion = tr.jobUnion(t0, t1) / 1e9
        m("spark.catalyst_s") = d("catalyst_ns") / 1e9 / n
        m("spark.jobs_per_op") = tr.jobsIn(t0, t1).toDouble / n
        m("spark.stages_per_op") = d("stages") / n
        m("spark.tasks_per_op") = d("tasks") / n
        m("spark.job_wall_s") = jobUnion / n
        m("spark.driver_gap_s") = (wall - jobUnion) / n
        m("spark.executor_run_s") = d("exec_run_ms") / 1e3 / n
        m("spark.executor_cpu_s") = d("exec_cpu_ns") / 1e9 / n
        m("spark.executor_gc_s") = d("exec_gc_ms") / 1e3 / n
        m("spark.slot_busy_share") =
          if (jobUnion > 0) d("exec_run_ms") / 1e3 / (jobUnion * cores) else 0.0
        m("spark.shuffle_write_bytes") = d("shuffle_write") / n
        m("spark.shuffle_read_bytes") = d("shuffle_read") / n
        m("spark.spill_bytes") = d("spill") / n
        m("spark.input_bytes") = d("input") / n
        m("spark.output_bytes") = d("output") / n
        m("jvm.gc_s") = (gc1 - gc0) / 1e3 / n
        m("jvm.jit_s") = (jit1 - jit0) / 1e3 / n
        m("jvm.retained_heap_mb") = Jvm.retainedHeapMb
        // module counts and ratios: 0 unless the workload measures them
        Seq("sources.GraftTable.files_per_commit", "sources.GraftTable.bytes_per_commit",
            "sources.GraftTable.space_amp", "operators.Pipeline.tick_jobs",
            "streaming.batch_overhead_s", "streaming.wal_s").foreach(k => m(k) = 0.0)
        m ++= w.layerMetrics(t0, t1)
        res("layers", m.toMap)
        // bounds that must hold for the counters to be trusted
        res("bound_exec_cpu_le_process_cpu", d("exec_cpu_ns") <= (cpu1 - cpu0))
        res("bound_job_union_le_op_wall", jobUnion <= wall)
        res("spans", tr.allSpans.map(s =>
          Seq(s.id, s.parent, s.name, s.startNs - startNs, s.endNs - startNs)))
      }
      // ---- checks, outside the timed phase
      val c = new Checks
      w.check(c)
      res("checks", c.results.map { case (k, ok, d) => Seq(k, ok, d) }.toSeq)
      res("ok", true)
    } catch { case e: Throwable =>
      e.printStackTrace()
      res("ok", false)
      res("error", e.toString)
    } finally {
      spark.streams.active.foreach(_.stop())
      spark.stop()
    }
    Files.writeString(Paths.get(out, "result.json"), res.render)
  }
}

/** A minimal JSON object writer for the result file. */
final class Json {
  private val fields = mutable.LinkedHashMap.empty[String, Any]
  def apply(k: String, v: Any): Unit = fields(k) = v
  def render: String = value(fields.toMap)
  private def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  private def value(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] =>
      m.map { case (k, x) => str(k.toString) + ": " + value(x) }.mkString("{", ", ", "}")
    case s: Iterable[_] => s.map(value).mkString("[", ", ", "]")
    case other => str(other.toString)
  }
}
