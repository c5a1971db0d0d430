package graftbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.Files
import scala.collection.mutable

/** The benchmark JVM: runs one workload and writes its record (JSON) for
  * run.py, which prints the result. Usage:
  * {{{
  * graftbench.Main --workload W --seed N --seconds S --trace 0|1
  *   --cores C --work DIR --out FILE [--expected FILE] [--record FILE]
  *   [--tables DIR] [--inputs-only 1]
  * }}}
  * Untraced: warm-up units, then timed units for at least S seconds.
  * Traced: warm-up, untraced units for S/2 seconds (the overhead
  * baseline), then traced units for S/2 seconds (at least two). */
object Main {
  /** The `queries` pass: TPC-H plans (scan/join/aggregate, where
    * construction, planning and scheduling dominate) and the iterative
    * entries of the graph, dedup and similarity modules (where eager
    * driver-launched jobs dominate). A subset of each, sized to the
    * run budget; see README.md. */
  val Queries: Seq[String] = Seq("q1_pricing_summary", "q3_shipping_priority",
    "q_pagerank", "dedup_incremental", "emb_top_pc")
  /** Scale of the generated TPC-H-shaped tables (lineitem ~60k rows). */
  val EntriesSf = 0.01

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val seconds = a("seconds").toDouble
    val traced = a("trace") == "1"
    val cores = a("cores").toInt
    val work = new File(a("work"))
    val canary = Canary.measure(cores)

    val spark = graft.Sessions.withMaster(s"local[$cores]", cores.toString)
    val tr = new Tracer(spark)
    val ctx = new Ctx(spark, tr, work, a("seed").toLong)
    val expected = a.get("expected").map(f => "\"([^\"]+)\":\\s*\"([^\"]+)\"".r
      .findAllMatchIn(Files.readString(new File(f).toPath)).map(m => m.group(1) -> m.group(2)).toMap)
      .getOrElse(Map.empty)
    val record = a.get("record").map(new File(_))
    val w: Workload = a("workload") match {
      case "etl_bulk" => new EtlBulk(ctx, 60000)
      case "etl_trickle" => new EtlTrickle(ctx, 3600)
      case "queries" => new Entries(ctx, Queries, EntriesSf, new File(a("tables")), expected, record)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

    w.setup()
    if (a.get("inputs-only").contains("1")) {
      Files.writeString(new File(a("out")).toPath, Json(Map("inputs" -> w.inputs)) + "\n")
      spark.stop()
      return
    }
    val units = mutable.ArrayBuffer[UnitRec]()
    def run(phase: String, n: Int, secs: Double): Unit = {
      val t0 = System.nanoTime()
      var done = 0
      // a skipped drop is not a sample, so it does not count
      while (done < n || (System.nanoTime() - t0) / 1e9 < secs) {
        val u = w.unit(units.size, phase)
        units += u
        if (!u.skipped) done += 1
      }
    }
    run("warmup", w.warmup, 0)
    val setupS = (ManagementFactory.getRuntimeMXBean.getUptime - canary.totalMs) / 1e3
    if (traced) {
      run("plain", 2, seconds / 2)
      tr.enable()
      run("traced", 2, seconds / 2)
    } else run("timed", w.minUnits, seconds)
    w.finish()

    val host = Map("cores" -> cores, "available_processors" -> Runtime.getRuntime.availableProcessors,
      "max_heap_mb" -> Runtime.getRuntime.maxMemory / (1 << 20),
      "java_version" -> sys.props("java.version"), "java_vm" -> sys.props("java.vm.name"),
      "spark_version" -> spark.version, "master" -> spark.sparkContext.master,
      "canary_one_thread_ms" -> canary.oneMs, "canary_all_cores_ms" -> canary.allMs)
    val record_ = Map(
      "workload" -> a("workload"), "seed" -> ctx.seed, "traced" -> traced, "host" -> host,
      "setup_s" -> setupS, "peak_rss_mb" -> Canary.peakRssMb,
      "units" -> units.map(u => Map("index" -> u.index, "phase" -> u.phase, "wall_ms" -> u.wallMs,
        "skipped" -> u.skipped, "metrics" -> unitMetrics(u, cores))),
      "ops" -> ctx.ops.map(o => Map("index" -> o.index, "unit" -> o.unit, "name" -> o.name,
        "wall_ms" -> o.wallMs, "cpu_ms" -> o.cpuMs, "error" -> o.error.orNull)),
      "summary" -> w.summary)
    Files.writeString(new File(a("out")).toPath, Json(record_) + "\n")
    if (traced) {
      val spans = tr.spans.map(s => Json(Map("id" -> s.id, "parent" -> s.parent, "op" -> s.op,
        "name" -> s.name, "start_ms" -> s.startMs, "end_ms" -> s.endMs)))
      Files.writeString(new File(a("out") + ".spans.jsonl").toPath, spans.mkString("", "\n", "\n"))
    }
    spark.stop()
  }

  /** A unit's layer metrics: its operations' totals (peaks as maxima)
    * plus the workload's own figures for the unit. */
  def unitMetrics(u: UnitRec, cores: Int): Map[String, Double] = {
    val m = mutable.HashMap[String, Double]()
    for (o <- u.ops; (k, v) <- o.metrics if k != "last_query.plan_ms")
      m(k) = if (k.startsWith("spark.peak")) math.max(m.getOrElse(k, 0.0), v) else m.getOrElse(k, 0.0) + v
    if (m.contains("spark.task_run_s"))
      m("spark.busy_frac") = m("spark.task_run_s") * 1e3 / (u.wallMs * cores)
    m ++= u.extras
    m.toMap
  }
}

/** Host-shape canary: the same integer spin on one thread, then on every
  * core at once. On a box with free cores the two times are close; a
  * box with fewer cores than claimed, or a busy one, shows a larger
  * all-core time. */
final case class Canary(oneMs: Double, allMs: Double) {
  def totalMs: Double = oneMs + allMs
}

object Canary {
  private def spin(n: Long): Long = {
    var x = 88172645463325252L
    var i = 0L
    while (i < n) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1 }
    x
  }

  def measure(cores: Int): Canary = {
    val n = 100000000L
    spin(n / 10)  // compile the loop first
    val t0 = System.nanoTime()
    spin(n)
    val one = (System.nanoTime() - t0) / 1e6
    val t1 = System.nanoTime()
    val threads = (1 to cores).map(_ => new Thread(() => { spin(n); () }))
    threads.foreach(_.start())
    threads.foreach(_.join())
    Canary(one, (System.nanoTime() - t1) / 1e6)
  }

  /** Peak resident memory of this JVM (VmHWM), in MB. */
  def peakRssMb: Double = {
    val f = new File("/proc/self/status")
    if (!f.exists) 0.0
    else scala.io.Source.fromFile(f).getLines().find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024).getOrElse(0.0)
  }
}

/** Just enough JSON for the record: maps, sequences, strings, numbers. */
object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case b: Boolean => b.toString
    case n: Number => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => apply(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(apply).mkString("[", ",", "]")
    case x => apply(x.toString)
  }
}
