package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.SparkSession

/** Benchmark JVM. `run.py` builds it and starts it once per run:
  *
  *   --workload W --seed N --seconds S --trace 0|1
  *   --data DIR (base tables) --work DIR (scratch) --expected DIR
  *   [--smoke] [--record] [--prepare]
  *
  * A run sets up (session, inputs, one untimed verification pass that
  * checks every operation's output), then runs timed passes over the
  * workload's operations, each pass in a seed-permuted order, until
  * `--seconds` have passed. The last stdout line is the result JSON.
  * `--prepare` only builds the ten-fold replica; `--record` also
  * writes the digests seen and parquet dumps of every query. */
object Main {
  final case class Args(m: Map[String, String]) {
    def apply(k: String): String = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    def flag(k: String): Boolean = m.contains(k)
  }

  def parse(a: Array[String]): Args = {
    val m = mutable.Map.empty[String, String]
    var i = 0
    while (i < a.length) {
      val k = a(i).stripPrefix("--")
      if (i + 1 < a.length && !a(i + 1).startsWith("--")) { m(k) = a(i + 1); i += 2 }
      else { m(k) = ""; i += 1 }
    }
    Args(m.toMap)
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val cores = Runtime.getRuntime.availableProcessors
    val spark = graft.Sessions.local(cores.toString, logLevel = "ERROR")
    try {
      if (a.flag("prepare")) Replica.build(spark, a("data"), a("x10"))
      else run(a, spark, cores)
    } finally spark.stop()
  }

  private def nowMs: Long = System.currentTimeMillis()

  private def gcMs: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(b => math.max(0L, b.getCollectionTime)).sum

  private def procStatus(key: String): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith(key + ":")).map(_.split("\\s+")(1).toDouble).getOrElse(0.0)

  private def load1: String =
    Files.readString(Paths.get("/proc/loadavg")).split(" ")(0)

  def run(a: Args, spark: SparkSession, cores: Int): Unit = {
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val loadAtStart = load1
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val traced = a("trace") == "1"
    val cfg = Config(seed, a("data"), a("x10"), a("work"), a("expected"), a.flag("smoke"))
    spark.conf.set("spark.sql.catalog.graftcat", classOf[TimedCatalog].getName)
    val sc = spark.sparkContext
    val wl = Workload(a("workload"), spark, cfg)
    val ops = if (cfg.smoke) wl.ops.take(3) else wl.ops
    def phase(what: String): Unit =
      System.err.println(f"[perfbench] $what at ${(nowMs - jvmStartMs) / 1000.0}%.2f s")
    phase("session ready")

    var attempted = 0
    var failed = 0
    wl.prepare()
    phase("inputs ready")
    // untimed verification of every operation, `verifyThreads` at a time
    val pool = java.util.concurrent.Executors.newFixedThreadPool(wl.verifyThreads)
    val checks = try {
      ops.map(op => pool.submit(() => try wl.verify(op) catch { case e: Throwable =>
        System.err.println(s"[perfbench] $op threw in verification: $e"); false
      })).map(_.get)
    } finally pool.shutdown()
    attempted += ops.size
    failed += checks.count(ok => !ok)
    wl.cleanup()
    phase("verification done")
    if (a.flag("record")) Record.write(spark, wl, cfg)

    // untimed passes run exactly like the timed ones, so they start warm
    val quiet = new Tracer(sc, enabled = false)
    for (_ <- 0 until wl.warmupPasses; op <- ops) {
      attempted += 1
      try wl.run(op, quiet) catch { case e: Throwable =>
        failed += 1
        System.err.println(s"[perfbench] $op failed in a warm-up pass: $e")
      }
      wl.cleanup()
    }
    System.gc()

    // timed passes; with --trace 1 they alternate traced and untraced
    // in T U U T order, so drift over the run cancels in trace.overhead
    // (what remains of the warm-up lands on a traced pass: the overhead
    // reads high rather than low)
    val setupS = (nowMs - jvmStartMs) / 1000.0
    val tracer = new Tracer(sc, enabled = true)
    val passes = mutable.ArrayBuffer.empty[PassRec]
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    var pass = 0
    // at least two passes (four with tracing: T U U T), so every run
    // has the same shape even when one pass outlasts --seconds
    val minPasses = if (traced) 4 else 2
    while (elapsed < seconds || passes.size < minPasses) {
      val on = traced && (pass % 4 == 0 || pass % 4 == 3)
      val tr = if (on) tracer else quiet
      if (on) { tr.attach(); tr.listener.foreach(_.resetCache()) }
      val order = new Random(seed * 1000003L + pass).shuffle(ops)
      val lat = mutable.ArrayBuffer.empty[(String, Double)]
      val gc0 = gcMs
      val p0 = System.nanoTime()
      order.foreach { op =>
        val id = s"p$pass:$op"
        attempted += 1
        tr.beginOp(id)
        val s0 = System.nanoTime()
        try tr.span("op")(wl.run(op, tr))
        catch { case e: Throwable =>
          failed += 1
          System.err.println(s"[perfbench] $op failed: $e")
        }
        lat += op -> (System.nanoTime() - s0) / 1e6
        tr.endOp()
        wl.cleanup()
      }
      val wallS = (System.nanoTime() - p0) / 1e9
      if (on) tr.detach()
      passes += PassRec(pass, on, wallS, lat.toSeq, (gcMs - gc0) / 1000.0,
        tr.listener.map(_.cachePeak.get).getOrElse(0L))
      pass += 1
    }

    val untraced = passes.filterNot(_.traced).toSeq
    val tracedPasses = passes.filter(_.traced).toSeq
    val metrics: Seq[(String, Double, String)] =
      if (!traced) {
        Seq(
          ("setup_s", setupS, "s"),
          ("pass_s", Stats.median(untraced.map(_.wallS)), "s"),
          ("peak_rss_mb", procStatus("VmHWM") / 1024.0, "MB"))
      } else Layers.metrics(wl, tracer, tracedPasses, untraced, cores)

    val stamp = Seq(
      "workload" -> wl.name, "seed" -> seed.toString, "trace" -> traced.toString,
      "nproc" -> cores.toString, "spark_cores" -> sc.defaultParallelism.toString,
      "driver_heap_mb" -> (Runtime.getRuntime.maxMemory / (1 << 20)).toString,
      "spark_version" -> spark.version, "jdk" -> System.getProperty("java.version"),
      "load1_at_start" -> loadAtStart, "ops_per_pass" -> ops.size.toString,
      "passes" -> passes.size.toString, "timed_s" -> f"$elapsed%.3f") ++ wl.stamp
    val outDir = Paths.get(cfg.work, "out")
    Files.createDirectories(outDir)
    val tag = s"${wl.name}-seed$seed-trace${if (traced) 1 else 0}"
    if (traced) {
      Files.writeString(outDir.resolve(s"$tag.spans.jsonl"), Layers.spansJsonl(tracer))
      println(Layers.table(wl.name, metrics))
    }
    val perOp = untraced.flatMap(_.lat).groupBy(_._1).toSeq.sortBy(_._1)
      .map { case (op, xs) => op -> Stats.median(xs.map(_._2)) }
    val opLayers = if (!traced) Seq.empty else Seq("op_layers" -> Json.obj(
      Layers.perOp(tracer, tracedPasses).map { case (op, kv) =>
        op -> Json.obj(kv.map { case (k, v) => k -> Json.num(v) }) }))
    Files.writeString(outDir.resolve(s"$tag.json"), Json.obj(Seq(
      "stamp" -> Json.strObj(stamp),
      "op_median_ms" -> Json.obj(perOp.map { case (k, v) => k -> Json.num(v) }),
      "pass_s" -> Json.arr(passes.toSeq.map(p => Json.num(p.wallS)))) ++ opLayers ++ Seq(
      "metrics" -> Json.metrics(metrics))) + "\n")
    println(Json.obj(Seq("stamp" -> Json.strObj(stamp))))
    println(Json.obj(Seq(
      "correct" -> (failed == 0).toString,
      "attempted" -> attempted.toString,
      "failed" -> failed.toString,
      "metrics" -> Json.metrics(metrics))))
  }
}

/** One timed pass: wall time, per-operation latencies, JVM GC time and
  * (traced) the peak of cached blocks. */
final case class PassRec(pass: Int, traced: Boolean, wallS: Double,
    lat: Seq[(String, Double)], gcS: Double, cachePeak: Long)

object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  /** Merged length of possibly overlapping [start, end) intervals. */
  def union(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total
  }
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(d: Double): String = if (d.isNaN || d.isInfinite) "null" else d.toString
  def obj(kv: Seq[(String, String)]): String = kv.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")
  def arr(xs: Seq[String]): String = xs.mkString("[", ", ", "]")
  def strObj(kv: Seq[(String, String)]): String = obj(kv.map { case (k, v) => k -> str(v) })
  def metrics(ms: Seq[(String, Double, String)]): String =
    obj(ms.map { case (n, v, u) => n -> obj(Seq("value" -> num(v), "unit" -> str(u))) })
}
