package perfbench

import scala.jdk.CollectionConverters._

/** Per-layer metrics of a traced run. Each value is the median over
  * the traced passes of that pass's total, so it reads "per pass".
  * A layer that did no work on a workload reports 0. */
object Layers {
  val Decades = Seq("w1e2", "w1e3", "w1e4")
  private val SchemaTimes = Seq("parse", "diff", "moves", "plan", "evolve", "render")

  def metrics(wl: Workload, tr: Tracer, traced: Seq[PassRec], untraced: Seq[PassRec],
      cores: Int): Seq[(String, Double, String)] = {
    val l = tr.listener.get
    val perPass = traced.map(p => passMetrics(wl, tr, l, p, cores))
    val names = perPass.head.map(m => (m._1, m._3))
    val med = names.map { case (n, u) =>
      (n, Stats.median(perPass.map(_.find(_._1 == n).get._2)), u)
    }
    val kindLat = Seq("diff", "apply").map { k =>
      val xs = untraced.flatMap(_.lat.filter(_._1.startsWith(k + "-")).map(_._2))
      (s"op.${k}_p50_ms", Stats.median(xs), "ms")
    }
    val migrated = untraced.flatMap(_.lat.filter(x => wl.rows(x._1) > 0))
    val migrateRate = if (migrated.isEmpty) 0.0
      else migrated.map(x => wl.rows(x._1)).sum / (migrated.map(_._2).sum / 1000.0)
    // geometric mean over the operations of each one's median latency:
    // every operation weighs the same, however long it runs
    val perOpMs = untraced.flatMap(_.lat).groupBy(_._1).values.map(xs => Stats.median(xs.map(_._2)))
    val gmean = math.exp(perOpMs.map(math.log).sum / perOpMs.size)
    val overhead = Stats.median(traced.map(_.wallS)) / Stats.median(untraced.map(_.wallS)) - 1.0
    med ++ kindLat ++ Seq(("op.migrate_rows_per_s", migrateRate, "1/s"),
      ("op.gmean_ms", gmean, "ms"), ("trace.overhead", overhead, "ratio"))
  }

  private def passMetrics(wl: Workload, tr: Tracer, l: BenchListener, p: PassRec,
      cores: Int): Seq[(String, Double, String)] = {
    val prefix = s"p${p.pass}:"
    val spans = tr.spans.filter(_.op.startsWith(prefix)).toSeq
    def opName(s: Span) = s.op.stripPrefix(prefix)
    def ms(name: String, keep: Span => Boolean = _ => true) =
      spans.filter(s => s.name == name && keep(s)).map(_.ms).sum
    def count(name: String, keep: String => Boolean = _ => true) =
      tr.counts.collect { case ((op, n), v) if n == name && op.startsWith(prefix) &&
        keep(op.stripPrefix(prefix)) => v }.sum
    val jobs = l.jobs.values.asScala.filter(_.op.startsWith(prefix)).toSeq
    val stages = jobs.flatMap(_.stages.asScala).distinct.flatMap(s => Option(l.stages.get(s)))
    val taskRunS = stages.map(_.runMs).sum / 1000.0

    // driver gap and Par overlap, per operation: op wall vs its job spans
    val opSpans = spans.filter(_.name == "op")
    val perOp = opSpans.map { s =>
      val iv = jobs.filter(_.op == s.op).map(j => (j.startMs, math.max(j.startMs, j.endMs)))
      val union = Stats.union(iv)
      (s.ms - union, iv.map(x => x._2 - x._1).sum, union)
    }
    val gapS = perOp.map(_._1).sum / 1000.0
    val jobSum = perOp.map(_._2).sum.toDouble
    val jobUnion = perOp.map(_._3).sum.toDouble

    // an operation's self time: its span minus its direct child spans
    val opS = opSpans.map(_.ms).sum / 1000
    val childS = spans.filter(_.parent == "op").map(_.ms).sum / 1000
    val base = Seq(
      ("op.s", opS, "s"),
      ("op.self_s", opS - childS, "s"),
      ("build.s", ms("build") / 1000, "s"),
      ("build.jobs", jobs.count(_.phase == "build").toDouble, "count"),
      ("plan.s", ms("plan") / 1000, "s"),
      ("exec.s", ms("exec") / 1000, "s"),
      ("exec.jobs", jobs.size.toDouble, "count"),
      ("exec.stages", stages.size.toDouble, "count"),
      ("exec.tasks", stages.map(_.tasks).sum.toDouble, "count"),
      ("task.run_s", taskRunS, "s"),
      ("task.cpu_s", stages.map(_.cpuNs).sum / 1e9, "s"),
      ("task.gc_s", stages.map(_.gcMs).sum / 1000.0, "s"),
      ("core.util", taskRunS / (p.wallS * cores), "ratio"),
      ("scan.bytes", stages.map(_.inBytes).sum.toDouble, "bytes"),
      ("scan.rows", stages.map(_.inRows).sum.toDouble, "count"),
      ("scan.tasks", stages.map(_.scanTasks).sum.toDouble, "count"),
      ("shuffle.write_bytes", stages.map(_.shWrite).sum.toDouble, "bytes"),
      ("shuffle.read_bytes", stages.map(_.shRead).sum.toDouble, "bytes"),
      ("shuffle.fetch_wait_s", stages.map(_.fetchWaitMs).sum / 1000.0, "s"),
      ("spill.bytes", stages.map(_.spill).sum.toDouble, "bytes"),
      ("stage.skew", (1.0 +: stages.filter(_.tasks >= 2).map(_.skew)).max, "ratio"),
      ("driver.gap_s", gapS, "s"),
      ("driver.gc_s", p.gcS, "s"),
      ("driver.result_bytes", stages.map(_.resultBytes).sum.toDouble, "bytes"),
      ("par.overlap", if (jobUnion > 0) jobSum / jobUnion else 1.0, "ratio"),
      ("cache.peak_mb", p.cachePeak / 1e6, "MB"))

    def schemaSet(suffix: String, keep: String => Boolean): Seq[(String, Double, String)] = {
      val sp = (s: Span) => keep(opName(s))
      val t = SchemaTimes.map(n => n -> ms(s"schema.$n", sp)).toMap
      // Evolver.evolve repeats the diff and plan: its self time excludes them
      val self = t("evolve") - t("diff") - t("plan")
      Seq(
        (s"schema.parse_ms$suffix", t("parse"), "ms"),
        (s"schema.diff_ms$suffix", t("diff"), "ms"),
        (s"schema.moves_ms$suffix", t("moves"), "ms"),
        (s"schema.plan_ms$suffix", t("plan"), "ms"),
        (s"schema.ops$suffix", count("schema.ops", keep), "count"),
        (s"schema.evolve_ms$suffix", math.max(0.0, self), "ms"),
        (s"schema.ddl_stmts$suffix", count("schema.ddl_stmts", keep), "count"),
        (s"schema.render_ms$suffix", t("render"), "ms"))
    }
    val schema = schemaSet("", _ => true) ++ Decades.flatMap(d =>
      schemaSet(s".$d", op => wl.decade(op).contains(d)))

    val stmts = count("catalog.stmts")
    val applyMs = ms("catalog.apply")
    val catalog = Seq(
      ("catalog.apply_ms", applyMs, "ms"),
      ("catalog.stmt_ms", if (stmts > 0) applyMs / stmts else 0.0, "ms"),
      ("catalog.alter_ms", if (stmts > 0) count("catalog.alter_ns") / 1e6 / stmts else 0.0, "ms"),
      ("catalog.readback_ms", ms("catalog.readback"), "ms"))
    val conform = Seq(
      ("conform.build_ms", ms("conform.build"), "ms"),
      ("conform.write_s", ms("conform.write") / 1000, "s"),
      ("conform.bytes_in", count("conform.bytes_in"), "bytes"),
      ("conform.bytes_out", count("conform.bytes_out"), "bytes"))
    base ++ schema ++ catalog ++ conform
  }

  /** Per operation, the median over the traced passes of its wall
    * time, its executor task time and its driver gap, in seconds: the
    * split that tells a floor-bound operation from a compute-bound one. */
  def perOp(tr: Tracer, traced: Seq[PassRec]): Seq[(String, Seq[(String, Double)])] = {
    val l = tr.listener.get
    val rows = traced.flatMap { p =>
      val prefix = s"p${p.pass}:"
      tr.spans.filter(s => s.name == "op" && s.op.startsWith(prefix)).map { s =>
        val jobs = l.jobs.values.asScala.filter(_.op == s.op).toSeq
        val union = Stats.union(jobs.map(j => (j.startMs, math.max(j.startMs, j.endMs))))
        val taskMs = jobs.flatMap(_.stages.asScala).distinct
          .flatMap(st => Option(l.stages.get(st))).map(_.runMs).sum
        (s.op.stripPrefix(prefix), s.ms / 1000, taskMs / 1000.0, (s.ms - union) / 1000)
      }
    }
    rows.groupBy(_._1).toSeq.sortBy(_._1).map { case (op, xs) =>
      op -> Seq("op_s" -> Stats.median(xs.map(_._2)), "task_run_s" -> Stats.median(xs.map(_._3)),
        "driver_gap_s" -> Stats.median(xs.map(_._4)))
    }
  }

  /** Human-readable per-layer table of one workload. */
  def table(workload: String, ms: Seq[(String, Double, String)]): String =
    (s"per-layer metrics, $workload (median over traced passes, per pass):" +:
      ms.map { case (n, v, u) => f"  $n%-28s $v%16.4f $u" }).mkString("\n")

  /** Spans and listener jobs as JSON lines: name, start, end, parent, op. */
  def spansJsonl(tr: Tracer): String = {
    val own = tr.spans.map(s => Json.obj(Seq(
      "name" -> Json.str(s.name), "op" -> Json.str(s.op), "parent" -> Json.str(s.parent),
      "start_ms" -> Json.num(tr.nanoToEpochMs(s.startNs)), "end_ms" -> Json.num(tr.nanoToEpochMs(s.endNs)))))
    val jobs = tr.listener.toSeq.flatMap(_.jobs.values.asScala.toSeq.sortBy(_.jobId)).map(j => Json.obj(Seq(
      "name" -> Json.str(s"job ${j.jobId}"), "op" -> Json.str(j.op), "parent" -> Json.str(j.phase),
      "start_ms" -> Json.num(j.startMs.toDouble), "end_ms" -> Json.num(j.endMs.toDouble),
      "stages" -> Json.arr(j.stages.asScala.toSeq.map(_.toString)))))
    (own ++ jobs).mkString("", "\n", "\n")
  }
}
