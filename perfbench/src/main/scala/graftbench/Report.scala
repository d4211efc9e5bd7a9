package graftbench

import graftbench.Main.{Args, Phase, Sample}

object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  /** The highest percentile with at least 10 samples beyond it — the
    * 11th largest sample — and that percentile. Below 21 samples that
    * percentile falls under the median, so the median is reported. */
  def tail(xs: Seq[Double]): (Double, Double) =
    if (xs.size < 21) (median(xs), 50.0)
    else (xs.sorted.apply(xs.size - 11), 100.0 * (xs.size - 10) / xs.size)
}

object Report {
  type Metrics = Seq[(String, Double, String)]

  private def reads(ph: Phase): Seq[Sample] = ph.good.filter(_.kind == "read")
  private def txs(ph: Phase): Seq[Sample] =
    (ph.good ++ ph.probes.filter(_.ok)).filter(_.kind == "tx")

  /** Transaction latencies (tx p50 and tail) are in the report line:
    * the graded workloads are read-only, so only the probe feeds them. */
  def endToEnd(ph: Phase, setupS: Double): Metrics = {
    val r = reads(ph).map(_.seconds)
    Seq(("setup_s", setupS, "s"),
      ("query_p50_s", Stats.median(r), "s"),
      ("query_tail_s", Stats.tail(r)._1, "s"),
      ("ops_per_s", ph.opsPerS, "1/s"),
      ("storage_peak_mb", ph.storagePeakMb, "MB"))
  }

  private type Trace = (Sample, Map[String, Double])

  /** p50 of `key` over the traces that have it (0 when none do). */
  private def p50(ts: Seq[Trace], key: String): Double =
    Stats.median(ts.flatMap(_._2.get(key)))
  /** Mean of `key` over the traces that have it (0 when none do). */
  private def mean(ts: Seq[Trace], key: String): Double = {
    val xs = ts.flatMap(_._2.get(key))
    if (xs.isEmpty) 0.0 else xs.sum / xs.size
  }
  private def sum(ts: Seq[Trace], key: String): Double = ts.map(_._2.getOrElse(key, 0.0)).sum
  private def share(t: Trace, keys: String*): Option[Double] = {
    val m = t._2
    val wall = m.getOrElse("op.wall_ms", 0.0)
    if (wall <= 0 || !keys.exists(m.contains)) None
    else Some(keys.map(m.getOrElse(_, 0.0)).sum / wall)
  }
  private def shareP50(ts: Seq[Trace], keys: String*): Double =
    Stats.median(ts.flatMap(share(_, keys: _*)))
  private def ratio(num: Double, den: Double): Double = if (den == 0) 0.0 else num / den

  /** Self-time shares of the workload's total read time. Compiler
    * includes its eager jobs and, for GraphOps requests, the GraphOps
    * call; the collect splits into time covered by Spark jobs and the
    * driver gap. */
  private def shares(ts: Seq[Trace]): Metrics = {
    val wall = sum(ts, "op.wall_ms")
    def of(keys: String*) = ratio(keys.map(sum(ts, _)).sum, wall)
    Seq(("share.edn", of("edn.ms"), "ratio"),
      ("share.schema", of("schema.ms"), "ratio"),
      ("share.compiler", of("compiler.ms", "graphops.ms"), "ratio"),
      ("share.catalyst", of("catalyst.ms"), "ratio"),
      ("share.exec_jobs", of("exec.job_ms"), "ratio"),
      ("share.driver_gap", ratio(sum(ts, "exec.ms") - sum(ts, "exec.job_ms"), wall), "ratio"))
  }

  /** Per-layer figures of a workload: means per read (per transaction
    * for `transact.*`) over the reads that ran the layer's step, so they
    * add up to the mean op time; ratios with their base; peaks for
    * storage and the union tree. The per-template table gives p50s. */
  def perLayer(traced: Phase, untraced: Phase): Metrics = {
    val all = traced.traces.toSeq.filter(_._1.ok)
    val rs = all.filter(_._1.kind == "read")
    val tx = all.filter(_._1.kind == "tx")
    val datalog = rs.filter(_._2.contains("datalog"))
    val cold = datalog.filter(_._2("repeat") == 0)
    val graph = rs.filter(_._2.contains("graph_rounds"))
    Seq(
      ("edn.parse_ms", mean(rs, "edn.ms"), "ms"),
      ("schema.resolve_ms", mean(rs, "schema.ms"), "ms"),
      ("schema.jobs", mean(rs, "schema.jobs"), "count"),
      ("compiler.build_ms", mean(rs, "compiler.ms"), "ms"),
      ("compiler.eager_jobs", mean(rs, "compiler.jobs"), "count"),
      ("compiler.eager_job_ms", mean(rs, "compiler.job_ms"), "ms"),
      ("fixpoint.rounds", mean(cold, "rounds"), "count"),
      ("fixpoint.jobs_per_round", ratio(sum(cold, "compiler.jobs"), sum(cold, "rounds")), "count"),
      ("fixpoint.ms_per_round", ratio(sum(cold, "compiler.ms"), sum(cold, "rounds")), "ms"),
      ("fixpoint.cache_hit_ratio",
        ratio(datalog.count(_._2.getOrElse("compiler.jobs", 0.0) == 0), datalog.size), "ratio"),
      ("fixpoint.cache_base", datalog.size.toDouble, "count"),
      ("graphops.call_ms", mean(rs, "graphops.ms"), "ms"),
      ("graphops.jobs_per_round",
        ratio(sum(graph, "graphops.jobs"), sum(graph, "graph_rounds")), "count"),
      ("catalyst.analysis_ms", mean(rs, "catalyst.analysis_ms"), "ms"),
      ("catalyst.optimization_ms", mean(rs, "catalyst.optimization_ms"), "ms"),
      ("catalyst.planning_ms", mean(rs, "catalyst.planning_ms"), "ms"),
      ("catalyst.plan_nodes", mean(rs, "catalyst.plan_nodes"), "count"),
      ("catalyst.exchanges", mean(rs, "catalyst.exchanges"), "count"),
      ("exec.wall_ms", mean(rs, "exec.ms"), "ms"),
      ("exec.jobs", mean(rs, "exec.jobs"), "count"),
      ("exec.stages", mean(rs, "exec.stages"), "count"),
      ("exec.tasks", mean(rs, "exec.tasks"), "count"),
      ("exec.task_run_ms", mean(rs, "exec.task_run_ms"), "ms"),
      ("exec.task_cpu_ms", mean(rs, "exec.task_cpu_ms"), "ms"),
      ("exec.gc_ms", mean(rs, "exec.gc_ms"), "ms"),
      ("exec.input_bytes", mean(rs, "exec.input_bytes"), "bytes"),
      ("exec.shuffle_read_bytes", mean(rs, "exec.shuffle_read_bytes"), "bytes"),
      ("exec.shuffle_write_bytes", mean(rs, "exec.shuffle_write_bytes"), "bytes"),
      ("exec.spill_bytes", mean(rs, "exec.spill_bytes"), "bytes"),
      ("exec.rows_out", mean(rs, "rows_out"), "count"),
      ("exec.driver_gap_ms", mean(rs, "op.driver_gap_ms"), "ms"),
      ("transact.call_ms", mean(tx, "transact.ms"), "ms"),
      ("transact.facts", mean(tx, "facts"), "count"),
      ("fact_log.leaf_relations", traced.leafRelationsPeak.toDouble, "count"),
      ("storage.persistent_rdds", traced.persistentRddsPeak.toDouble, "count"),
      ("storage.block_mb", traced.storagePeakMb, "MB")) ++
      shares(rs) ++ Seq(
      ("trace.ops_per_s", traced.opsPerS, "1/s"),
      ("trace.untraced_ops_per_s", untraced.opsPerS, "1/s"),
      ("trace.overhead_ratio", 1 - ratio(traced.opsPerS, untraced.opsPerS), "ratio"))
  }

  private def num(x: Double): String =
    if (x.isNaN || x.isInfinite) "0" else java.lang.Double.toString(x)

  def json(correct: Boolean, attempted: Int, failed: Int, metrics: Metrics): String =
    s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": {""" +
      metrics.map { case (n, v, u) => s""""$n": {"value": ${num(v)}, "unit": "$u"}""" }
        .mkString(", ") + "}}"

  /** Human-readable report: everything the last line cannot carry. */
  def print(a: Args, untraced: Phase, traced: Phase, prepareS: Double,
            setupS: Seq[Double], attempted: Int, failed: Int): Unit = {
    println(f"[graftbench] workload=${a.workload} seed=${a.seed} seconds=${a.seconds}%.0f " +
      s"trace=${if (a.trace) 1 else 0} cores=${Runtime.getRuntime.availableProcessors} " +
      f"inputs_s=$prepareS%.2f setup_reps=${setupS.map(x => f"$x%.3f").mkString(",")}")
    println(f"[graftbench] attempted=$attempted failed=$failed " +
      f"error_rate=${ratio(failed, attempted)}%.4f")
    Seq("untraced" -> untraced, "traced" -> traced).filter(_._2 != null).foreach { case (n, ph) =>
      val r = reads(ph).map(_.seconds)
      val t = txs(ph).map(_.seconds)
      val (rt, rp) = Stats.tail(r)
      val (tt, tp) = Stats.tail(t)
      println(f"[graftbench] $n: reads n=${r.size} p50=${Stats.median(r)}%.4f s " +
        f"tail=p$rp%.1f $rt%.4f s; txs n=${t.size} p50=${Stats.median(t)}%.5f s " +
        f"tail=p$tp%.1f $tt%.5f s; ops_per_s=${ph.opsPerS}%.3f busy=${ph.busy}%.1f s " +
        f"storage_peak=${ph.storagePeakMb}%.2f MB warmup=${ph.warmupS}%.1f s " +
        f"loop_wall=${ph.wallS}%.1f s")
      println(s"[graftbench] $n p50 ms by template: " +
        ph.good.groupBy(_.template).toSeq.sortBy(_._1).map { case (t, ss) =>
          f"$t=${Stats.median(ss.map(_.seconds)) * 1000}%.1f(n=${ss.size})" }.mkString(" "))
    }
    if (traced != null) attribution(traced)
  }

  /** Per-template layer attribution of the traced run: p50 ms and p50
    * share of the op's wall time for each step, plus job counts. */
  private def attribution(ph: Phase): Unit = {
    val cols = Seq("edn.ms", "schema.ms", "compiler.ms", "graphops.ms", "catalyst.ms",
      "exec.job_ms", "transact.ms")
    println("[trace] template n wall_ms " + cols.map(c => s"$c(share)").mkString(" ") +
      " gap_ms(share) jobs compiler.jobs graphops.jobs exec.jobs exec.tasks")
    ph.traces.toSeq.filter(_._1.ok).groupBy(_._1.template).toSeq.sortBy(_._1).foreach {
      case (tpl, ts) =>
        val wall = p50(ts, "op.wall_ms")
        val parts = cols.map { c =>
          if (!ts.exists(_._2.contains(c))) "-"
          else f"${p50(ts, c)}%.1f(${shareP50(ts, c)}%.2f)"
        }
        val gap = Stats.median(ts.flatMap(t => share(t, "exec.ms").map(
          _ - share(t, "exec.job_ms").getOrElse(0.0))))
        val gapMs = Stats.median(ts.map(t =>
          t._2.getOrElse("exec.ms", 0.0) - t._2.getOrElse("exec.job_ms", 0.0)))
        println(f"[trace] $tpl ${ts.size} $wall%.1f ${parts.mkString(" ")} " +
          f"$gapMs%.1f($gap%.2f) ${p50(ts, "op.jobs")}%.0f ${p50(ts, "compiler.jobs")}%.0f " +
          f"${p50(ts, "graphops.jobs")}%.0f ${p50(ts, "exec.jobs")}%.0f ${p50(ts, "exec.tasks")}%.0f")
    }
  }
}
