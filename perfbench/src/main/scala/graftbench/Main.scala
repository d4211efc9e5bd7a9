package graftbench

import graft.datalog.{C, FVar, Pattern, Query, V}
import graft.transact.Transactor.Add
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graftbench.Internals

import scala.collection.mutable
import scala.util.control.NonFatal

/** One closed-loop client driving graft through its public API.
  *
  * {{{
  * graftbench.Main --workload snapshot_reads --seed 1 --seconds 10 --trace 0 --work DIR
  * }}}
  *
  * Prints a report, then as its last line one JSON object:
  * {"correct", "attempted", "failed", "metrics"}. Untraced runs carry the
  * end-to-end metrics; `--trace 1` carries the per-layer ones. */
object Main {

  final case class Args(workload: String = "", seed: Long = 1L, seconds: Double = 10,
                        trace: Boolean = false, scale: Gen.Scale = Gen.Default,
                        work: String = "", genOnly: Int = 0)

  /** Set-ups per run; `setup_s` is their median. */
  val Reps = 3
  /** Whole rotations of the template mix a timed phase runs at least.
    * With the graded `--seconds`, two rotations outlast it on every
    * graded workload, so each run measures the same number of ops. */
  val MinRotations = 2

  def parse(argv: List[String], a: Args = Args()): Args = argv match {
    case "--workload" :: v :: rest => parse(rest, a.copy(workload = v))
    case "--seed" :: v :: rest => parse(rest, a.copy(seed = v.toLong))
    case "--seconds" :: v :: rest => parse(rest, a.copy(seconds = v.toDouble))
    case "--trace" :: v :: rest => parse(rest, a.copy(trace = v == "1"))
    case "--scale" :: "tiny" :: rest => parse(rest, a.copy(scale = Gen.Tiny))
    case "--scale" :: "default" :: rest => parse(rest, a.copy(scale = Gen.Default))
    case "--work" :: v :: rest => parse(rest, a.copy(work = v))
    case "--gen-only" :: v :: rest => parse(rest, a.copy(genOnly = v.toInt))
    case Nil => a
    case other => throw new IllegalArgumentException(s"bad arguments: ${other.mkString(" ")}")
  }

  /** Latency samples and checks of one closed-loop phase. */
  final case class Sample(template: String, kind: String, seconds: Double, ok: Boolean)
  final class Phase {
    val samples: mutable.ArrayBuffer[Sample] = mutable.ArrayBuffer.empty
    val probes: mutable.ArrayBuffer[Sample] = mutable.ArrayBuffer.empty
    val traces: mutable.ArrayBuffer[(Sample, Map[String, Double])] = mutable.ArrayBuffer.empty
    var busy = 0.0
    var storagePeakMb = 0.0
    var persistentRddsPeak = 0
    var leafRelationsPeak = 0
    var warmupS = 0.0
    var wallS = 0.0
    def good: Seq[Sample] = samples.filter(_.ok).toSeq
    def opsPerS: Double = good.size / busy
    def attempted: Int = samples.size + probes.size
    def failed: Int = (samples ++ probes).count(!_.ok)
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv.toList)
    require(Workload.names.contains(a.workload),
      s"--workload must be one of ${Workload.names.mkString(", ")}")
    if (a.genOnly > 0) { printOps(a); return }
    require(a.work.nonEmpty, "--work DIR is required")
    val w = Workload(a.workload, a.scale, a.seed)
    val cores = Runtime.getRuntime.availableProcessors
    val dataDir = s"${a.work}/data"
    val prep0 = System.nanoTime()
    val boot = session(a.work, cores)
    w.prepare(boot, dataDir)
    boot.stop()
    val prepareS = (System.nanoTime() - prep0) / 1e9

    // Set up `Reps` times, each in a fresh session; the timed phase runs
    // on the last set-up. Traced runs time the traced phase on the set-up
    // before it, so the untraced phase runs in the warmer JVM and the
    // overhead figure errs high.
    val setupS = mutable.ArrayBuffer.empty[Double]
    var untraced: Phase = null
    var traced: Phase = null
    for (rep <- 1 to Reps) {
      val t0 = System.nanoTime()
      val spark = session(a.work, cores)
      val inst = w.setup(spark, dataDir, rep)
      setupS += (System.nanoTime() - t0) / 1e9
      try {
        if (a.trace && rep == Reps - 1)
          traced = loop(spark, inst, tracedRun = true, a.seconds, warm = true)
        if (rep == Reps)
          untraced = loop(spark, inst, tracedRun = false, a.seconds, warm = !a.trace)
      } finally spark.stop()
    }

    val phases = Seq(untraced, traced).filter(_ != null)
    val attempted = phases.map(_.attempted).sum
    val failed = phases.map(_.failed).sum
    val metrics =
      if (a.trace) Report.perLayer(traced, untraced)
      else Report.endToEnd(untraced, Stats.median(setupS.toSeq))
    Report.print(a, untraced, traced, prepareS, setupS.toSeq, attempted, failed)
    println(Report.json(failed == 0, attempted, failed, metrics))
  }

  private def printOps(a: Args): Unit = {
    val s = a.scale
    val it = a.workload match {
      case "snapshot_reads" => Gen.snapshotOps(s, a.seed, 10)
      case "recursive_closure" => Gen.recursiveOps(s, a.seed, warm = false)
      case "tx_interleaved" => Gen.txOps(s, a.seed, Gen.events(s, a.seed))
    }
    it.take(a.genOnly).foreach(op => println(op.desc))
  }

  def session(work: String, cores: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graftbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // graft's sessions keep bucketed scans bucketed (FactDb.entity's prune)
      .config("spark.sql.sources.bucketing.autoBucketedScan.enabled", "false")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.local.dir", s"$work/local")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** Warm-up, then the closed loop until `seconds` of in-call time and
    * at least [[MinRotations]] whole rotations of the mix, then the
    * transaction probe. */
  def loop(spark: SparkSession, inst: Instance, tracedRun: Boolean,
           seconds: Double, warm: Boolean): Phase = {
    val ph = new Phase
    val warm0 = System.nanoTime()
    if (warm) inst.warmup()
    ph.warmupS = (System.nanoTime() - warm0) / 1e9
    val tracer = if (tracedRun) new Tracer(spark) else null
    val sc = spark.sparkContext
    def sampleStorage(): Unit = {
      val mb = sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / 1e6
      ph.storagePeakMb = math.max(ph.storagePeakMb, mb)
      ph.persistentRddsPeak = math.max(ph.persistentRddsPeak, sc.getPersistentRDDs.size)
    }
    var shown = 0
    def measure(template: String, run: Steps => Result): Sample = {
      if (tracedRun) tracer.reset()
      val st = new Steps(tracedRun)
      val m0 = Clock.nowMs()
      val t0 = System.nanoTime()
      val res = try Right(run(st)) catch { case NonFatal(e) => Left(e) }
      val dt = (System.nanoTime() - t0) / 1e9
      val m1 = Clock.nowMs()
      val layers = if (tracedRun) tracer.attribute(st, m0, m1) ++ planFigures(st)
        else Map.empty[String, Double]
      val err = res match {
        case Left(e) => Some(s"$template threw $e")
        case Right(r) => try r.check() catch { case NonFatal(e) => Some(s"$template check threw $e") }
      }
      if (err.nonEmpty && shown < 5) { shown += 1; System.err.println(s"[graftbench] FAIL ${err.get}") }
      val kind = res.map(_.kind).getOrElse(if (template.startsWith("tx_")) "tx" else "read")
      sampleStorage()
      if (tracedRun && kind == "tx")
        ph.leafRelationsPeak = math.max(ph.leafRelationsPeak,
          Internals.leafRelations(inst.conn.session.db.log))
      val s = Sample(template, kind, dt, err.isEmpty)
      if (tracedRun) ph.traces += (s -> (layers ++ st.info))
      s
    }

    val ops = inst.ops()
    val wall0 = System.nanoTime()
    val wallCap = 4 * seconds + 30
    def more = ph.busy < seconds || ph.samples.size < MinRotations * inst.align ||
      ph.samples.size % inst.align != 0
    while (more && (System.nanoTime() - wall0) / 1e9 < wallCap) {
      val op = ops.next()
      val s = measure(op.template, inst.run(op, _))
      ph.busy += s.seconds
      ph.samples += s
    }
    ph.wallS = (System.nanoTime() - wall0) / 1e9

    probe(spark, inst, ph, measure)
    ph
  }

  /** The transaction probe (see [[Probe]]): timed transactions, each
    * checked by its report, then one read-back of the last one. The same
    * transactions first run untimed on a side connection over the same
    * log, which warms the transact path without touching the measured
    * connection. */
  private def probe(spark: SparkSession, inst: Instance, ph: Phase,
                    measure: (String, Steps => Result) => Sample): Unit = {
    // the loop's garbage is collected first, so no probe pays for it
    System.gc()
    val side = graft.Graft.over(spark, inst.conn.session.db, 1L << 50, 1L << 50)
    (0 until Probe.Count).foreach { i =>
      val (e, attr, v) = inst.probeFact(i)
      side.transact(Seq(Add(e, attr, v)))
    }
    var firstTx = -1L
    (0 until Probe.Count).foreach { i =>
      val (e, attr, v) = inst.probeFact(i)
      ph.probes += measure("tx_probe", st => {
        val r = st.step("transact")(inst.conn.transact(Seq(Add(e, attr, v))))
        st.info("facts") = r.facts.size
        if (firstTx < 0) firstTx = r.txId
        Result("tx", () =>
          if (r.txId != firstTx + i) Some(s"probe $i: tx id ${r.txId}")
          else if (r.facts.size != 2) Some(s"probe $i: ${r.facts.size} facts")
          else None)
      })
    }
    val (e, attr, v) = inst.probeFact(Probe.Count - 1)
    val seen = inst.conn.query(Query(find = Seq(FVar("v")),
      where = Pattern(C(e), C(attr), V("v")))).collect().map(_.getLong(0)).toSeq
    if (seen != Seq(v)) {
      System.err.println(s"[graftbench] FAIL probe read-back: $seen, want $v")
      ph.probes(ph.probes.size - 1) = ph.probes.last.copy(ok = false)
    }
  }

  /** Plan figures of the collected frame, read after the op's timer. */
  private def planFigures(st: Steps): Map[String, Double] =
    if (st.frame == null) Map.empty
    else {
      val phases = Internals.phasesMs(st.frame)
      val (nodes, exchanges) = Internals.planShape(st.frame)
      Map("catalyst.analysis_ms" -> phases.getOrElse("analysis", 0.0),
        "catalyst.optimization_ms" -> phases.getOrElse("optimization", 0.0),
        "catalyst.planning_ms" -> phases.getOrElse("planning", 0.0),
        "catalyst.plan_nodes" -> nodes.toDouble,
        "catalyst.exchanges" -> exchanges.toDouble)
    }
}
