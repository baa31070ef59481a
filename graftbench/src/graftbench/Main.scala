package graftbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession
import graft.model.Lineage

/** The benchmark's JVM entry point; `run.py` builds and starts it.
  *
  * {{{
  * graftbench.Main --workload reproject|dedup --seed N --seconds S
  *                 --trace 0|1 --work-dir DIR
  * }}}
  *
  * One Spark session at local[nproc] and one closed-loop client: each
  * iteration runs the whole pipeline, then its output is checked
  * (untimed). Warm-up iterations run until the JIT has settled, then the
  * timed ones. The last stdout line is the result JSON.
  */
object Main {

  /** Input sizes of the measured runs. */
  val ReprojectN = 1024
  val DedupDocs = 2000
  /** Side of the swath the rectify kernel probes take their tile from. */
  val SwathProbeN = 768
  val DefaultSeed = 1L

  /** Setup runs this many times; `setup_s` takes the median. */
  val SetupReps = 3
  val MinIters = 3

  /** Warm-up ends after two iterations in a row whose JIT compile time
    * has fallen to [[JitSettledShare]] of the first iteration's, or after
    * [[WarmupCapS]] seconds. Until then C2 compiles a core's worth or
    * more through every iteration, and how far it has got decides the
    * iteration's time; after it, a tail of under half a core remains.
    */
  val JitSettledShare = 0.2
  val WarmupCapS = 30.0

  /** Checksums of the default seed at the sizes above. Counts must
    * match exactly, sums to a relative 1e-9.
    */
  val Pinned: Map[String, Seq[(String, Double)]] = Map(
    "reproject" -> Seq("valid_a" -> 1043402.0, "sum_a" -> 52171166.34775673,
      "valid_b" -> 1043214.0, "sum_b" -> 52155781.923599),
    "dedup" -> Seq("pairs" -> 425.0, "keepers" -> 1697.0, "merge_hash" -> 3715801011719029.0))

  def make(name: String, spark: SparkSession, seed: Long, workDir: Path,
      reprojectN: Int = ReprojectN, dedupDocs: Int = DedupDocs): Workload =
    name match {
      case "reproject" => new ReprojectWorkload(spark, seed, reprojectN, workDir)
      case "dedup" => new DedupWorkload(spark, seed, dedupDocs)
      case other => throw new IllegalArgumentException(s"unknown workload '$other'")
    }

  def session(workDir: Path): SparkSession = {
    val cpus = Runtime.getRuntime.availableProcessors()
    val s = SparkSession.builder()
      .appName("graftbench")
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      // dedup's pipeline generates about 120 distinct classes; at the
      // default 100 cached ones every iteration recompiles some, and the
      // JIT never settles (spark.codegen_classes per iteration)
      .config("spark.sql.codegen.cache.maxEntries", "1000")
      .config("spark.local.dir", workDir.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", workDir.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def cpuNs(): Long = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  /** Host CPU time stolen from this machine's vCPUs so far, in seconds
    * (Linux `/proc/stat`; 0 elsewhere). Other tenants of the host take
    * it, and an iteration's wall time grows with it.
    */
  def stealS(): Double = try {
    val f = Files.readAllLines(Paths.get("/proc/stat")).get(0).trim.split("\\s+")
    if (f.length > 8) f(8).toDouble / 100 else 0.0
  } catch { case _: Exception => 0.0 }

  def jitMs(): Long = ManagementFactory.getCompilationMXBean.getTotalCompilationTime

  /** Classes Spark's whole-stage codegen has compiled so far. */
  def codegenClasses(): Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  private def heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala.filter(_.getType == MemoryType.HEAP)

  def liveBlockMb(spark: SparkSession): Double =
    spark.sparkContext.getRDDStorageInfo.map(r => r.memSize + r.diskSize).sum / (1024.0 * 1024.0)

  /** Compares a checksum with an expected one: counts exactly, sums
    * and hashes as named.
    */
  def sameChecksum(got: Seq[(String, Double)], want: Seq[(String, Double)], relTol: Double): Boolean =
    got.map(_._1) == want.map(_._1) && got.zip(want).forall { case ((k, a), (_, b)) =>
      if (k.startsWith("sum_")) Workload.rel(a, b) <= relTol else a == b
    }

  final case class IterRecord(wallS: Double, cpuS: Double, jitS: Double, stealS: Double)

  /** Runs, checks and cleans up iterations of one workload. */
  final class Runner(spark: SparkSession, wl: Workload, pinned: Option[Seq[(String, Double)]]) {
    val facts = new Facts
    val failures = mutable.ArrayBuffer.empty[String]
    var attempted = 0
    var failed = 0
    private var reference: Option[Seq[(String, Double)]] = None

    def iteration(iter: Int, tr: Tracer): IterRecord = {
      attempted += 1
      val problems = mutable.ArrayBuffer.empty[String]
      val gen0 = codegenClasses(); val jit0 = jitMs(); val steal0 = stealS(); val cpu0 = cpuNs(); val t0 = System.nanoTime()
      val ran = try { tr.span("iteration", iter)(wl.iterate(iter, tr, facts)); true }
      catch { case e: Exception => problems += s"iteration $iter threw: $e"; false }
      val wall = (System.nanoTime() - t0) / 1e9; val cpu = (cpuNs() - cpu0) / 1e9
      val steal = stealS() - steal0
      val jit = (jitMs() - jit0) / 1e3
      facts.add("jvm.jit_s", "s", jit)
      facts.add("spark.codegen_classes", "count", (codegenClasses() - gen0).toDouble)
      if (ran) try {
        if (tr.enabled) wl.probes(iter, tr)
        val (sum, fails) = wl.check(iter, tr, facts)
        problems ++= fails
        reference match {
          case None => reference = Some(sum)
          case Some(r) if !sameChecksum(sum, r, 0.0) =>
            problems += s"iteration $iter checksum ${fmt(sum)} differs from iteration 0's ${fmt(r)}"
          case _ =>
        }
        pinned.foreach { p =>
          if (!sameChecksum(sum, p, 1e-9)) problems += s"checksum ${fmt(sum)} != pinned ${fmt(p)}"
        }
      } catch { case e: Exception => problems += s"check of iteration $iter threw: $e" }
      facts.add("model.retired_drained", "count", Lineage.drainRetired())
      facts.add("model.checkpoint_mb_live", "MB", liveBlockMb(spark))
      // start every iteration from a collected heap, so a full GC owed
      // to earlier iterations does not land inside a timed one
      System.gc()
      if (problems.nonEmpty) { failed += 1; failures ++= problems }
      IterRecord(wall, cpu, jit, steal)
    }

    /** Closed loop: iterations back to back until `budgetS` has passed
      * (at least [[MinIters]]).
      */
    def loop(budgetS: Double, tr: Tracer, firstIter: Int): Seq[IterRecord] = {
      val out = mutable.ArrayBuffer.empty[IterRecord]
      val t0 = System.nanoTime()
      while (out.size < MinIters || (System.nanoTime() - t0) / 1e9 < budgetS)
        out += iteration(firstIter + out.size, tr)
      out.toSeq
    }

    /** Untimed iterations until the JIT has settled. */
    def warmUp(tr: Tracer): Seq[IterRecord] = {
      val out = mutable.ArrayBuffer.empty[IterRecord]
      val t0 = System.nanoTime()
      def settled = out.size >= 3 && out.takeRight(2).forall(_.jitS <= JitSettledShare * out.head.jitS)
      while (!settled && (out.isEmpty || (System.nanoTime() - t0) / 1e9 < WarmupCapS))
        out += iteration(out.size, tr)
      out.toSeq
    }

    def checksum: Option[Seq[(String, Double)]] = reference
  }

  def fmt(c: Seq[(String, Double)]): String =
    c.map { case (k, v) => s"$k=${Json.num(v)}" }.mkString("{", ", ", "}")

  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean, workDir: Path)

  def parse(args: Array[String]): Args = {
    val m = args.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => throw new IllegalArgumentException(s"bad arguments: ${other.mkString(" ")}")
    }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val trace = need("trace") match {
      case "0" => false
      case "1" => true
      case t => throw new IllegalArgumentException(s"--trace must be 0 or 1, was $t")
    }
    Args(need("workload"), need("seed").toLong, need("seconds").toDouble, trace, Paths.get(need("work-dir")))
  }

  def main(argv: Array[String]): Unit = {
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val a = parse(argv)
    val workDir = a.workDir.toAbsolutePath.resolve(s"${a.workload}-work")
    Files.createDirectories(workDir)
    val spark = session(workDir)
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    val sc = spark.sparkContext
    val listener = new SpanListener
    if (a.trace) sc.addSparkListener(listener)
    val untraced = new Tracer(false, sc, listener)
    try {
      val wl = make(a.workload, spark, a.seed, workDir)
      val setupTimes = (1 to SetupReps).map { _ =>
        val t0 = System.nanoTime(); wl.setup(); (System.nanoTime() - t0) / 1e9
      }
      val setupS = sessionS + Stats.median(setupTimes)
      val pinned = if (a.seed == DefaultSeed) Pinned.get(a.workload) else None
      val runner = new Runner(spark, wl, pinned)
      runner.failures ++= wl.setupChecks()
      println(s"graftbench: workload=${wl.name} seed=${a.seed} inputs " +
        wl.inputs.map { case (k, v) => s"$k=${Json.num(v)}" }.mkString(" "))
      println(f"graftbench: session_s=$sessionS%.3f setup reps ${setupTimes.map(t => f"$t%.3f").mkString(",")} s")

      // warm-up: JIT and lazy set-up, checked but not timed
      val warm = runner.warmUp(untraced)
      val loopStartMs = System.currentTimeMillis()
      heapPools.foreach(_.resetPeakUsage())
      val budget = if (a.trace) a.seconds / 2 else a.seconds
      val plain = runner.loop(budget, untraced, warm.size)
      val heapPeakMb = heapPools.map(_.getPeakUsage.getUsed).sum / (1024.0 * 1024.0)
      val iterS = Stats.median(plain.map(_.wallS))
      val cpuS = Stats.median(plain.map(_.cpuS))

      val endToEnd = Seq(
        ("setup_s", setupS, "s"),
        ("iter_s", iterS, "s"),
        ("items_per_s", wl.items / iterS, "1/s"),
        ("cpu_s", cpuS, "s"))
      val metrics: Seq[(String, Double, String)] =
        if (!a.trace) endToEnd
        else perLayer(spark, runner, wl, a, iterS, budget, listener, workDir) :+
          (("heap_peak_mb", heapPeakMb, "MB"))

      (endToEnd :+ (("heap_peak_mb", heapPeakMb, "MB"))).foreach { case (k, v, u) =>
        println(s"graftbench: $k ${Json.num(v)} $u")
      }
      println(s"graftbench: iterations ${plain.size} timed (+${warm.size} warm-up), wall " +
        plain.map(r => f"${r.wallS}%.2f").mkString(",") + " s, host steal " +
        plain.map(r => f"${r.stealS}%.2f").mkString(",") + s" s; items per iteration ${wl.items} (${wl.itemName})")
      println(s"graftbench: fail_ratio ${Json.num(runner.failed.toDouble / runner.attempted)} " +
        s"(${runner.failed}/${runner.attempted})")
      println(s"graftbench: checksum ${runner.checksum.map(fmt).getOrElse("none")}")
      runner.failures.distinct.foreach(f => println(s"graftbench: FAILED $f"))
      println("graftbench: jit s per iteration " + runner.facts.values("jvm.jit_s")._2.map(v => f"$v%.2f").mkString(","))
      println("graftbench: codegen classes per iteration " + runner.facts.values("spark.codegen_classes")._2.map(v => f"$v%.0f").mkString(","))
      println(f"graftbench: wall session ${sessionS}%.1f s, setup ${setupTimes.sum}%.1f s, " +
        f"warm-up ${warm.map(_.wallS).sum}%.1f s, loop ${(System.currentTimeMillis() - loopStartMs) / 1e3}%.1f s")
      val correct = runner.failed == 0 && runner.failures.isEmpty
      val ms = metrics.map { case (k, v, u) => s""""$k": {"value": ${Json.num(v)}, "unit": "$u"}""" }
      println(s"""{"correct": $correct, "attempted": ${runner.attempted}, "failed": ${runner.failed}, """ +
        s""""metrics": {${ms.mkString(", ")}}}""")
    } finally spark.stop()
  }

  /** The traced half of a `--trace 1` run and the kernel probes. */
  def perLayer(spark: SparkSession, runner: Runner, wl: Workload, a: Args, untracedIterS: Double,
      budget: Double, listener: SpanListener, workDir: Path): Seq[(String, Double, String)] = {
    val tr = new Tracer(true, spark.sparkContext, listener)
    val first = runner.attempted
    val factsBefore = runner.facts.values.map { case (k, (_, vs)) => k -> vs.size }.toMap
    val traced = runner.loop(budget, tr, first)
    tr.collect()
    val roots = tr.spans.filter(s => s.name == "iteration" && s.parent < 0)
    val tracedIterS = Stats.median(traced.map(_.wallS))
    val spark0 = roots.map(tr.inclusive(_).metrics).toSeq
    val sparkMetrics = spark0.head.indices.map { k =>
      (spark0.head(k)._1, Stats.median(spark0.map(_(k)._2)), spark0.head(k)._3)
    }
    def tracedFact(name: String): Double = {
      val vs = runner.facts.values(name)._2
      Stats.median(vs.drop(factsBefore.getOrElse(name, 0)).toSeq)
    }
    val probes = Probes.run(a.seed, ReprojectN, SwathProbeN)

    // the workload's own layer spans and facts: printed, and kept in the trace file
    val spanMedians = tr.spans.filter(_.name != "iteration").groupBy(_.name).toSeq.sortBy(_._1).map {
      case (n, ss) => (s"${n}_s", Stats.median(ss.map(_.durNs / 1e9).toSeq), "s")
    }
    val shared = Set("model.checkpoint_mb_live", "model.retired_drained", "jvm.jit_s")
    val factMedians = runner.facts.values.toSeq.filterNot(f => shared(f._1)).map {
      case (k, (u, _)) => (k, tracedFact(k), u)
    } ++ probes.map(p => (p.countMetric, p.ops.toDouble, "count"))
    (spanMedians ++ factMedians).foreach { case (k, v, u) => println(s"graftbench: $k ${Json.num(v)} $u") }

    val traceDir = workDir.getParent.resolve("traces")
    Files.createDirectories(traceDir)
    val traceFile = traceDir.resolve(s"${a.workload}-seed${a.seed}.json")
    Files.writeString(traceFile,
      s"""{"workload": "${a.workload}", "seed": ${a.seed}, "untraced_iter_s": ${Json.num(untracedIterS)}, """ +
        s""""traced_iter_s": ${Json.num(tracedIterS)},\n"layers": {""" +
        (spanMedians ++ factMedians).map { case (k, v, u) => s""""$k": {"value": ${Json.num(v)}, "unit": "$u"}""" }
          .mkString(", ") + "},\n\"spans\": " + tr.toJson + "}\n")
    println(s"graftbench: trace written to $traceFile (${tr.spans.size} spans)")

    Seq(("trace_overhead", tracedIterS / untracedIterS, "ratio")) ++
      probes.map(p => (p.metric, p.nsPerOp, "ns")) ++
      sparkMetrics ++
      shared.toSeq.sorted.map(k => (k, tracedFact(k), runner.facts.values(k)._1))
  }
}
