package graftbench

import org.apache.spark.sql.SparkSession

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import java.util.Locale
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Closed-loop, single-client benchmark of the engine's public entry
  * points. Usage (normally through `run.py`):
  *
  *   graftbench.Main --workload olap_mix|lake_commit --seed N
  *     --seconds S --trace 0|1 --work DIR --expected FILE [--sf F]
  *
  * The last stdout line is one JSON object with `correct`, `attempted`,
  * `failed` and `metrics`: end-to-end metrics untraced, per-layer
  * metrics traced. Lines before it carry the environment record, the
  * extra end-to-end figures, failed ops and the layer self times. */
object Main {
  final case class Args(workload: String = "", seed: Long = 1L, seconds: Double = 10.0,
                        trace: Boolean = false, work: String = "", expected: String = "",
                        sf: Option[Double] = None)

  def parse(argv: List[String], a: Args = Args()): Args = argv match {
    case "--workload" :: v :: t => parse(t, a.copy(workload = v))
    case "--seed" :: v :: t => parse(t, a.copy(seed = v.toLong))
    case "--seconds" :: v :: t => parse(t, a.copy(seconds = v.toDouble))
    case "--trace" :: v :: t => parse(t, a.copy(trace = v == "1"))
    case "--work" :: v :: t => parse(t, a.copy(work = v))
    case "--expected" :: v :: t => parse(t, a.copy(expected = v))
    case "--sf" :: v :: t => parse(t, a.copy(sf = Some(v.toDouble)))
    case Nil => a
    case other => throw new IllegalArgumentException(s"unknown arguments: ${other.mkString(" ")}")
  }

  /** Default input scale, sized so set-up plus a run fits the
    * benchmark's time budget on a 4-core machine. */
  val DefaultSf = 0.01

  /** Set-up builds the workload's tables this many times and reports
    * the median build; the loop uses the last build. */
  val Builds = 2

  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else String.format(Locale.ROOT, "%.6f", Double.box(v))

  def session(cores: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      .config("spark.sql.cbo.planStats.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.hadoop.fs.file.impl", classOf[CountingFs].getName)
      .config("spark.sql.warehouse.dir", Paths.get("spark-warehouse").toAbsolutePath.toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.lake.TxnCboStats.install(spark)
    graft.lake.GeneratedPartitionPruning.install(spark)
    spark
  }

  final case class OpResult(name: String, kind: String, id: Long, ms: Double,
                            error: Option[String], traced: Boolean)

  def main(argv: Array[String]): Unit = {
    val a = parse(argv.toList)
    require(Set("olap_mix", "lake_commit").contains(a.workload),
      s"--workload must be olap_mix or lake_commit, got '${a.workload}'")
    require(a.work.nonEmpty, "--work DIR is required")
    require(a.expected.nonEmpty, "--expected FILE is required")
    val sf = a.sf.getOrElse(DefaultSf)
    val nproc = Runtime.getRuntime.availableProcessors
    val cores = math.min(4, nproc)
    val root = Paths.get(a.work).toAbsolutePath
    Files.createDirectories(root)

    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = session(cores)
    val sessionS = (System.currentTimeMillis() - jvmStart) / 1000.0
    val tracer = new Tracer(spark)
    val ctx = new Ctx(spark, tracer, root.toString, a.seed, sf)
    val wl: Workload = a.workload match {
      case "olap_mix" => new OlapMix(ctx, Expected.load(a.expected, sf))
      case "lake_commit" => new LakeCommit(ctx)
    }

    // set-up: build the tables `Builds` times (median reported), then warm up
    val buildS = (1 to Builds).map { i =>
      val dir = root.resolve(s"table$i").toString
      val t0 = System.nanoTime()
      wl.build(dir)
      (System.nanoTime() - t0) / 1e9
    }
    val w0 = System.nanoTime()
    wl.warmup()
    spark.range(1).count()
    val warmS = (System.nanoTime() - w0) / 1e9
    val setupS = sessionS + Stats.median(buildS) + warmS
    // a traced run warms up once more, outside set-up: its overhead figure
    // compares cycles, and the first cycle after one warm-up is still the
    // slowest by far
    if (a.trace) wl.warmup()
    ctx.commits.clear(); ctx.ingestRows = 0L; ctx.ingestNs = 0L
    val tableAtStart = wl.tableDir.map(LakeFiles.walk)

    // the loop: closed, one client. `seconds` buys a whole number of
    // cycles at the workload's nominal cycle length, so every run times
    // the same mix of ops. A traced run splits its cycles between
    // untraced and traced ones so that both sides sit at the same mean
    // point of the JVM's warm-up, which still speeds up every cycle and
    // would otherwise show as tracing overhead: alternating (U T U) for
    // an odd count, in mirrored pairs (U T T U) for an even one.
    val cycles = math.max(1, math.round(a.seconds / wl.nominalCycleS).toInt)
    val totalCycles = if (a.trace) math.max(2, cycles) else cycles
    val env = new EnvSampler()
    env.start()
    val results = mutable.ArrayBuffer.empty[OpResult]
    val floorMs = mutable.ArrayBuffer.empty[Double]
    val cycleP50 = mutable.ArrayBuffer.empty[Double]
    var untracedNs = 0L
    var opId = 0L
    (0 until totalCycles).foreach { c =>
      val traced = a.trace &&
        (if (totalCycles % 2 == 1) c % 2 == 1 else c % 4 == 1 || c % 4 == 2)
      val f0 = System.nanoTime()
      spark.range(1).count()
      floorMs += (System.nanoTime() - f0) / 1e6
      if (traced) tracer.start()
      val cycleFrom = results.size
      val c0 = System.nanoTime()
      wl.cycle(c).foreach { op =>
        opId += 1
        val id = opId
        ctx.opId = id
        val s = System.nanoTime()
        val err = tracer.op(id, op.name) {
          try op.run() catch { case e: Throwable => Some(e.toString.take(300)) }
        }
        results += OpResult(op.name, op.kind, id, (System.nanoTime() - s) / 1e6, err, traced)
      }
      if (traced) tracer.stop() else untracedNs += System.nanoTime() - c0
      cycleP50 += Stats.median(results.drop(cycleFrom).map(_.ms).toSeq)
    }
    val loopS = untracedNs / 1e9
    env.stop()

    val finalErrors = try wl.finish() catch { case e: Throwable => Seq(e.toString.take(300)) }
    val table = wl.tableDir.map(LakeFiles.walk)
    // live heap: what the heap pools hold after full collections, repeated
    // until one frees less than 0.5 MB. Spark's ContextCleaner releases
    // what a collection made unreachable only after it, so one or two
    // collections can leave ~16 MB of garbage behind.
    def heapAfterGc(): Double = {
      System.gc()
      ManagementFactory.getMemoryPoolMXBeans.asScala
        .filter(_.getType == java.lang.management.MemoryType.HEAP)
        .flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed).sum / 1048576.0
    }
    var heapMb = heapAfterGc()
    var freed = Double.MaxValue
    var gcs = 1
    while (freed >= 0.5 && gcs < 10) {
      Thread.sleep(300)
      val now = heapAfterGc()
      freed = heapMb - now
      heapMb = now
      gcs += 1
    }

    val failedOps = results.filter(_.error.isDefined)
    failedOps.foreach(r => println(s"""{"failed_op":"${r.name}","op":${r.id},"error":${Json.str(r.error.get)}}"""))
    finalErrors.foreach(e => println(s"""{"failed_op":"final_check","error":${Json.str(e)}}"""))
    val attempted = results.size + 1
    val failed = failedOps.size + (if (finalErrors.nonEmpty) 1 else 0)

    // untraced ops only feed end-to-end figures
    val plain = results.filterNot(_.traced)
    val plainIds = plain.map(_.id).toSet
    val reads = plain.filter(_.kind == "read").map(_.ms)
    val commitsMs = ctx.commits.filter(c => plainIds.contains(c._3)).map(_._2).toSeq
    val (readTail, readTailPct) = Stats.tail(reads.toSeq)
    val (opTail, opTailPct) = Stats.tail(plain.map(_.ms).toSeq)
    val (commitTail, commitTailPct) = Stats.tail(commitsMs)
    val ingestRowsPerS = if (ctx.ingestNs > 0) ctx.ingestRows / (ctx.ingestNs / 1e9) else 0.0
    val bytesPerRow = (for (t <- table; n <- wl.liveRows if n > 0) yield t.totalBytes.toDouble / n)
      .getOrElse(0.0)

    val e2e = Seq(
      "setup_s" -> (setupS, "s"),
      "read_p50_ms" -> (Stats.median(reads.toSeq), "ms"),
      "read_tail_ms" -> (readTail, "ms"),
      "op_p50_ms" -> (Stats.median(plain.map(_.ms).toSeq), "ms"),
      "op_tail_ms" -> (opTail, "ms"),
      "ops_per_s" -> (plain.size / loopS, "1/s"),
      "driver_heap_mb" -> (heapMb, "MB"))
    val extra = Seq(
      "commit_p50_ms" -> (Stats.median(commitsMs), "ms"),
      "commit_tail_ms" -> (commitTail, "ms"),
      "ingest_rows_per_s" -> (ingestRowsPerS, "rows/s"),
      "lake_bytes_per_row" -> (bytesPerRow, "B"),
      "failed_op_ratio" -> (failed.toDouble / attempted, "ratio"))

    val envLine = s"""{"env":{"workload":"${a.workload}","seed":${a.seed},"sf":${num(sf)},"spark_cores":$cores,"nproc":$nproc,"driver_heap_max_mb":${num(Runtime.getRuntime.maxMemory / 1048576.0)},"trace":${if (a.trace) 1 else 0},"loop_s":${num(loopS)},"session_s":${num(sessionS)},"build_s":${buildS.map(num).mkString("[", ",", "]")},"warmup_s":${num(warmS)},"external_cpu":${num(env.externalCpu)},"iowait":${num(env.iowait)},"steal":${num(env.steal)},"cycles":$totalCycles,"ops":${plain.size},"reads":${reads.size},"commits":${commitsMs.size}}}"""
    println(envLine)
    println(s"""{"samples":{"read_tail_pct":${num(readTailPct)},"read_n":${reads.size},"op_tail_pct":${num(opTailPct)},"op_n":${plain.size},"commit_tail_pct":${num(commitTailPct)},"commit_n":${commitsMs.size},"cycle_op_p50_ms":${cycleP50.map(num).mkString("[", ",", "]")},"attempted":$attempted,"failed":$failed}}""")
    println(Json.metrics("end_to_end_extra", extra))
    val perQuery = plain.groupBy(_.name).map { case (n, rs) => n -> Stats.median(rs.map(_.ms).toSeq) }
    println(perQuery.toSeq.sortBy(_._1).map { case (n, v) => s""""$n":${num(v)}""" }
      .mkString("""{"per_op_p50_ms":{""", ",", "}}"))

    val metrics =
      if (!a.trace) e2e
      else {
        val traced = results.filter(_.traced)
        val layers = Layers.compute(tracer, traced.toSeq, ctx, floorMs.toSeq,
          tableAtStart, table, cores)
        // tracing overhead: per op name, traced median over untraced median
        val ratios = traced.groupBy(_.name).flatMap { case (n, rs) =>
          val base = plain.filter(_.name == n).map(_.ms)
          if (base.isEmpty) None else Some(Stats.median(rs.map(_.ms).toSeq) / Stats.median(base.toSeq))
        }
        val overheadPct = if (ratios.isEmpty) 0.0 else (Stats.median(ratios.toSeq) - 1) * 100
        println(Json.metrics("layer_self_ms", layers.selfTimes))
        layers.metrics ++ extra.filterNot(_._1 == "failed_op_ratio") :+
          ("trace.overhead_pct" -> (overheadPct, "%"))
      }
    println(s"""{"correct":${failed == 0},"attempted":$attempted,"failed":$failed,"metrics":${Json.metricMap(metrics)}}""")
    spark.stop()
  }
}

/** Quantiles by the Harrell–Davis estimator: a Beta-weighted average of
  * every order statistic. With a few dozen samples drawn from a handful
  * of op types it varies far less from run to run than the single
  * middle sample does. */
object Stats {
  def quantile(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) 0.0
    else if (xs.size == 1) xs.head
    else {
      val n = xs.size
      val beta = new org.apache.commons.math3.distribution.BetaDistribution(
        p * (n + 1), (1 - p) * (n + 1))
      xs.sorted.zipWithIndex.map { case (x, i) =>
        x * (beta.cumulativeProbability((i + 1).toDouble / n) -
          beta.cumulativeProbability(i.toDouble / n))
      }.sum
    }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** The highest percentile with at least ten samples above it, and that
    * percentile. Below 21 samples no percentile from the median up has
    * ten samples above it, and the maximum (percentile 100) is reported. */
  def tail(xs: Seq[Double]): (Double, Double) =
    if (xs.isEmpty) (0.0, 0.0)
    else if (xs.size < 21) (xs.max, 100.0)
    else {
      val p = (xs.size - 10).toDouble / xs.size
      (quantile(xs, p), 100.0 * p)
    }
}

object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => " "
      case c => c.toString
    } + "\""

  def metricMap(ms: Seq[(String, (Double, String))]): String =
    ms.map { case (n, (v, u)) => s""""$n":{"value":${Main.num(v)},"unit":"$u"}""" }
      .mkString("{", ",", "}")

  def metrics(label: String, ms: Seq[(String, (Double, String))]): String =
    s"""{"$label":${metricMap(ms)}}"""
}

/** A table directory walked at one point in time. */
final case class LakeFiles(logFiles: Long, logBytes: Long, checkpoints: Long,
                           dataFiles: Long, totalBytes: Long)

object LakeFiles {
  def walk(dir: String): LakeFiles = {
    val files = Files.walk(Paths.get(dir)).iterator().asScala
      .filter(p => Files.isRegularFile(p)).toSeq
    def under(d: String) = files.filter(_.toString.contains(s"/$d/"))
    val log = under("_graft_log")
    val data = under("_graft_data").filter(_.getFileName.toString.endsWith(".parquet"))
    LakeFiles(log.size, log.map(Files.size).sum,
      log.count(_.getFileName.toString.contains(".ckpt")), data.size,
      files.map(Files.size).sum)
  }
}

/** Machine-noise record over the loop, read as `graft.Bench` reads it:
  * other processes' CPU share (system load minus this process, sampled
  * every second) and the iowait and steal shares of `/proc/stat`. */
final class EnvSampler {
  private val os = ManagementFactory.getPlatformMXBean(
    classOf[com.sun.management.OperatingSystemMXBean])
  private val samples = new java.util.concurrent.CopyOnWriteArrayList[java.lang.Double]()
  @volatile private var running = true
  private var stat0: Option[Array[Long]] = None
  private var stat1: Option[Array[Long]] = None
  private val thread = new Thread(() => {
    while (running) {
      val sys = os.getCpuLoad
      val proc = os.getProcessCpuLoad
      if (sys >= 0 && proc >= 0) samples.add(math.max(0.0, sys - proc))
      try Thread.sleep(1000) catch { case _: InterruptedException => running = false }
    }
  })
  thread.setDaemon(true)

  private def procCpu(): Option[Array[Long]] =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      try src.getLines().find(_.startsWith("cpu ")).map(_.trim.split("\\s+").drop(1).map(_.toLong))
      finally src.close()
    } catch { case _: Throwable => None }

  def start(): Unit = { stat0 = procCpu(); thread.start() }
  def stop(): Unit = { running = false; thread.interrupt(); thread.join(); stat1 = procCpu() }

  def externalCpu: Double =
    if (samples.isEmpty) -1.0 else samples.asScala.map(_.doubleValue).sum / samples.size

  private def frac(i: Int): Double = (stat0, stat1) match {
    case (Some(x), Some(y)) if math.min(x.length, y.length) > i =>
      val n = math.min(x.length, y.length)
      val d = (0 until n).map(j => (y(j) - x(j)).toDouble)
      if (d.sum <= 0) -1.0 else d(i) / d.sum
    case _ => -1.0
  }
  def iowait: Double = frac(4)
  def steal: Double = frac(7)
}
