package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import org.apache.spark.sql.SparkSession

/** Benchmark entry point:
  *
  *   perfbench.Main --workload NAME --seed N --seconds S --trace 0|1 --work DIR
  *
  * Prints `# ...` report lines, then one JSON result line. Untraced, the
  * result carries the end-to-end metrics; traced, the per-layer ones. */
object Main {
  val SetupRuns = 3
  val CountedSteps = 4

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val workloadName = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val trace = opts("trace") == "1"
    val work = Paths.get(opts("work")).toAbsolutePath
    val spark = session(work)
    try run(spark, workloadName, seed, seconds, trace, work)
    finally spark.stop()
  }

  def session(work: Path): SparkSession = {
    val cpus = Runtime.getRuntime.availableProcessors
    val b = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
    graft.sources.Tables.sessionConfs.foreach { case (k, v) => b.config(k, v) }
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def storageMemory(spark: SparkSession): Long =
    spark.sparkContext.getExecutorMemoryStatus.values.map(_._1).sum

  def workload(name: String, spark: SparkSession, seed: Long, work: Path): Workload = name match {
    case "rpl_ingest" => new RplIngest(spark, seed, work)
    case "corpus_curate" => new CorpusCurate(spark, seed, work)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  private def run(spark: SparkSession, name: String, seed: Long, seconds: Double,
      trace: Boolean, work: Path): Unit = {
    val phases = mutable.ArrayBuffer("jvm" ->
      (System.currentTimeMillis - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3)
    var mark = System.nanoTime()
    def phase(p: String): Unit = {
      val now = System.nanoTime(); phases += p -> (now - mark) / 1e9; mark = now
    }
    val w = workload(name, spark, seed, work)
    w.prepare()
    phase("generate")
    val setupTimes = (0 until SetupRuns).map { i =>
      val d = work.resolve(s"setup-$i")
      val t0 = System.nanoTime()
      w.setup(d)
      val t = (System.nanoTime() - t0) / 1e9
      if (i > 0) Workload.deleteTree(work.resolve(s"setup-${i - 1}"))
      t
    }
    w.use(work.resolve(s"setup-${SetupRuns - 1}"))
    phase("setup")
    val out = new Outcome
    val warm = new Outcome
    w.warmUp(warm)
    out.attempted += warm.attempted
    out.failures ++= warm.failures.map("warm-up " + _)

    phase("warm-up")
    val tracer = if (trace) Some(new Tracer(spark)) else None
    tracer.foreach(_.start())
    // traced, steps run in pairs on one query variant, one step untraced
    // and one traced, the traced one second in even pairs and first in
    // odd ones; a traced run completes at least CountedSteps steps, so
    // its counts cover the same operations on every run of a seed
    val t0 = System.nanoTime()
    var k = 0
    def elapsed = (System.nanoTime() - t0) / 1e9
    while (elapsed < seconds || k % w.round != 0 || (trace && k < CountedSteps)) {
      val traced = trace && (k % 2 == 1) != (k / 2 % 2 == 1)
      w.step(k, if (trace) k / 2 else k, if (traced) tracer else None, out)
      k += 1
    }
    val loopSeconds = elapsed
    tracer.foreach(_.stop())
    phase("loop")

    val batches = out.of("batch"); val queries = out.of("query")
    val env = Seq(
      "workload" -> Json.str(name), "seed" -> seed.toString,
      "trace" -> trace.toString,
      "nproc" -> Runtime.getRuntime.availableProcessors.toString,
      "default_parallelism" -> spark.sparkContext.defaultParallelism.toString,
      "max_heap_bytes" -> Runtime.getRuntime.maxMemory.toString,
      "storage_memory_bytes" -> storageMemory(spark).toString,
      "spark_version" -> Json.str(spark.version),
      "jvm_version" -> Json.str(System.getProperty("java.version")),
      "input_bytes" -> w.inputBytes.toString,
      "stored_bytes" -> Workload.dirBytes(work.resolve(s"setup-${SetupRuns - 1}")).toString)
    println("# env " + env.map { case (k, v) => s"${Json.str(k)}:$v" }.mkString("{", ",", "}"))
    println(f"# loop: $k%d steps in $loopSeconds%.2f s; " +
      f"${out.attempted}%d operations attempted, ${out.failed}%d failed, " +
      f"failed_ratio ${out.failed.toDouble / math.max(1, out.attempted)}%.4f")
    println(f"# setup_s runs: ${setupTimes.map(t => f"$t%.3f").mkString(" ")}")
    println("# phases: " + phases.map { case (p, t) => f"$p $t%.1f s" }.mkString(", "))
    Seq("batch", "query", "compact").foreach { kind =>
      val xs = out.samples.collect { case (`kind`, t, traced) => f"$t%.3f${if (traced) "*" else ""}" }
      if (xs.nonEmpty) println(s"# $kind samples (s, * traced): ${xs.mkString(" ")}")
    }
    Seq("batch" -> batches, "query" -> queries).foreach { case (kind, xs) =>
      val (t, p) = Stats.tail(xs)
      println(f"# ${kind}_tail_s ${Json.num(t)} s: p$p%.0f of ${xs.size}%d untraced samples")
    }
    println(s"# peak_rss_bytes $peakRss bytes")
    w.report(out).foreach { case (n, v, u) => println(s"# $n ${Json.num(v)} $u") }
    out.failures.foreach(f => println(s"# FAILED $f"))
    println(s"# checks: ${if (out.failed == 0) "PASS" else "FAIL"}")

    val metrics: Seq[(String, Double, String)] =
      if (!trace) Seq(
        ("setup_s", Stats.median(setupTimes), "s"),
        ("batch_p50_s", Stats.median(batches), "s"),
        ("query_p50_s", Stats.median(queries), "s"))
      else {
        val t = tracer.get
        val path = work.getParent.resolve(s"trace-$name-$seed.jsonl")
        t.write(path)
        println(s"# spans: ${t.spans.size} written to ${work.getParent.getFileName}/${path.getFileName}")
        val counted = (0 until CountedSteps).filter(i => (i % 2 == 1) != (i / 2 % 2 == 1)).toSet
        // traced and untraced steps run the same query variants, so their
        // batch and query totals compare like for like
        def total(traced: Boolean) = out.samples.collect {
          case (kind, t, `traced`) if kind == "batch" || kind == "query" => t }.sum
        val pairs = out.samples.count { case (kind, _, traced) => traced && kind == "query" }
        println(f"# tracing overhead: traced steps ${total(true)}%.3f s, untraced ${total(false)}%.3f s, over $pairs%d steps each")
        Layers.metrics(t.spans.toSeq, counted) ++ Seq(
          ("trace.overhead_s", (total(true) - total(false)) / pairs, "s"),
          ("trace.overhead_ratio", total(true) / total(false), "ratio"))
      }
    val body = metrics.map { case (n, v, u) =>
      s"${Json.str(n)}:{${Json.str("value")}:${Json.num(v)},${Json.str("unit")}:${Json.str(u)}}"
    }.mkString("{", ",", "}")
    println(s"""{"correct":${out.failed == 0},"attempted":${out.attempted},"failed":${out.failed},"metrics":$body}""")
  }

  /** Peak resident set of this JVM (driver and executors in local mode). */
  def peakRss: Long = {
    val status = Paths.get("/proc/self/status")
    if (!Files.exists(status)) Runtime.getRuntime.totalMemory
    else {
      val line = new String(Files.readAllBytes(status), "UTF-8").linesIterator
        .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
      line.split("\\s+")(1).toLong * 1024
    }
  }
}

/** Per-layer metrics of a traced run, from its spans. */
object Layers {
  /** layer → own metrics: (metric, span function, what). `what` is
    * "time" (median span seconds), "count:<key>" (median over the
    * counted steps) or "ratio:<key>" (median over all calls). */
  val Own: Seq[(String, Seq[(String, String, String)])] = Seq(
    "history" -> Seq(
      ("append_s", "history.append", "time"),
      ("compact_s", "history.compact", "time"),
      ("compact_bytes_rewritten", "history.compact", "count:compact_bytes_rewritten"),
      ("read_s", "history.read", "time"),
      ("files_scanned", "history.read", "count:engine.scan_files"),
      ("rows_scanned", "history.read", "count:engine.scan_rows"),
      ("pruning_ratio", "history.read", "ratio:pruning")),
    "contiking" -> Seq(
      ("parse_s", "contiking.readLogs", "time"),
      ("findings", "contiking.readLogs", "count:findings"),
      ("warnings", "contiking.readLogs", "count:warnings")),
    "weave" -> Seq(
      ("retain_s", "weave.retainFindings", "time"),
      ("rows_retained", "weave.retainFindings", "count:rows_retained"),
      ("snapshot_s", "weave.snapshot", "time"),
      ("samples_per_link", "weave.snapshot", "ratio:samples_per_link")),
    "bfs" -> Seq(
      ("reachable_s", "bfs.reachable", "time"),
      ("visited", "bfs.reachable", "count:visited")),
    "getsnapshot" -> Seq(
      ("cached_bytes", "getsnapshot.", "count:cached_bytes")),
    "rpl" -> Seq(
      ("combine_s", "rpl.combineGraphs", "time")),
    "graphml" -> Seq(
      ("write_s", "graphml.write", "time"),
      ("bytes", "graphml.write", "count:bytes")),
    "dedup" -> Seq(
      ("candidates_s", "dedup.minhashCandidatePairs", "time"),
      ("cc_s", "dedup.clusterLabelsStar", "time"),
      ("keep_best_s", "dedup.keepBestPerCluster", "time"),
      ("pair_precision", "dedup.minhashCandidatePairs", "ratio:pair_precision"),
      ("planted_recall", "dedup.minhashCandidatePairs", "ratio:planted_recall")),
    "similarity" -> Seq(
      ("brute_s", "similarity.bruteTopK", "time"),
      ("ivf_s", "similarity.searchIvfIndex", "time"),
      ("ivf_recall", "similarity.searchIvfIndex", "ratio:ivf_recall")))

  /** Engine counters per layer: per traced step, counts over the
    * counted steps, times over the whole run; skew is the median over
    * spans of max ÷ median task run time. */
  val EngineCounts = Seq("jobs", "tasks", "shuffle_bytes", "spill_bytes", "failed_tasks")
  val EngineTimes = Seq("executor_run_s", "scheduler_delay_s", "planning_s")

  private def value(s: Span, key: String): Option[Double] = key match {
    case "pruning" =>
      val scanned = s.engine("scan_rows")
      s.values.get("rows_returned").filter(_ => scanned > 0).map(_ / scanned)
    case k if k.startsWith("engine.") => Some(s.engine(k.drop(7)))
    case k => s.values.get(k)
  }

  private def med(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else Stats.median(xs)

  def metrics(spans: Seq[Span], counted: Set[Int]): Seq[(String, Double, String)] = {
    val steps = spans.filter(_.parent.isEmpty).map(_.op).distinct.size.max(1)
    val countedSteps = counted.size.max(1)
    Own.flatMap { case (layer, ms) =>
      val own = ms.map { case (metric, fn, what) =>
        val calls = spans.filter(_.name.startsWith(fn))
        val v = what.split(":", 2) match {
          case Array("time") => med(calls.map(_.seconds))
          case Array("count", key) => med(calls.filter(s => counted(s.op)).flatMap(value(_, key)))
          case Array("ratio", key) => med(calls.flatMap(value(_, key)))
        }
        val unit = if (what == "time") "s" else if (what.startsWith("ratio")) "ratio"
          else if (metric.endsWith("bytes") || metric.endsWith("_rewritten")) "bytes" else "count"
        (s"$layer.$metric", v, unit)
      }
      val mine = spans.filter(_.layer == layer)
      val counts = EngineCounts.map { e =>
        (s"$layer.$e", mine.filter(s => counted(s.op)).map(_.engine(e)).sum / countedSteps,
          if (e.endsWith("bytes")) "bytes" else "count")
      }
      val times = EngineTimes.map(e => (s"$layer.$e", mine.map(_.engine(e)).sum / steps, "s"))
      val skew = med(mine.filter(_.taskRunMs.size >= 2).flatMap { s =>
        val m = Stats.median(s.taskRunMs.map(_.toDouble).toSeq)
        if (m > 0) Some(s.taskRunMs.max / m) else None
      })
      own ++ counts ++ times :+ ((s"$layer.task_skew", skew, "ratio"))
    }
  }
}
