package perfbench

import org.apache.spark.sql.SparkSession
import scala.collection.mutable
import scala.util.Random

/** Runs one workload for a fixed window and prints its metrics.
  *
  * {{{
  *   perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *                  --work <dir> [--commit <sha>]
  * }}}
  *
  * The last stdout line is the result: `{"correct", "attempted",
  * "failed", "metrics"}`. Untraced runs report the end-to-end metrics,
  * traced runs the per-layer ones. Any failed answer check prints
  * `"correct": false` and exits 1.
  */
object Main {
  val Cores = 4
  val SetupRepeats = 3

  /** Layers timed as self time per op that calls them. */
  val LayerSpans: Seq[String] = Seq(
    "QueryRequest.parse", "PointsUpdate.parse", "VectorIndex.call", "PayloadIndex.call",
    "AnnIndex.call", "Embedder.embed", "VectorIndex.load", "commit.save",
    "CuratePipeline.curate", "spark.plan", "spark.exec", "render.json")

  val PerLayer: Seq[(String, String)] =
    LayerSpans.map(l => s"${l}_ms" -> "ms") ++ Seq(
      "spark.driver_gap_ms" -> "ms", "spark.jobs_per_op" -> "count",
      "spark.tasks_per_op" -> "count", "spark.task_cpu_ms_per_op" -> "ms",
      "spark.shuffle_bytes_per_op" -> "bytes", "spark.spill_bytes_per_op" -> "bytes",
      "spark.gc_ms_per_op" -> "ms", "spark.task_skew" -> "ratio",
      "scan.rows_read_per_result" -> "rows", "scan.bytes_read_per_op" -> "bytes",
      "AnnIndex.rows_probed_fraction" -> "ratio", "AnnIndex.recall_at_10" -> "ratio",
      "commit.bytes_written_per_op" -> "bytes", "commit.files_written_per_op" -> "count",
      "commit.write_amplification" -> "ratio",
      "trace.uncovered_pct" -> "%", "trace.overhead_pct" -> "%")

  def workload(name: String, seed: Long): Workload = name match {
    case "tenant_search" => new TenantSearch(seed, nPoints = 8000, nTenants = 200)
    case "ingest_mixed" => new IngestMixed(seed, nPoints = 2000, nTenants = 100)
    case "curate_corpus" => new CurateCorpus(seed, nBase = 120)
    case other => throw new IllegalArgumentException(
      s"unknown workload '$other' (tenant_search, ingest_mixed, curate_corpus)")
  }

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") =>
      k.stripPrefix("--") -> v }.toMap
    def opt(k: String): String = opts.getOrElse(k,
      throw new IllegalArgumentException(s"missing --$k"))
    val name = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toInt
    val traced = opt("trace") == "1"
    val work = opt("work")
    val w = workload(name, seed)
    val env0 = Env.sample()
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val phases = mutable.ArrayBuffer[(String, Double)]()
    var lap = System.nanoTime()
    def phase(p: String): Unit = {
      val now = System.nanoTime()
      phases += ((p, (now - lap) / 1e9))
      lap = now
    }

    val spark = SparkSession.builder()
      .master(s"local[$Cores]")
      .appName(s"perfbench-$name")
      .config("spark.sql.shuffle.partitions", Cores)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      classOf[org.apache.spark.sql.execution.window.WindowExec].getName,
      org.apache.logging.log4j.Level.ERROR)
    val counters = new SparkCounters
    spark.sparkContext.addSparkListener(counters)
    val tracer = new Tracer(traced)
    val ctx = new Ctx(spark, tracer, counters, work)

    var code = 1
    phases += (("jvm", (System.currentTimeMillis() - jvmStart) / 1e3 - (System.nanoTime() - lap) / 1e9))
    phase("session")
    try {
      w.stage(ctx)
      phase("stage")
      val setupS = (1 to SetupRepeats).map { i =>
        val t0 = System.nanoTime()
        w.setup(ctx, ctx.dir(s"setup-$i"))
        (System.nanoTime() - t0) / 1e9
      }
      phase("setups")
      w.prepare(ctx)
      phase("prepare")
      w.warmup(ctx)
      phase("warmup")

      // A client stops after its last whole step: after the deadline, or
      // after a fixed step count where the workload sets one. The window
      // ends when the last client stops, so every step is counted whole.
      ctx.measuring = true
      val t0 = System.nanoTime()
      val deadline = t0 + seconds * 1000000000L
      val fixed = w.fixedSteps(seconds)
      val stopNs = new java.util.concurrent.atomic.AtomicLong(t0)
      val threads = (0 until w.clients).map { c =>
        val th = new Thread(() => {
          val rnd = new Random(seed * 1009 + c)
          var n = 0
          def more = fixed.fold(System.nanoTime() < deadline)(n < _)
          try while (more) { w.step(ctx, c, rnd); n += 1 }
          catch { case e: Exception => ctx.check(ok = false, s"client $c stopped: $e") }
          stopNs.accumulateAndGet(System.nanoTime(), math.max)
        })
        th.start()
        th
      }
      threads.foreach(_.join())
      ctx.measuring = false
      phase("window")
      org.apache.spark.perfbench.ListenerDrain(spark.sparkContext)

      val recs = ctx.records
      val primary = recs.filter(_.primary)
      require(primary.nonEmpty, s"no $name op completed within $seconds s")
      val windowS = (stopNs.get() - t0) / 1e9
      System.gc()
      System.gc()
      val rt = Runtime.getRuntime
      val heapMb = (rt.totalMemory() - rt.freeMemory()) / 1048576.0
      val env1 = Env.sample()

      // every kind of unit op weighs the same, whatever its share of ops
      val opP50 = Stats.mean(primary.groupBy(_.kind).values.map(rs => Stats.median(rs.map(_.ms))).toSeq)
      println(Env.stampJson(name, seed, traced, opts.getOrElse("commit", "unknown"),
        spark.version, env0, env1))
      println(f"$name: ${primary.size} ops in $windowS%.2f s, op p50 (mean over kinds) $opP50%.1f ms, " +
        f"${primary.map(_.work).sum / windowS}%.1f ${w.unit}/s; set-ups ${setupS.map(s => f"$s%.2f").mkString(" ")} s")
      recs.groupBy(_.kind).toSeq.sortBy(_._1).foreach { case (k, rs) =>
        val ms = rs.map(_.ms)
        val tail = Stats.tailPercentile(ms.size).filter(_ > 50)
          .map(p => f", p$p%.0f ${Stats.percentile(ms, p)}%.1f ms").getOrElse("")
        println(f"  $k: p50 ${Stats.median(ms)}%.1f ms$tail (n=${ms.size})")
      }
      w.report(ctx).foreach(println)
      println(phases.map { case (p, s) => f"$p $s%.2f" }.mkString("phases (s): ", ", ", ""))
      ctx.failed.take(20).foreach(f => println(s"FAILED: $f"))

      val metrics: Seq[(String, Double, String)] =
        if (!traced) Seq(
          ("setup_s", Stats.median(setupS), "s"),
          ("op_p50_ms", opP50, "ms"),
          ("work_per_s", primary.map(_.work).sum / windowS, "1/s"),
          ("heap_after_gc_mb", heapMb, "MB"))
        else {
          val layer = Layers.figures(ctx, recs, primary) ++ w.layerFigures(ctx)
          Layers.writeSpans(ctx, s"$work/../trace-$name-$seed.jsonl")
          PerLayer.map { case (m, u) => (m, layer.getOrElse(m, 0.0), u) }
        }
      val correct = ctx.failed.isEmpty
      println(resultJson(correct, ctx.attempted, ctx.failed.size, metrics))
      code = if (correct) 0 else 1
    } catch {
      case e: Throwable =>
        System.err.println(s"perfbench: run aborted: $e")
        e.printStackTrace()
    } finally spark.stop()
    System.exit(code)
  }

  def resultJson(correct: Boolean, attempted: Int, failed: Int,
                 metrics: Seq[(String, Double, String)]): String = {
    val m = metrics.map { case (k, v, u) =>
      s""""$k": {"value": ${Layers.num(v)}, "unit": "$u"}""" }.mkString(", ")
    s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": {$m}}"""
  }
}

/** Per-layer figures from spans and listener counters. */
object Layers {
  def num(v: Double): String = {
    require(!v.isNaN && !v.isInfinite, s"non-finite metric value $v")
    v.toString
  }

  def figures(ctx: Ctx, recs: Seq[OpRecord], primary: Seq[OpRecord]): Map[String, Double] = {
    val ids = recs.map(_.id).toSet
    val spans = ctx.tracer.recorded.filter(s => ids.contains(s.trace))
    val self = SpanMath.selfTimesMs(spans)
    val byName = spans.groupBy(_.name)
    val layerMs = Main.LayerSpans.map { l =>
      val ss = byName.getOrElse(l, Nil)
      val ops = ss.map(_.trace).distinct.size
      s"${l}_ms" -> (if (ops == 0) 0.0 else ss.map(s => self(s.id)).sum / ops)
    }.toMap

    // job times are epoch ms; spans are nanoTime
    val offsetNs = System.currentTimeMillis() * 1000000.0 - System.nanoTime()
    val spansOf = spans.groupBy(_.trace)
    val gaps = primary.map { r =>
      val exec = spansOf.getOrElse(r.id, Nil).filter(_.exec)
        .map(s => (s.startNs.toDouble, s.endNs.toDouble))
      val jobs = ctx.counters.of(r.id).jobSpans.toSeq
        .map { case (a, b) => (a * 1e6 - offsetNs, b * 1e6 - offsetNs) }
      Stats.driverGap(exec, jobs) / 1e6
    }
    val cs = primary.map(r => ctx.counters.of(r.id))
    val n = primary.size.toDouble
    val skews = cs.flatMap(_.stageTaskMs.values).filter(_.size > 1).map(t => Stats.skew(t.toSeq))
    val results = primary.map(_.results).sum
    val wallNs = recs.map(r => (r.endNs - r.startNs).toDouble).sum
    layerMs ++ Map(
      "spark.driver_gap_ms" -> Stats.mean(gaps),
      "spark.jobs_per_op" -> cs.map(_.jobs).sum / n,
      "spark.tasks_per_op" -> cs.map(_.tasks).sum / n,
      "spark.task_cpu_ms_per_op" -> cs.map(_.cpuNs).sum / 1e6 / n,
      "spark.shuffle_bytes_per_op" -> cs.map(_.shuffleBytes).sum / n,
      "spark.spill_bytes_per_op" -> cs.map(_.spillBytes).sum / n,
      "spark.gc_ms_per_op" -> cs.map(_.gcMs).sum / n,
      "spark.task_skew" -> (if (skews.isEmpty) 1.0 else Stats.mean(skews)),
      "scan.rows_read_per_result" -> cs.map(_.rowsRead).sum.toDouble / math.max(1L, results),
      "scan.bytes_read_per_op" -> cs.map(_.bytesRead).sum / n,
      "trace.uncovered_pct" -> SpanMath.uncoveredShare(spans) * 100,
      "trace.overhead_pct" -> spans.size * ctx.tracer.perSpanCostNs() / wallNs * 100)
  }

  /** One JSON object per span, for reading a run after the fact. */
  def writeSpans(ctx: Ctx, path: String): Unit = {
    val w = new java.io.PrintWriter(path)
    try ctx.tracer.recorded.sortBy(s => (s.trace, s.startNs)).foreach { s =>
      w.println(s"""{"trace": ${s.trace}, "span": ${s.id}, "parent": ${s.parent}, """ +
        s""""name": "${s.name}", "start_ns": ${s.startNs}, "end_ns": ${s.endNs}}""")
    } finally w.close()
  }
}

/** The environment stamp printed with every result: a contended run is
  * flagged where its numbers are read.
  */
object Env {
  final case class Sample(loadavg: Double, foreignJvms: Int)

  def sample(): Sample = Sample(loadavg, foreignJvms)

  private def loadavg: Double =
    try scala.io.Source.fromFile("/proc/loadavg").mkString.split(" ")(0).toDouble
    catch { case _: Exception => -1.0 }

  /** JVMs on this machine other than this one. */
  private def foreignJvms: Int = {
    val self = ProcessHandle.current().pid()
    ProcessHandle.allProcesses().filter { p =>
      p.pid() != self && p.info().command().orElse("").endsWith("/java")
    }.count().toInt
  }

  def stampJson(workload: String, seed: Long, traced: Boolean, commit: String,
                sparkVersion: String, start: Sample, end: Sample): String = {
    val rt = Runtime.getRuntime
    val nproc = rt.availableProcessors()
    // another JVM during the run, or every core already busy before it
    // began (back-to-back runs leave a decaying load of a few, so a
    // threshold of one would flag every run)
    val contended = start.foreignJvms > 0 || end.foreignJvms > 0 || start.loadavg >= nproc
    s"""{"env": {"workload": "$workload", "seed": $seed, "trace": $traced, """ +
      s""""commit": "$commit", "nproc": $nproc, "spark_cores": ${Main.Cores}, """ +
      s""""loadavg_start": ${start.loadavg}, "loadavg_end": ${end.loadavg}, """ +
      s""""foreign_jvms": ${math.max(start.foreignJvms, end.foreignJvms)}, """ +
      s""""heap_max_mb": ${rt.maxMemory() / 1048576}, "spark_version": "$sparkVersion", """ +
      s""""contended": $contended}}"""
  }
}
