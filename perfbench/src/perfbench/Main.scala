package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import graft.GraftSession
import graft.sources.Tables

/** One benchmark run inside one JVM: set-up, an untimed warm-up pass,
  * then timed passes over the workload's operations for the requested
  * seconds. With tracing, two traced passes sit between two untraced
  * ones, so the tracing overhead is measured in the same run. Everything
  * run.py needs is written to one result file.
  *
  * Arguments are `key=value`: workload, seed, seconds, trace (0|1),
  * cores, input (the generated input directory), setups (how many
  * times set-up is repeated), work, out, spans. */
object Main {
  /** Job-floor queries that read neither `documents` nor `embeddings`:
    * each kept the cores under half busy in a traced run, and q_khop
    * runs an eager checkpoint loop inside its SparkEntry lambda. */
  val DriverQueries: Seq[String] = Seq("q_hash", "q_khop")
  val CorpusQueries: Seq[String] =
    Seq("q_dedup_minhash", "q_quality", "q_gopher_rules")
  /** Timed passes per run at least, so each operation's best pass is
    * taken over more than one try. */
  val MinPasses = 2
  /** The graft module that serves each corpus query. */
  val Module: Map[String, String] = Map(
    "q_dedup_minhash" -> "dedup", "q_quality" -> "text",
    "q_gopher_rules" -> "quality")

  def main(args: Array[String]): Unit = {
    val a = args.map { s => val i = s.indexOf('='); s.take(i) -> s.drop(i + 1) }.toMap
    val workload = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val trace = a("trace") == "1"
    val cores = a("cores").toInt
    val input = a("input")
    val setups = a("setups").toInt
    val work = a("work")

    val spark = GraftSession.builder("perfbench", s"local[$cores]", cores)
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/spark-warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS =
      (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0

    val w: Seq[Workload] = workload match {
      case "driver_sf01" => Seq(new QueryWorkload(spark, seed, DriverQueries, s"$work/check"),
        new WarehouseWorkload(spark, seed, work))
      case "corpus_amplified" => Seq(new QueryWorkload(spark, seed, CorpusQueries, s"$work/check"))
      case other => sys.error(s"unknown workload $other")
    }
    val prepS = (0 until setups).map { i =>
      val t0 = System.nanoTime()
      w.foreach(_.prepare(input, i))
      (System.nanoTime() - t0) / 1e9
    }

    val tracer = if (trace) Some(new Tracer(spark)) else None
    val b = new Bench(spark, tracer)
    val tw = System.nanoTime()
    w.foreach(_.warmup(b))
    val warmupS = (System.nanoTime() - tw) / 1e9

    b.peakStorageBytes = 0L
    b.released = 0L
    b.releaseMs = 0.0
    val passes = mutable.ArrayBuffer.empty[Pass]
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    def onePass(p: Int, traced: Boolean): Unit = {
      b.pass = p
      b.traced = traced
      val t = tracer.filter(_ => traced)
      t.foreach(_.attach())
      val start = tracer.map(_.nowMs).getOrElse(0.0)
      val (c0, st0, s0) = (Cpu.seconds, Cpu.stealTicks, System.nanoTime())
      t match {
        case Some(tr) => tr.span(s"pass $p", "pass")(w.foreach(_.pass(b, p)))
        case None => w.foreach(_.pass(b, p))
      }
      val wall = (System.nanoTime() - s0) / 1e9
      val (cpu, st1) = (Cpu.seconds - c0, Cpu.stealTicks)
      t.foreach(_.detach())
      passes += Pass(p, traced, wall, cpu,
        (st1._1 - st0._1).toDouble / math.max(1L, st1._2 - st0._2),
        start, tracer.map(_.nowMs).getOrElse(0.0))
    }
    def window(): Unit =
      if (trace) {
        // untraced, traced, untraced: a linear drift across the passes
        // (warming, growing delta layers) cancels out of the overhead
        (0 until 3).foreach(p => onePass(p, traced = p == 1))
      } else {
        var p = 0
        while (p < MinPasses || elapsed < seconds) { onePass(p, traced = false); p += 1 }
      }
    tracer match {
      case Some(t) => t.span("run", "run")(window())
      case None => window()
    }
    b.pass = passes.size
    b.traced = false
    val extra = w.flatMap(_.finish(b))
    val layers = tracer.map(t => Layers(spark, t, b, w, passes.toSeq, cores, input))
    tracer.foreach(t => Files.writeString(Paths.get(a("spans")), t.spansJson))

    val rec = b.records.map { r =>
      Json.obj(Seq("name" -> Json.str(r.name), "kind" -> Json.str(r.kind),
        "pass" -> r.pass.toString, "traced" -> r.traced.toString, "ms" -> Json.num(r.ms),
        "ok" -> r.ok.toString, "error" -> Json.str(r.error)) ++ r.spark.toSeq.flatMap { x =>
        Seq("task_ms" -> Json.num(x.taskMs), "jobs" -> x.jobs.toString,
          "gap_ms" -> Json.num(x.gapMs), "scan_bytes" -> x.scanBytes.toString)
      })
    }
    val out = Json.obj(Seq(
      "session_s" -> Json.num(sessionS),
      "prepare_s" -> Json.arr(prepS.map(Json.num)),
      "warmup_s" -> Json.num(warmupS),
      "passes" -> Json.arr(passes.toSeq.map { p =>
        Json.obj(Seq("pass" -> p.index.toString, "traced" -> p.traced.toString,
          "wall_s" -> Json.num(p.wallS), "cpu_s" -> Json.num(p.cpuS),
          "steal_frac" -> Json.num(p.stealFrac)))
      }),
      "peak_storage_mb" -> Json.num(b.peakStorageBytes / 1048576.0),
      "ops" -> Json.arr(rec.toSeq),
      "workload" -> Json.obj(extra),
      "layers" -> layers.map(l => Json.obj(l.map { case (k, v) => k -> Json.num(v) }))
        .getOrElse("null")))
    Files.writeString(Paths.get(a("out")), out)
    spark.stop()
    // library thread pools left idle by the queries must not hold the JVM open
    sys.exit(0)
  }
}

/** One timed pass: wall and process CPU seconds, the host's steal share
  * of CPU time meanwhile, and its span interval when traced. */
final case class Pass(index: Int, traced: Boolean, wallS: Double, cpuS: Double,
    stealFrac: Double, startMs: Double, endMs: Double)

/** Per-layer metrics of a traced run. Counts, bytes and summed times
  * are per traced pass; latencies of one operation kind are medians. */
object Layers {
  def apply(spark: org.apache.spark.sql.SparkSession, t: Tracer, b: Bench, w: Seq[Workload],
      passes: Seq[Pass], cores: Int,
      inputDir: String): Seq[(String, Double)] = {
    val traced = passes.filter(_.traced)
    val n = math.max(1, traced.size).toDouble
    val plain = passes.filterNot(_.traced)
    val recs = b.records.toSeq.filter(r => r.traced && r.pass >= 0)
    val c = t.c
    val mb = 1048576.0
    def median(xs: Seq[Double]): Double =
      if (xs.isEmpty) 0.0 else { val s = xs.sorted; val m = s.size / 2
        if (s.size % 2 == 1) s(m) else (s(m - 1) + s(m)) / 2 }
    // a write kind that only warm-up runs (fold) is reported from warm-up
    def kindMs(k: String) = median(Some(recs.filter(_.kind == k)).filter(_.nonEmpty)
      .getOrElse(b.records.toSeq.filter(r => r.kind == k && r.pass < 0)).map(_.ms))
    val wallMs = traced.map(_.wallS).sum * 1000
    val lookups = recs.count(_.kind == "lookup")
    val docsPartitions =
      if (new java.io.File(s"$inputDir/documents.parquet").exists())
        Tables.documents(spark, inputDir).rdd.getNumPartitions.toDouble
      else 0.0
    val wh = w.collectFirst { case x: WarehouseWorkload => x }
    val timedPasses = math.max(1, passes.size).toDouble
    val moduleMs = Main.Module.values.toSeq.distinct.sorted.map { m =>
      s"$m.ms" -> recs.filter(r => Main.Module.get(r.name).contains(m)).map(_.ms).sum / n
    }
    Seq(
      "queries.build_ms" -> recs.map(_.buildMs).sum / n,
      "queries.action_ms" -> recs.map(_.actionMs).sum / n,
      "plans.actions" -> c.actions / n,
      "plans.analysis_ms" -> c.analysisMs / n,
      "plans.optimize_ms" -> c.optimizeMs / n,
      "plans.physical_ms" -> c.physicalMs / n,
      "spark.jobs" -> c.jobs / n,
      "spark.stages" -> c.stages / n,
      "spark.tasks" -> c.tasks / n,
      "spark.job_ms" -> c.jobMs / n,
      "spark.driver_gap_ms" -> traced.map(p => t.gapMs(p.startMs, p.endMs)).sum / n,
      "spark.task_ms" -> c.taskMs / n,
      "spark.sched_delay_ms" -> c.schedDelayMs / n,
      "spark.core_busy_frac" -> (if (wallMs > 0) c.taskMs / (wallMs * cores) else 0.0),
      "spark.shuffle_read_mb" -> c.shuffleRead / mb / n,
      "spark.shuffle_write_mb" -> c.shuffleWrite / mb / n,
      "spark.fetch_wait_ms" -> c.fetchWaitMs / n,
      "spark.spill_mb" -> c.spill / mb / n,
      "operators.ckpt_pinned_peak_mb" -> b.peakStorageBytes / mb,
      "operators.ckpt_released" -> b.released / timedPasses,
      "operators.ckpt_release_ms" -> b.releaseMs / timedPasses,
      "sources.input_mb" -> c.scanBytes / mb / n,
      "sources.docs_partitions" -> docsPartitions,
      "sources.input_kb_per_task" ->
        (if (c.scanTasks > 0) c.scanBytes / 1024.0 / c.scanTasks else 0.0),
      "sources.patch_ms" -> kindMs("patch"),
      "sources.fold_ms" -> kindMs("fold"),
      "sources.output_mb" -> c.output / mb / n,
      "sources.rows_upserted" -> wh.map(_.rowsUpserted / timedPasses).getOrElse(0.0),
      "sources.lookup_ms" -> kindMs("lookup"),
      "sources.range_ms" -> kindMs("range"),
      "sources.version_read_ms" -> kindMs("version"),
      "sources.delta_layers" -> wh.map(x =>
        if (x.layerCounts.isEmpty) 0.0 else x.layerCounts.sum.toDouble / x.layerCounts.size)
        .getOrElse(0.0),
      "sources.lookup_read_kb" ->
        (if (lookups > 0) recs.filter(_.kind == "lookup").flatMap(_.spark).map(_.scanBytes).sum /
          1024.0 / lookups else 0.0),
    ) ++ moduleMs ++ Seq(
      "jvm.gc_ms" -> t.gcMs / n,
      "jvm.heap_peak_mb" -> t.heapPeakBytes / mb,
      "run.trace_overhead_s" -> (median(traced.map(_.wallS)) - median(plain.map(_.wallS))),
    )
  }
}
