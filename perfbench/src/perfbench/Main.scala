package perfbench

import java.io.File
import java.lang.management.{ManagementFactory, MemoryType}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import graft.core.Sizing
import graft.plans.{AsOfJoinPlan, BucketedProximityJoin, GraftExtensions, IntervalBucketJoin}
import graft.queries.Registry
import org.apache.spark.sql.SparkSession

object Stats {
  /** Linear-interpolation percentile (numpy's default); 0 for no samples. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    if (xs.isEmpty) return 0.0
    val s = xs.sorted
    val r = (s.size - 1) * p / 100.0
    val lo = math.floor(r).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (r - lo)
  }

  def median(xs: Seq[Double]): Double = percentile(xs, 50)
}

/** The benchmark's JVM side: one session set-up shared by every workload,
  * closed-loop timed passes, checks against goldens, and the result line.
  *
  * {{{
  * perfbench.Main --workload <ep1_daily|board> --seed N --seconds S
  *   --trace 0|1 --data <dir> --work <dir> --goldens <file> --spans <file>
  * perfbench.Main --capture --data <dir> --work <dir> --goldens <file>
  * perfbench.Main --selftest --data <dir> --work <dir>
  * }}}
  */
object Main {
  /** `ops.<File>.task_s` keeps these files; the rest sum into `ops.other`. */
  val OpsFiles: Seq[String] = Seq("final_plan", "Tables", "SimilaritySearch", "Dedup",
    "StreamQs", "Streams")

  /** Untimed passes before the timed ones: JIT and Spark's own caches keep
    * warming for several passes after the first. */
  val WarmPasses = 2

  val Workloads = Seq("ep1_daily", "board")

  def session(dataDir: String, workDir: String, trace: Boolean): SparkSession = {
    val b = SparkSession.builder()
      .master("local[4]")
      .withExtensions(new GraftExtensions)
      .config("spark.sql.shuffle.partitions", Sizing.shufflePartitions(dataDir, 4).toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$workDir/spark-local")
      .config("spark.sql.warehouse.dir", s"$workDir/warehouse")
    if (trace) b.config("spark.sql.streaming.streamingQueryListeners", classOf[StreamTrace].getName)
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    checkExtensions(spark)
    spark
  }

  /** `getOrCreate()` silently drops extensions when a default session
    * already exists; a session without them would plan different queries. */
  def checkExtensions(spark: SparkSession): Unit = {
    val st = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].sessionState
    val rules = st.optimizer.extendedOperatorOptimizationRules
    val missing = Seq(
      "BucketedProximityJoin rule" -> rules.contains(BucketedProximityJoin),
      "IntervalBucketJoin rule" -> rules.contains(IntervalBucketJoin),
      "AsOfJoin strategy" -> st.planner.strategies.contains(AsOfJoinPlan.AsOfJoinStrategy))
      .collect { case (n, false) => n }
    require(missing.isEmpty, s"session lacks GraftExtensions: ${missing.mkString(", ")}")
  }

  def main(args: Array[String]): Unit = {
    val opts = args.sliding(2, 1).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val flags = args.filter(_.startsWith("--")).map(_.drop(2)).toSet
    val data = new File(opts("data")).getAbsolutePath
    val work = new File(opts("work")).getAbsolutePath
    val code =
      if (flags("selftest")) SelfTest.run(data, work)
      else if (flags("capture")) capture(data, work, opts("goldens"))
      else if (flags("survey")) survey(data, work)
      else bench(opts("workload"), opts("seed").toLong, opts("seconds").toDouble,
        opts("trace") == "1", data, work, opts("goldens"), opts("spans"))
    System.out.flush()
    sys.exit(code)
  }

  /** Runs every workload twice without goldens and writes the digests;
    * refuses when the two passes disagree (a non-deterministic output
    * cannot be checked by hash). */
  def capture(data: String, work: String, path: String): Int = {
    val spark = session(data, work, trace = false)
    val all = ArrayBuffer.empty[(String, Digest)]
    var code = 0
    for (w <- Workloads) {
      val wl = Workload(w, data, work)
      val runs = (0 until 2).map { p =>
        val got = scala.collection.mutable.LinkedHashMap.empty[String, Digest]
        val r = wl.pass(spark, wl.units, p, None, None, (u, d) => got(u) = d)
        r.outcomes.filterNot(_.ok).foreach { o => code = 1; println(s"capture: ${o.unit} failed: ${o.error}") }
        got
      }
      runs(0).foreach { case (u, d) =>
        if (runs(1).get(u).contains(d)) all += u -> d
        else { code = 1; println(s"capture: $u is not deterministic: $d vs ${runs(1).get(u)}") }
      }
    }
    if (code == 0) Goldens.save(path, all.toSeq)
    spark.stop()
    code
  }

  /** Profiles every `bench = true` query at sf0.01: after a warm pass, an
    * untraced pass gives each query's build / plan / exec seconds and a
    * traced pass its Spark jobs and task-seconds. This is the measurement
    * the `board` subset ([[Workload.BoardUnits]]) was chosen from. */
  def survey(data: String, work: String): Int = {
    val wl = new QueryWorkload("survey", s"$data/sf0.01", Registry.all.filter(_.bench))
    val spark = session(wl.dataDir, work, trace = false)
    val noop = (_: String, _: Digest) => ()
    wl.pass(spark, wl.units, -1, None, None, noop)
    val r = wl.pass(spark, wl.units, 0, None, None, noop)
    val t = new Tracer(spark.sparkContext)
    t.attach()
    val w0 = System.currentTimeMillis()
    val traced = wl.pass(spark, wl.units, 1, Some(t), None, noop)
    val w1 = System.currentTimeMillis()
    t.detach()
    spark.stop()
    val cols = Seq("spark.jobs", "queries.build_jobs", "ops.checkpoint_jobs",
      "trace.unattributed_jobs", "spark.task_s")
    val perUnit = t.unitTotals(1)
    println(("unit" +: "ok" +: "wall_s" +: "build_s" +: "plan_s" +: "exec_s" +: cols).mkString("\t"))
    r.outcomes.foreach { o =>
      val m = perUnit.getOrElse(o.unit, Map.empty[String, Double])
      println((Seq(o.unit, o.ok.toString) ++ Seq(o.seconds, o.buildS, o.planS, o.execS).map(x => f"$x%.3f") ++
        cols.map(c => f"${m.getOrElse(c, 0.0)}%.3f")).mkString("\t"))
    }
    val ok = r.outcomes.filter(_.ok)
    println(f"traced_pass_s\t${traced.wallS}%.3f")
    println(f"total\t${ok.size}/${r.outcomes.size}\t${r.wallS}%.3f\t${ok.map(_.buildS).sum}%.3f\t" +
      f"${ok.map(_.planS).sum}%.3f\t${ok.map(_.execS).sum}%.3f\t" +
      cols.map(c => f"${perUnit.values.map(_.getOrElse(c, 0.0)).sum}%.3f").mkString("\t"))
    t.layerMetrics(1, w0, w1, OpsFiles).toSeq.sorted.collect {
      case (k, v) if k.startsWith("ops.") || k.startsWith("spark.") => println(f"$k\t$v%.3f")
    }
    if ((r.outcomes ++ traced.outcomes).forall(_.ok)) 0 else 1
  }

  def bench(w: String, seed: Long, seconds: Double, trace: Boolean, data: String,
      work: String, goldensPath: String, spansPath: String): Int = {
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    val wl = Workload(w, data, work)
    val noop = (_: String, _: Digest) => ()
    // set-up, timed from JVM start: the session, its extension check, the
    // goldens and the warm passes (a JVM is cold only once, so once per run)
    val spark = session(wl.dataDir, work, trace)
    val goldens = Goldens.load(goldensPath)
    val warm = (1 to WarmPasses).map(k =>
      wl.pass(spark, Workload.order(wl.units, seed, -k), -k, None, Some(goldens), noop))
    val setupS = (System.currentTimeMillis() - jvmStart) / 1000.0

    val tracer = if (trace) Some(new Tracer(spark.sparkContext)) else None
    val heap = ManagementFactory.getMemoryPoolMXBeans.asScala.filter(_.getType == MemoryType.HEAP)
    heap.foreach(_.resetPeakUsage())
    // closed loop: the next pass starts when the previous one is checked.
    // A traced run alternates untraced and traced passes, so that the
    // tracing overhead is measured in the same run.
    val minPasses = if (trace) 4 else 1
    val passes = ArrayBuffer.empty[(PassResult, Long, Long, Boolean)]
    val t0 = System.nanoTime()
    while (passes.size < minPasses || System.nanoTime() - t0 < seconds * 1e9) {
      val p = passes.size
      val tr = if (p % 2 == 1) tracer else None
      tr.foreach(_.attach())
      val w0 = System.currentTimeMillis()
      val r = wl.pass(spark, Workload.order(wl.units, seed, p), p, tr, Some(goldens), noop)
      passes += ((r, w0, System.currentTimeMillis(), tr.isDefined))
      tr.foreach(_.detach())
    }
    val peakHeapMb = heap.map(_.getPeakUsage.getUsed).sum / (1024.0 * 1024.0)

    // every pass is checked and counts towards `failed`, warm passes too;
    // only the timed passes give latencies
    val checked = warm ++ passes.map(_._1)
    val outcomes = checked.flatMap(_.outcomes)
    val lat = latencies(passes.map(_._1).toSeq)
    val unitMedians = lat.values.map(Stats.median).toSeq
    val failed = outcomes.count(!_.ok)
    val errors = outcomes.filterNot(_.ok).groupBy(_.unit).map { case (u, os) => u -> os.head.error }
    val walls = passes.map(_._1.wallS).toSeq
    val record = Obj(
      "workload" -> w, "seed" -> seed, "seconds" -> seconds, "trace" -> trace,
      "passes" -> passes.size, "units_per_pass" -> wl.units.size,
      "attempted" -> outcomes.size, "failed" -> failed,
      "failed_frac" -> failedFrac(checked),
      "latency_samples" -> lat.values.map(_.size).sum,
      "peak_heap_mb" -> peakHeapMb,
      "setup_s" -> setupS, "warm_pass_s" -> warm.map(_.wallS), "pass_s" -> walls,
      "written_mb_per_pass" -> passes.map(_._1.bytesWritten / 1e6),
      "shuffle_partitions" -> Sizing.shufflePartitions(wl.dataDir, 4),
      "unit_median_s" -> Obj(wl.units.map(u => u -> Stats.median(lat.getOrElse(u, Nil))): _*),
      "errors" -> errors,
      "first_order" -> Workload.order(wl.units, seed, 0))
    println("perfbench-record " + Json(record))

    val metrics: Seq[(String, Double, String)] = tracer match {
      case None => Seq(
        ("setup_s", setupS, "s"),
        ("pass_s", Stats.median(walls), "s"),
        ("unit_mean_s", unitMedians.sum / unitMedians.size, "s"),
        ("unit_p90_s", Stats.percentile(unitMedians, 90), "s"))
      case Some(t) =>
        t.write(spansPath)
        layerMetrics(t, passes.toSeq, wl.dataDir) :+ (("core.peak_heap_mb", peakHeapMb, "MB"))
    }
    spark.stop()
    val out = Obj(
      "correct" -> (failed == 0), "attempted" -> outcomes.size, "failed" -> failed,
      "metrics" -> Obj(metrics.map { case (n, v, u) => n -> Obj("value" -> v, "unit" -> u) }: _*))
    println(Json(out))
    0
  }

  /** Latency samples per unit: passing attempts only. A unit that threw or
    * mismatched is counted in [[failedFrac]] and never timed. The latency
    * metrics are taken over the units' medians: a pooled percentile of a
    * handful of units lands in the gaps between them, and the rank of the
    * middle unit flips with the DAG's co-scheduling. */
  def latencies(rs: Seq[PassResult]): Map[String, Seq[Double]] =
    rs.flatMap(_.outcomes).filter(_.ok).groupBy(_.unit).map { case (u, os) => u -> os.map(_.seconds) }

  def failedFrac(rs: Seq[PassResult]): Double = {
    val os = rs.flatMap(_.outcomes)
    os.count(!_.ok).toDouble / os.size
  }

  /** Per-layer metrics: each is the median over the traced passes of its
    * per-pass value. */
  def layerMetrics(t: Tracer, passes: Seq[(PassResult, Long, Long, Boolean)],
      dataDir: String): Seq[(String, Double, String)] = {
    val traced = passes.zipWithIndex.filter(_._1._4)
    val perPass: Seq[Map[String, Double]] = traced.map { case ((r, w0, w1, _), p) =>
      val ok = r.outcomes.filter(_.ok)
      t.layerMetrics(p, w0, w1, OpsFiles) ++ r.pipeline ++ Map(
        "queries.build_s" -> ok.map(_.buildS).sum,
        "queries.exec_s" -> ok.map(_.execS).sum,
        "queries.output_rows" -> ok.map(_.rows.toDouble).sum,
        "plans.plan_s" -> ok.map(_.planS).sum,
        "plans.exchanges" -> ok.map(_.exchanges.toDouble).sum,
        "plans.graft_nodes" -> ok.map(_.graftNodes.toDouble).sum,
        "core.files_written" -> r.filesWritten.toDouble,
        "core.mean_file_kb" -> (if (r.filesWritten == 0) 0.0 else r.bytesWritten / 1024.0 / r.filesWritten),
        "core.written_mb" -> r.bytesWritten / (1024.0 * 1024.0),
        "core.shuffle_partitions" -> Sizing.shufflePartitions(dataDir, 4).toDouble)
    }
    val untraced = Stats.median(passes.filterNot(_._4).map(_._1.wallS))
    val tracedWall = Stats.median(traced.map(_._1._1.wallS))
    val names = (PipelineMetrics ++ perPass.flatMap(_.keys)).distinct.sorted
    names.map(n => (n, Stats.median(perPass.map(_.getOrElse(n, 0.0))), unitOf(n))) :+
      (("trace.overhead_frac", tracedWall / untraced - 1, "ratio"))
  }

  val PipelineMetrics = Seq("pipeline.jobs", "pipeline.job_busy_s", "pipeline.critical_path_s",
    "pipeline.sched_wait_s", "pipeline.concurrency", "pipeline.heavy_s")

  def unitOf(name: String): String = name.split('.').last match {
    case "rows_per_s" => "rows/s"
    case n if n.endsWith("_s") => "s"
    case n if n.endsWith("_ms") => "ms"
    case n if n.endsWith("_mb") => "MB"
    case n if n.endsWith("_kb") => "KB"
    case "concurrency" => "ratio"
    case _ => "count"
  }
}
