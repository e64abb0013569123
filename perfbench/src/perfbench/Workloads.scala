package perfbench

import java.io.File

import graft.pipeline.{Dag, DailyPipeline, Job}
import graft.queries.{Q, Registry}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Order-independent content digest of a result: the row count, the exact
  * decimal sum of a 64-bit hash over every output column, and the schema. */
final case class Digest(rows: Long, hash: String, schema: String)

object Digest {
  private def hasMap(t: DataType): Boolean = t match {
    case _: MapType => true
    case a: ArrayType => hasMap(a.elementType)
    case s: StructType => s.fields.exists(f => hasMap(f.dataType))
    case _ => false
  }

  /** The timed action of a query unit. It hashes every output column: a bare
    * `count()` would let Catalyst prune the columns it never reads and so
    * under-measure the query. Columns are renamed positionally so duplicate
    * output names stay addressable; maps go through `to_json` because Spark
    * refuses to hash map values. */
  def frame(df: DataFrame): DataFrame = {
    val named = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    val cols = named.schema.fields.toSeq.map(f =>
      if (hasMap(f.dataType)) to_json(col(f.name)) else col(f.name))
    val h = if (cols.isEmpty) lit(0L) else xxhash64(cols: _*)
    named.agg(count(lit(1)).as("n"),
      coalesce(sum(h.cast(DecimalType(38, 0))), lit(0).cast(DecimalType(38, 0))).as("h"))
  }

  /** The digest of `df` from the single row [[frame]] returned. */
  def read(df: DataFrame, row: Row): Digest =
    Digest(row.getLong(0), row.getDecimal(1).toPlainString,
      df.schema.fields.map(f => s"${f.name}:${f.dataType.simpleString}").mkString(","))

  /** Why `d` fails its golden, if it does; None while goldens are captured. */
  def mismatch(unit: String, d: Digest, goldens: Option[Map[String, Digest]]): Option[String] =
    goldens.flatMap(_.get(unit) match {
      case None => Some("no golden")
      case Some(w) if w != d => Some(
        s"mismatch: got ${d.rows} rows hash ${d.hash}, want ${w.rows} rows hash ${w.hash}" +
          (if (w.schema != d.schema) s" schema ${d.schema}" else ""))
      case _ => None
    })
}

/** The result of one attempt at one unit. A failed unit keeps its error and
  * carries no timing: latency metrics read only `ok` outcomes. */
final case class Outcome(unit: String, ok: Boolean, seconds: Double, error: String = "",
    buildS: Double = 0, planS: Double = 0, execS: Double = 0, rows: Long = 0,
    exchanges: Int = 0, graftNodes: Int = 0)

/** One pass over every unit of a workload, plus what it left on disk. */
final case class PassResult(outcomes: Seq[Outcome], wallS: Double, filesWritten: Long,
    bytesWritten: Long, pipeline: Map[String, Double] = Map.empty)

/** Goldens captured at the seed commit: a [[Digest]] per query unit and a
  * row count per DAG mart (schema and hash "-"). One tab-separated line each. */
object Goldens {
  def load(path: String): Map[String, Digest] = {
    val src = scala.io.Source.fromFile(path, "UTF-8")
    try src.getLines().filter(_.nonEmpty).map { line =>
      val Array(unit, rows, hash, schema) = line.split("\t", 4)
      unit -> Digest(rows.toLong, hash, schema)
    }.toMap finally src.close()
  }

  def save(path: String, gs: Seq[(String, Digest)]): Unit = {
    val w = new java.io.PrintWriter(path, "UTF-8")
    try gs.sortBy(_._1).foreach { case (u, d) => w.println(s"$u\t${d.rows}\t${d.hash}\t${d.schema}") }
    finally w.close()
  }
}

/** A named workload: a fixed set of units, run one pass at a time. The seed
  * only permutes the order in which units are submitted. */
trait Workload {
  def name: String
  def dataDir: String
  def units: Seq[String]
  /** Runs every unit once, in `order`, checking each against `goldens`
    * (None while goldens are captured); `got` receives each unit's digest. */
  def pass(spark: SparkSession, order: Seq[String], pass: Int, tr: Option[Tracer],
      goldens: Option[Map[String, Digest]], got: (String, Digest) => Unit): PassResult
}

object Workload {
  /** The seed-derived submission order for one pass: a permutation of `units`
    * and nothing else. */
  def order(units: Seq[String], seed: Long, pass: Int): Seq[String] =
    new scala.util.Random(seed * 1000003L + pass).shuffle(units)

  def apply(name: String, dataRoot: String, workDir: String): Workload = name match {
    case "ep1_daily" => new Ep1Daily(s"$dataRoot/sf0.001", workDir)
    case "board" => new QueryWorkload("board", s"$dataRoot/sf0.01", registry(BoardUnits))
    case other => throw new IllegalArgumentException(s"unknown workload $other (ep1_daily | board)")
  }

  def registry(names: Seq[String]): Seq[Q] = {
    val byName = Registry.all.map(q => q.name -> q).toMap
    names.map(n => byName.getOrElse(n, throw new IllegalArgumentException(s"no registry query $n")))
  }

  /** Board subset, chosen from a `--survey` of the full board by time
    * quintile (perfbench/README.md gives the measurement): an eager
    * checkpoint chain, checkpoint chains overlapped on driver futures, a
    * sketch kernel, a text-chunking scan and an AsOfJoin plan. */
  val BoardUnits: Seq[String] = Seq("gr1_pagerank_neardup", "dq1_data_questions",
    "a18_quantile_sketch", "t28_cdc_chunk_dedup", "j5b_asof_native")

  /** EP1 marts the DAG is cut down to; their dependency closure runs. */
  val Ep1Marts: Seq[String] = Seq("revenue_dashboard", "source_overlap_matrix",
    "contact_preferences", "customer_order_stats")

  /** Streaming seats the daily run catches up (Trigger.AvailableNow): an
    * aggregation state store under a watermark, and a TableSwap-committed
    * compacting ingest. */
  val Ep1Seats: Seq[String] = Seq("st1_stream_window_counts", "st9_stream_compacted_ingest")

  /** Counts and removes what the units left under the JVM temp dir (seat
    * state stores, WALs, swapped tables), keeping the stream-source link
    * dirs. Returns (files, bytes). */
  def sweepTmp(): (Long, Long) = {
    val tmp = new File(sys.props("java.io.tmpdir"))
    val isLink = (f: File) => f.getName.startsWith("graft_stream_")
    val use = diskUse(Option(tmp.listFiles).toSeq.flatten.filterNot(isLink))
    deleteUnder(tmp, isLink)
    use
  }

  def diskUse(dirs: Seq[File]): (Long, Long) = {
    def walk(f: File): Iterator[File] =
      if (java.nio.file.Files.isSymbolicLink(f.toPath)) Iterator.empty
      else if (f.isDirectory) Option(f.listFiles).iterator.flatten.flatMap(walk)
      else Iterator(f)
    val files = dirs.iterator.flatMap(walk).toSeq
    (files.size.toLong, files.map(_.length).sum)
  }

  def deleteUnder(dir: File, keep: File => Boolean = _ => false): Unit =
    Option(dir.listFiles).iterator.flatten.filterNot(keep).foreach(delete)

  private def delete(f: File): Unit = {
    if (f.isDirectory && !java.nio.file.Files.isSymbolicLink(f.toPath))
      Option(f.listFiles).iterator.flatten.foreach(delete)
    f.delete()
  }
}

/** Queries run one at a time: build inside `q.run`, force the final plan of
  * the digest, then execute it. */
final class QueryWorkload(val name: String, val dataDir: String, qs: Seq[Q])
    extends Workload with AdaptiveSparkPlanHelper {
  private val byName: Map[String, Q] = qs.map(q => q.name -> q).toMap
  val units: Seq[String] = qs.map(_.name)

  def pass(spark: SparkSession, order: Seq[String], pass: Int, tr: Option[Tracer],
      goldens: Option[Map[String, Digest]], got: (String, Digest) => Unit): PassResult = {
    val t0 = System.nanoTime()
    val outcomes = order.map(u => run(spark, byName(u), pass, tr, goldens, got))
    val wall = (System.nanoTime() - t0) / 1e9
    val (files, bytes) = Workload.sweepTmp()
    PassResult(outcomes, wall, files, bytes)
  }

  private def countPlan(plan: SparkPlan): (Int, Int) = {
    val nodes = collectWithSubqueries(plan) { case p => p }
    val exchanges = nodes.count(_.isInstanceOf[Exchange])
    val graft = nodes.map { p =>
      (if (p.getClass.getName.startsWith("graft.")) 1 else 0) +
        p.expressions.map(_.collect { case e if e.getClass.getName.startsWith("graft.") => e }.size).sum
    }.sum
    (exchanges, graft)
  }

  /** One query unit: build, plan, exec, check. Any throw or mismatch is a
    * failed outcome whose elapsed time is dropped. */
  private def run(spark: SparkSession, q: Q, pass: Int, tr: Option[Tracer],
      goldens: Option[Map[String, Digest]], got: (String, Digest) => Unit): Outcome = {
    val span = tr.map(_.open(q.name, "unit", pass))
    def phase[A](ph: String)(body: => A): (A, Double) = {
      val child = tr.map(_.open(s"${q.name}.$ph", ph, pass, span))
      child.foreach(c => tr.foreach(_.enter(c)))
      val t0 = System.nanoTime()
      try (body, (System.nanoTime() - t0) / 1e9)
      finally child.foreach(c => tr.foreach(t => { t.leave(); t.close(c) }))
    }
    try {
      val (df, buildS) = phase("build")(q.run(spark, dataDir))
      val (dig, planS) = phase("plan") {
        val d = Digest.frame(df)
        d.queryExecution.executedPlan
        d
      }
      val (row, execS) = phase("exec")(dig.collect()(0))
      val (exchanges, graftNodes) = countPlan(dig.queryExecution.executedPlan)
      val d = Digest.read(df, row)
      got(q.name, d)
      Digest.mismatch(q.name, d, goldens) match {
        case Some(why) => Outcome(q.name, ok = false, 0, why)
        case None => Outcome(q.name, ok = true, buildS + planS + execS, "", buildS, planS, execS,
          d.rows, exchanges, graftNodes)
      }
    } catch {
      case e: Throwable => Outcome(q.name, ok = false, 0, e.toString.take(500))
    } finally tr.foreach(t => span.foreach(t.close))
  }
}

/** The EP1 daily build cut to the dependency closure of [[Workload.Ep1Marts]],
  * plus the stream catch-up jobs of [[Workload.Ep1Seats]], run by
  * `Dag.runParallel` (its own 4-thread pool) into a fresh output directory
  * per pass. A mart fails if the DAG reports it failed or its row count
  * differs from the golden; a seat fails if it throws or its digest differs. */
final class Ep1Daily(val dataDir: String, workDir: String) extends Workload {
  val name = "ep1_daily"
  private val seats = Workload.registry(Workload.Ep1Seats)

  private def martsAt(out: String): Seq[Job] = {
    val all = DailyPipeline.jobs(dataDir, out)
    val byName = all.map(j => j.name -> j).toMap
    def closure(n: String): Set[String] = byName(n).deps.toSet.flatMap(closure) + n
    val keep = Workload.Ep1Marts.flatMap(closure).toSet
    all.filter(j => keep(j.name))
  }

  private val marts = martsAt("unused")
  val units: Seq[String] = marts.map(_.name) ++ seats.map(_.name)
  private val heavy: Set[String] = marts.filter(_.heavy).map(_.name).toSet
  private val outRoot = new File(workDir, "ep1")

  def pass(spark: SparkSession, order: Seq[String], pass: Int, tr: Option[Tracer],
      goldens: Option[Map[String, Digest]], got: (String, Digest) => Unit): PassResult = {
    val out = new File(outRoot, s"pass$pass").getPath
    val seatRows = new java.util.concurrent.ConcurrentHashMap[String, Long]()
    val seatJobs = seats.map(q => Job(q.name, Nil, s => {
      val df = q.run(s, dataDir)
      val d = Digest.read(df, Digest.frame(df).collect()(0))
      got(q.name, d)
      Digest.mismatch(q.name, d, goldens).foreach(why => throw new IllegalStateException(why))
      seatRows.put(q.name, d.rows)
    }))
    val byName = (martsAt(out) ++ seatJobs).map(j => j.name -> j).toMap
    val passSpan = tr.map(_.open("dag", "dag", pass))
    val spans = new java.util.concurrent.ConcurrentHashMap[String, (Long, Long)]()
    val jobs = order.map { n =>
      val j = byName(n)
      j.copy(run = s => {
        val span = tr.map(_.open(n, "dag_job", pass, passSpan))
        span.foreach(sp => tr.foreach(_.enter(sp)))
        val t0 = System.nanoTime()
        try j.run(s)
        finally {
          spans.put(n, (t0, System.nanoTime()))
          span.foreach(sp => tr.foreach(t => { t.leave(); t.close(sp) }))
        }
      })
    }
    val t0 = System.nanoTime()
    val results = new Dag(jobs).runParallel(spark, 4).map(r => r.name -> r).toMap
    val dagWall = (System.nanoTime() - t0) / 1e9
    val dur = units.map(n => n -> Option(spans.get(n)).map { case (a, b) => (b - a) / 1e9 }
      .getOrElse(0.0)).toMap
    val outcomes = order.map { n =>
      val r = results(n)
      if (r.status != "ok") Outcome(n, ok = false, 0, s"${r.status}: ${r.error.getOrElse("")}")
      else if (seatRows.containsKey(n)) Outcome(n, ok = true, dur(n), rows = seatRows.get(n))
      else try {
        val d = Digest(spark.read.parquet(s"$out/$n").count(), "-", "-")
        got(s"ep1:$n", d)
        goldens.map(_.get(s"ep1:$n")) match {
          case Some(Some(w)) if w.rows != d.rows => Outcome(n, ok = false, 0,
            s"mismatch: got ${d.rows} rows, want ${w.rows}")
          case Some(None) => Outcome(n, ok = false, 0, "no golden")
          case _ => Outcome(n, ok = true, dur(n), rows = d.rows)
        }
      } catch { case e: Throwable => Outcome(n, ok = false, 0, e.toString.take(500)) }
    }
    val wall = (System.nanoTime() - t0) / 1e9
    tr.foreach(t => passSpan.foreach(t.close))
    val (martFiles, martBytes) = Workload.diskUse(Seq(new File(out)))
    Workload.deleteUnder(outRoot)
    val (tmpFiles, tmpBytes) = Workload.sweepTmp()
    // critical path from the measured job durations and the declared deps
    val deps = byName.map { case (n, j) => n -> j.deps }
    val finish = scala.collection.mutable.Map.empty[String, Double]
    def fin(n: String): Double = finish.getOrElseUpdate(n, dur(n) + (deps(n).map(fin) :+ 0.0).max)
    val critical = (units.map(fin) :+ 0.0).max
    val busy = dur.values.sum
    PassResult(outcomes, wall, martFiles + tmpFiles, martBytes + tmpBytes, Map(
      "pipeline.jobs" -> units.size.toDouble,
      "pipeline.job_busy_s" -> busy,
      "pipeline.critical_path_s" -> critical,
      "pipeline.sched_wait_s" -> (dagWall - critical),
      "pipeline.concurrency" -> busy / dagWall,
      "pipeline.heavy_s" -> dur.filter(kv => heavy(kv._1)).values.sum))
  }
}
