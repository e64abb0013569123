package perfbench

import graft.queries.Q

/** Checks the benchmark's own accounting: a unit that throws and a unit
  * whose digest differs from its golden both count as failed and neither
  * contributes a latency; the seed changes only the submission order. */
object SelfTest {
  def run(data: String, work: String): Int = {
    val spark = Main.session(s"$data/sf0.001", work, trace = false)
    val problems = scala.collection.mutable.ArrayBuffer.empty[String]
    def check(ok: Boolean, what: String): Unit = if (!ok) problems += what

    val wl = new QueryWorkload("selftest", s"$data/sf0.001", Seq(
      Q("fake_ok", (s, _) => s.range(100).toDF("id"), None),
      Q("fake_throws", (_, _) => throw new IllegalStateException("fake failure"), None),
      Q("fake_mismatch", (s, _) => s.range(100).toDF("id"), None)))
    val captured = scala.collection.mutable.Map.empty[String, Digest]
    wl.pass(spark, wl.units, 0, None, None, (u, d) => captured(u) = d)
    val goldens = Map(
      "fake_ok" -> captured("fake_ok"),
      "fake_mismatch" -> captured("fake_mismatch").copy(hash = "0"))
    val r = wl.pass(spark, wl.units, 1, None, Some(goldens), (_, _) => ())
    val by = r.outcomes.map(o => o.unit -> o).toMap
    check(by("fake_ok").ok && by("fake_ok").seconds > 0, "fake_ok should pass with a timing")
    check(!by("fake_throws").ok && by("fake_throws").seconds == 0 &&
      by("fake_throws").error.contains("fake failure"), "fake_throws should fail, untimed, with its error")
    check(!by("fake_mismatch").ok && by("fake_mismatch").seconds == 0 &&
      by("fake_mismatch").error.startsWith("mismatch"), "fake_mismatch should fail, untimed, as a mismatch")
    check(Main.latencies(Seq(r)) == Map("fake_ok" -> Seq(by("fake_ok").seconds)),
      "only passing units may be timed")
    check(Main.failedFrac(Seq(r)) == 2.0 / 3, "failed_frac should be 2/3")

    // a job submitted from a driver future inside the program is counted
    // as unattributed, not charged to the phase whose job group it inherited
    val tr = new Tracer(spark.sparkContext)
    val futures = new QueryWorkload("selftest", s"$data/sf0.001", Seq(
      Q("fake_future", (s, _) => {
        import scala.concurrent.ExecutionContext.Implicits.global
        val n = scala.concurrent.Await.result(scala.concurrent.Future(s.range(10).count()),
          scala.concurrent.duration.Duration.Inf)
        s.range(n).toDF("id")
      }, None)))
    tr.attach()
    val w0 = System.currentTimeMillis()
    futures.pass(spark, futures.units, 0, Some(tr), None, (_, _) => ())
    val w1 = System.currentTimeMillis()
    tr.detach()
    val layer = tr.layerMetrics(0, w0, w1, Nil)
    check(layer("trace.unattributed_jobs") > 0 &&
      layer("trace.unattributed_jobs") + layer("queries.exec_jobs") == layer("spark.jobs"),
      s"every job of the driver future should be unattributed: $layer")
    check(layer("queries.build_jobs") == 0, "the driver-future job must not count as a build job")
    spark.stop()

    for (w <- Main.Workloads) {
      val units = Workload(w, data, work).units
      val a = Workload.order(units, 1, 0)
      check(a == Workload.order(units, 1, 0), s"$w: the same seed must give the same order")
      check(a.sorted == units.sorted && Workload.order(units, 2, 0).sorted == units.sorted,
        s"$w: a seed may only permute the units")
      check(a != Workload.order(units, 2, 0), s"$w: another seed should give another order")
    }

    problems.foreach(p => println(s"selftest FAIL: $p"))
    if (problems.isEmpty) { println("selftest ok"); 0 } else 1
  }
}
