package graft

/** Dev tool: time individual queries (steady-state, N reps) so a
  * perf change can be measured in isolation instead of re-running the
  * whole bench. Each rep splits into DataFrame construction (the
  * builder's driver-side jobs) and execution (the `count()`), with the
  * jobs each phase ran; the split printed is the fastest rep's.
  * Usage: runMain graft.TimeQ q_pagerank [q_x ...] */
object TimeQ {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val reps = sys.env.getOrElse("SPARK_GRAFT_REPS", "3").toInt
    val spark = Harness.session(Harness.cpus)
    val jobs = Harness.JobCounter.attach(spark)
    val names = if (args.nonEmpty) args.toSeq else Seq("q1_pricing_summary")
    names.foreach { n =>
      val fn = SparkEntry.queries(n)
      fn(spark, "/root/testdata/sf0.001").count() // plan/codegen warmup
      // (construct s, construct jobs, exec s, exec jobs) per rep
      val runs = (1 to reps).map { _ =>
        val j0 = jobs.drained()
        val (df, cs) = Harness.timed(fn(spark, sfDir))
        val j1 = jobs.drained()
        val (_, es) = Harness.timed(df.count())
        (cs, j1 - j0, es, jobs.drained() - j1)
      }
      val times = runs.map { case (cs, _, es, _) => cs + es }
      val (cs, cj, es, ej) = runs.minBy { case (cs, _, es, _) => cs + es }
      println(f"$n%-28s min=${times.min}%6.3f  med=${times.sorted.apply(reps / 2)}%6.3f  " +
        f"construct=$cs%6.3f/${cj}j  exec=$es%6.3f/${ej}j  " +
        s"runs=${times.map(t => f"$t%.3f").mkString(",")}")
    }
    spark.stop()
  }
}
