package graft

/** Optimization-round side harness (guide §1.4/§1.5) — NOT the driver
  * bench. Two modes over the SAME query map and session shape as
  * [[Bench]] (which is frozen for measurement):
  *
  *   plans <outDir> [q...]   write `.explain("formatted")` per query
  *   time  [q...]            per-query noop-sink timings (median of
  *                           SPARK_GRAFT_BENCH_RUNS, default 3) — times the
  *                           computation of every column, not the sink
  *
  * Reads SPARK_GRAFT_SF_DIR / SPARK_GRAFT_CPUS like Bench. Numbers from
  * here are cited in OPTIMIZATION_r06.md; the shipped bench numbers stay
  * Bench.scala's.
  */
object BenchExtra {

  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: BenchExtra plans <outDir> [q...] | time [q...]")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Bench.session()
    spark.sparkContext.setLogLevel("WARN")
    val fns = SparkEntry.queries

    args(0) match {
      case "plans" =>
        val outDir = args(1)
        val names = if (args.length > 2) args.drop(2).toSeq else fns.keys.toSeq.sorted
        java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
        names.foreach { name =>
          val plan = fns(name)(spark, sfDir).queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode)
          java.nio.file.Files.writeString(
            java.nio.file.Paths.get(s"$outDir/$name.txt"), plan)
          println(s"wrote $outDir/$name.txt")
        }
      case mode @ ("time" | "noop") =>
        // "time" mirrors the frozen driver bench action (.count());
        // "noop" computes every column (guide §1.4) to expose work count()
        // lets the optimizer prune
        val runs = sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "3").toInt
        val names = if (args.length > 1) args.drop(1).toSeq else fns.keys.toSeq.sorted
        val results = names.map { name =>
          spark.sparkContext.setJobDescription(s"$mode: $name")
          val times = (1 to runs).map { _ =>
            val t0 = System.nanoTime()
            val df = fns(name)(spark, sfDir)
            if (mode == "noop") df.write.format("noop").mode("overwrite").save()
            else df.count()
            (System.nanoTime() - t0) / 1e9
          }.sorted
          val line = f"""  "$name": {"median": ${times(times.length / 2)}%.3f, "min": ${times.head}%.3f, "max": ${times.last}%.3f}"""
          println(line)
          line
        }
        println(results.mkString("{\n", ",\n", "\n}"))
    }
    spark.stop()
  }
}
