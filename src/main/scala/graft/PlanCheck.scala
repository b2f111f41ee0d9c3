package graft
import Harness.timed
/** Dev tool: steady-state timing (2nd run) or --plan to dump executedPlan. */
object PlanCheck {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Harness.session()
    val (flags, names0) = args.partition(_.startsWith("--"))
    val plan = flags.contains("--plan") || flags.contains("--plan-exec")
    val exec = flags.contains("--plan-exec") // materialize first: AQE final plan incl. stage reuse
    // --formatted=<dir>/<suffix>: write each query's explain("formatted")
    // to <dir>/<name>_<suffix>.txt — the committed plan evidence the
    // optimization-round deliverable requires (plans/r19/…_before/_after)
    val fmtOut = flags.collectFirst { case f if f.startsWith("--formatted=") =>
      f.stripPrefix("--formatted=") }
    val names = if (names0.nonEmpty) names0.toSeq else SparkEntry.queries.keys.toSeq.sorted
    for (n <- names) {
      val fn = SparkEntry.queries(n)
      if (fmtOut.isDefined) {
        val sep = fmtOut.get.lastIndexOf('/')
        // r19 ADVICE: a value with no '/' made substring(0, -1) throw a
        // bare StringIndexOutOfBoundsException — name the expected form
        require(sep >= 0,
          s"--formatted expects <dir>/<suffix>, got '${fmtOut.get}'")
        val (dir, suffix) = (fmtOut.get.substring(0, sep), fmtOut.get.substring(sep + 1))
        val df = fn(spark, sfDir)
        // execute first, as --plan-exec does, so the dump is the AQE
        // final plan (isFinalPlan=true), not the initial one
        df.queryExecution.executedPlan.execute().count()
        val out = df.queryExecution.explainString(
          org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
        java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
        java.nio.file.Files.writeString(
          java.nio.file.Paths.get(dir, s"${n}_$suffix.txt"), out)
        println(s"WROTE $dir/${n}_$suffix.txt")
        Caching.release()
      } else if (plan) {
        val df = fn(spark, sfDir)
        // execute THIS df's own physical plan (count()/noop both plan a
        // DIFFERENT query on top, leaving this AdaptiveSparkPlan at
        // isFinalPlan=false forever) — the r20 audit needs the post-AQE
        // final join strategies
        if (exec) df.queryExecution.executedPlan.execute().count()
        println(s"===== $n ====="); println(df.queryExecution.executedPlan.toString.take(8000))
      } else {
        fn(spark, sfDir).count(); Caching.release()
        val (_, t) = timed(fn(spark, sfDir).count())
        println(f"STEADY $n%-22s $t%8.3f s")
      }
    }
    spark.stop()
  }
}
