package graft

import org.apache.spark.sql.SparkSession

/** The session posture, timing rule and number format every tool main
  * shares, so each main states only its own protocol.
  */
object Harness {
  /** `local[cpus]`, shuffle partitions = cpus, UTC, UI off, WARN logs.
    * `cpus` defaults to `SPARK_GRAFT_CPUS`, or 32 when unset. */
  def session(cpus: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // absorb one-time JVM/codegen-infra warmup so per-query numbers
    // measure the engine, not Janino bootstrap on whichever query
    // happens to iterate first
    spark.range(1000).selectExpr("sum(id)").collect()
    spark
  }

  /** `body`'s value and its wall seconds. Operator-internal caches are
    * per-execution state, not a cross-run warmup channel: they are
    * released after every run, after the clock stops (Bench's rule),
    * so each run pays its own persist cost and none pays the last
    * run's unpersist. */
  def timed[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    try { val r = body; (r, (System.nanoTime() - t0) / 1e9) }
    finally Caching.release()
  }

  /** Two decimals in `Locale.ROOT`: the f-interpolator uses the JVM
    * default locale, and a comma decimal separator would corrupt the
    * JSON lines the tools print. */
  def num(v: Double): String =
    String.format(java.util.Locale.ROOT, "%.2f", Double.box(v))

  /** Observed scaling exponent: a time `ratio` at `n`× the data is
    * n^exponent. */
  def exponent(ratio: Double, n: Double): Double = math.log(ratio) / math.log(n)

  /** One line per consecutive pair of ladder points `(N, a_s, b_s)`:
    * the N factor between them and the exponent of each of the two
    * timed paths, labelled `a` and `b`. */
  def exponentLines(points: Seq[(Int, Double, Double)], a: String, b: String): Seq[String] =
    points.sliding(2).collect { case Seq((n1, a1, b1), (n2, a2, b2)) =>
      val f = n2.toDouble / n1
      s"${n1}x -> ${n2}x (factor ${num(f)}): $a exponent ${num(exponent(a2 / a1, f))}, " +
        s"$b exponent ${num(exponent(b2 / b1, f))}"
    }.toSeq
}
