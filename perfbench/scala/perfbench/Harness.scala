package perfbench

import java.nio.file.{Files, Path}
import scala.collection.mutable.ArrayBuffer
import org.apache.spark.sql.{Column, DataFrame, Observation, Row, SparkSession}
import org.apache.spark.sql.functions._

/** One timed (or check-pass) operation as the runner reports it. */
final case class OpRecord(op: String, pass: Int, seconds: Double, ok: Boolean,
                          err: String, traced: Boolean)

/** A named correctness check; `ok = false` fails the run. */
final case class Check(name: String, ok: Boolean, detail: String)

/** Order-independent fingerprint of a frame's full output: row count
  * plus two commutative sums of per-row hashes over every column. */
final case class Fingerprint(rows: Long, h1: Long, h2: Long) {
  override def toString: String = s"$rows:$h1:$h2"
}

object Fingerprint {
  /** Aggregates for `Dataset.observe`: computed in the same execution
    * that writes the frame to the noop sink, so checking costs no
    * second pass. Sums of 31-bit hashes cannot overflow a long below
    * 2^32 rows. */
  def columns(df: DataFrame): Seq[Column] = {
    val cols = df.columns.toSeq.map(c => col(s"`$c`"))
    Seq(count(lit(1)).as("pb_rows"),
      coalesce(sum(hash(cols: _*).cast("long")), lit(0L)).as("pb_h1"),
      coalesce(sum(pmod(xxhash64(cols: _*), lit(2147483647L))), lit(0L)).as("pb_h2"))
  }

  def of(row: Map[String, Any]): Fingerprint =
    Fingerprint(row("pb_rows").asInstanceOf[Long], row("pb_h1").asInstanceOf[Long],
      row("pb_h2").asInstanceOf[Long])

  /** Fingerprint of a frame by aggregation (used by the self-test). */
  def compute(df: DataFrame): Fingerprint = {
    val r = df.agg(columns(df).head, columns(df).tail: _*).head()
    Fingerprint(r.getLong(0), r.getLong(1), r.getLong(2))
  }
}

/** Wall-clock spans kept in memory and written out at exit. `parent`
  * is the id of the enclosing span, -1 for a root. */
final case class Span(id: Int, parent: Int, name: String, op: Int,
                      startNs: Long, var endNs: Long)

final class Spans {
  val all = ArrayBuffer[Span]()
  private var stack = List.empty[Span]
  var enabled = false
  var currentOp = -1

  def apply[A](name: String)(body: => A): A =
    if (!enabled) body
    else {
      val s = Span(all.size, stack.headOption.map(_.id).getOrElse(-1), name,
        currentOp, System.nanoTime(), -1L)
      all += s
      stack = s :: stack
      try body
      finally { s.endNs = System.nanoTime(); stack = stack.tail }
    }
}

/** Minimal JSON encoder for the run record (maps, sequences, strings,
  * numbers, booleans). */
object Json {
  def apply(v: Any): String = v match {
    case null => "null"
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\r' => b ++= "\\r"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b += '"'
    b.toString
  }
}

/** Session, clock and bookkeeping shared by every workload.
  *
  * Session settings follow `graft.Bench`: `local[cpus]`, shuffle
  * partitions = cpus, UTC session time zone, UI off. Scratch state
  * (block manager, warehouse, stream checkpoints) stays under `work`. */
final class Harness(val work: Path, val cpus: Int, val seed: Long, val traced: Boolean) {
  var spark: SparkSession = _
  val spans = new Spans
  var tracer: Option[Trace] = None
  val records = ArrayBuffer[OpRecord]()
  val checks = ArrayBuffer[Check]()
  private var opSeq = 0

  def startSession(): SparkSession = {
    val tmp = work.resolve("tmp")
    Files.createDirectories(tmp)
    spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", tmp.resolve("local").toString)
      .config("spark.sql.warehouse.dir", tmp.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // same JVM/codegen bootstrap absorption as graft.Bench
    spark.range(1000).selectExpr("sum(id)").collect()
    if (traced) tracer = Some(Trace.install(spark))
    spark
  }

  def stopSession(): Unit = if (spark != null) {
    tracer.foreach(_.uninstall())
    tracer = None
    spark.stop()
    spark = null
  }

  def path(name: String): String = work.resolve(name).toString

  def check(name: String, ok: Boolean, detail: => String = ""): Unit =
    checks += Check(name, ok, if (ok) "" else detail)

  /** Write `df` with every column to the noop sink, observing its
    * fingerprint in the same execution. */
  def materialize(df: DataFrame): Map[String, Any] = {
    val (obs, observed) = observe(df)
    observed.write.format("noop").mode("overwrite").save()
    obs.get
  }

  /** Collect `df`, observing its fingerprint in the same execution. */
  def collect(df: DataFrame): (Array[Row], Map[String, Any]) = {
    val (obs, observed) = observe(df)
    val rows = observed.collect()
    (rows, obs.get)
  }

  private def observe(df: DataFrame): (Observation, DataFrame) = {
    val obs = Observation(s"pb_fp_$opSeq")
    opSeq += 1
    val fp = Fingerprint.columns(df)
    (obs, df.observe(obs, fp.head, fp.tail: _*))
  }

  /** Run one operation of pass `pass` under the benchmark's job group
    * and span tree (op → build/execute/release inside `body`), then
    * assert that the operation left no tracked persist behind. */
  def timeOp(op: String, pass: Int, trace: Boolean)(body: => Boolean): OpRecord = {
    val id = records.size
    spark.sparkContext.setJobGroup(s"perfbench-op-$id", s"$op pass $pass")
    spans.enabled = trace && tracer.isDefined
    spans.currentOp = id
    tracer.filter(_ => spans.enabled).foreach(_.beginOp(id, op))
    val t0 = System.nanoTime()
    val (ok, err) =
      try spans(op) {
        val good = body
        spans("release")(graft.Caching.release())
        (good, if (good) "" else "wrong output")
      } catch {
        case e: Throwable =>
          graft.Caching.release()
          (false, s"${e.getClass.getSimpleName}: ${e.getMessage}".take(300))
      }
    val secs = (System.nanoTime() - t0) / 1e9
    val pending = graft.Caching.pendingCount
    tracer.filter(_ => spans.enabled).foreach(_.endOp(secs, pending))
    spans.enabled = false
    spark.sparkContext.clearJobGroup()
    val rec = OpRecord(op, pass, secs, ok && pending == 0,
      if (pending != 0) s"cache leak: $pending tracked frames after release" else err,
      trace)
    records += rec
    rec
  }
}
