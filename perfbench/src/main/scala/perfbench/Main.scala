package perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import scala.collection.mutable

/** Benchmark harness: one JVM, one `local[4]` session, one client thread,
  * closed loop. Runs one workload and writes its raw record (set-up and
  * warm-pass times, per-op timings, output checks, heat probes) as one JSON
  * object to `--out`; `run.py` turns it into the reported metrics. With
  * `--trace 1` it also installs [[Trace]] and writes the spans to
  * `--trace-out`.
  *
  *   Main --workload <analytics|serve|intake|corpus> --seed <n>
  *        --seconds <s> --trace <0|1> --work <dir> --out <file>
  *        --trace-out <file> [--reference 1]
  */
object Main {
  val Cores = 4

  def main(args: Array[String]): Unit = {
    val t0 = System.nanoTime()
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val work = opt("work")
    val spark = graft.Tune(SparkSession.builder())
      .master(s"local[$Cores]")
      .config("spark.sql.shuffle.partitions", Cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.plans.TopKRewriteInstall.ensureInstalled(spark)
    val trace = if (opt("trace") == "1") {
      val t = new Trace(spark)
      spark.sparkContext.addSparkListener(t.listener)
      Some(t)
    } else None
    val h = new Harness(spark, trace, work, opt("seed").toLong)
    val wl: Workload = opt("workload") match {
      case "analytics" => new Analytics(h, opt.get("reference").contains("1"))
      case "serve" => new Serve(h)
      case "intake" => new Intake(h)
      case "corpus" => new Corpus(h)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val sessionS = secs(t0)
    val setupS = timed(wl.setup())
    trace.foreach(_.stage = "warm")
    val warmS = timed(wl.warm())
    val calibBefore = Calib(spark)
    trace.foreach(_.stage = "loop")
    val storageBefore = h.storageBytes()
    val loop0 = System.nanoTime()
    wl.loop(opt("seconds").toDouble)
    val loopS = secs(loop0)
    val storageAfter = h.storageBytes()
    trace.foreach(_.stage = "finish")
    val calibAfter = Calib(spark)
    val finishS = timed(wl.finish())
    val coverageS = trace.fold(0.0) { t => t.stage = "coverage"; timed(wl.coverage()) }
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    trace.foreach(_.write(opt("trace-out")))
    val rec = Map(
      "workload" -> opt("workload"), "seed" -> h.seed,
      "session_s" -> sessionS, "setup_s" -> setupS, "warm_s" -> warmS,
      "loop_s" -> loopS, "finish_s" -> finishS, "coverage_s" -> coverageS, "ops" -> h.ops.map(_.json),
      "checks" -> h.checks.toMap, "failures" -> h.failures.toSeq,
      "calib_before" -> calibBefore, "calib_after" -> calibAfter,
      "retained_storage_mb" -> (storageAfter - storageBefore) / 1e6,
      "info" -> wl.info.toMap)
    val w = new java.io.PrintWriter(opt("out"), "UTF-8")
    try w.println(Json.value(rec)) finally w.close()
    spark.stop()
  }

  def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9
  def timed(body: => Unit): Double = { val t0 = System.nanoTime(); body; secs(t0) }
}

/** Bench's fixed-work heat probe shapes at smaller sizes: `calib` (a
  * 2^26-row codegen'd range sum) and `calib_par` (a 2^18-row
  * shuffle-aggregate).
  * Run once each, outside the timed loop.
  */
object Calib {
  def apply(s: SparkSession): Map[String, Double] = {
    def calib(): Unit = s.range(0L, 1L << 26, 1L, Main.Cores)
      .selectExpr("sum((id * 2654435761) % 1000003)").collect()
    def calibPar(): Unit = s.range(0L, 1L << 18, 1L, Main.Cores)
      .selectExpr("(id * 2654435761) % 1048576 AS k", "id % 1000003 AS v")
      .groupBy("k").agg(sum("v").as("sv"))
      .selectExpr("sum(hash(k, sv))").collect()
    Map("calib" -> Main.timed(calib()), "calib_par" -> Main.timed(calibPar()))
  }
}

/** One timed op: its kind, wall seconds, whether its output check passed,
  * and a few workload-specific numbers (rows, docs).
  */
final case class Op(kind: String, secs: Double, ok: Boolean, extra: Map[String, Any]) {
  def json: Map[String, Any] = extra ++ Map("kind" -> kind, "s" -> secs, "ok" -> ok)
}

/** State shared by the workloads: the session, the optional trace, the
  * work directory, the seed and the op/check records.
  */
final class Harness(val spark: SparkSession, val trace: Option[Trace],
    val work: String, val seed: Long) {
  val ops = mutable.ArrayBuffer.empty[Op]
  val checks = mutable.LinkedHashMap.empty[String, Any]
  val failures = mutable.ArrayBuffer.empty[String]
  val rng = new scala.util.Random(seed)

  /** A call into one layer's public function, traced as `name`. When
    * traced, the bytes and files the call adds under `dirs` are recorded.
    */
  def call[A](name: String, dirs: Seq[String] = Nil)(body: => A): A = trace match {
    case None => body
    case Some(t) => t.span("call", name) {
      val (b0, f0) = diskUsage(dirs)
      val r = body
      val (b1, f1) = diskUsage(dirs)
      if (dirs.nonEmpty) { t.attr(name, "disk_bytes", b1 - b0); t.attr(name, "disk_files", f1 - f0) }
      r
    }
  }

  /** One op of the closed loop. `body` returns (output ok, extra fields). */
  def op(kind: String)(body: => (Boolean, Map[String, Any])): Unit = {
    val t0 = System.nanoTime()
    val (ok, extra) =
      try trace.fold(body)(_.span("op", kind)(body))
      catch { case scala.util.control.NonFatal(e) =>
        fail(s"$kind threw ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(200)}")
        (false, Map.empty[String, Any])
      }
    ops += Op(kind, Main.secs(t0), ok, extra)
  }

  /** `k` distinct seed-picked ids in [0, n). */
  def pick(n: Long, k: Int): Seq[Long] = rng.shuffle((0L until n).toVector).take(k)

  def fail(msg: String): Unit = { failures += msg; System.err.println(s"[perfbench] FAIL $msg") }
  def check(name: String, ok: Boolean, detail: => String = ""): Boolean = {
    if (!ok) fail(s"$name $detail")
    ok
  }

  /** Runs whole rounds until `seconds` have passed, so every run has the
    * same mix of op kinds.
    */
  def until(seconds: Double)(round: Int => Unit): Unit = {
    val t0 = System.nanoTime()
    var i = 0
    while (Main.secs(t0) < seconds) { round(i); i += 1 }
  }

  /** Executor storage memory in use, bytes. */
  def storageBytes(): Long =
    spark.sparkContext.getExecutorMemoryStatus.values.map { case (max, rem) => max - rem }.sum

  /** Bytes and files under `dirs`. */
  def diskUsage(dirs: Seq[String]): (Long, Long) = {
    var bytes = 0L
    var files = 0L
    dirs.map(new java.io.File(_)).filter(_.exists).foreach { root =>
      val walk = java.nio.file.Files.walk(root.toPath)
      try walk.forEach { p =>
        val f = p.toFile
        if (f.isFile && !f.getName.startsWith(".") && !f.getName.startsWith("_")) {
          bytes += f.length; files += 1
        }
      } finally walk.close()
    }
    (bytes, files)
  }

  def dir(name: String): String = s"$work/$name"
}

object Harness {
  /** Order-independent digest of collected rows: rendered, sorted, hashed. */
  def digest(rows: Array[org.apache.spark.sql.Row]): String =
    f"${scala.util.hashing.MurmurHash3.orderedHash(rows.map(_.toString).sorted.toSeq)}%08x"
}

/** A workload: set-up, a warm pass, the timed loop and the end-of-run
  * checks, then, in traced runs only, [[coverage]].
  */
abstract class Workload(h: Harness) {
  val info = mutable.LinkedHashMap.empty[String, Any]
  def setup(): Unit
  def warm(): Unit
  def loop(seconds: Double): Unit
  def finish(): Unit = ()
  /** Checked calls into layers the loop does not reach, made after it and
    * only when tracing: the per-layer rows cover those layers without
    * adding their time to every run, and without changing what set-up and
    * the loop do between a traced and an untraced run.
    */
  def coverage(): Unit = ()
  protected def s: SparkSession = h.spark
}
