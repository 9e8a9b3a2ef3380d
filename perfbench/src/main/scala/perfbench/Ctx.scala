package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

final case class Opts(workload: String, seed: Long, seconds: Double, trace: Boolean,
                      work: Path, benchDir: Path, cores: Int)

object Opts {
  private val Usage =
    "usage: perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1> " +
      "--work <dir> --bench-dir <dir> [--cores <n>]"

  def parse(args: Array[String]): Opts = {
    val kv = mutable.Map.empty[String, String]
    var i = 0
    while (i < args.length) {
      args(i) match {
        case k if k.startsWith("--") && i + 1 < args.length => kv(k.drop(2)) = args(i + 1); i += 2
        case other => throw new IllegalArgumentException(s"unexpected argument '$other'\n$Usage")
      }
    }
    def need(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k\n$Usage"))
    val trace = need("trace") match {
      case "0" => false
      case "1" => true
      case t   => throw new IllegalArgumentException(s"--trace must be 0 or 1, got $t")
    }
    val o = Opts(need("workload"), need("seed").toLong, need("seconds").toDouble, trace,
      java.nio.file.Paths.get(need("work")).toAbsolutePath,
      java.nio.file.Paths.get(need("bench-dir")).toAbsolutePath,
      kv.get("cores").map(_.toInt).getOrElse(Runtime.getRuntime.availableProcessors()))
    require(o.seconds > 0, s"--seconds must be positive, got ${o.seconds}")
    require(o.cores >= 1, s"--cores must be at least 1, got ${o.cores}")
    o
  }
}

/** State of one benchmark run: the Spark session, what was measured, and the
  * operation and check counts behind `attempted`/`failed`.
  */
final class Ctx(val o: Opts) {
  private var session: SparkSession = _
  val checks = new Checks
  val heap = new HeapPeak
  var ops = 0
  var opsFailed = 0
  /** end-to-end metrics (`--trace 0` output) */
  val e2e = mutable.LinkedHashMap.empty[String, Double]
  /** workload-specific end-to-end figures, printed by name beside `e2e` */
  val extra = mutable.LinkedHashMap.empty[String, (Double, String)]
  /** per-layer metrics (`--trace 1` output) */
  val layers = mutable.LinkedHashMap.empty[String, Double]
  private var tracerOpt: Option[Tracer] = None
  private var listenerOpt: Option[StageMetrics] = None

  def spark: SparkSession = session

  def uptime: Double = java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1000.0

  /** Progress to stderr, stamped with seconds since JVM start. */
  def log(msg: String): Unit = System.err.println(f"[perfbench +$uptime%.1fs] $msg")
  def dir(name: String): Path = Files.createDirectories(o.work.resolve(name))

  /** Starts a `local[cores]` session; returns seconds from JVM start. */
  def startSpark(cores: Int): Double = {
    session = SparkSession.builder()
      .appName("perfbench")
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", dir("spark-local").toString)
      .config("spark.sql.warehouse.dir", o.work.resolve("warehouse").toString)
      .getOrCreate()
    session.sparkContext.setLogLevel("WARN")
    if (o.trace) {
      val l = new StageMetrics(session.sparkContext)
      session.sparkContext.addSparkListener(l)
      listenerOpt = Some(l)
    }
    tracerOpt = None
    uptime
  }

  def stopSpark(): Unit = if (session != null) {
    listenerOpt.foreach(session.sparkContext.removeSparkListener)
    session.stop()
    session = null
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  /** The run's tracer: spans tag job groups and fence the listener only on a
    * traced run. Created lazily per session.
    */
  def tracer: Tracer = tracerOpt.getOrElse {
    val t = new Tracer(s"${o.workload}-s${o.seed}-${ProcessHandle.current().pid()}",
      session.sparkContext, listenerOpt)
    tracerOpt = Some(t)
    t
  }
  def listener: StageMetrics = listenerOpt.getOrElse(
    throw new IllegalStateException("stage metrics exist only on a traced run"))
  /** Runs `body` with the stage-metrics listener detached, so the untraced
    * reps a traced run compares against pay nothing for it.
    */
  def untraced[T](body: => T): T = listenerOpt match {
    case Some(l) =>
      session.sparkContext.removeSparkListener(l)
      try body finally session.sparkContext.addSparkListener(l)
    case None => body
  }

  /** A tracer whose spans are discarded, for untraced repetitions. */
  def scratchTracer: Tracer = new Tracer("scratch", session.sparkContext, None)

  /** Runs `op` (which returns its own measured seconds) `warmups` times
    * untimed, then until `seconds` have passed and at least `minReps` timed
    * reps ran. An exception counts as a failed operation and ends the loop.
    */
  def timedReps(seconds: Double, minReps: Int, warmups: Int)(op: => Double): Seq[Double] = {
    val out = mutable.ArrayBuffer.empty[Double]
    if ((1 to warmups).forall(_ => this.op(op).isDefined)) {
      val t0 = System.nanoTime()
      var stop = false
      while (!stop && (out.size < minReps || (System.nanoTime() - t0) / 1e9 < seconds))
        this.op(op) match {
          case Some(s) => out += s
          case None    => stop = true
        }
    }
    out.toSeq
  }

  /** Runs one operation; an exception counts as a failed one. */
  def op[T](body: => T): Option[T] = {
    ops += 1
    try Some(body)
    catch {
      case e: Exception =>
        opsFailed += 1
        System.err.println(s"[perfbench] operation failed: $e")
        e.printStackTrace()
        None
    }
  }
}
