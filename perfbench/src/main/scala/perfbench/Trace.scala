package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerTaskEnd}

/** Task metrics summed per benchmark-set job group. Every span of the tracer
  * sets its name as the Spark job group, so the group is the layer.
  */
final class GroupMetrics {
  var runMs = 0L
  var cpuNs = 0L
  var shuffleReadBytes = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var gcMs = 0L
  var tasks = 0L
  /** task durations (ms) per stage */
  val taskMs = scala.collection.mutable.HashMap.empty[Int, ArrayBuffer[Long]]

  def add(o: GroupMetrics): Unit = {
    runMs += o.runMs; cpuNs += o.cpuNs
    shuffleReadBytes += o.shuffleReadBytes; shuffleWriteBytes += o.shuffleWriteBytes
    spillBytes += o.spillBytes; gcMs += o.gcMs; tasks += o.tasks
    o.taskMs.foreach { case (st, ms) => taskMs.getOrElseUpdate(st, ArrayBuffer.empty) ++= ms }
  }
  def shuffleBytes: Long = shuffleReadBytes + shuffleWriteBytes

  /** Skew of the group's busiest stage: its slowest task over its median task. */
  def taskMaxOverMedian: Double =
    if (taskMs.isEmpty) 0.0
    else {
      val ms = taskMs.values.maxBy(_.sum).map(_.toDouble).toSeq
      ms.max / math.max(1.0, Stats.median(ms))
    }
}

/** SparkListener that aggregates task metrics per job group. Listener events
  * arrive asynchronously; [[fence]] runs a marker job and waits until the
  * listener has seen it end, so every task event posted before it has been
  * counted.
  */
final class StageMetrics(sc: SparkContext) extends SparkListener {
  private val GroupKey = "spark.jobGroup.id"
  private val FencePrefix = "perfbench.fence-"
  private val stageGroup = scala.collection.concurrent.TrieMap.empty[Int, String]
  private val jobGroup = scala.collection.concurrent.TrieMap.empty[Int, String]
  private val groups = scala.collection.concurrent.TrieMap.empty[String, GroupMetrics]
  private val lock = new Object
  private var fencesSeen = Set.empty[String]
  private var fences = 0

  override def onJobStart(e: SparkListenerJobStart): Unit =
    Option(e.properties).flatMap(p => Option(p.getProperty(GroupKey))).foreach { g =>
      jobGroup(e.jobId) = g
      e.stageIds.foreach(stageGroup(_) = g)
    }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    jobGroup.remove(e.jobId).filter(_.startsWith(FencePrefix)).foreach { g =>
      lock.synchronized { fencesSeen += g; lock.notifyAll() }
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    for (g <- stageGroup.get(e.stageId); m <- Option(e.taskMetrics)) {
      val a = groups.getOrElseUpdate(g, new GroupMetrics)
      a.synchronized {
        a.runMs += m.executorRunTime
        a.cpuNs += m.executorCpuTime
        a.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
        a.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        a.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        a.gcMs += m.jvmGCTime
        a.tasks += 1
        a.taskMs.getOrElseUpdate(e.stageId, ArrayBuffer.empty) += e.taskInfo.duration
      }
    }

  /** Runs a marker job and blocks until this listener has processed it. */
  def fence(): Unit = {
    fences += 1
    val g = s"$FencePrefix$fences"
    val prev = sc.getLocalProperty(GroupKey)
    sc.setJobGroup(g, "listener fence")
    try sc.parallelize(Seq(1), 1).count()
    finally restoreGroup(sc, prev)
    val deadline = System.nanoTime() + 30L * 1000000000L
    lock.synchronized {
      while (!fencesSeen.contains(g)) {
        if (System.nanoTime() > deadline)
          throw new IllegalStateException("listener fence timed out")
        lock.wait(50)
      }
    }
  }

  def group(name: String): GroupMetrics = groups.getOrElse(name, new GroupMetrics)

  /** All groups whose name is `layer` or starts with `layer.`, summed. */
  def layer(layer: String): GroupMetrics = {
    val out = new GroupMetrics
    groups.foreach { case (g, m) => if (g == layer || g.startsWith(layer + ".")) out.add(m) }
    out
  }

  private[perfbench] def restoreGroup(sc: SparkContext, prev: String): Unit =
    if (prev == null) sc.clearJobGroup() else sc.setJobGroup(prev, prev)
}

/** One traced interval. `parent` is -1 for a root span. */
final case class Span(id: Int, name: String, parent: Int, runId: String,
                      startNs: Long, var endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** In-memory span recorder. Spans are kept until the end of the run, then
  * written out as one JSON file. When `metrics` is set, each span also tags
  * its Spark jobs with its name as the job group and fences the listener on
  * exit, so the group's task metrics are complete when the span closes.
  */
final class Tracer(val runId: String, sc: SparkContext, val metrics: Option[StageMetrics]) {
  private val spans = ArrayBuffer.empty[Span]
  private var stack = List.empty[Int]

  def span[T](name: String)(body: => T): T = {
    val s = Span(spans.size, name, stack.headOption.getOrElse(-1), runId, System.nanoTime(), -1L)
    spans += s
    stack = s.id :: stack
    val prev = sc.getLocalProperty("spark.jobGroup.id")
    if (metrics.isDefined) sc.setJobGroup(name, name)
    try body
    finally {
      metrics.foreach { m => m.fence(); m.restoreGroup(sc, prev) }
      s.endNs = System.nanoTime()
      stack = stack.tail
    }
  }

  /** A span's duration minus the part of it its child spans cover. */
  def selfSeconds(s: Span): Double =
    s.seconds - spans.iterator.filter(_.parent == s.id).map(_.seconds).sum

  /** Summed self time of every span with this name. */
  def selfOf(name: String): Double =
    spans.iterator.filter(_.name == name).map(selfSeconds).sum

  def toJson: String = spans.map { s =>
    s"""{"id":${s.id},"name":${Json.str(s.name)},"parent":${s.parent},""" +
      s""""run_id":${Json.str(s.runId)},"start_ns":${s.startNs},"end_ns":${s.endNs},""" +
      s""""self_s":${selfSeconds(s)}}"""
  }.mkString("[\n", ",\n", "\n]\n")
}

/** Samples the stacks of Spark's executor task threads while it runs and
  * counts how many busy samples are inside Pyramid inference: the network
  * (`graft.core` Nn, Simd, SimdKernels, PyramidInference), its decode
  * (`LabelCodec`) and the detection operator (`graft.kg.Mentions`). It
  * measures which layer the executors' time goes to, whatever code path led
  * there.
  */
final class InferenceSampler(intervalMs: Long = 50) {
  private val Inference = Seq("graft.core.PyramidInference", "graft.core.Nn", "graft.core.Simd",
    "graft.core.LstmCell", "graft.core.BiLstm", "graft.core.Conv2Tap", "graft.core.LabelCodec",
    "graft.kg.Mentions")
  @volatile private var running = true
  private var busy = 0L
  private var inInference = 0L

  private def executorThreads(): Seq[Thread] = {
    var root = Thread.currentThread.getThreadGroup
    while (root.getParent != null) root = root.getParent
    val all = new Array[Thread](root.activeCount * 2 + 16)
    all.take(root.enumerate(all)).toSeq.filter(_.getName.startsWith("Executor task launch worker"))
  }

  private val thread = new Thread(() => {
    while (running) {
      // one stack at a time, and only of executor threads that are running
      executorThreads().filter(_.getState == Thread.State.RUNNABLE).foreach { t =>
        val frames = t.getStackTrace
        if (frames.nonEmpty) {
          busy += 1
          if (frames.exists(f => Inference.exists(f.getClassName.startsWith))) inInference += 1
        }
      }
      Thread.sleep(intervalMs)
    }
  }, "perfbench-inference-sampler")
  thread.setDaemon(true)
  thread.start()

  /** Stops sampling; returns (busy executor samples, share of them in inference). */
  def stop(): (Long, Double) = {
    running = false
    thread.join()
    (busy, if (busy == 0) 0.0 else inInference.toDouble / busy)
  }
}
