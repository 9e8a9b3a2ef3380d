package graft.core

/** External-contention instrumentation for Bench, `graft.KgHeadline` and
  * perfbench — one implementation, one fix point.
  *
  * [[externalLoad]] is the 1-min host load average minus this JVM's own
  * requested cores: nonzero means other PROCESSES on this host compete.
  * [[Sampler]] samples it every 2 s DURING a timed region and reports the
  * max — endpoint-only sampling missed a round-4 contention burst entirely
  * (an 84.8 s headline recorded ext_load 0.0 because the 1-min loadavg
  * endpoints straddled the window). For contention from another GUEST of the
  * hypervisor — invisible to loadavg — see [[StealProbe]].
  */
object LoadProbe {
  def externalLoad(selfCpus: Double): Double = {
    val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    math.max(0.0, os.getSystemLoadAverage - selfCpus)
  }

  final class Sampler(selfCpus: Double) {
    @volatile private var maxLoad = externalLoad(selfCpus)
    @volatile private var running = true
    private val t = new Thread(() => {
      while (running) {
        maxLoad = math.max(maxLoad, externalLoad(selfCpus))
        try Thread.sleep(2000) catch { case _: InterruptedException => () }
      }
    }, "load-sampler")
    t.setDaemon(true)
    t.start()
    def stop(): Double = {
      running = false
      t.interrupt()
      math.max(maxLoad, externalLoad(selfCpus))
    }
  }
}
