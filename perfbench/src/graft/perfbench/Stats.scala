package graft.perfbench

import java.nio.file.{Files, Paths}

/** Small numeric helpers shared by the workloads. */
object Stats {

  /** Linear-interpolated percentile (numpy default), `pct` in 0..100. */
  def percentile(xs: Iterable[Double], pct: Double): Double = {
    if (xs.isEmpty) return 0.0
    val s = xs.toVector.sorted
    val k = (s.length - 1) * pct / 100.0
    val lo = k.toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (s(hi) - s(lo)) * (k - lo)
  }

  def median(xs: Iterable[Double]): Double = percentile(xs, 50)

  def timed[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e6)
  }

  /** Retained heap in MB after forcing collection. */
  def retainedHeapMb(): Double = {
    val rt = Runtime.getRuntime
    (0 until 3).foreach { _ => System.gc(); Thread.sleep(100) }
    (rt.totalMemory() - rt.freeMemory()) / (1024.0 * 1024.0)
  }
}

/** Box-pressure stamp: 1-minute loadavg and the number of JVMs on the
  * box that are neither this process nor its ancestors. Same logic as
  * `graft.Bench`, so a run taken on a loaded box identifies itself. */
object Box {

  def loadAvg1(): Double =
    try Files.readString(Paths.get("/proc/loadavg")).split(" ")(0).toDouble
    catch { case _: Throwable => -1.0 }

  def foreignJvms(): Long =
    try {
      val self = ProcessHandle.current()
      val lineage = Iterator.iterate(Option(self))(_.flatMap(p =>
          Option(p.parent().orElse(null))))
        .takeWhile(_.isDefined).flatten.map(_.pid()).toSet
      ProcessHandle.allProcesses().filter { p =>
        p.info().command().map[Boolean](_.contains("java")).orElse(false) &&
          !lineage.contains(p.pid())
      }.count()
    } catch { case _: Throwable => -1L }

  def stamp(): Map[String, Any] =
    Map("loadavg1" -> loadAvg1(), "foreign_jvms" -> foreignJvms())
}
