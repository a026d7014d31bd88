package perfbench

import java.io.File

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

object Json {
  val mapper: ObjectMapper = new ObjectMapper().registerModule(DefaultScalaModule)

  def op(o: Op): Map[String, Any] = Map(
    "kind" -> o.kind, "name" -> o.name, "phase" -> o.phase, "due" -> o.due,
    "start" -> o.start, "end" -> o.end, "ok" -> o.ok, "bytes" -> o.bytesOut,
    "dispatched" -> (if (o.dispatched.isNaN) o.due else o.dispatched))
}

object Log {
  private val t0 = Clock.nowMs
  /** A timestamped progress line on stderr (the run's JVM log). */
  def phase(what: String): Unit =
    System.err.println(f"[perfbench] ${(Clock.nowMs - t0) / 1000.0}%7.2f s  $what")
}

object Util {
  /** Regular files under `dir`, recursively. */
  def files(dir: File): Seq[File] =
    Option(dir.listFiles()).map(_.toSeq).getOrElse(Nil).flatMap(f =>
      if (f.isDirectory) files(f) else Seq(f))

  /** Heap still in use after a full collection, in MB: the live set.
    * Taken at fixed points of a run (the peak resident set of a JVM
    * mostly tracks its heap sizing policy instead). */
  def liveHeapMb(): Double = {
    // the second collection also frees what the first one's reference
    // processing handed to Spark's context cleaner
    System.gc()
    Thread.sleep(100)
    System.gc()
    java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }
}

object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  /** Traced median over untraced median, as a percentage change. */
  def overheadPct(untraced: Seq[Double], traced: Seq[Double]): Double =
    if (untraced.isEmpty || traced.isEmpty) 0.0
    else (median(traced) / median(untraced) - 1.0) * 100.0
}
