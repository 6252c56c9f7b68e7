package perfbench

import java.lang.management.ManagementFactory
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** Raw measurements of one run, written as JSON for `run.py`, which turns
  * them into metrics and checks the outputs. */
final class Result {
  /** Seconds from JVM start to the first timed op. */
  var setupS = 0.0
  /** Latency in ms of every timed op. */
  val opMs = ArrayBuffer.empty[Double]
  /** Seconds per driver-failover measurement. */
  val recovers = ArrayBuffer.empty[Double]
  var timedS = 0.0
  var liveHeapMb = 0.0
  var gcMs = 0.0
  var allocMb = 0.0
  /** Workload-specific facts for the output checks and layer metrics. */
  val extra = scala.collection.mutable.LinkedHashMap.empty[String, Any]
}

object Main {
  /** Arguments: workload, seed, input dir, work dir, seconds, trace flag,
    * cpu count, result file. The seed only orders work; every input was
    * generated from it beforehand. */
  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val cfg = Config(a("workload"), a("seed").toLong, a("input"), a("work"),
      a("seconds").toDouble, a("trace") == "1", a("cpus").toInt)
    if (cfg.trace)
      org.apache.hadoop.conf.Configuration.addDefaultResource("perfbench-trace-site.xml")
    val res = new Result
    cfg.workload match {
      case "pipeline_daily" => PipelineDaily.run(cfg, res)
      case "kernels_sf01" => Kernels.run(cfg, res)
      case "routing_storm" => Storm.run(cfg, res)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(a("out")), Json.render(toMap(res)))
  }

  private def toMap(r: Result): Map[String, Any] = Map(
    "setup_s" -> r.setupS, "op_ms" -> r.opMs.toSeq,
    "recovers" -> r.recovers.toSeq, "timed_s" -> r.timedS,
    "live_heap_mb" -> r.liveHeapMb, "gc_ms" -> r.gcMs, "alloc_mb" -> r.allocMb,
    "extra" -> r.extra.toMap,
    "spans" -> Trace.spans.toSeq.map(s => Seq(s.name, s.start, s.end, s.parent, s.op)),
    "jobs" -> Trace.jobs.values.toSeq.map(j => Map("group" -> j.group,
      "start" -> j.start, "end" -> j.end, "task_ms" -> j.taskMs,
      "input_bytes" -> j.inputBytes, "shuffle_bytes" -> j.shuffleBytes,
      "spill_bytes" -> j.spillBytes, "written_bytes" -> j.writtenBytes)),
    "sqls" -> Trace.sqls.toSeq.map(q => Seq(q.start, q.write)),
    "plans" -> Trace.plans.toSeq.map(p => Seq(p.start, p.planMs)),
    "counters" -> Trace.counters.toMap)

  def jvmStartMs: Double = ManagementFactory.getRuntimeMXBean.getStartTime.toDouble

  /** Heap in use after full collections, in MB: the least reading.
    * Collections repeat, 150 ms apart, until two in a row lower it by less
    * than 0.5 MB (eight at most), so that objects freed late, by Spark's
    * context cleaner or a late listener event, do not count. */
  def liveHeapMb(): Double = {
    def collected(): Double = {
      System.gc()
      Thread.sleep(150)
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    }
    var least = collected()
    var still = 0
    var n = 1
    while (still < 2 && n < 8) {
      val u = collected()
      still = if (u > least - 0.5) still + 1 else 0
      least = least.min(u)
      n += 1
    }
    least
  }

  def gcMs(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum.toDouble

  /** Bytes allocated so far by every live thread. */
  def allocatedBytes(): Double = ManagementFactory.getThreadMXBean match {
    case t: com.sun.management.ThreadMXBean =>
      t.getThreadAllocatedBytes(t.getAllThreadIds).filter(_ > 0).sum.toDouble
    case _ => 0.0
  }
}

final case class Config(workload: String, seed: Long, input: String, work: String,
                        seconds: Double, trace: Boolean, cpus: Int)

/** Minimal JSON rendering for the result file. */
object Json {
  def render(v: Any): String = {
    val sb = new StringBuilder
    def str(s: String): Unit = {
      sb.append('"')
      s.foreach {
        case '"' => sb.append("\\\"")
        case '\\' => sb.append("\\\\")
        case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
        case c => sb.append(c)
      }
      sb.append('"')
    }
    def go(v: Any): Unit = v match {
      case null | None => sb.append("null")
      case Some(x) => go(x)
      case s: String => str(s)
      case b: Boolean => sb.append(b)
      case d: Double => sb.append(if (d.isNaN || d.isInfinite) "null" else d.toString)
      case n: Int => sb.append(n)
      case n: Long => sb.append(n)
      case m: scala.collection.Map[_, _] =>
        sb.append('{')
        m.zipWithIndex.foreach { case ((k, x), i) =>
          if (i > 0) sb.append(','); str(k.toString); sb.append(':'); go(x)
        }
        sb.append('}')
      case s: Iterable[_] =>
        sb.append('[')
        s.zipWithIndex.foreach { case (x, i) => if (i > 0) sb.append(','); go(x) }
        sb.append(']')
      case x => str(x.toString)
    }
    go(v)
    sb.toString
  }
}
