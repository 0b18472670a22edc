package graftbench

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerTaskEnd}

/** Spark runtime totals per job group. The benchmark runs each traced
  * query under its own job group, so these are per-query counts of jobs
  * and tasks, task busy time, scheduler delay, GC time and spilled bytes.
  */
final class SparkStats extends SparkListener {

  final class Totals {
    var jobs = 0L
    var tasks = 0L
    var busyNs = 0L
    var schedDelayMs = 0L
    var gcMs = 0L
    var spillBytes = 0L
  }

  private val stageGroup = mutable.Map.empty[Int, String]
  private val totals = mutable.Map.empty[String, Totals]

  private def of(group: String): Totals =
    totals.getOrElseUpdate(group, new Totals)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    Option(e.properties).flatMap(p => Option(p.getProperty(
      "spark.jobGroup.id"))).foreach { g =>
      of(g).jobs += 1
      e.stageIds.foreach(stageGroup(_) = g)
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageGroup.get(e.stageId).foreach { g =>
      val t = of(g)
      t.tasks += 1
      Option(e.taskMetrics).foreach { m =>
        t.busyNs += m.executorRunTime * 1000000L
        t.gcMs += m.jvmGCTime
        t.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        val info = e.taskInfo
        // the same scheduler-delay formula as Spark's stage page
        val delay = info.duration - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime -
          (if (info.gettingResult) info.finishTime - info.gettingResultTime
           else 0L)
        t.schedDelayMs += math.max(0L, delay)
      }
    }
  }

  def export(): Map[String, Map[String, Long]] = synchronized {
    totals.map { case (g, t) =>
      g -> Map("jobs" -> t.jobs, "tasks" -> t.tasks, "busy_ns" -> t.busyNs,
        "sched_delay_ms" -> t.schedDelayMs, "gc_ms" -> t.gcMs,
        "spill_bytes" -> t.spillBytes)
    }.toMap
  }
}
