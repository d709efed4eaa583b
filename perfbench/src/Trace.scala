package perfbench

import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One timed interval: an op, a phase inside it (build, plan, materialize,
  * count, refresh, ...) or a Spark stage inside a phase.
  */
final case class Span(id: Int, parent: Int, layer: String, name: String,
                      startNs: Long, endNs: Long) {
  def durNs: Long = endNs - startNs
}

/** Spark-side counters of one phase of one op, summed over its tasks. */
final class ExecStats {
  var jobs, stages, tasks = 0L
  var runMs, cpuNs, gcMs = 0L
  var shuffleWrite, shuffleRead, spill, inBytes, inRows = 0L
  /** stage id -> task durations (ms), for the skew of the worst stage */
  val taskMs = mutable.HashMap.empty[Int, mutable.ArrayBuffer[Long]]

  def add(o: ExecStats): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    runMs += o.runMs; cpuNs += o.cpuNs; gcMs += o.gcMs
    shuffleWrite += o.shuffleWrite; shuffleRead += o.shuffleRead
    spill += o.spill; inBytes += o.inBytes; inRows += o.inRows
    o.taskMs.foreach { case (k, v) => taskMs.getOrElseUpdate(k, mutable.ArrayBuffer.empty) ++= v }
  }

  /** max ÷ median task time in the stage where that ratio is largest. */
  def skew: Double = taskMs.values.filter(_.size >= 2).map { ts =>
    val s = ts.sorted
    val med = math.max(1L, s(s.size / 2))
    s.last.toDouble / med
  }.maxOption.getOrElse(1.0)
}

/** Attributes Spark work to the benchmark's ops. Before each call into the
  * program the benchmark sets the local property [[Tracer.Key]] to the id of
  * the current phase span; every job started from that thread (and from the
  * broadcast and subquery threads Spark spawns for it) carries the property,
  * so its stages and tasks are charged to that span. Spans stay in memory
  * and are written out once, at exit.
  */
final class Tracer(sc: SparkContext) extends SparkListener {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var nextId = 1
  private val stageOwner = new ConcurrentHashMap[Int, Integer]()
  private val stats = new ConcurrentHashMap[Integer, ExecStats]()
  private val stageSpans = new ConcurrentHashMap[Int, (Int, Long, Long, String)]()
  /** wall-clock to monotonic offset: stage times arrive in epoch millis */
  private val epochToNano = System.nanoTime() - System.currentTimeMillis() * 1000000L

  def open(parent: Int, layer: String, name: String): Int = synchronized {
    val id = nextId; nextId += 1
    spans += Span(id, parent, layer, name, System.nanoTime(), 0L)
    id
  }

  def close(id: Int): Unit = synchronized {
    val i = spans.lastIndexWhere(_.id == id)
    spans(i) = spans(i).copy(endNs = System.nanoTime())
  }

  /** Runs `f` inside a new span whose jobs are charged to it. */
  def span[T](parent: Int, layer: String, name: String)(f: => T): (T, Int) =
    spanId(parent, layer, name)(_ => f)

  /** [[span]], passing the new span's id to `f` for spans nested in it. */
  def spanId[T](parent: Int, layer: String, name: String)(f: Int => T): (T, Int) = {
    val id = open(parent, layer, name)
    val prev = sc.getLocalProperty(Tracer.Key)
    sc.setLocalProperty(Tracer.Key, id.toString)
    try (f(id), id)
    finally { sc.setLocalProperty(Tracer.Key, prev); close(id) }
  }

  def durationOf(id: Int): Double = synchronized { spans.findLast(_.id == id).get.durNs / 1e9 }

  def statsOf(id: Int): ExecStats = Option(stats.get(id)).getOrElse(new ExecStats)

  private def statFor(id: Integer): ExecStats = stats.computeIfAbsent(id, _ => new ExecStats)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val owner = Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.Key)))
    owner.foreach { o =>
      val id = Integer.valueOf(o.toInt)
      val st = statFor(id)
      st.synchronized { st.jobs += 1 }
      e.stageIds.foreach(s => stageOwner.put(s, id))
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val info = e.stageInfo
    Option(stageOwner.get(info.stageId)).foreach { id =>
      val st = statFor(id)
      st.synchronized { st.stages += 1 }
      for (s <- info.submissionTime; c <- info.completionTime)
        stageSpans.put(info.stageId, (id.intValue, s * 1000000L + epochToNano,
          c * 1000000L + epochToNano, info.name))
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    Option(stageOwner.get(e.stageId)).filter(_ => m != null).foreach { id =>
      val st = statFor(id)
      st.synchronized {
        st.tasks += 1
        st.runMs += m.executorRunTime
        st.cpuNs += m.executorCpuTime
        st.gcMs += m.jvmGCTime
        st.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        st.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        st.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        st.inBytes += m.inputMetrics.bytesRead
        st.inRows += m.inputMetrics.recordsRead
        st.taskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += e.taskInfo.duration
      }
    }
  }

  /** Every span, stages included, parents before children. */
  def allSpans: Seq[Span] = synchronized {
    val stageList = stageSpans.asScala.toSeq.sortBy(_._1).map { case (sid, (owner, s, c, name)) =>
      Span(1000000 + sid, owner, "exec", s"stage $sid: $name", s, c)
    }
    spans.toSeq ++ stageList
  }

  /** Self time per layer: each span's duration minus the part of it that
    * its children cover.
    */
  def selfTimeByLayer: Map[String, Double] = {
    val all = allSpans.filter(_.endNs > 0)
    val kids = all.groupBy(_.parent)
    all.map { sp =>
      val covered = union(kids.getOrElse(sp.id, Nil).map(k =>
        (math.max(k.startNs, sp.startNs), math.min(k.endNs, sp.endNs))))
      sp.layer -> math.max(0L, sp.durNs - covered) / 1e9
    }.groupMapReduce(_._1)(_._2)(_ + _)
  }

  private def union(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.filter(x => x._2 > x._1).sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total
  }

  def writeJsonl(path: java.nio.file.Path): Unit = {
    val lines = allSpans.map { s =>
      s"""{"id":${s.id},"parent":${s.parent},"layer":${Json.str(s.layer)},""" +
        s""""name":${Json.str(s.name)},"start_ns":${s.startNs},"end_ns":${s.endNs}}"""
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, lines.asJava)
  }
}

object Tracer {
  val Key = "perfbench.span"
}
