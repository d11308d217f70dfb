package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable

import org.apache.spark.PerfbenchBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerStageSubmitted, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel

/** Task metrics of one Spark stage, summed over its tasks. */
final class StageTasks(val group: String) {
  var runMs = 0L
  var cpuNs = 0L
  var shuffleBytes = 0L
  var spillBytes = 0L
  /** records each task read (input + shuffle), for the skew ratio */
  val records = mutable.ArrayBuffer.empty[Long]

  /** max / median task records; 1.0 for a single-task stage */
  def skew: Double = {
    val r = records.sorted
    val n = r.length
    val median = if (n % 2 == 1) r(n / 2).toDouble else (r(n / 2 - 1) + r(n / 2)) / 2.0
    r.last / math.max(median, 1.0)
  }
}

/** The benchmark's one listener. Each stage is attributed to the job group
  * that was set when it was submitted; the tracer sets one job group per
  * span, so every finished task's metrics land on the span that caused it.
  */
final class SpanListener extends SparkListener {
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private val stages = mutable.LinkedHashMap.empty[Int, StageTasks]

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .foreach(stageGroup.put(e.stageInfo.stageId, _))

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    val g = stageGroup.get(e.stageId)
    if (m != null && g != null) synchronized {
      val s = stages.getOrElseUpdate(e.stageId, new StageTasks(g))
      s.runMs += m.executorRunTime
      s.cpuNs += m.executorCpuTime
      s.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
      s.spillBytes += m.diskBytesSpilled
      s.records += m.inputMetrics.recordsRead + m.shuffleReadMetrics.recordsRead
    }
  }

  def byGroup(): Map[String, Seq[StageTasks]] = synchronized(stages.values.toSeq.groupBy(_.group))
}

final case class Span(id: Int, name: String, parent: Int, startNs: Long) {
  var endNs = 0L
  var rowsOut = 0L
  def wallNs: Long = endNs - startNs
}

/** Spans around the benchmark's calls into each pipeline layer. Spans are
  * kept in memory and written out by `write` when the run ends. A span's
  * Spark work is its own (tasks go to the innermost open span); its wall
  * time includes its children, its self time does not.
  */
final class Tracer(spark: SparkSession, val runId: String, cores: Int) {
  private val sc = spark.sparkContext
  private val listener = new SpanListener
  sc.addSparkListener(listener)
  private val t0 = System.nanoTime()
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var open = List.empty[Span]

  private def group(s: Span) = s"$runId/${s.id}"

  def span[T](name: String)(body: => T): T = {
    val s = Span(spans.size + 1, name, open.headOption.fold(0)(_.id), System.nanoTime())
    spans += s
    open = s :: open
    sc.setJobGroup(group(s), name)
    try body
    finally {
      s.endNs = System.nanoTime()
      open = open.tail
      open.headOption match {
        case Some(p) => sc.setJobGroup(group(p), p.name)
        case None => sc.clearJobGroup()
      }
    }
  }

  /** Materialises `df` inside the open span and adds its rows to the span. */
  def counted(df: DataFrame): DataFrame = {
    open.head.rowsOut += df.count()
    df
  }

  /** Computes a layer output inside the open span (persisted), so a
    * following checkpoint commit only writes and rereads it.
    */
  def persisted(df: DataFrame): DataFrame = counted(df.persist(StorageLevel.MEMORY_AND_DISK))

  /** Computes a layer output inside the open span, as the eager form of
    * the pipeline's lazy localCheckpoint barrier.
    */
  def checkpointed(df: DataFrame): DataFrame = counted(df.localCheckpoint(eager = true))

  private def childNs(s: Span): Long = spans.filter(_.parent == s.id).map(_.wallNs).sum

  /** Per span name, summed over its instances: every `Tracer.Suffixes`
    * metric.
    */
  def summary(): Map[String, Map[String, Double]] = {
    PerfbenchBus.drain(sc)
    val groups = listener.byGroup()
    spans.toSeq.groupBy(_.name).map { case (name, ss) =>
      val wall = ss.map(_.wallNs).sum / 1e9
      val self = ss.map(s => s.wallNs - childNs(s)).sum / 1e9
      val st = ss.flatMap(s => groups.getOrElse(group(s), Nil))
      val taskS = st.map(_.runMs).sum / 1e3
      name -> Map(
        "wall_s" -> wall,
        "self_s" -> self,
        "cpu_s" -> st.map(_.cpuNs).sum / 1e9,
        "occupancy" -> (if (self > 0) taskS / (self * cores) else 0.0),
        "shuffle_bytes" -> st.map(_.shuffleBytes).sum.toDouble,
        "spill_bytes" -> st.map(_.spillBytes).sum.toDouble,
        "stages" -> st.size.toDouble,
        "skew" -> st.filter(_.records.nonEmpty).map(_.skew).maxOption.getOrElse(0.0),
        "rows_out" -> ss.map(_.rowsOut).sum.toDouble)
    }
  }

  /** One JSON line per span: name, start, end, parent span and run id. */
  def write(path: Path): Unit = {
    PerfbenchBus.drain(sc)
    val groups = listener.byGroup()
    val lines = spans.map { s =>
      val st = groups.getOrElse(group(s), Nil)
      s"""{"run_id":"$runId","span_id":${s.id},"parent_id":${s.parent},"name":"${s.name}",""" +
        s""""start_s":${(s.startNs - t0) / 1e9},"end_s":${(s.endNs - t0) / 1e9},""" +
        s""""self_s":${(s.wallNs - childNs(s)) / 1e9},"rows_out":${s.rowsOut},""" +
        s""""stages":${st.size},"task_s":${st.map(_.runMs).sum / 1e3},""" +
        s""""cpu_s":${st.map(_.cpuNs).sum / 1e9},"shuffle_bytes":${st.map(_.shuffleBytes).sum}}"""
    }
    Files.write(path, (lines.mkString("\n") + "\n").getBytes(StandardCharsets.UTF_8))
  }

  def close(): Unit = sc.removeSparkListener(listener)
}

object Tracer {
  val Suffixes: Seq[String] = Seq(
    "wall_s", "self_s", "cpu_s", "occupancy", "shuffle_bytes", "spill_bytes", "stages",
    "skew", "rows_out")
  val Layers: Seq[String] = Seq(
    "signature.build", "signature.tf", "signature.attach", "resolve.cascade", "blocking",
    "score", "refine", "resolve.cc", "evaluate.best", "evaluate.merge", "runtime.checkpoint")
}
