package graft.runtime

import java.nio.charset.StandardCharsets

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Stage-checkpoint manager: each named stage is committed as a parquet
  * table + a manifest entry; a re-run resumes from the last committed stage
  * (BASELINE.json north_rule "resumable from checkpoint with per-partition
  * lineage + metrics"; reference analogue: temp-table checkpoint
  * materialisation, sql_pipeline/runner.py:471-491).
  *
  * Layout: <dir>/<stage>/ parquet + Spark's _SUCCESS marker;
  *         <dir>/_manifest_<stage>.json per committed stage with rows,
  *         partition count, wall-clock ms and a caller-supplied
  *         FINGERPRINT (config hash). A stage is only reused when both the
  *         _SUCCESS marker exists and the recorded fingerprint matches —
  *         rerunning with a different config against the same checkpointDir
  *         recomputes instead of silently returning stale results.
  *
  * All filesystem access goes through the Hadoop FileSystem API, so
  * checkpoint dirs work on HDFS/S3A exactly as they do on local paths
  * (the spark-submit deployment surface).
  */
final class Checkpoints(spark: SparkSession, dir: String) {

  private val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
  fs.mkdirs(new Path(dir))

  def isCommitted(stage: String): Boolean =
    fs.exists(new Path(s"$dir/$stage/_SUCCESS"))

  private def manifestPath(stage: String) = new Path(s"$dir/_manifest_$stage.json")

  private def infoPath(stage: String) = new Path(s"$dir/_info_$stage.json")

  /** A small UTF-8 file's contents, or None when it does not exist. */
  private def readText(p: Path): Option[String] =
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      try Some(new String(in.readAllBytes(), StandardCharsets.UTF_8))
      finally in.close()
    }

  private def writeText(p: Path, text: String): Unit = {
    val out = fs.create(p, true)
    try out.write(text.getBytes(StandardCharsets.UTF_8))
    finally out.close()
  }

  /** Fingerprint recorded in the stage's manifest; None when the manifest
    * is absent.
    */
  def committedFingerprint(stage: String): Option[String] =
    readText(manifestPath(stage)).map { json =>
      "\"fingerprint\":\"([^\"]*)\"".r.findFirstMatchIn(json)
        .map(_.group(1)).getOrElse("")
    }

  /** Run (or resume) a stage: reused only when committed AND the recorded
    * fingerprint matches `fingerprint` — a config change invalidates the
    * checkpoint instead of silently serving stale results. An ABSENT
    * manifest is a mismatch: a stage whose manifest was deleted (or never
    * written) is unverifiable and is recomputed, not reused under any
    * config (ADVICE r2).
    */
  def stage(name: String, fingerprint: String)(compute: => DataFrame): DataFrame = {
    val path = s"$dir/$name"
    if (isCommitted(name) && committedFingerprint(name).contains(fingerprint)) {
      spark.read.parquet(path)
    } else {
      val t0 = System.nanoTime()
      val df = compute
      df.write.mode("overwrite").parquet(path)
      val committed = spark.read.parquet(path)
      val rows = committed.count()
      val parts = committed.rdd.getNumPartitions
      val ms = (System.nanoTime() - t0) / 1000000
      writeText(manifestPath(name),
        s"""{"stage":"$name","rows":$rows,"partitions":$parts,"wall_ms":$ms,""" +
          s""""path":"$path","fingerprint":"$fingerprint"}""")
      committed
    }
  }

  /** Attach a caller-supplied JSON sidecar to a stage (e.g. the blocking
    * stage's skew-tier stats) — written as <dir>/_info_<stage>.json so run
    * metrics survive in the checkpoint dir alongside the manifest.
    */
  def writeInfo(stage: String, json: String): Unit = writeText(infoPath(stage), json)

  def readInfo(stage: String): Option[String] = readText(infoPath(stage))
}

/** Per-partition lineage + per-stage metrics via SparkListener (north_rule:
  * "emit per-partition lineage and stage metrics"). Collects task-level
  * records-read/written and bytes per stage; dump with `report()`.
  */
final class StageMetricsListener extends org.apache.spark.scheduler.SparkListener {
  import scala.collection.mutable

  final case class StageAgg(
      var tasks: Int = 0, var recordsRead: Long = 0, var recordsWritten: Long = 0,
      var shuffleReadBytes: Long = 0, var shuffleWriteBytes: Long = 0,
      var cpuTimeNs: Long = 0)

  val stages: mutable.Map[Int, StageAgg] = mutable.Map()
  /** per (stageId, partitionId) record counts — the per-partition lineage */
  val partitions: mutable.Map[(Int, Int), Long] = mutable.Map()

  override def onTaskEnd(te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
    synchronized {
      val agg = stages.getOrElseUpdate(te.stageId, StageAgg())
      val m = te.taskMetrics
      if (m != null) {
        agg.tasks += 1
        agg.recordsRead += m.inputMetrics.recordsRead
        agg.recordsWritten += m.outputMetrics.recordsWritten
        agg.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
        agg.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        agg.cpuTimeNs += m.executorCpuTime
        partitions((te.stageId, te.taskInfo.index)) =
          m.inputMetrics.recordsRead + m.shuffleReadMetrics.recordsRead
      }
    }

  def report(): String = synchronized {
    val lines = stages.toSeq.sortBy(_._1).map { case (id, a) =>
      s"""{"stage":$id,"tasks":${a.tasks},"recordsRead":${a.recordsRead},""" +
        s""""recordsWritten":${a.recordsWritten},"shuffleReadBytes":${a.shuffleReadBytes},""" +
        s""""shuffleWriteBytes":${a.shuffleWriteBytes},"cpuMs":${a.cpuTimeNs / 1000000}}"""
    }
    lines.mkString("\n")
  }

  /** Per-partition lineage lines: records seen by each (stage, partition). */
  def partitionLineage(): String = synchronized {
    partitions.toSeq.sorted.map { case ((stage, part), recs) =>
      s"""{"stage":$stage,"partition":$part,"records":$recs}"""
    }.mkString("\n")
  }
}
