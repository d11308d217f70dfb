package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession
import graft.runtime.StageMetricsListener

/** Deployable entrypoint (north_rule: "runs via spark-submit with explicit
  * repartitioning, AQE skew-join handling ... resumable from checkpoint
  * with per-partition lineage + metrics").
  *
  * Usage:
  *   spark-submit --class graft.PipelineMain <jar> \
  *     <turnsParquetPath|gen:<nConvIds>> <checkpointDir> <outDir> [edgeThreshold]
  *
  * - input `gen:N` synthesises N deterministic conversation-id slots
  *   (benchmark mode); otherwise reads a parquet turn table with the
  *   (conv_id, turn_idx, role, text, tool, ts) contract.
  * - every stage commits to <checkpointDir>; a rerun after a crash resumes
  *   from the committed stages (one _manifest_<stage>.json per stage).
  * - task-level metrics + per-partition record counts land in
  *   <outDir>/stage_metrics.jsonl; cluster assignments in <outDir>/clusters.
  */
object PipelineMain {
  def main(args: Array[String]): Unit = {
    require(args.length >= 3,
      "usage: PipelineMain <turnsParquet|gen:N> <checkpointDir> <outDir> [edgeThreshold]")
    val (input, ckptDir, outDir) = (args(0), args(1), args(2))
    val edgeThreshold = args.lift(3).map(_.toDouble).getOrElse(-6.0)

    // In a real deployment spark-submit provides master/conf; local default
    // keeps the entrypoint self-contained for the sandbox.
    val builder = SparkSession.builder().appName("graft-pipeline")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.mapKeyDedupPolicy", "LAST_WIN")
    val spark = (if (sys.env.contains("MASTER")) builder
      else builder.master(s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")}]")
        .config("spark.sql.shuffle.partitions", sys.env.getOrElse("SPARK_GRAFT_CPUS", "8"))
        .config("spark.ui.enabled", "false")).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val listener = new StageMetricsListener
    spark.sparkContext.addSparkListener(listener)

    val turns =
      if (input.startsWith("gen:"))
        graft.ingest.TranscriptGen.turnsDF(spark, input.stripPrefix("gen:").toLong)
      else spark.read.parquet(input)

    val cfg = Pipeline.Config(edgeThreshold = edgeThreshold, checkpointDir = Some(ckptDir))
    val res = Pipeline.run(spark, turns, cfg)

    res.clusters.write.mode("overwrite").parquet(s"$outDir/clusters")
    val nClusters = spark.read.parquet(s"$outDir/clusters")
      .select("cluster_id").distinct().count()

    Files.createDirectories(Paths.get(outDir))
    Files.writeString(Paths.get(s"$outDir/stage_metrics.jsonl"), listener.report() + "\n")
    Files.writeString(Paths.get(s"$outDir/partition_lineage.jsonl"),
      listener.partitionLineage() + "\n")
    println(s"""{"status":"ok","clusters":$nClusters,"checkpointDir":"$ckptDir","out":"$outDir"}""")
    spark.stop()
  }
}
