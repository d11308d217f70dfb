package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}
import java.util.Comparator

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

import graft.Bench
import graft.evaluate.Evaluate

/** The repository benchmark: one workload, one seed, one closed loop of
  * batch jobs from this driver process on `local[cores]`.
  *
  *   perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *                  --cores <n> --work-dir <dir> [--expected <hashes.json>]
  *
  * A run sets up three times (session start, input generation and cache;
  * `setup_s` is the median), runs one cold rep, then steady reps for
  * `--seconds`. Every rep starts after a full GC and once the JIT compiler
  * has gone quiet, is bracketed by `Bench.probeMs()` steal probes, and has
  * its output hash checked. With `--trace 1` a traced rep of the same work
  * follows, one span per layer call, then one more untraced rep, and the
  * last stdout line carries the per-layer metrics instead of the
  * end-to-end ones. Exit code 0 only when every check passed.
  */
object Main {
  val SetupReps = 3
  val MinSteadyReps = 1
  /** the checkpointed workloads write every stage of every rep to disk: a
    * run refuses to start with less free space than this under its work dir
    */
  val MinFreeGb = 2.0
  /** before a rep: wait until the JIT compiled for less than QuietCompileMs
    * in a QuietWindowMs window, at most SettleMaxS
    */
  val QuietWindowMs = 250L
  val QuietCompileMs = 25L
  val SettleMaxS = 4.0
  /** the label check: a run whose F1 against the generator's labels falls
    * below this fails
    */
  val MinF1 = 0.85
  /** reps stop starting after this many seconds of the run */
  val RepBudgetS = 110.0

  final case class Args(workload: Workload, seed: Long, seconds: Int, trace: Boolean,
      cores: Int, workDir: Path, expected: Option[Path])

  final case class Rep(index: Int, settleS: Double, wallS: Double, storedBytes: Long,
      checkpointBytes: Long, probesMs: (Double, Double), hash: String, rows: Array[String],
      error: Option[String])

  def main(argv: Array[String]): Unit = {
    val args =
      try parse(argv)
      catch { case e: IllegalArgumentException =>
        System.err.println(s"[perfbench] ${e.getMessage}")
        sys.exit(2)
      }
    sys.exit(run(args))
  }

  private def parse(argv: Array[String]): Args = {
    require(argv.length % 2 == 0, "arguments come as --name value pairs")
    val m = argv.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap
    def get(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val w = Workloads.byName(get("workload")).getOrElse(throw new IllegalArgumentException(
      s"unknown workload ${get("workload")}; one of ${Workloads.all.map(_.name).mkString(", ")}"))
    Args(w, get("seed").toLong, get("seconds").toInt, get("trace") == "1", get("cores").toInt,
      Paths.get(get("work-dir")).toAbsolutePath, m.get("expected").map(Paths.get(_)))
  }

  private def secs(from: Long): Double = (System.nanoTime() - from) / 1e9

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.length % 2 == 1) s(s.length / 2)
    else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }

  private def sha256(rows: Array[String]): String =
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(rows.mkString("\n").getBytes(StandardCharsets.UTF_8))
      .map("%02x".format(_)).mkString

  private def treeBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum() finally s.close()
    }

  private[perfbench] def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(Comparator.reverseOrder[Path]()).forEach(Files.delete(_)) finally s.close()
    }

  private def diskHeadroomOk(dir: Path): Boolean = {
    val freeGb = dir.toFile.getUsableSpace / (1024.0 * 1024 * 1024)
    println(f"[perfbench] disk headroom: $freeGb%.1f GiB free under the work dir (floor $MinFreeGb%.1f GiB)")
    freeGb >= MinFreeGb
  }

  /** A full GC, then a wait for the JIT compiler to go quiet, so a rep
    * does not share the cores with compiling the previous rep's hot code.
    * Returns the seconds it took.
    */
  private def settle(): Double = {
    val s = System.nanoTime()
    System.gc()
    val jit = ManagementFactory.getCompilationMXBean
    var last = jit.getTotalCompilationTime
    var quiet = false
    while (!quiet && secs(s) < SettleMaxS) {
      Thread.sleep(QuietWindowMs)
      val now = jit.getTotalCompilationTime
      quiet = now - last < QuietCompileMs
      last = now
    }
    secs(s)
  }

  /** The expected output hash of (workload, seed), when the benchmark has
    * one recorded: a flat JSON object of "<workload>/<seed>": "<sha256>".
    */
  private def expectedHash(a: Args): Option[String] =
    a.expected.filter(Files.exists(_)).flatMap { p =>
      val json = new String(Files.readAllBytes(p), StandardCharsets.UTF_8)
      s""""${a.workload.name}/${a.seed}"\\s*:\\s*"([0-9a-f]+)"""".r
        .findFirstMatchIn(json).map(_.group(1))
    }

  private[perfbench] def session(cores: Int, workDir: Path): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.mapKeyDedupPolicy", "LAST_WIN")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", workDir.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    // a task result arriving after its accumulator was cleaned up logs a
    // harmless DAGScheduler ERROR (see Bench); failures surface as exceptions
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.scheduler.DAGScheduler", org.apache.logging.log4j.Level.FATAL)
    spark
  }

  private def json(metrics: Seq[(String, Double, String)]): String =
    metrics.map { case (k, v, u) =>
      val value = if (v.isNaN || v.isInfinite) 0.0 else v
      s""""$k":{"value":$value,"unit":"$u"}"""
    }.mkString("{", ",", "}")

  def run(a: Args): Int = {
    val w = a.workload
    Files.createDirectories(a.workDir)
    if (!diskHeadroomOk(a.workDir)) {
      System.err.println("[perfbench] ABORT: not enough free disk for the run")
      return 3
    }
    val outDir = Files.createDirectories(a.workDir.resolve("out"))
    val runId = s"${w.name}-seed${a.seed}-trace${if (a.trace) 1 else 0}"

    val t0 = System.nanoTime()
    var spark: SparkSession = null
    try {
      var in: Input = null
      // each set-up after the first stops the previous session and starts afresh
      val setups = (1 to SetupReps).map { _ =>
        if (spark != null) spark.stop()
        val s = System.nanoTime()
        spark = session(a.cores, a.workDir)
        val sessionS = secs(s)
        in = w.generate(spark, a.seed, a.cores)
        (secs(s), sessionS)
      }
      val setupS = median(setups.map(_._1))
      println(s"[perfbench] $runId setup: " + setups.map { case (t, ss) =>
        f"$t%.3f s (session $ss%.3f s)" }.mkString(", "))
      val sc = spark.sparkContext
      // the cached input stays; everything else a rep persists is dropped
      val inputRdds = sc.getPersistentRDDs.keySet.toSet
      // Spark tracks persisted RDDs by weak reference: a full GC first drops
      // the ones nothing holds any more (their blocks are cleaned up
      // asynchronously), so the figure does not depend on GC timing
      def storedBytes(): Long = {
        System.gc()
        sc.getRDDStorageInfo.filterNot(i => inputRdds(i.id)).map(i => i.memSize + i.diskSize).sum
      }
      def dropRepState(): Unit = sc.getPersistentRDDs.foreach { case (id, rdd) =>
        if (!inputRdds(id)) rdd.unpersist(blocking = true)
      }
      val truth = w.truth(in)
      val nConvs = truth.of.size.toDouble
      val expected = expectedHash(a)

      def rep(i: Int): Rep = {
        val dir = a.workDir.resolve(s"ckpt/$runId-rep$i")
        val settleS = settle()
        val before = Bench.probeMs()
        val s = System.nanoTime()
        var out: Output = null
        try {
          out = w.run(spark, in, if (w.checkpointed) Some(dir.toString) else None)
          val wall = secs(s)
          val stored = storedBytes()
          val after = Bench.probeMs()
          val rows = w.rows(out.result)
          Rep(i, settleS, wall, stored, treeBytes(dir), (before, after), sha256(rows), rows, None)
        } catch {
          case NonFatal(e) =>
            Rep(i, settleS, secs(s), 0L, 0L, (before, Bench.probeMs()), "", Array.empty,
              Some(e.toString))
        } finally {
          if (out != null) out.release()
          dropRepState()
          deleteTree(dir)
        }
      }

      val reps = mutable.ArrayBuffer(rep(0))
      val steadyStart = System.nanoTime()
      while (secs(t0) < RepBudgetS &&
          (reps.length - 1 < MinSteadyReps || secs(steadyStart) < a.seconds))
        reps += rep(reps.length)

      val reference = expected.orElse(reps.find(_.error.isEmpty).map(_.hash)).getOrElse("")
      def ok(r: Rep) = r.error.isEmpty && r.hash == reference
      def report(r: Rep): Unit =
        println(f"[perfbench] $runId rep=${r.index} settle_s=${r.settleS}%.2f wall_s=${r.wallS}%.3f " +
          f"probes_ms=[${r.probesMs._1}%.1f,${r.probesMs._2}%.1f] stored_mb=${r.storedBytes / 1e6}%.1f " +
          f"checkpoint_mb=${r.checkpointBytes / 1e6}%.1f hash=${r.hash.take(16)} ok=${ok(r)}" +
          r.error.fold("")(e => s" error=$e"))
      reps.foreach(report)
      println(s"[perfbench] $runId reference hash=$reference (" +
        (if (expected.isDefined) "recorded in the benchmark" else "first rep of this run") + ")")
      val steady = reps.drop(1).filter(ok)
      val quality = reps.find(ok).map(r => w.quality(r.rows, truth)).getOrElse(Quality(0, 0))
      val labelOk = quality.f1 >= MinF1
      if (!labelOk)
        println(f"[perfbench] $runId LABEL CHECK FAILED: f1=${quality.f1}%.4f < $MinF1")

      var attempted = reps.length
      var failed = reps.count(r => !ok(r))
      val endToEnd = Seq(
        ("setup_s", setupS, "s"),
        ("cold_wall_s", reps.head.wallS, "s"),
        ("convs_per_s", median(steady.map(nConvs / _.wallS).toSeq), "1/s"),
        ("f1", quality.f1, "ratio"),
        ("precision", quality.precision, "ratio"),
        ("recall", quality.recall, "ratio"),
        ("storage_peak_mb", median(steady.map(_.storedBytes / 1e6).toSeq), "MB"),
        ("pass_ratio", (attempted - failed).toDouble / attempted, "ratio"))
      endToEnd.foreach { case (k, v, u) => println(s"[perfbench] $runId $k = $v $u") }
      println(s"[perfbench] $runId fail_ratio = ${failed.toDouble / attempted} ratio " +
        s"($failed of $attempted reps)")

      def writeProbeLog(): Unit = {
        val probeLog = reps.map(r =>
          s"""{"rep":${r.index},"settle_s":${r.settleS},"wall_s":${r.wallS},""" +
            s""""probe_before_ms":${r.probesMs._1},"probe_after_ms":${r.probesMs._2},""" +
            s""""ok":${ok(r)}}""").mkString("[", ",", "]")
        Files.write(outDir.resolve(s"$runId-reps.json"),
          probeLog.getBytes(StandardCharsets.UTF_8))
      }

      val metrics =
        if (!a.trace) endToEnd
        else {
          val tracer = new Tracer(spark, runId, a.cores)
          val dir = a.workDir.resolve(s"ckpt/$runId-traced")
          attempted += 1
          val layerMetrics = try {
            settle()
            val s = System.nanoTime()
            val tr = tracer.span("rep")(
              w.traced(spark, in, if (w.checkpointed) Some(dir.toString) else None, tracer))
            val tracedWall = secs(s)
            val rows = w.rows(tr.output.result)
            val tracedOk = sha256(rows) == reference
            if (!tracedOk) {
              failed += 1
              println(s"[perfbench] $runId TRACED OUTPUT DIFFERS: hash=${sha256(rows)}")
            }
            tracer.write(outDir.resolve(s"$runId-spans.jsonl"))
            val layers = tracer.summary()
            val domain = tr.counters()
            val checkpointBytes = treeBytes(dir).toDouble
            if (w.checkpointed) {
              // the dedup quality numbers are Evaluate.pairwiseF1AllLabelPairs'
              val e = Evaluate.pairwiseF1AllLabelPairs(spark, tr.output.result, in.labels).head()
              val q = w.quality(rows, truth)
              if (math.abs(e.getAs[Double]("f1") - q.f1) > 1e-12) {
                failed += 1
                println(s"[perfbench] $runId F1 DIFFERS from Evaluate: ${e.getAs[Double]("f1")} vs ${q.f1}")
              }
            }
            tr.output.release()
            tracer.close()
            dropRepState()
            deleteTree(dir)
            // the untraced reps just before and just after the traced one:
            // their mean cancels the warm-up the JVM gains between them
            val prev = reps.last
            val next = rep(reps.length)
            reps += next
            report(next)
            attempted += 1
            if (!ok(next)) failed += 1
            val untraced = Seq(prev, next).filter(ok).map(_.wallS)
            val counters = domain ++ Map(
              "score.pairs_per_s" -> Workloads.ratio(domain("blocking.pairs"),
                layers.get("score").fold(0.0)(_("self_s"))),
              "runtime.checkpoint.bytes_written" -> checkpointBytes,
              "trace.overhead_s" -> (tracedWall - median(untraced)))
            Tracer.Layers.flatMap(l => Tracer.Suffixes.map(sfx =>
              (s"$l.$sfx", layers.get(l).map(_(sfx)).getOrElse(0.0), unit(sfx)))) ++
              Counters.map { case (k, u) => (k, counters.getOrElse(k, 0.0), u) }
          } catch {
            case NonFatal(e) =>
              failed += 1
              println(s"[perfbench] $runId traced rep failed: $e")
              Nil
          } finally {
            tracer.close()
            dropRepState()
            deleteTree(dir)
          }
          layerMetrics
        }

      writeProbeLog()
      val correct = failed == 0 && labelOk
      println(s"""{"correct":$correct,"attempted":$attempted,"failed":$failed,"metrics":${json(metrics)}}""")
      if (correct) 0 else 1
    } finally {
      if (spark != null) spark.stop()
      deleteTree(a.workDir.resolve("ckpt"))
    }
  }

  def unit(suffix: String): String = suffix match {
    case "wall_s" | "self_s" | "cpu_s" => "s"
    case "shuffle_bytes" | "spill_bytes" => "bytes"
    case "stages" | "rows_out" => "count"
    case _ => "ratio"
  }

  /** Domain counters of the traced run, with their units. */
  val Counters: Seq[(String, String)] = Seq(
    "blocking.pairs" -> "count", "blocking.salted_keys" -> "count",
    "blocking.ultra_keys" -> "count", "blocking.salvage_pairs" -> "count",
    "blocking.recall" -> "ratio", "blocking.pair_yield" -> "ratio",
    "resolve.cascade.links" -> "count", "score.pairs_per_s" -> "1/s",
    "score.kept_ratio" -> "ratio", "score.edge_ratio" -> "ratio",
    "resolve.cc.edges" -> "count", "resolve.cc.max_cluster" -> "count",
    "runtime.checkpoint.bytes_written" -> "bytes", "trace.overhead_s" -> "s")
}

/** Loads the classes a run loads, for the class-data-sharing archive the
  * build writes when this JVM exits: one session, then one rep of
  * `dedup_uniform` at seed 0, which runs every engine layer but the link
  * ones. Its output is not checked.
  *
  *   perfbench.Warmup --cores <n> --work-dir <dir>
  */
object Warmup {
  def main(argv: Array[String]): Unit = {
    val m = argv.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap
    val cores = m("cores").toInt
    val workDir = Paths.get(m("work-dir")).toAbsolutePath
    val dir = workDir.resolve("ckpt/warmup")
    val spark = Main.session(cores, workDir)
    val w = Workloads.byName("dedup_uniform").get
    try {
      val in = w.generate(spark, 0L, cores)
      val out = w.run(spark, in, Some(dir.toString))
      w.quality(w.rows(out.result), w.truth(in))
    } finally {
      spark.stop()
      Main.deleteTree(dir)
    }
  }
}
