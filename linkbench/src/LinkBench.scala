package graft.bench

import org.apache.spark.sql.SparkSession

import java.nio.file.{Files, Paths}
import scala.util.control.NonFatal

/** The linkage benchmark: one seeded workload per process.
  *
  * Untraced run (`--trace 0`): set-up three times (session start + input
  * generation + parquet writes; the median is `setup_s`), one cold pass,
  * then a fixed number of measured passes (see [[measuredPasses]]). Every
  * pass is checked. Timings are scaled to the reference host speed by
  * [[HostProbe]]. Traced run (`--trace 1`): one set-up, the cold pass, one
  * untraced pass, then one traced pass, which replays the workload layer by
  * layer, must reproduce the untraced checksums and gives the per-layer
  * metrics (raw seconds).
  *
  * The result — `correct`, `attempted`, `failed`, `metrics` — is written as
  * one JSON object to `--result`.
  */
object LinkBench {

  final case class Conf(workload: String, seed: Long, seconds: Int, trace: Boolean,
                        dir: String, result: String, tiny: Boolean, corruptPass: Int)

  val SetupRounds = 3
  /** Nominal seconds of one warm pass: an untraced run measures
    * max(3, ⌈seconds / NominalPassS⌉) passes right after the cold pass, a
    * fixed count for a given `--seconds` whatever the host's speed. The
    * cold pass is the only warm-up; see linkbench/README.md for why. */
  val NominalPassS = 5

  def measuredPasses(seconds: Int): Int = math.max(3, math.ceil(seconds.toDouble / NominalPassS).toInt)

  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "cold_s" -> "s", "docs_per_s" -> "docs/s", "quality" -> "ratio",
    "cached_mb" -> "MB", "ok_frac" -> "ratio")

  val PerLayer: Seq[(String, String)] = Seq(
    "mentions.wall_s" -> "s", "mentions.rows" -> "count", "mentions.shuffle_mb" -> "MB",
    "blocking.wall_s" -> "s", "blocking.driver_s" -> "s", "blocking.keys" -> "count",
    "blocking.pairs" -> "count", "blocking.shuffle_mb" -> "MB", "blocking.spill_mb" -> "MB",
    "blocking.task_skew" -> "ratio", "blocking.reduction_ratio" -> "ratio",
    "blocking.pair_completeness" -> "ratio", "blocking.hot_keys" -> "count",
    "blocking.salted_keys" -> "count",
    "scoring.wall_s" -> "s", "scoring.pairs_per_s" -> "1/s", "scoring.task_skew" -> "ratio",
    "scoring.gc_s" -> "s", "scoring.edge_yield" -> "ratio",
    "linking.wall_s" -> "s", "linking.edges" -> "count",
    "clustering.wall_s" -> "s", "clustering.driver_s" -> "s", "clustering.jobs" -> "count",
    "clustering.components" -> "count",
    "assignment.wall_s" -> "s", "assignment.rows" -> "count",
    "metrics.f1_s" -> "s", "metrics.universe_pairs" -> "count", "metrics.shuffle_mb" -> "MB",
    "dicttrain.harvest_s" -> "s", "dicttrain.uc_split_s" -> "s", "dicttrain.score_s" -> "s",
    "dicttrain.select_s" -> "s", "dicttrain.expand_s" -> "s", "dicttrain.jobs" -> "count",
    "dicttrain.shuffle_mb" -> "MB", "dicttrain.keys_kept_ratio" -> "ratio",
    "dictmatch.wall_s" -> "s", "dictmatch.driver_s" -> "s", "dictmatch.docs_per_s" -> "docs/s",
    "dictmatch.anns" -> "count",
    "stagerunner.write_s" -> "s", "stagerunner.verify_s" -> "s", "stagerunner.jobs" -> "count",
    "stagerunner.written_mb" -> "MB", "stagerunner.stages_resumed" -> "count",
    "stagerunner.resume_s" -> "s", "stagerunner.ckpt_mb" -> "MB",
    "trace.coverage" -> "ratio", "trace.overhead_s" -> "s")

  def parse(args: Array[String]): Conf = {
    val kv = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Conf(need("workload"), need("seed").toLong, need("seconds").toInt, need("trace") == "1",
      need("dir"), need("result"), kv.get("scale").contains("tiny"),
      kv.get("corrupt-pass").map(_.toInt).getOrElse(-1))
  }

  object Session {
    val Cores: Int = math.min(4, Runtime.getRuntime.availableProcessors())
    val ShufflePartitions = 4

    def start(dir: String): SparkSession = {
      val s = SparkSession.builder()
        .master(s"local[$Cores]")
        .appName("linkbench")
        .config("spark.sql.shuffle.partitions", ShufflePartitions.toString)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.local.dir", s"$dir/spark-local")
        .config("spark.sql.warehouse.dir", s"$dir/warehouse")
        .getOrCreate()
      s.sparkContext.setLogLevel("ERROR")
      s
    }

    def stop(s: SparkSession): Unit = {
      s.stop()
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
    }
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.length % 2 == 1) s(s.length / 2)
    else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }

  private val started = System.nanoTime()
  private def say(msg: String): Unit = {
    println(f"[linkbench ${Workload.secondsSince(started)}%6.1fs] $msg")
    Console.flush()
  }

  def main(args: Array[String]): Unit = {
    val conf = parse(args)
    val sizes = if (conf.tiny) Sizes.tiny else Sizes.full
    val inputs = new Inputs(s"${conf.dir}/inputs", conf.seed)
    val wl: Workload = conf.workload match {
      case "link" => new LinkWorkload(inputs, sizes.linkDocs, s"${conf.dir}/resume")
      case "train_annotate" => new TrainWorkload(inputs, sizes.trainDocs, sizes.heldDocs, conf.trace)
      case other => throw new IllegalArgumentException(s"unknown workload '$other'")
    }
    say(s"workload ${wl.name} seed ${conf.seed} (doc offset ${inputs.offset}) " +
      s"local[${Session.Cores}] shuffle partitions ${Session.ShufflePartitions} " +
      s"heap ${Runtime.getRuntime.maxMemory() / (1 << 20)} MB")

    // host-speed samples, taken between set-ups and passes, never inside
    val probes = Seq.newBuilder[Double]
    var spark: SparkSession = null
    val setupTimes = (0 until (if (conf.trace) 1 else SetupRounds)).map { _ =>
      if (spark != null) Session.stop(spark)
      val t0 = System.nanoTime()
      spark = Session.start(conf.dir)
      wl.setup(spark)
      val t = Workload.secondsSince(t0)
      probes += HostProbe.probe()
      t
    }
    say(f"setup ${setupTimes.map(t => f"$t%.3f").mkString(", ")} s")
    val tr = new Trace(spark.sparkContext)

    var attempted = 0
    var failed = 0
    var okPasses = 0
    var reference: Option[Map[String, String]] = None

    /** Common bookkeeping of one pass: release check, checksum check
      * against the first pass, the optional corrupted checksum. */
    def record(kind: String, wallS: Double, sums0: Map[String, String],
               checks0: Seq[(String, Boolean)]): Unit = {
      val sums = if (attempted == conf.corruptPass) sums0.map { case (k, v) => k -> ("corrupt-" + v) } else sums0
      if (reference.isEmpty) reference = Some(sums)
      val checks = checks0 ++ Seq("no blocks cached after release" -> tr.awaitNoBlocks(),
        "checksums match first pass" -> reference.contains(sums))
      val bad = checks.filterNot(_._2).map(_._1)
      if (bad.isEmpty) okPasses += 1
      say(f"pass $attempted%2d $kind%-7s $wallS%8.3f s " +
        (if (bad.isEmpty) "ok" else "FAILED CHECKS: " + bad.mkString("; ")))
      attempted += 1
    }

    /** One untraced pass and the peak MB of RDD blocks held during it. */
    def untraced(kind: String, judge: Boolean): Option[(PassOut, Double)] = {
      probes += HostProbe.probe()
      tr.resetPeak()
      try {
        val out = wl.pass(spark, judge)
        val peak = tr.peakMb
        record(kind, out.wallS, out.checksums, out.checks)
        Some((out, peak))
      } catch {
        case NonFatal(e) =>
          say(s"pass $attempted $kind threw: $e"); e.printStackTrace(Console.out)
          attempted += 1; failed += 1
          None
      }
    }

    def traced(): Option[TracedOut] = {
      tr.clearGroups()
      tr.resetPeak()
      try {
        val t = wl.traced(spark, tr)
        record("traced", t.wallS, t.checksums, t.checks)
        Some(t)
      } catch {
        case NonFatal(e) =>
          say(s"pass $attempted traced threw: $e"); e.printStackTrace(Console.out)
          attempted += 1; failed += 1
          None
      }
    }

    // Fixed schedule: the cold pass, then the measured passes. Untraced,
    // the last measured pass also judges quality (outside its timed
    // region). Traced, one untraced pass is followed by the traced pass,
    // so the overhead compares neighbours on the warm-up curve.
    val cold = untraced("cold", judge = false)
    val n = if (conf.trace) 1 else measuredPasses(conf.seconds)
    val warm = (0 until n).flatMap(i => untraced("warm", judge = !conf.trace && i == n - 1))
    val lastTraced = if (conf.trace) traced() else None
    probes += HostProbe.probe()

    // Timings are reported at the reference host speed: measured seconds ×
    // HostProbe.ReferenceS ÷ the run's median probe. The raw values are
    // logged beside them.
    val probeS = median(probes.result())
    val atRef = HostProbe.ReferenceS / probeS
    val setupS = median(setupTimes)
    val coldS = cold.map(_._1.wallS).getOrElse(Double.NaN)
    val warmS = median(warm.map(_._1.wallS))
    say(f"host probe median ${probeS * 1e3}%.3f ms of ${probes.result().size} " +
      f"(reference ${HostProbe.ReferenceS * 1e3}%.1f ms, factor $atRef%.4f); raw setup $setupS%.3f s, " +
      f"cold $coldS%.3f s, median warm pass $warmS%.3f s")

    val metrics: Seq[(String, Double, String)] =
      if (!conf.trace) {
        EndToEnd.map { case (name, unit) =>
          val v = name match {
            case "setup_s" => setupS * atRef
            case "cold_s" => coldS * atRef
            case "docs_per_s" => wl.inputDocs / (warmS * atRef)
            case "quality" => warm.lastOption.flatMap(_._1.quality).getOrElse(Double.NaN)
            case "cached_mb" => median(warm.map(_._2))
            case "ok_frac" => okPasses.toDouble / attempted
          }
          (name, v, unit)
        }
      } else {
        val layers = lastTraced.map { t =>
          t.layers ++ Map("trace.coverage" -> t.layerWallS / t.wallS,
            "trace.overhead_s" -> warm.lastOption.map(t.wallS - _._1.wallS).getOrElse(Double.NaN))
        }.getOrElse(Map.empty)
        PerLayer.map { case (name, unit) =>
          (name, layers.getOrElse(name, if (lastTraced.isEmpty) Double.NaN else 0.0), unit)
        }
      }

    val finite = metrics.forall(m => !m._2.isNaN && !m._2.isInfinite)
    val correct = failed == 0 && okPasses == attempted && finite
    metrics.foreach { case (n, v, u) => say(f"$n%-28s $v%.6f $u") }
    val metricJson = metrics.map { case (n, v, u) =>
      val num = if (v.isNaN || v.isInfinite) "0" else BigDecimal(v).toString
      s""""$n": {"value": $num, "unit": "$u"}"""
    }.mkString("{", ", ", "}")
    val json = s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": $metricJson}"""
    Files.writeString(Paths.get(conf.result), json + "\n")
    Session.stop(spark)
  }
}
