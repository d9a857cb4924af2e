package graft.kgbench

import scala.collection.mutable.ArrayBuffer
import scala.util.{Failure, Success, Try}

import org.apache.spark.sql.SparkSession

/** The untraced run: set-up (repeated), then operations in a closed loop
  * for `seconds` of operation time, then the output checks, outside the
  * timed window. Reports the end-to-end metrics. */
object EndToEnd {

  /** Set-up is session start, input generation and one warm operation;
    * it runs this many times, each in a fresh session, and the median is
    * reported. */
  val SetupReps = 2
  /** An operation (a build, or a drain) that takes longer fails. */
  val OpTimeoutMs = 60000L

  /** Runs `once(spark, rep)` SetupReps times, each in a fresh session;
    * returns the last session and the set-up times. */
  private def setup(o: Opts)(once: (SparkSession, Int) => Unit)
      : (SparkSession, Seq[Double]) = {
    var spark: SparkSession = null
    val times = (0 until SetupReps).map { rep =>
      if (spark != null) spark.stop()
      val t0 = System.nanoTime()
      spark = Ops.session(o)
      once(spark, rep)
      Ops.secondsSince(t0)
    }
    (spark, times)
  }

  def run(o: Opts): RunResult = {
    val loadStart = Host.loadavg
    val t0 = System.nanoTime()
    val (spark, setupS, opS, batchS, verdict, stealPct) = o.workload match {
      case w: BuildWorkload => runBuild(o, w)
      case w: StreamWorkload => runStream(o, w)
    }
    val rss = Host.peakRssMb
    spark.stop()
    val buildS = Stats.median(opS)
    val (tailS, tailPct) = Stats.tail(batchS)
    // (name, value, unit, better)
    val metrics = Seq(
      ("setup_s", Stats.median(setupS), "s", "lower"),
      ("build_s", buildS, "s", "lower"),
      ("triples_per_s", verdict.expect.rows / buildS, "1/s", "higher"),
      ("batch_s.p50", Stats.median(batchS), "s", "lower"),
      ("peak_rss_mb", rss, "MB", "lower"))
    RunResult(
      correct = verdict.correct,
      attempted = verdict.ok.length.max(1), failed = verdict.ok.count(!_),
      metrics = metrics.map(m => (m._1, m._2, m._3)),
      detail = Json.obj(Seq(
        "workload" -> Json.str(o.workload.name), "seed" -> o.seed.toString,
        "cores" -> o.cores.toString,
        "ts" -> Json.str(java.time.Instant.now.toString),
        "better" -> Json.obj(metrics.map(m => m._1 -> Json.str(m._4)): _*),
        "setup_s" -> Json.nums(setupS), "op_s" -> Json.nums(opS),
        "batch_s" -> Json.nums(batchS),
        "batch_s.tail" -> Json.num(tailS),
        "batch_s.tail_percentile" -> Json.num(tailPct),
        "loadavg_start" -> loadStart, "loadavg_end" -> Host.loadavg,
        "steal_pct" -> Json.num(stealPct),
        "check_s" -> Json.num(Ops.secondsSince(t0) - setupS.sum - opS.sum)) ++
        verdict.detail: _*))
  }

  /** Times `op(k)` in a closed loop until `seconds` of operation time have
    * passed and at least `minOps` operations ran (or three failed). An
    * operation fails when it throws or takes longer than OpTimeoutMs; its
    * Spark jobs are then cancelled. Returns each operation's (seconds,
    * result) and the host's steal% over the loop. */
  private def closedLoop[T](o: Opts, spark: SparkSession, minOps: Int)(op: Int => T)
      : (Seq[(Double, Option[T])], Double) = {
    val ticks = Host.cpuTicks
    val out = ArrayBuffer.empty[(Double, Option[T])]
    while ((out.map(_._1).sum < o.seconds || out.length < minOps) &&
        out.count(_._2.isEmpty) < 3) {
      val watchdog = new java.util.Timer(true)
      watchdog.schedule(new java.util.TimerTask {
        def run(): Unit = spark.sparkContext.cancelAllJobs()
      }, OpTimeoutMs)
      val t0 = System.nanoTime()
      val r = try Try(op(out.length)) finally watchdog.cancel()
      val s = Ops.secondsSince(t0)
      out += ((s, r.toOption.filter(_ => s * 1000 <= OpTimeoutMs)))
      r match {
        case Failure(e) => e.printStackTrace()
        case Success(_) =>
      }
    }
    (out.toSeq, Host.stealPct(ticks, Host.cpuTicks))
  }

  private def runBuild(o: Opts, w: BuildWorkload) = {
    val corpus = o.dir("corpus")
    val (spark, setupS) = setup(o) { (s, rep) =>
      Ops.writeCorpus(s, w, o.seed, corpus)
      Ops.build(s, corpus, o.dir(s"warm/op=$rep"))
    }
    val root = o.dir("ops")
    // three builds at least: the first one after set-up is still the
    // slowest, and the median of two would include it
    val (ops, steal) = closedLoop(o, spark, minOps = 3)(k =>
      Ops.build(spark, corpus, s"$root/op=$k"))
    val opS = ops.map(_._1)
    val checked = Ops.checkBuilds(spark, o, corpus, root, ops.length)
    val verdict = checked.copy(ok = checked.ok.zip(ops).map {
      case (ok, (_, r)) => ok && r.isDefined
    })
    (spark, setupS, opS, opS, verdict, steal)
  }

  private def runStream(o: Opts, w: StreamWorkload) = {
    var files = Seq.empty[String]
    val (spark, setupS) = setup(o) { (s, rep) =>
      files = Ops.writeBacklog(s, w, o.seed, o.dir(s"backlog-$rep"),
        o.dir(s"staging-$rep"))
      Ops.drain(s, Ops.backlogOf(files.take(1), o.dir(s"warm-in-$rep")),
        o.dir(s"warm/drain=$rep"), o.dir(s"warm-ckpt-$rep"), OpTimeoutMs)
    }
    val backlog = java.nio.file.Paths.get(files.head).getParent.toString
    val root = o.dir("drains")
    val (drains, steal) = closedLoop(o, spark, minOps = 1)(k => Ops.drain(spark, backlog,
      s"$root/drain=$k", o.dir(s"ckpt-$k"), OpTimeoutMs))
    val verdict = Ops.checkDrains(spark, o, root, drains.length, w.batches)
    // one operation is one micro-batch: a drain's verdict covers its batches
    val perBatch = verdict.copy(ok = drains.zip(verdict.ok).flatMap {
      case ((_, d), ok) => Seq.fill(d.map(_.length).getOrElse(1))(ok && d.isDefined)
    })
    (spark, setupS, drains.map(_._1), drains.flatMap(_._2.toSeq.flatten),
      perBatch, steal)
  }
}
