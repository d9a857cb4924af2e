package graft.kgbench

import java.nio.file.Files

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.Pipeline
import graft.model.{Doc, Spec}
import graft.operators.{Canonicalizer, GazetteerMatcher, Linker, SpanOps}
import graft.sources.TripleSink
import graft.streaming.DocStream

/** The traced run. After a warm pass it forces each cumulative prefix of
  * the pipeline through a noop sink, in order, by calling the public
  * function of each module; the last prefix is the real committed write.
  * A layer's self time is its prefix's median time minus the previous
  * prefix's. Every prefix is a span, with the Spark jobs it caused as
  * child spans; the spans are written out when the run ends. Counts come
  * from separate, untimed jobs. Reports the per-layer metrics. */
object Traced {

  /** Timed passes over the prefixes, after one warm pass. */
  val Reps = 2

  final case class Span(id: Int, parent: Int, name: String, startMs: Long,
      endMs: Long, attrs: Seq[(String, String)]) {
    def json: String = Json.obj(Seq("id" -> id.toString,
      "parent" -> parent.toString, "name" -> Json.str(name),
      "start_ms" -> startMs.toString, "end_ms" -> endMs.toString) ++ attrs: _*)
  }

  /** One timed pass of one prefix. */
  final case class Pass(wallS: Double, work: SparkWork, startMs: Long,
      endMs: Long)

  final class Tracer(spark: SparkSession) {
    val rec = new Recorder(spark.sparkContext)
    spark.sparkContext.addSparkListener(rec)
    spark.listenerManager.register(rec)
    val spans = ArrayBuffer.empty[Span]

    def span(name: String, parent: Int)(f: => Unit): Pass = {
      rec.take()
      val t0 = System.currentTimeMillis()
      val n0 = System.nanoTime()
      f
      val wall = Ops.secondsSince(n0)
      val t1 = System.currentTimeMillis()
      val w = rec.take()
      val id = spans.length + 1
      spans += Span(id, parent, name, t0, t1, Seq(
        "wall_s" -> Json.num(wall), "jobs" -> w.jobs.length.toString,
        "task_s" -> Json.num(w.taskRunS),
        "shuffle_write_bytes" -> w.shuffleWriteBytes.toString,
        "exchanges" -> w.exchanges.toString))
      w.jobs.foreach { case (j, s, e) =>
        spans += Span(spans.length + 1, id, s"job $j", s, e, Seq.empty)
      }
      Pass(wall, w, t0, t1)
    }

    /** One warm pass over the first `warm` prefixes (the set-up already
      * ran the full operation), then `Reps` timed passes of all prefixes
      * in order; a prefix gets its pass index. Returns the timed passes
      * per prefix. */
    def prefixes(prefixes: Seq[(String, Int => Any)], warm: Int)
        : Map[String, Seq[Pass]] = {
      val timed = ArrayBuffer.empty[(String, Pass)]
      (-1 until Reps).foreach { rep =>
        val root = spans.length + 1
        spans += Span(root, 0, s"pass $rep", System.currentTimeMillis(), 0L,
          Seq("warm" -> (rep < 0).toString))
        prefixes.take(if (rep < 0) warm else prefixes.length).foreach {
          case (name, f) =>
            val p = span(name, root)(f(rep))
            if (rep >= 0) timed += name -> p
        }
        spans(root - 1) = spans(root - 1).copy(endMs = System.currentTimeMillis())
      }
      timed.toSeq.groupMap(_._1)(_._2)
    }

    /** Times `f` with the listeners detached. */
    def untraced(f: => Unit): Double = {
      spark.sparkContext.removeSparkListener(rec)
      spark.listenerManager.unregister(rec)
      val t0 = System.nanoTime()
      try f finally {
        spark.sparkContext.addSparkListener(rec)
        spark.listenerManager.register(rec)
      }
      Ops.secondsSince(t0)
    }

    def write(o: Opts): Unit = {
      val f = o.traces.resolve(s"${o.workload.name}-seed${o.seed}.json")
      Files.writeString(f, Json.arr(spans.map(_.json)) + "\n")
      System.err.println(s"[kgbench] wrote ${spans.length} spans to $f")
    }
  }

  /** The pass with the median wall time. */
  private def medianPass(ps: Seq[Pass]): Pass = ps.sortBy(_.wallS).apply(ps.length / 2)

  private def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** What a workload's traced run measured: the self time of each layer
    * along its prefix chain, the traced wall time they reconcile to, the
    * same operation's traced and untraced time, the layer metrics, and the
    * output checks. */
  private final case class Trace(self: Seq[(String, Double)], wall: Double,
      traced: Double, untraced: Double, layers: Seq[(String, Double)],
      verdict: Ops.Verdict, detail: Seq[(String, String)])

  /** The emitted metric that carries each layer's self time. */
  private val SelfMetric = Seq(
    "InterleavedDocs" -> "InterleavedDocs.scan_s", "SpanOps" -> "SpanOps.self_s",
    "GazetteerMatcher" -> "GazetteerMatcher.self_s", "Linker" -> "Linker.self_s",
    "Pipeline" -> "Pipeline.assemble_s", "TripleSink" -> "TripleSink.self_s",
    "Canonicalizer.cc" -> "Canonicalizer.cc_s",
    "Canonicalizer.remap" -> "Canonicalizer.remap_s",
    "DocStream" -> "DocStream.dedup_s")

  def run(o: Opts): RunResult = {
    val loadStart = Host.loadavg
    val ticks = Host.cpuTicks
    val t = o.workload match {
      case w: BuildWorkload => runBuild(o, w)
      case w: StreamWorkload => runStream(o, w)
    }
    val selfOf = t.self.toMap
    val layers = SelfMetric.map { case (l, n) => n -> selfOf.getOrElse(l, 0.0) } ++
      t.layers
    // reconciliation: the emitted self-time metrics plus the unattributed
    // time must add up to the traced wall time
    val unattributed = t.wall - t.self.map(_._2).sum
    val reconciled = t.wall > 0 && math.abs(
      SelfMetric.map(n => layers.toMap.apply(n._2)).sum + unattributed - t.wall) < 1e-6
    val metrics = layers ++ Seq(
      "traced_wall_s" -> t.wall,
      "unattributed_s" -> unattributed,
      "trace_overhead_frac" -> (t.traced / t.untraced - 1.0))
    RunResult(
      correct = t.verdict.correct && reconciled,
      attempted = t.verdict.ok.length, failed = t.verdict.ok.count(!_),
      metrics = metrics.map { case (n, v) => (n, v, Units.of(n)) },
      detail = Json.obj(Seq(
        "workload" -> Json.str(o.workload.name), "seed" -> o.seed.toString,
        "cores" -> o.cores.toString,
        "self_s" -> Json.obj(t.self.map { case (n, v) => n -> Json.num(v) }: _*),
        "self_share" -> Json.obj(t.self.map { case (n, v) =>
          n -> Json.num(v / t.wall) }: _*),
        "loadavg_start" -> loadStart, "loadavg_end" -> Host.loadavg,
        "steal_pct" -> Json.num(Host.stealPct(ticks, Host.cpuTicks))) ++
        t.detail ++ t.verdict.detail: _*))
  }

  /** Self times along an ordered prefix chain, clamped at zero. */
  private def selfTimes(chain: Seq[String], passes: Map[String, Seq[Pass]])
      : Seq[(String, Double)] = {
    val med = chain.map(n => Stats.median(passes(n).map(_.wallS)))
    chain.zip(med.zip(0.0 +: med).map { case (m, prev) => (m - prev).max(0.0) })
  }

  /** The prefixes every workload shares, over `docs`, and the counts of
    * what each layer produced (separate, untimed jobs). */
  private final class Chain(spark: SparkSession, docs: => Dataset[Doc]) {
    def exploded: DataFrame = SpanOps.wellFormed(SpanOps.explodeSpans(docs))
    def cands: DataFrame = GazetteerMatcher.candidates(spark,
      SpanOps.textSpans(exploded), Spec.Gazetteer).toDF()
    def top1: DataFrame = Linker.top1(GazetteerMatcher.candidates(spark,
      SpanOps.textSpans(exploded), Spec.Gazetteer))

    def prefixes: Seq[(String, Int => Any)] = Seq(
      "InterleavedDocs" -> ((_: Int) => noop(docs.toDF())),
      "SpanOps" -> ((_: Int) => noop(exploded)),
      "GazetteerMatcher" -> ((_: Int) => noop(cands)),
      "Linker" -> ((_: Int) => noop(top1)))

    /** The layer metrics of the shared layers and the sink. `m` gives a
      * prefix's Spark work; `beforePipeline` / `beforeSink` name the
      * prefixes the Pipeline and TripleSink prefixes extend. */
    def layers(triples: DataFrame, m: String => SparkWork,
        beforePipeline: String, beforeSink: String,
        sinkTable: String): Seq[(String, Double)] = {
      val spansIn = SpanOps.explodeSpans(docs).count().toDouble
      val nCands = cands.count().toDouble
      val nMentions = top1.count().toDouble
      val nTriples = triples.count().toDouble
      val rows = TripleSink.readManifest(sinkTable).map(_.rows.toDouble)
      Seq(
        "InterleavedDocs.rows" -> docs.count().toDouble,
        "InterleavedDocs.bytes_read" -> m("InterleavedDocs").inputBytes.toDouble,
        "SpanOps.spans_in" -> spansIn,
        "SpanOps.spans_dropped" -> (spansIn - exploded.count()),
        "GazetteerMatcher.candidates" -> nCands,
        "GazetteerMatcher.candidates_per_triple" -> nCands / nTriples,
        "Linker.mentions" -> nMentions,
        "Linker.kept_per_candidate" -> nMentions / nCands,
        "Linker.shuffle_bytes" -> (m("Linker").shuffleWriteBytes -
          m("GazetteerMatcher").shuffleWriteBytes).toDouble,
        "Pipeline.exchanges" ->
          (m("Pipeline").exchanges - m(beforePipeline).exchanges).toDouble,
        "Pipeline.shuffle_bytes" -> (m("Pipeline").shuffleWriteBytes -
          m(beforePipeline).shuffleWriteBytes).toDouble,
        "Pipeline.triples" -> nTriples,
        "TripleSink.jobs" ->
          (m("TripleSink").jobs.length - m(beforeSink).jobs.length).toDouble,
        "TripleSink.cache_peak_mb" -> m("TripleSink").cachePeakBytes / 1048576.0,
        "TripleSink.bytes_written" -> m("TripleSink").outputBytes.toDouble,
        "TripleSink.bucket_skew" ->
          (if (rows.sum == 0) 1.0 else rows.max / (rows.sum / rows.length)))
    }
  }

  /** Spark's work over one operation (`perOp` operations in the pass). */
  private def sparkMetrics(p: Pass, cores: Int, perOp: Double): Seq[(String, Double)] = {
    val w = p.work
    Seq(
      "spark.jobs" -> w.jobs.length / perOp,
      "spark.driver_gap_s" -> w.driverGapS(p.startMs, p.endMs) / perOp,
      "spark.cores_busy_frac" -> w.taskRunS / (p.wallS * cores),
      "spark.task_cpu_s" -> w.taskCpuS / perOp,
      "spark.gc_s" -> w.gcS / perOp,
      "spark.spill_bytes" -> w.spillBytes / perOp,
      "spark.stage_skew" -> w.stageSkew)
  }

  private def runBuild(o: Opts, w: BuildWorkload): Trace = {
    val spark = Ops.session(o)
    val corpus = o.dir("corpus")
    Ops.writeCorpus(spark, w, o.seed, corpus)
    Ops.build(spark, corpus, o.dir("warm/op=0"))
    val tracer = new Tracer(spark)
    def docs = Ops.docs(spark, corpus)
    val c = new Chain(spark, docs)
    val sinkRoot = o.dir("traced")
    val chain = c.prefixes ++ Seq(
      "Pipeline" -> ((_: Int) => noop(Pipeline.triples(spark, docs))),
      "TripleSink" -> ((rep: Int) => Ops.build(spark, corpus, s"$sinkRoot/op=$rep")))
    // each pass ends with the same build untraced, for the overhead
    val untraced = ArrayBuffer.empty[Double]
    val passes = tracer.prefixes(chain :+ ("untraced" -> ((rep: Int) =>
      untraced += tracer.untraced(Ops.build(spark, corpus,
        o.dir(s"untraced/op=$rep"))))), warm = chain.length - 1)
    tracer.write(o)

    val m = (n: String) => medianPass(passes(n)).work
    val wall = Stats.median(passes("TripleSink").map(_.wallS))
    // Canonicalizer and DocStream do no separate work on this path: the
    // fast path canonicalizes on the driver inside Pipeline.triples
    val layers = c.layers(Pipeline.triples(spark, docs), m, "Linker",
        "Pipeline", s"$sinkRoot/op=0") ++
      Seq("DocStream.history_bytes_read", "DocStream.addBatch_s",
        "DocStream.planning_s", "DocStream.wal_s").map(_ -> 0.0) ++
      sparkMetrics(medianPass(passes("TripleSink")), o.cores, 1.0)
    Trace(selfTimes(chain.map(_._1), passes), wall, wall,
      Stats.median(untraced.toSeq), layers,
      Ops.checkBuilds(spark, o, corpus, sinkRoot, Reps),
      Seq("untraced_build_s" -> Json.nums(untraced)))
  }

  private def runStream(o: Opts, w: StreamWorkload): Trace = {
    val spark = Ops.session(o)
    val files = Ops.writeBacklog(spark, w, o.seed, o.dir("backlog"), o.dir("staging"))
    val backlog = java.nio.file.Paths.get(files.head).getParent.toString
    Ops.drain(spark, Ops.backlogOf(files.take(1), o.dir("warm-in")),
      o.dir("warm/drain=0"), o.dir("warm-ckpt"), EndToEnd.OpTimeoutMs)
    // history for the representative next batch: every batch but the last
    val hist = o.dir("history")
    Ops.drain(spark, Ops.backlogOf(files.init, o.dir("history-in")), hist,
      o.dir("history-ckpt"), EndToEnd.OpTimeoutMs)
    val nextId = (w.batches - 1).toLong
    val prior = DocStream.priorBatchDirs(spark, hist, nextId)
    val state = {
      import scala.jdk.CollectionConverters._
      Files.list(java.nio.file.Paths.get(hist, "_cc_state")).iterator().asScala
        .filter(_.getFileName.toString.startsWith("batch_id="))
        .maxBy(_.getFileName.toString.stripPrefix("batch_id=").toLong).toString
    }

    val tracer = new Tracer(spark)
    import spark.implicits._
    def batch = Ops.docs(spark, files.last)
    val c = new Chain(spark, batch)
    // the incremental CC step DocStream.run composes for a batch: this
    // batch's sameAs edges with the latest component map as edges
    var comps: DataFrame = null
    def advance(rep: Int): Unit = {
      val edges = spark.createDataset(Spec.SameAs)
        .select(col("src_entity").as("src"), col("dst_entity").as("dst"))
        .union(spark.read.parquet(state)
          .select(col("entity_id").as("src"), col("canonical").as("dst")))
      val dir = o.dir(s"traced-state/rep=$rep")
      Canonicalizer.connectedComponents(spark, edges).write.mode("overwrite").parquet(dir)
      comps = spark.read.parquet(dir)
    }
    def triples = Pipeline.triplesWithComponents(spark, batch, comps)
    def cached[T](f: DataFrame => T): T = {
      val t = triples.cache()
      try f(t) finally t.unpersist()
    }
    val sinkRoot = o.dir("traced")
    val chain = c.prefixes ++ Seq(
      "Canonicalizer.remap" -> ((_: Int) =>
        noop(Canonicalizer.remap(c.top1, "entity_id", comps))),
      "Pipeline" -> ((_: Int) => noop(triples)),
      "DocStream" -> ((_: Int) => cached(t =>
        noop(DocStream.dedupAgainstPrior(spark, t, hist, prior)))),
      "TripleSink" -> ((rep: Int) => cached(t => TripleSink.writeTriples(spark,
        DocStream.dedupAgainstPrior(spark, t, hist, prior), s"$sinkRoot/rep=$rep"))))
    val passes = tracer.prefixes(("Canonicalizer.cc" -> ((rep: Int) => advance(rep))) +:
      chain, warm = chain.length)

    // a traced drain (StreamingQueryProgress durations, Spark work per
    // batch), then the same drain untraced, for the overhead
    val drains = o.dir("drains")
    def drain(k: Int) = Ops.drain(spark, backlog, s"$drains/drain=$k",
      o.dir(s"ckpt-$k"), EndToEnd.OpTimeoutMs)
    val progress = new ProgressRecorder
    spark.streams.addListener(progress)
    var traced = Seq.empty[Double]
    val drainPass = tracer.span("DocStream.run", 0) { traced = drain(0) }
    spark.streams.removeListener(progress)
    var untraced = Seq.empty[Double]
    tracer.untraced { untraced = drain(1) }
    tracer.write(o)

    // checks: both drains as in the end-to-end run; every traced write of
    // the next batch must equal that batch's table in the first drain
    val drainVerdict = Ops.checkDrains(spark, o, drains, 2, w.batches)
    val lastBatch = s"drain=0/batch_id=$nextId"
    val want = Ops.checkTables(spark, drains, Seq(lastBatch))(lastBatch)
    val reps = (0 until Reps).map(r => s"rep=$r")
    val got = Ops.checkTables(spark, sinkRoot, reps)
    val verdict = drainVerdict.copy(ok = drainVerdict.ok ++
      reps.map(r => want.isRight && got(r) == want))

    val ccS = Stats.median(passes("Canonicalizer.cc").map(_.wallS))
    val m = (n: String) => medianPass(passes(n)).work
    def progressMedian(k: String) =
      Stats.median(progress.batches.map(_.getOrElse(k, 0.0)) :+ 0.0)
    val layers = c.layers(triples, m, "Canonicalizer.remap", "DocStream",
        s"$sinkRoot/rep=0") ++ Seq(
      "DocStream.history_bytes_read" ->
        (m("DocStream").inputBytes - m("Pipeline").inputBytes).toDouble,
      "DocStream.addBatch_s" -> progressMedian("addBatch"),
      "DocStream.planning_s" -> progressMedian("queryPlanning"),
      "DocStream.wal_s" -> progressMedian("walCommit")) ++
      sparkMetrics(drainPass, o.cores, traced.length.toDouble.max(1.0))
    Trace(("Canonicalizer.cc" -> ccS) +: selfTimes(chain.map(_._1), passes),
      ccS + Stats.median(passes("TripleSink").map(_.wallS)),
      Stats.median(traced), Stats.median(untraced), layers, verdict,
      Seq("untraced_batch_s" -> Json.nums(untraced),
        "traced_batch_s" -> Json.nums(traced)))
  }
}

/** Units of the per-layer metrics, by name suffix. */
object Units {
  def of(name: String): String = name.split('.').last match {
    case n if n.endsWith("_s") => "s"
    case n if n.contains("bytes") => "bytes"
    case n if n.endsWith("_mb") => "MB"
    case n if n.endsWith("_frac") || n.endsWith("_skew") ||
      n.contains("_per_") || n == "stage_skew" => "ratio"
    case _ => "count"
  }
}
