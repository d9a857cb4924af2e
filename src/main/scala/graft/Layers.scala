package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.FormattedMode
import org.apache.spark.sql.functions._

import graft.operators.{Canonicalizer, Curation, Dedup}
import graft.sources.{InterleavedDocs, TripleSink}

/** The measurement CLI beside the frozen `Bench` / `Verify` mains. Per-layer
  * numbers for the KG path (prefix timings, jobs, driver gaps, stream
  * batches) come from `python3 kgbench/run.py --trace 1`; this covers the
  * rest:
  * {{{
  * query [reps] [name…]            noop-sink warm run, then `reps` timed runs
  * plan <outDir> <suffix> [name…]  explain("formatted") → <outDir>/<name>_<suffix>.txt
  * kg_write                        one steady-state kg_write JSON sample
  * }}}
  * A name is a [[SparkEntry]] query or one of the bench-only [[shapes]].
  * `SPARK_GRAFT_CPUS` sizes the session, `SPARK_GRAFT_SF_DIR` picks the
  * input of `query` / `plan`, `SPARK_GRAFT_BENCH_DOCS` the kg_write corpus.
  * Usage: sbt "runMain graft.Layers <subcommand> [args…]" */
object Layers {

  val queryDefaults: Seq[String] = Seq("cc_600k", "dedup_minhash_prod",
    "curate_docs_bench", "dedup_minhash_lsh", "dedup_jaccard_prefix",
    "dedup_ngram_jaccard")

  val planDefaults: Seq[String] = Seq("dedup_minhash_lsh",
    "dedup_minhash_prod", "dedup_ngram_jaccard", "dedup_jaccard_prefix",
    "dedup_simhash", "curate_docs", "curate_docs_bench", "cc_600k",
    "cc_components", "kg_cooccur", "top1_link", "gazetteer_match",
    "kg_sfdocs", "emb_lsh_topk", "emb_lsh_dup_pairs", "doc_len_deciles")

  /** Same session shape as Bench.scala (master/shuffle partitions from
    * `SPARK_GRAFT_CPUS`, the small-corpus scan-split overrides). */
  private def session(): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.files.maxPartitionBytes", 8L * 1024 * 1024)
      .config("spark.sql.files.openCostInBytes", 512L * 1024)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** The Bench.scala workloads that are not SparkEntry queries, by name:
    * steps 2 (kg_sfdocs), 3 (cc_600k), 4b and 4c, built the same way. */
  def shapes(spark: SparkSession,
      sfDir: String): Map[String, () => DataFrame] = {
    def documents = spark.read.parquet(s"$sfDir/documents.parquet")
    Map(
      "kg_sfdocs" -> (() => Pipeline.triples(spark,
        InterleavedDocs.fromDocuments(spark, sfDir))),
      "cc_600k" -> (() => Canonicalizer.connectedComponents(spark,
        cc600kEdges(spark), smallGraphThreshold = 0L)),
      "dedup_minhash_prod" -> (() => Dedup.minHashLshPairs(documents,
        n = 3, numHashes = 64, bands = 16, minEstJaccard = 0.5,
        maxDocFreq = graft.model.Spec.DedupMaxDocFreq)),
      "curate_docs_bench" -> (() => Curation.curateDocs(spark, documents,
        keepLang = "en", minQuality = 0.7)))
  }

  /** 100k chains of 6 nodes whose tails link into 5k hubs, hash-derived. */
  private def cc600kEdges(spark: SparkSession): DataFrame = {
    val c = (col("id") / 6).cast("long")
    val p = col("id") % 6
    spark.range(600000L).select(
      format_string("c%d_%d", c, p).as("src"),
      when(p < 5, format_string("c%d_%d", c, p + 1))
        .otherwise(format_string("h%d", pmod(xxhash64(c), lit(5000L))))
        .as("dst"))
  }

  /** The frame named `name`: a bench-only shape, else a SparkEntry query. */
  def frame(spark: SparkSession, sfDir: String, name: String): DataFrame =
    shapes(spark, sfDir).get(name) match {
      case Some(build) => build()
      case None => SparkEntry.queries(name)(spark, sfDir)
    }

  def main(args: Array[String]): Unit = args.toList match {
    case "query" :: rest => query(rest)
    case "plan" :: outDir :: suffix :: names => plan(outDir, suffix, names)
    case "kg_write" :: Nil => kgWrite()
    case _ =>
      System.err.println("usage: graft.Layers query [reps] [name...] | " +
        "plan <outDir> <suffix> [name...] | kg_write")
      sys.exit(2)
  }

  private val sfDir =
    sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

  /** Every column of every row computed and discarded (noop sink), so the
    * number is the computation, not the sink or count-pruning. */
  private def query(args: List[String]): Unit = {
    // first arg is reps when numeric; otherwise everything is query names
    val reps = args.headOption.flatMap(_.toIntOption).filter(_ >= 1)
    val given = if (reps.isDefined) args.tail else args
    val names = if (given.nonEmpty) given else queryDefaults
    val spark = session()
    names.foreach { name =>
      def run(label: String): Double = {
        spark.sparkContext.setJobDescription(s"layers: $name $label")
        val t0 = System.nanoTime()
        frame(spark, sfDir, name).write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }
      run("warm")
      val times = (1 to reps.getOrElse(3)).map { i =>
        val t = run(s"rep $i")
        println(f"LAYERS query $name rep $i: $t%.2f s")
        t
      }.sorted
      // true median: mean of the middle pair for even rep counts
      val med =
        if (times.size % 2 == 1) times(times.size / 2)
        else (times(times.size / 2 - 1) + times(times.size / 2)) / 2
      println(f"LAYERS query $name median: $med%.2f s")
    }
    spark.stop()
  }

  /** Plan snapshots: the before/after evidence files kept under plans/rNN/. */
  private def plan(outDir: String, suffix: String,
      names0: List[String]): Unit = {
    val names = if (names0.nonEmpty) names0 else planDefaults
    val spark = session()
    Files.createDirectories(Paths.get(outDir))
    names.foreach { name =>
      val txt =
        frame(spark, sfDir, name).queryExecution.explainString(FormattedMode)
      val p = Paths.get(outDir, s"${name}_$suffix.txt")
      Files.write(p, txt.getBytes(StandardCharsets.UTF_8))
      println(s"LAYERS plan wrote $p (${txt.length} chars)")
    }
    spark.stop()
  }

  /** kg_write e2e only: synthesize the corpus (untimed), run one full-size
    * in-JVM warm pipeline+write (untimed; tiered JIT needs full-size
    * stages to reach steady state), then ONE timed run, and print a single
    * JSON line carrying loadavg and the steal% across the timed window.
    * Isolating the workload from the Bench suite removes its
    * page-cache/JIT cross-contamination. tools/bench_kgw_steady.sh runs it
    * in alternating N/4N pairs so slow host drift cancels in the ratio. */
  private def kgWrite(): Unit = {
    val nDocs = sys.env.getOrElse("SPARK_GRAFT_BENCH_DOCS", "1000000").toLong
    val spark = session()
    val cpus = spark.conf.get("spark.sql.shuffle.partitions")
    val tmpDirs = scala.collection.mutable.ArrayBuffer.empty[String]
    def tmpDir(prefix: String): String = {
      val d = Files.createTempDirectory(prefix).toString
      tmpDirs += d; d
    }
    val docsPath = tmpDir("graft-kgw-docs")
    InterleavedDocs.synthesize(spark, nDocs, seed = 42L, skewPct = 2)
      .write.mode("overwrite").parquet(docsPath)
    def build(out: String): Long = TripleSink.writeTriples(spark,
      Pipeline.triples(spark, InterleavedDocs.readDocs(spark, docsPath)),
      tmpDir(out)).map(_.rows).sum
    build("graft-kgw-warm") // identical plan as the timed run

    def loadavg: String = scala.util.Try(
      scala.io.Source.fromFile("/proc/loadavg").mkString.trim
        .split(" ").take(3).mkString("[", ",", "]")).getOrElse("[]")
    // /proc/stat aggregate (steal, busy) ticks: host-side CPU thieving is
    // invisible to guest loadavg but is accounted as steal whenever this
    // JVM's runnable threads are denied the CPU, so a contaminated sample
    // rejects ITSELF (steal_pct >= 5 ⇒ excluded by tools/scaling_steady.py)
    def cpuTicks: (Long, Long) = scala.util.Try {
      val v = scala.io.Source.fromFile("/proc/stat").getLines().next()
        .trim.split("\\s+").drop(1).map(_.toLong)
      (if (v.length > 7) v(7) else 0L, v(0) + v(1) + v(2) + v(5) + v(6))
    }.getOrElse((0L, 0L))
    val loadStart = loadavg
    val ts = java.time.Instant.now().toString

    val (steal0, busy0) = cpuTicks
    val t0 = System.nanoTime()
    val rows = build("graft-kgw-sink")
    val t = (System.nanoTime() - t0) / 1e9
    val (steal1, busy1) = cpuTicks
    val (dSteal, dBusy) = (steal1 - steal0, busy1 - busy0)
    val stealPct =
      (10000.0 * dSteal / math.max(1L, dSteal + dBusy)).round / 100.0

    println(s"""{"metric":"kg_write","cpus":$cpus,"value":$t,""" +
      s""""unit":"sec","triples":$rows,""" +
      s""""triples_per_sec":${(rows / t).round},"docs":$nDocs,""" +
      s""""ts":"$ts","loadavg_start":$loadStart,"loadavg_end":$loadavg,""" +
      s""""steal_pct":$stealPct,"steal_ticks":$dSteal,"busy_ticks":$dBusy}""")
    spark.stop()
    tmpDirs.foreach { d =>
      scala.util.Try {
        Files.walk(Paths.get(d)).sorted(java.util.Comparator.reverseOrder())
          .forEach(p => Files.deleteIfExists(p))
      }
    }
  }
}
