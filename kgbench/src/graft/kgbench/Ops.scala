package graft.kgbench

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.Pipeline
import graft.model.Doc
import graft.sources.{InterleavedDocs, TripleSink}
import graft.streaming.DocStream

/** Inputs, operations and output checks shared by the end-to-end and the
  * traced run. Every call into the program goes through its public
  * functions; nothing here changes what the program does. */
object Ops {

  def session(o: Opts): SparkSession = {
    val s = SparkSession.builder()
      .appName("kgbench")
      .master(s"local[${o.cores}]")
      .config("spark.sql.shuffle.partitions", o.cores.toLong)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      // the scan-split sizing the repository's benches use
      .config("spark.sql.files.maxPartitionBytes", 8L * 1024 * 1024)
      .config("spark.sql.files.openCostInBytes", 512L * 1024)
      .config("spark.local.dir", o.dir("spark-local"))
      .config("spark.sql.warehouse.dir", o.dir("warehouse"))
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def secondsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  // ---- inputs -----------------------------------------------------------

  def docs(spark: SparkSession, path: String): Dataset[Doc] =
    InterleavedDocs.readDocs(spark, path)

  def writeCorpus(spark: SparkSession, w: BuildWorkload, seed: Long,
      path: String): Unit =
    InterleavedDocs.synthesize(spark, w.docs, seed, w.skewPct, w.hotRepeats)
      .write.mode("overwrite").parquet(path)

  /** The stream backlog: one parquet file per micro-batch, named and
    * time-stamped in batch order so the file source takes them in order. */
  def writeBacklog(spark: SparkSession, w: StreamWorkload, seed: Long,
      path: String, staging: String): Seq[String] = {
    val all = InterleavedDocs.synthesize(spark, w.batches * w.docsPerBatch,
      seed).cache()
    val dir = Files.createDirectories(Paths.get(path))
    val t0 = System.currentTimeMillis() - 3600L * 1000
    try (0 until w.batches).map { b =>
      def id(i: Long) = f"d$i%012d"
      val stage = s"$staging/b$b"
      all.filter(col("doc_id") >= id(b * w.docsPerBatch) &&
          col("doc_id") < id((b + 1) * w.docsPerBatch))
        .coalesce(1).write.mode("overwrite").parquet(stage)
      val part = Files.list(Paths.get(stage)).iterator().asScala
        .find(_.getFileName.toString.endsWith(".parquet")).get
      val file = dir.resolve(f"batch-$b%05d.parquet")
      Files.move(part, file)
      file.toFile.setLastModified(t0 + b * 1000L)
      file.toString
    } finally all.unpersist()
  }

  /** A backlog directory holding copies of the given batch files. */
  def backlogOf(files: Seq[String], path: String): String = {
    val dir = Files.createDirectories(Paths.get(path))
    files.foreach { f =>
      val src = Paths.get(f)
      val dst = dir.resolve(src.getFileName)
      Files.copy(src, dst)
      dst.toFile.setLastModified(src.toFile.lastModified())
    }
    path
  }

  // ---- operations -------------------------------------------------------

  /** One build: docs → triples → committed bucketed table. Returns the
    * triples committed. */
  def build(spark: SparkSession, docsPath: String, out: String): Long =
    TripleSink.writeTriples(spark, Pipeline.triples(spark, docs(spark, docsPath)),
      out).map(_.rows).sum

  /** One drain of a backlog through `DocStream.run`; returns each
    * micro-batch's trigger time. */
  def drain(spark: SparkSession, backlog: String, out: String,
      checkpoint: String, timeoutMs: Long): Seq[Double] = {
    val q = DocStream.run(spark, backlog, out, checkpoint,
      maxFilesPerTrigger = Some(1))
    if (!q.awaitTermination(timeoutMs)) {
      q.stop()
      throw new java.util.concurrent.TimeoutException(
        s"drain of $backlog did not finish in $timeoutMs ms")
    }
    q.recentProgress.toSeq.filter(_.numInputRows > 0).sortBy(_.batchId)
      .map(_.durationMs.get("triggerExecution").toDouble / 1e3)
  }

  // ---- output checks ----------------------------------------------------

  /** Whole-table fingerprint: triple count and bit_xor of
    * xxhash64(subj, pred, obj) — the manifest's checksum over all buckets. */
  final case class Fp(rows: Long, xor: Long) {
    def +(o: Fp): Fp = Fp(rows + o.rows, xor ^ o.xor)
    def json: String = Json.arr(Seq(rows.toString, xor.toString))
  }
  object Fp { val empty: Fp = Fp(0L, 0L) }

  private val checksum =
    coalesce(expr("bit_xor(xxhash64(subj, pred, obj))"), lit(0L))

  def fingerprint(triples: DataFrame): Fp = {
    val r = triples.agg(count(lit(1)), checksum).head()
    Fp(r.getLong(0), r.getLong(1))
  }

  /** Reads every bucketed table under `root` back from disk in one job and
    * checks each against its own manifest: the manifest must list every
    * bucket once, and each bucket's (rows, bit_xor) on disk must equal its
    * manifest record. `tables` are the table dirs relative to `root`, as
    * `k=v[/k=v]` partition paths. Returns each table's fingerprint, or the
    * reason it failed. */
  def checkTables(spark: SparkSession, root: String,
      tables: Seq[String]): Map[String, Either[String, Fp]] = {
    val keys = tables.head.split("/").map(_.takeWhile(_ != '=')).toSeq
    val disk: Map[(String, Int), Fp] =
      if (tables.forall(t => TripleSink.readManifest(s"$root/$t")
          .forall(_.rows == 0))) Map.empty
      else spark.read.option("basePath", root).parquet(root)
        .groupBy((keys :+ "subj_bucket").map(col): _*)
        .agg(count(lit(1)), checksum)
        .collect().map { r =>
          val t = keys.indices.map(i => s"${keys(i)}=${r.get(i)}").mkString("/")
          (t, r.getInt(keys.length)) ->
            Fp(r.getLong(keys.length + 1), r.getLong(keys.length + 2))
        }.toMap
    tables.map { t =>
      val manifest = TripleSink.readManifest(s"$root/$t")
      val buckets = manifest.map(_.bucket)
      val onDisk = disk.collect { case ((`t`, b), fp) => b -> fp }
      val bad = manifest.filter(l =>
        onDisk.getOrElse(l.bucket, Fp.empty) != Fp(l.rows, l.checksum))
      val result =
        if (buckets.sorted != (0 until graft.model.Spec.DefaultSubjectBuckets))
          Left(s"$t: manifest lists buckets ${buckets.sorted.mkString(",")}")
        else if ((onDisk.keySet -- buckets).nonEmpty)
          Left(s"$t: buckets on disk missing from the manifest")
        else if (bad.nonEmpty)
          Left(s"$t: buckets ${bad.map(_.bucket).mkString(",")} differ from the manifest")
        else Right(manifest.map(l => Fp(l.rows, l.checksum)).foldLeft(Fp.empty)(_ + _))
      t -> result
    }.toMap
  }

  /** The fingerprint pinned for (workload, seed) in the fingerprints
    * file (kgbench/pin.py), if any. */
  def pinned(o: Opts): Option[Fp] = scala.util.Try {
    val tree = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(o.fingerprints.toFile)
    val n = tree.path(o.workload.name).path(o.seed.toString)
    if (n.isArray && n.size == 2) Some(Fp(n.get(0).asLong, n.get(1).asLong))
    else None
  }.toOption.flatten

  /** The outcome of checking a run's tables: one flag per checked
    * operation, and the fingerprint every table had to carry. */
  final case class Verdict(ok: Seq[Boolean], expect: Fp, source: String) {
    def correct: Boolean = ok.forall(identity)
    def detail: Seq[(String, String)] = Seq(
      "triples" -> expect.rows.toString, "fingerprint" -> expect.json,
      "expected_from" -> Json.str(source))
  }

  /** The expected fingerprint is the one pinned for (workload, seed) —
    * each pin was checked against the second path when it was made — or,
    * for a seed without a pin, the second path's, computed here. */
  private def verdict(o: Opts, secondPath: => Fp)(ok: Fp => Seq[Boolean]): Verdict = {
    val (expect, source) = pinned(o).map(_ -> "pinned")
      .getOrElse(secondPath -> "second_path")
    Verdict(ok(expect), expect, source)
  }

  private def check(spark: SparkSession, root: String, tables: Seq[String])
      : Map[String, Either[String, Fp]] = {
    val checked = scala.util.Try(checkTables(spark, root, tables))
      .getOrElse(Map.empty[String, Either[String, Fp]])
    tables.filterNot(t => checked.get(t).exists(_.isRight)).foreach { t =>
      System.err.println(s"[kgbench] $root/$t failed its check: ${checked.get(t)}")
    }
    checked
  }

  /** Build tables `root/op=k`: each must pass its manifest check and carry
    * the expected fingerprint; the second path is the oracle-verified
    * at-scale variant of the pipeline over the same corpus. */
  def checkBuilds(spark: SparkSession, o: Opts, corpus: String, root: String,
      ops: Int): Verdict = {
    val tables = (0 until ops).map(k => s"op=$k")
    val checked = check(spark, root, tables)
    verdict(o, fingerprint(Pipeline.triples(spark, docs(spark, corpus),
      atScale = true)))(e => tables.map(t => checked.get(t).contains(Right(e))))
  }

  /** Stream drains `root/drain=k`: every batch table must pass its manifest
    * check, each drain must commit `batches` batches, and the union of a
    * drain's tables must carry the expected fingerprint; the second path is
    * `DocStream.currentView` over the first drain. */
  def checkDrains(spark: SparkSession, o: Opts, root: String, drains: Int,
      batches: Int): Verdict = {
    val perDrain = (0 until drains).map(k =>
      DocStream.priorBatchDirs(spark, s"$root/drain=$k", Long.MaxValue)
        .map(d => s"drain=$k/" + Paths.get(d).getFileName))
    val checked = check(spark, root, perDrain.flatten)
    verdict(o, fingerprint(DocStream.currentView(spark, s"$root/drain=0")))(
      e => perDrain.map { ts =>
      val fps = ts.flatMap(t => checked.get(t).flatMap(_.toOption))
      ts.length == batches && fps.length == batches &&
        fps.foldLeft(Fp.empty)(_ + _) == e
    })
  }
}
