package graft.sources

import java.nio.charset.StandardCharsets

import org.apache.hadoop.fs.{FileContext, FileSystem, Options, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.model.Spec

/** S5/S7: the materialized triple table — partitioned by subject-hash
  * bucket, rebalanced on the bucket and sorted by (bucket, subj, pred, obj)
  * within files, with a manifest carrying per-bucket lineage (row count +
  * content checksum, read back from the committed files) for
  * checkpoint-resume (BASELINE.json:6,14; SURVEY.md §2.1, §7 M4).
  *
  * Iceberg substitution note (SURVEY.md §0.3): no Iceberg jar ships in
  * /opt/spark/jars, so the Iceberg *layout semantics* are implemented on
  * plain parquet — hash-bucketed partition dirs + manifest as the snapshot
  * — behind this one object, so a real catalog can replace it where the
  * runtime exists.
  */
object TripleSink {

  /** One completed-bucket record in the manifest (per-partition lineage,
    * BASELINE.json:14). */
  final case class BucketLineage(bucket: Int, rows: Long, checksum: Long)

  def manifestPath(path: String): String = s"$path/_graft_manifest.json"

  /** Filesystem + path resolved through the Hadoop FS API, so the manifest
    * protocol works on any outPath scheme (HDFS/S3A/local) the cluster is
    * configured for — a java.nio implementation would silently see "no
    * manifest" on every non-local path and rewrite completed buckets
    * (advisor finding, round 3, same defect class as DocStream's state
    * listings). The conf comes from the ACTIVE session's
    * sparkContext.hadoopConfiguration (advisor finding, round 4): a bare
    * new Configuration() sees only classpath core-site.xml and ignores
    * spark.hadoop.* session settings — the standard delivery path for
    * S3A credentials/endpoints — so manifest I/O could hit a
    * differently-configured FS than the data writes. */
  private def hfs(path: String): (FileSystem, Path) = {
    val p = new Path(path)
    val conf = SparkSession.getActiveSession
      .orElse(SparkSession.getDefaultSession)
      .map(_.sparkContext.hadoopConfiguration)
      .getOrElse(new org.apache.hadoop.conf.Configuration())
    (p.getFileSystem(conf), p)
  }

  def readManifest(path: String): Seq[BucketLineage] =
    readSidecar(manifestPath(path)).toSeq.flatMap { text =>
      // fixed writer format, see appendManifest. A malformed line (torn
      // write on a filesystem without atomic rename) is flagged and
      // skipped, not thrown: its bucket simply reads as incomplete and is
      // rewritten idempotently on resume — throwing here would instead
      // permanently wedge writeTriples AND every DocStream micro-batch
      // that lists prior batches (advisor finding, round 4).
      text.split("\n").toSeq.filter(_.nonEmpty).flatMap { line =>
        val cols = line.split(",")
        val parsed =
          if (cols.length == 3)
            for {
              b <- cols(0).toIntOption
              r <- cols(1).toLongOption
              c <- cols(2).toLongOption
            } yield BucketLineage(b, r, c)
          else None
        if (parsed.isEmpty)
          System.err.println(
            s"[graft] skipping malformed manifest line in $path: '$line'")
        parsed
      }
    }

  /** Append semantics implemented as read + atomic rewrite
    * ([[writeSidecar]]): the manifest is bucket-count-sized, and
    * FileSystem.append is unsupported on several real filesystems (notably
    * the checksummed local FS and object stores). */
  private def appendManifest(path: String, rows: Seq[BucketLineage]): Unit =
    writeSidecar(manifestPath(path), (readManifest(path) ++ rows)
      .map(r => s"${r.bucket},${r.rows},${r.checksum}")
      .mkString("", "\n", "\n"))

  /** Adds the physical subject-hash bucket column (FIXTURES.md §5). */
  def withSubjectBucket(triples: DataFrame,
      buckets: Int = Spec.DefaultSubjectBuckets): DataFrame =
    triples.withColumn("subj_bucket",
      pmod(xxhash64(col("subj")), lit(buckets.toLong)).cast("int"))

  /** Write (or resume writing) the triple table.
    *
    * Resume protocol: buckets listed in the manifest are complete and are
    * skipped; remaining buckets are (re)written via dynamic partition
    * overwrite — a partially-written bucket dir from a crashed run is
    * simply overwritten, so the end state is exactly-once per bucket.
    * Returns the lineage rows written this invocation.
    *
    * `onlyBuckets` is a test hook to simulate a run that died after a
    * subset of buckets (SURVEY.md §5.1 resume test).
    */
  def writeTriples(spark: SparkSession, triples: DataFrame, path: String,
      buckets: Int = Spec.DefaultSubjectBuckets,
      onlyBuckets: Option[Set[Int]] = None): Seq[BucketLineage] =
    writeBucketed(spark, triples, path, keyCol = "subj",
      bucketCol = "subj_bucket", contentCols = Seq("subj", "pred", "obj"),
      buckets = buckets, onlyBuckets = onlyBuckets)

  /** The generic bucketed, manifest-tracked, resumable table write behind
    * [[writeTriples]] (and the curated-corpus sink,
    * [[graft.operators.Curation.writeCurated]]), in one pass over `df`:
    * hash-bucket on `keyCol`, rebalance on the bucket, sort within files
    * by (bucket, `contentCols`), dynamic partition overwrite, then
    * per-bucket (rows, bit_xor checksum) lineage read back from the
    * committed files and appended to the manifest — so the manifest
    * attests what is on disk. Resume protocol as documented on
    * [[writeTriples]]. */
  private[graft] def writeBucketed(spark: SparkSession, df: DataFrame,
      path: String, keyCol: String, bucketCol: String,
      contentCols: Seq[String], buckets: Int,
      onlyBuckets: Option[Set[Int]]): Seq[BucketLineage] = {
    val done = readManifest(path).map(_.bucket).toSet
    val remaining = (0 until buckets).toSet -- done
    val target = onlyBuckets.map(_.intersect(remaining)).getOrElse(remaining)
    if (target.isEmpty) return Seq.empty
    val inTarget = col(bucketCol).isin(target.toSeq: _*)

    val withBucket = df.withColumn(bucketCol,
        pmod(xxhash64(col(keyCol)), lit(buckets.toLong)).cast("int"))
      .filter(inTarget)

    // C6: hash-distribute on the bucket (AQE splits a head bucket at the
    // advisory partition size and merges small ones); the sort leads with
    // the bucket, so it already meets the write's required ordering on the
    // partition column and the content order survives into every file
    withBucket
      .hint("rebalance", col(bucketCol))
      .sortWithinPartitions((bucketCol +: contentCols).map(col): _*)
      .write
      .mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy(bucketCol)
      .parquet(path)

    // explicit schema: an all-empty write commits no footers to infer from
    val lineage = spark.read.schema(withBucket.schema).parquet(path)
      .filter(inTarget)
      .groupBy(bucketCol)
      // bit_xor: order-independent content checksum that cannot overflow
      // under ANSI mode (a long sum would throw)
      .agg(count(lit(1)).as("rows"),
        expr(s"bit_xor(xxhash64(${contentCols.mkString(", ")}))")
          .as("checksum"))
      .collect()
      .map(r => BucketLineage(r.getInt(0), r.getLong(1), r.getLong(2)))
      .toSeq
    // buckets that had zero rows are still complete
    val empty = (target -- lineage.map(_.bucket).toSet).toSeq.sorted
      .map(b => BucketLineage(b, 0L, 0L))
    val all = (lineage ++ empty).sortBy(_.bucket)
    appendManifest(path, all)
    all
  }

  /** Atomically write a small sidecar text file next to a table (the
    * manifest, the curated sink's drop-lineage JSON): write to a temp file,
    * then rename over the target (FileContext with OVERWRITE — atomic on
    * HDFS and the local FS), so a crash mid-write never destroys the
    * previous version (advisor finding, round 4 — the earlier
    * truncate-then-write could tear the manifest). */
  private[graft] def writeSidecar(path: String, body: String): Unit = {
    val (f, p) = hfs(path)
    val tmp = new Path(p.getParent, s".${p.getName}.tmp")
    val out = f.create(tmp, true)
    try out.write(body.getBytes(StandardCharsets.UTF_8))
    finally out.close()
    FileContext.getFileContext(p.toUri, f.getConf)
      .rename(tmp, p, Options.Rename.OVERWRITE)
  }

  private[graft] def readSidecar(path: String): Option[String] = {
    val (f, p) = hfs(path)
    if (!f.exists(p)) None
    else {
      val in = f.open(p)
      try Some(scala.io.Source.fromInputStream(in, "UTF-8").mkString)
      finally in.close()
    }
  }

  /** Read back a written triple table. */
  def readTriples(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path)

  /** S6: N-Triples text lines (RDF 1.1 N-Triples), globally sorted for
    * byte-stable golden diffs (SURVEY.md §5.1). */
  def toNTriples(triples: DataFrame): DataFrame =
    triples.select(
      concat(
        lit("<"), col("subj"), lit("> <"), col("pred"), lit("> "),
        when(col("obj_type") === "iri", concat(lit("<"), col("obj"), lit(">")))
          .otherwise(concat(lit("\""),
            regexp_replace(regexp_replace(col("obj"), "\\\\", "\\\\\\\\"),
              "\"", "\\\\\""), lit("\""))),
        lit(" .")).as("line"))
      .orderBy("line")

  /** The N-Triples SOURCE — exact inverse of [[toNTriples]], closing
    * the round-trip: parse(export(T)) ≡ T, spec- and oracle-asserted.
    * One anchored regex (in the Java∩RE2 subset, like the redaction
    * chain, so DuckDB's RE2 twin matches byte-for-byte) splits subject
    * / predicate / object term; the object term's leading `<` decides
    * iri vs literal, and literal unescaping inverts the export's
    * escape order (`\"`→`"` first, then `\\`→`\` — left-to-right
    * non-overlapping replace in both engines makes the two-pass
    * inverse exact because the export doubles every original
    * backslash). Non-matching lines are dropped, not thrown — a
    * malformed-line feed yields its well-formed subset, mirroring the
    * span-guard policy. Pure codegen'd expressions; at scale this is
    * a narrow map over a text scan. */
  def parseNTriples(lines: DataFrame): DataFrame = {
    val re = "^<([^>]+)> <([^>]+)> (.+) \\.$"
    lines.filter(col("line").rlike(re))
      .select(regexp_extract(col("line"), re, 1).as("subj"),
        regexp_extract(col("line"), re, 2).as("pred"),
        regexp_extract(col("line"), re, 3).as("raw"))
      .select(col("subj"), col("pred"),
        when(col("raw").startsWith("<"),
          expr("substring(raw, 2, length(raw) - 2)"))
          .otherwise(
            replace(replace(expr("substring(raw, 2, length(raw) - 2)"),
              lit("\\\""), lit("\"")), lit("\\\\"), lit("\\"))).as("obj"),
        when(col("raw").startsWith("<"), lit("iri"))
          .otherwise(lit("literal")).as("obj_type"))
  }
}
